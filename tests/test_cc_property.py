"""Property-based check: distributed connected components == classic
union-find, over random small graphs (hypothesis)."""

import pytest
from hypothesis import given, settings, strategies as st

from parj_spark.construct import canonicalize
from parj_spark.construct.canonicalize import connected_components


def _uf_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


edge_lists = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)).map(
        lambda t: (f"n{t[0]}", f"n{t[1]}")
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=5, deadline=None)
@given(edges=edge_lists)
def test_cc_matches_union_find(spark, edges):
    # both execution paths must agree with the oracle: the size-gated
    # driver-local solver (default — these edge sets are under the gate)
    # and the distributed loop (a gate of -1 forces it)
    df = spark.createDataFrame(edges, ["src", "dst"])
    for gate in (canonicalize.LOCAL_CC_EDGES, -1):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(canonicalize, "LOCAL_CC_EDGES", gate)
            labels, _ = connected_components(df)
        got = {r["node"]: r["component"] for r in labels.collect()}
        assert got == _uf_oracle(edges)


def _chain(n):
    # path graph n0-n1-...-n{n}: diameter n, worst case for min-propagation
    return [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n)]


def test_cc_pointer_doubling_handles_deep_chain(spark, monkeypatch):
    edges = _chain(300)
    df = spark.createDataFrame(edges, ["src", "dst"])
    # a gate of -1 pins the DISTRIBUTED loop's doubling escape hatch (the
    # local solver has its own doubling, covered above)
    monkeypatch.setattr(canonicalize, "LOCAL_CC_EDGES", -1)
    labels, iters = connected_components(df)
    # plain min-propagation needs ~300 rounds; doubling kicks in after 3
    # and halves remaining depth per round -> well under the 25-round cap
    assert iters <= 15
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert got == _uf_oracle(edges)
    assert set(got.values()) == {"n0000"}


def test_cc_raises_instead_of_returning_partial_labels(spark, monkeypatch):
    df = spark.createDataFrame(_chain(40), ["src", "dst"])
    # a gate of -1 pins the distributed loop (the local solver always
    # returns complete labels, so the contract lives there)
    monkeypatch.setattr(canonicalize, "LOCAL_CC_EDGES", -1)
    with pytest.raises(RuntimeError, match="did not converge"):
        # doubling disabled (shortcut_after past max_iter): 3 rounds cannot
        # close a 40-deep chain, and partial labels must never leak out
        connected_components(df, max_iter=3, shortcut_after=99)


def test_cc_local_path_deep_chain_and_gate_boundary(spark, monkeypatch):
    # the driver-local solver on a deep chain (vectorized doubling), plus
    # the gate boundary: a set of exactly LOCAL_CC_EDGES edges goes local,
    # one more falls through to the distributed loop — identical labels
    edges = _chain(120)
    df = spark.createDataFrame(edges, ["src", "dst"])
    oracle = _uf_oracle(edges)
    monkeypatch.setattr(canonicalize, "LOCAL_CC_EDGES", len(edges))
    local, _ = connected_components(df)
    assert {r["node"]: r["component"] for r in local.collect()} == oracle
    monkeypatch.setattr(canonicalize, "LOCAL_CC_EDGES", len(edges) - 1)
    dist, _ = connected_components(df)
    assert {r["node"]: r["component"] for r in dist.collect()} == oracle


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _children(node):
    return _seq(node.children())


def _nodes(node):
    yield node
    for c in _children(node):
        yield from _nodes(c)


def _path_to_leaf(node):
    """Node names from ``node`` down its single-child chain to the leaf."""
    names = [node.nodeName()]
    while _children(node):
        (node,) = _children(node)
        names.append(node.nodeName())
    return names, node


def test_cc_iteration_join_does_not_reshuffle_cached_edges(spark, monkeypatch):
    """Shuffle discipline of the distributed loop, checked on the planned
    physical plan of every round's join while the loop's frames are
    cached: the (src, dst) edge side of the sort-merge join reads its
    cache with no Exchange in between, and so does the labels side of the
    first round. The session lets AQE coalesce cached plans, which drops
    the partitioning of a cached frame unless it ends in a repartition
    with an explicit partition count."""
    plans = []
    propagate = canonicalize._propagate

    def recording(sym, labels, bcast, n_parts):
        cand = propagate(sym, labels, bcast, n_parts)
        plan = cand._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        plans.append(plan)
        return cand

    monkeypatch.setattr(canonicalize, "_propagate", recording)
    monkeypatch.setattr(canonicalize, "LOCAL_CC_EDGES", -1)
    monkeypatch.setattr(canonicalize, "BROADCAST_CC_LABELS", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = [(f"a{i}", f"a{i + 1}") for i in range(4)] + [("b0", "b1"), ("b2", "b1")]
        edges = spark.createDataFrame(pairs, "src string, dst string")
        labels, _ = connected_components(edges)
        got = {r["node"]: r["component"] for r in labels.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == _uf_oracle(pairs)
    assert plans
    for i, plan in enumerate(plans):
        joins = [n for n in _nodes(plan) if n.nodeName() == "SortMergeJoin"]
        assert len(joins) == 1, plan.toString()
        sides = {}
        for child in _children(joins[0]):
            names, leaf = _path_to_leaf(child)
            cols = {a.name() for a in _seq(leaf.output())}
            sides["edges" if {"src", "dst"} <= cols else "labels"] = (names, leaf)
        names, leaf = sides["edges"]
        assert leaf.nodeName() == "InMemoryTableScan", names
        assert not any("Exchange" in n for n in names), (i, names)
        if i == 0:
            names, leaf = sides["labels"]
            assert leaf.nodeName() == "InMemoryTableScan", names
            assert not any("Exchange" in n for n in names), names

"""Property-based check: the distributed path-doubling closure == a Python
BFS reference, over random small edge sets plus long chains, cycles,
self-loops, duplicate edges, empty input and null endpoints, on string and
bigint columns (hypothesis)."""

from collections import defaultdict

import pytest
from hypothesis import example, given, settings, strategies as st

from parj_spark.construct import reason
from parj_spark.construct.reason import transitive_closure


def _closure_oracle(edges):
    """Every (s, y) with y reachable from an edge (s, o) through zero or
    more further edges. A null endpoint equals nothing, so no walk
    continues through it; a cycle gives its self-pairs."""
    succ = defaultdict(set)
    for s, o in edges:
        succ[s].add(o)
    out = set()
    for s, o in set(edges):
        seen, stack = {o}, [o]
        while stack:
            x = stack.pop()
            if x is None:
                continue
            for y in succ.get(x, ()):
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        out.update((s, y) for y in seen)
    return out


def _chain(n, start=0):
    return [(start + i, start + i + 1) for i in range(n)]


def _cycle(n, start=0):
    return [(start + i, start + (i + 1) % n) for i in range(n)]


_node = st.one_of(st.integers(0, 12), st.none())
_random = st.lists(st.tuples(_node, _node), max_size=25)
_shaped = st.one_of(
    st.integers(65, 90).map(_chain),
    st.integers(1, 8).map(lambda k: _cycle(k, start=200)),
)
_edge_sets = st.tuples(_random, st.lists(_shaped, max_size=2)).map(
    lambda t: t[0] + [e for shape in t[1] for e in shape]
)

# the shapes of test_reason's transitive_materialize tests, as int nodes:
# a 9-edge chain and a 3-cycle
_MATERIALIZE_CHAIN = _chain(9)
_MATERIALIZE_CYCLE = _cycle(3)


def _closed(spark, edges, dtype):
    conv = str if dtype == "string" else int
    rows = [
        tuple(None if v is None else conv(v) for v in e) for e in edges
    ]
    df = spark.createDataFrame(rows, f"s {dtype}, o {dtype}")
    got = [(r["s"], r["o"]) for r in transitive_closure(df).collect()]
    return got, _closure_oracle(rows)


@settings(max_examples=8, deadline=None)
@given(edges=_edge_sets, dtype=st.sampled_from(["string", "bigint"]))
@example(edges=_MATERIALIZE_CHAIN, dtype="string")
@example(edges=_MATERIALIZE_CYCLE, dtype="string")
@example(edges=[], dtype="bigint")
@example(edges=_chain(70) + [(3, 3), (5, 6), (5, 6)], dtype="bigint")
def test_transitive_closure_matches_bfs(spark, edges, dtype):
    got, want = _closed(spark, edges, dtype)
    assert len(got) == len(set(got))  # distinct pairs
    assert set(got) == want


def test_transitive_closure_null_endpoints(spark):
    # a null endpoint joins nothing: (b, null) extends nothing, and
    # (null, a) extends only through a; every such edge stays a pair
    got, _ = _closed(
        spark, [("a", "b"), ("b", None), (None, "a"), ("c", None)], "string"
    )
    assert set(got) == {
        ("a", "b"), ("a", None), ("b", None), ("c", None),
        (None, "a"), (None, "b"), (None, None),
    }
    assert len(got) == 7


def test_transitive_closure_raises_past_the_round_bound(spark, monkeypatch):
    # two doubling rounds close paths of up to 4 hops: a 10-edge chain
    # must raise, naming the bound, instead of returning a partial closure
    monkeypatch.setattr(reason, "MAX_DOUBLING_ROUNDS", 2)
    df = spark.createDataFrame(_chain(10), "s bigint, o bigint")
    with pytest.raises(RuntimeError, match="MAX_DOUBLING_ROUNDS=2"):
        transitive_closure(df)

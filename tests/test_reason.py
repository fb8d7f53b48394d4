"""RDFS forward-chaining entailment vs a naive pure-Python fixpoint oracle.

The oracle applies the six ρDF rules (rdfs2/3/5/7/9/11) to a set of
triples until no rule fires — no ordering assumptions, so it also proves
the engine's single-pass order (rdfs7 → rdfs2/3 → rdfs9 over a pre-closed
TBox) reaches the same fixpoint."""

import pytest
from pyspark.sql import functions as F

from parj_spark.construct.reason import (
    rdfs_closure,
    transitive_materialize,
    transitive_pairs,
)

TYPE, SC, SP, DOM, RNG = (
    "rdf:type", "rdfs:subClassOf", "rdfs:subPropertyOf",
    "rdfs:domain", "rdfs:range",
)


def fixpoint_oracle(triples: set[tuple[str, str, str]]) -> set[tuple[str, str, str]]:
    out = set(triples)
    while True:
        new = set()
        sc = {(s, o) for s, p, o in out if p == SC}
        sp = {(s, o) for s, p, o in out if p == SP}
        dom = {(s, o) for s, p, o in out if p == DOM}
        rng = {(s, o) for s, p, o in out if p == RNG}
        for a, b in sc:
            for c, d in sc:
                if b == c and a != d:
                    new.add((a, SC, d))  # rdfs11
        for a, b in sp:
            for c, d in sp:
                if b == c and a != d:
                    new.add((a, SP, d))  # rdfs5
        for s, p, o in out:
            for q, r in sp:
                if p == q:
                    new.add((s, r, o))  # rdfs7
            for q, c in dom:
                if p == q:
                    new.add((s, TYPE, c))  # rdfs2
            for q, c in rng:
                if p == q:
                    new.add((o, TYPE, c))  # rdfs3
            if p == TYPE:
                for c, d in sc:
                    if o == c:
                        new.add((s, TYPE, d))  # rdfs9
        if new <= out:
            return out
        out |= new


def _spark_closure(spark, triples):
    df = spark.createDataFrame(sorted(triples), ["s", "p", "o"])
    got = rdfs_closure(df)
    return {(r.s, r.p, r.o) for r in got.collect()}


GRAPH = {
    # TBox
    ("GradStudent", SC, "Student"),
    ("Student", SC, "Person"),
    ("Professor", SC, "Person"),
    ("advisor", SP, "knows"),
    ("knows", SP, "relatedTo"),
    ("teaches", DOM, "Professor"),
    ("teaches", RNG, "Course"),
    # ABox
    ("alice", TYPE, "GradStudent"),
    ("bob", TYPE, "Professor"),
    ("alice", "advisor", "bob"),
    ("bob", "teaches", "db101"),
    ("carol", "knows", "alice"),
}


def test_closure_matches_fixpoint_oracle(spark):
    want = fixpoint_oracle(GRAPH)
    got = _spark_closure(spark, GRAPH)
    # the engine derives instance triples, not TBox-closure triples
    # ((A ⊑ C) from rdfs11 is applied, not asserted) — mirror the oracle's
    # instance-level view by dropping derived schema rows it adds
    want_inst = {t for t in want if t[1] not in (SC, SP)} | {
        t for t in GRAPH if t[1] in (SC, SP)
    }
    assert got == want_inst
    # spot checks: two-hop class, property chain feeding domain, range type
    assert ("alice", TYPE, "Person") in got            # rdfs9 transitive
    assert ("alice", "relatedTo", "bob") in got        # rdfs7 two-hop
    assert ("db101", TYPE, "Course") in got            # rdfs3
    assert ("bob", TYPE, "Professor") in got           # asserted, kept


def test_domain_applies_to_derived_superproperty(spark):
    # p ⊑ q, domain(q)=C, (s p o) ⇒ (s type C): rdfs7 must feed rdfs2
    g = {
        ("p", SP, "q"),
        ("q", DOM, "C"),
        ("x", "p", "y"),
    }
    got = _spark_closure(spark, g)
    assert ("x", TYPE, "C") in got
    assert ("x", "q", "y") in got


def test_subclass_applies_to_range_derived_type(spark):
    # range(p)=C, C ⊑ D, (s p o) ⇒ (o type D): rdfs3 must feed rdfs9
    g = {
        ("p", RNG, "C"),
        ("C", SC, "D"),
        ("x", "p", "y"),
    }
    got = _spark_closure(spark, g)
    assert ("y", TYPE, "C") in got and ("y", TYPE, "D") in got


def test_empty_tbox_returns_input_unchanged(spark):
    df = spark.createDataFrame(
        [("a", "p", "b"), ("a", TYPE, "C")], ["s", "p", "o"]
    )
    got = rdfs_closure(df)
    assert got is df  # zero-cost: same plan object, no shuffle appended


def test_schema_cycle_terminates_and_cross_entails(spark):
    g = {
        ("A", SC, "B"),
        ("B", SC, "A"),
        ("x", TYPE, "A"),
    }
    got = _spark_closure(spark, g)
    assert ("x", TYPE, "B") in got and ("x", TYPE, "A") in got
    # no duplicate rows survive
    df = spark.createDataFrame(sorted(g), ["s", "p", "o"])
    out = rdfs_closure(df)
    assert out.count() == out.dropDuplicates(["s", "p", "o"]).count()


try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _terms = st.integers(0, 5).map(lambda i: f"t{i}")
    _props = st.integers(0, 3).map(lambda i: f"p{i}")
    _classes = st.integers(0, 3).map(lambda i: f"C{i}")
    _graphs = st.lists(
        st.one_of(
            st.tuples(_classes, st.just(SC), _classes),
            st.tuples(_props, st.just(SP), _props),
            st.tuples(_props, st.just(DOM), _classes),
            st.tuples(_props, st.just(RNG), _classes),
            st.tuples(_terms, st.just(TYPE), _classes),
            st.tuples(_terms, _props, _terms),
        ),
        min_size=1,
        max_size=14,
    ).map(lambda rows: sorted(set(rows)))

    @settings(max_examples=8, deadline=None)
    @given(g=_graphs)
    def test_closure_property_random_graphs(spark, g):
        """Random TBox+ABox mixes — including schema cycles, dangling
        hierarchy nodes and domain/range on derived predicates — reach the
        same instance-level fixpoint as the naive rule loop."""
        got = _spark_closure(spark, set(g))
        want = fixpoint_oracle(set(g))
        want_inst = {t for t in want if t[1] not in (SC, SP)} | {
            t for t in g if t[1] in (SC, SP)
        }
        assert got == want_inst


def test_transitive_pairs_closure():
    got = transitive_pairs([("a", "b"), ("b", "c"), ("c", "d")])
    assert ("a", "d") in got and ("a", "c") in got and ("b", "d") in got
    # cycle-safe, self-pairs dropped
    got = transitive_pairs([("a", "b"), ("b", "a")])
    assert got == [("a", "b"), ("b", "a")]


def test_transitive_materialize_chain(spark):
    rows = [("n%d" % i, "next", "n%d" % (i + 1)) for i in range(9)]
    rows.append(("n0", "other", "n5"))
    df = spark.createDataFrame(rows, ["s", "p", "o"])
    got = transitive_materialize(df, "next")
    pairs = {(r.s, r.o) for r in got.filter(F.col("p") == "next").collect()}
    want = {("n%d" % i, "n%d" % j) for i in range(10) for j in range(i + 1, 10)}
    assert pairs == want  # all 45 chain pairs, depth 9 via log-doubling
    # non-closed predicates pass through untouched
    assert got.filter(F.col("p") == "other").count() == 1


def test_import_rdf_with_entailment_end_to_end(spark, tmp_path):
    """import_rdf(entail=W3C_VOCAB): a real N-Triples file with an RDFS
    TBox materializes through the entailment stage, and the query engine
    answers over superclasses/superproperties with zero query-time
    rewriting — the reference's pre-expanded-corpus behavior, produced by
    the pipeline itself."""
    from parj_spark.construct.pipeline import import_rdf
    from parj_spark.construct import reason
    from parj_spark.query import BGPEngine, Pattern

    rdf_type = reason.W3C_VOCAB["type_pred"]
    sub_class = reason.W3C_VOCAB["subclass_pred"]
    sub_prop = reason.W3C_VOCAB["subprop_pred"]
    nt = tmp_path / "g.nt"
    nt.write_text(
        "\n".join(
            [
                f"<urn:GradStudent> <{sub_class}> <urn:Student> .",
                f"<urn:Student> <{sub_class}> <urn:Person> .",
                f"<urn:advisor> <{sub_prop}> <urn:knows> .",
                f"<urn:alice> <{rdf_type}> <urn:GradStudent> .",
                "<urn:alice> <urn:advisor> <urn:bob> .",
                '<urn:alice> <urn:name> "Alice" .',
            ]
        )
        + "\n"
    )
    store = import_rdf(
        spark, str(nt), str(tmp_path / "graph"), entail=reason.W3C_VOCAB
    )
    eng = BGPEngine(store)
    got = eng.query(
        [Pattern("?x", rdf_type, "urn:Person"), Pattern("?x", "urn:knows", "?y")],
        select=["x", "y"],
    )
    assert sorted(map(tuple, got.collect())) == [("urn:alice", "urn:bob")]


def test_transitive_materialize_cycle_terminates(spark):
    df = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a")], ["s", "p", "o"]
    )
    got = transitive_materialize(df, "p")
    pairs = {(r.s, r.o) for r in got.collect()}
    # full 3x3 reachability including self-loops via the cycle
    assert pairs == {(x, y) for x in "abc" for y in "abc"}


def test_apply_tbox_distributes_over_union(spark):
    """The delta-exactness guarantee the streaming path relies on: with a
    shared (pre-closed) TBox, per-partition application unions to exactly
    the closure of the union — every RDFS instance rule has one ABox
    premise, so no derivation ever needs triples from two partitions."""
    from parj_spark.construct.reason import apply_tbox, collect_tbox

    tbox_rows = {t for t in GRAPH if t[1] in (SC, SP, DOM, RNG)}
    abox = sorted(t for t in GRAPH if t[1] not in (SC, SP, DOM, RNG))
    base = set(tbox_rows) | set(abox[: len(abox) // 2])
    delta = set(abox[len(abox) // 2:])  # schema-free delta

    tbox = collect_tbox(spark.createDataFrame(sorted(base), ["s", "p", "o"]))
    whole = _spark_closure(spark, base | delta)
    base_closed = _spark_closure(spark, base)
    delta_df = spark.createDataFrame(sorted(delta), ["s", "p", "o"])
    delta_closed = {
        (r.s, r.p, r.o) for r in apply_tbox(delta_df, tbox).collect()
    }
    assert base_closed | delta_closed == whole


def test_tbox_from_store_roundtrip(spark, tmp_path):
    """Decoding the TBox back out of a materialized (encoded) graph yields
    the same closed schema collect_tbox sees on the URI triples."""
    from parj_spark.construct.pipeline import materialize_triples
    from parj_spark.construct.reason import collect_tbox, tbox_from_store

    df = spark.createDataFrame(sorted(GRAPH), ["s", "p", "o"]).select(
        F.col("s").alias("s_uri"),
        F.col("p").alias("p_uri"),
        F.col("o").alias("o_uri"),
    )
    store = materialize_triples(
        spark, df, str(tmp_path / "g"), resume=False, analyze=False,
        entail=True,
    )
    want = collect_tbox(spark.createDataFrame(sorted(GRAPH), ["s", "p", "o"]))
    got = tbox_from_store(store)
    assert got == want
    assert got  # non-empty: the fixture has all four schema predicates

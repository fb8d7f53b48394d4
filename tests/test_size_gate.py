"""The one size gate, ``session.collect_if_small``, and the operators that
pick their driver-local or distributed side through it: union-find
(``canonicalize.connected_components``) and dense-id assignment (the term
dictionary and the predicate catalog, ``encode._dense_ids``)."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from parj_spark.construct import canonicalize, encode
from parj_spark.session import collect_if_small


def test_collect_if_small_probe_and_known_size(spark):
    df = spark.range(5)
    # no size: one bounded read decides, at the boundary and one past it
    assert sorted(collect_if_small(df, 5)["id"]) == [0, 1, 2, 3, 4]
    assert collect_if_small(df, 4) is None
    assert len(collect_if_small(spark.range(0), 0)) == 0
    assert collect_if_small(spark.range(0), -1) is None
    # a size within n collects the whole frame with no limit
    assert len(collect_if_small(df, 3, size=2)) == 5
    # a size past n reads nothing: this frame fails when evaluated
    failing = df.select(F.assert_true(F.lit(False)).alias("x"))
    assert collect_if_small(failing, 3, size=4) is None


def _probes(tree):
    """Names of the functions in ``tree`` that call both ``.limit(`` and
    ``.toPandas()``."""
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            calls = {
                n.func.attr
                for n in ast.walk(fn)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            }
            if {"limit", "toPandas"} <= calls:
                yield fn.name


def test_no_hand_rolled_gate_probe():
    """A bounded ``limit(n + 1).toPandas()`` probe lives only in
    ``collect_if_small``: an operator that picks a driver-local side calls
    it instead of re-implementing the gate."""
    root = pathlib.Path(__file__).resolve().parents[1] / "parj_spark"
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for fn in _probes(ast.parse(path.read_text())):
            if (rel, fn) != ("session.py", "collect_if_small"):
                found.append(f"{rel}:{fn}")
    assert not found, found


def _cc(sized):
    def run(spark, rows):
        edges = spark.createDataFrame(rows, "src string, dst string")
        labels, _ = canonicalize.connected_components(
            edges, size=edges.count() if sized else None
        )
        return sorted(tuple(r) for r in labels.collect())

    return run


def _ids(build):
    def run(spark, rows):
        t = spark.createDataFrame(rows, "s_uri string, p_uri string, o_uri string")
        return sorted(tuple(r) for r in build(t).collect())

    return run


EDGES = [("a", "b"), ("c", None), ("d", "e"), ("é", "日本"), ("日本", "b"), (None, None)]
LABELS = [("a", "a"), ("b", "a"), ("d", "d"), ("e", "d"), ("é", "a"), ("日本", "a")]
TRIPLES = [("b", "p", "é"), (None, None, None), ("日本", "ü", "a"), ("a", "p", None)]

# operator: (run, gating module constant, input rows, expected rows); the
# dictionary build passes its size bound, the catalog build probes, and CC
# runs both ways
CASES = {
    "cc": (_cc(sized=False), (canonicalize, "LOCAL_CC_EDGES"), EDGES, LABELS),
    "cc_sized": (_cc(sized=True), (canonicalize, "LOCAL_CC_EDGES"), EDGES, LABELS),
    "dict": (
        _ids(encode.build_dictionary),
        (encode, "LOCAL_DENSE_IDS"),
        TRIPLES,
        [(0, "a"), (1, "b"), (2, "é"), (3, "日本")],
    ),
    "props": (
        _ids(encode.build_properties),
        (encode, "LOCAL_DENSE_IDS"),
        TRIPLES,
        [(0, "p"), (1, "ü")],
    ),
}


@pytest.mark.parametrize("data", ["mixed", "empty"])
@pytest.mark.parametrize("case", list(CASES))
def test_same_rows_on_both_sides_of_the_size_gate(spark, monkeypatch, case, data):
    """Each gated operator gives identical rows on its driver-local side
    (the default gate, far above these inputs) and its distributed side
    (gate -1, which never collects): null terms and null endpoints name
    nothing, unicode orders by code point, an empty input gives no rows."""
    run, (module, const), rows, want = CASES[case]
    if data == "empty":
        rows, want = [], []
    local = run(spark, rows)
    monkeypatch.setattr(module, const, -1)
    dist = run(spark, rows)
    assert local == dist == want

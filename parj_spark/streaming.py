"""Structured Streaming surface: incremental ingest into the same KG tables.

The reference is batch/interactive only (SURVEY.md §2.8 — no streaming
concepts anywhere in PARJ); this module is the idiomatic Spark extension the
north rule's lakehouse story implies: new interleaved documents arrive as
files, are extracted incrementally, and appended to the triples tables via
``foreachBatch`` (exactly-once per epoch against an idempotent sink path),
while windowed/watermarked aggregations serve monitoring-style queries.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parj_spark.construct import extract
from parj_spark.construct.materialize import predicate_stats
from parj_spark.construct.pipeline import GraphStore
from parj_spark.construct.schemas import read_table
from parj_spark.fixtures.generator import DOCS_SCHEMA


def read_docs_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """File-source stream of interleaved docs (parquet drops into ``path``)."""
    from pyspark.sql.types import _parse_datatype_string

    return (
        spark.readStream.schema(_parse_datatype_string(DOCS_SCHEMA))
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_mentions(docs_stream: DataFrame) -> DataFrame:
    """Incremental extraction: the same batched-regex stage, run per epoch."""
    return extract.extract_mentions(docs_stream)


def mentions_to_parquet(
    docs_stream: DataFrame, out_dir: str, checkpoint_dir: str
):
    """foreachBatch sink: append per-epoch mention batches to one parquet
    table. Epoch id makes re-delivered batches idempotent (overwrite by
    epoch subdir)."""

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"epoch={epoch_id}")
            )
        )

    return (
        streaming_mentions(docs_stream)
        .writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def next_epoch(stream_dir: str) -> int:
    """Next free epoch id across every delta kind (insert epochs and
    tombstone epochs share one counter — the tombstone suppression rule
    compares epochs, so the two kinds must be totally ordered)."""
    mx = -1
    for name in ("triples", "dict", "properties", "tombstones"):
        d = os.path.join(stream_dir, name)
        if os.path.isdir(d):
            for e in os.listdir(d):
                if e.startswith("epoch="):
                    mx = max(mx, int(e.split("=", 1)[1]))
    return mx + 1


def _epoch_paths(root: str, exclude_epoch: int | None) -> list[str] | None:
    """``epoch=*`` subdirectory paths under ``root``, minus ``exclude_epoch``.

    None when ``root`` does not exist; ``[]`` when it exists but every epoch
    is excluded. Excluding at PATH level — instead of reading the parent dir
    and filtering the partition column — means a foreachBatch retry never
    races its own ``overwrite`` of the current epoch dir: correctness no
    longer depends on Catalyst partition-pruning a
    ``cast(epoch) != epoch_id`` filter before the scan (ADVICE r4)."""
    if not os.path.isdir(root):
        return None
    out = []
    for e in sorted(os.listdir(root)):
        if not e.startswith("epoch="):
            continue
        if exclude_epoch is not None and int(e.split("=", 1)[1]) == exclude_epoch:
            continue
        out.append(os.path.join(root, e))
    return out


def _alive_triples(
    spark,
    base: DataFrame,
    stream_dir: str,
    exclude_epoch: int | None = None,
    pids: list[int] | None = None,
) -> DataFrame:
    """Merge-on-read visibility rule: base rows (epoch -1) plus insert-epoch
    rows, minus every row killed by a LATER tombstone epoch (SPARQL update
    deletes, written by :func:`parj_spark.query.update.apply_update`).

    A row is dead iff a tombstone with the same (s, p, o) and a strictly
    greater epoch exists — so a triple deleted at epoch 3 and re-inserted at
    epoch 5 is alive. The anti-join's equi keys are the triple; the epoch
    comparison is a residual predicate, and the tombstone side is the small
    one (AQE picks a broadcast build), so the base permutation scan is never
    shuffled. This is the deletion-vector half of the lakehouse
    merge-on-read pattern; compaction folds it away.

    ``exclude_epoch`` drops one insert epoch from the tail (the append-time
    dedup probe must not see the current epoch's own prior delivery, or a
    foreachBatch retry would anti-join the whole redelivered epoch away);
    ``pids`` predicate-prunes the tail when the caller only cares about a
    known predicate slice (the caller prunes ``base`` itself)."""
    rows = base.select("s", "p", "o").withColumn("__epoch", F.lit(-1).cast("long"))
    epoch_dirs = _epoch_paths(os.path.join(stream_dir, "triples"), exclude_epoch)
    if epoch_dirs:
        tail = read_table(spark, stream_dir, "triples", epoch_dirs).select(
            "s", "p", "o", F.col("epoch").cast("long").alias("__epoch")
        )
        if pids is not None:
            tail = tail.filter(F.col("p").isin(pids))
        rows = rows.unionByName(tail)
    tomb_path = os.path.join(stream_dir, "tombstones")
    if not os.path.exists(tomb_path):
        return rows.select("s", "p", "o")
    tombs = read_table(spark, stream_dir, "tombstones").select(
        F.col("s").alias("__ts"),
        F.col("p").alias("__tp"),
        F.col("o").alias("__to"),
        F.col("epoch").cast("long").alias("__tepoch"),
    )
    cond = (
        (rows["s"] == tombs["__ts"])
        & (rows["p"] == tombs["__tp"])
        & (rows["o"] == tombs["__to"])
        & (tombs["__tepoch"] > rows["__epoch"])
    )
    return rows.join(tombs, cond, "left_anti").select("s", "p", "o")


def _neg_id(col):
    """Reserved negative id for stream-introduced terms/predicates — can
    never collide with the dense non-negative base ids."""
    return -(F.pmod(F.xxhash64(col), F.lit(1 << 61)) + 1)


def _with_deltas(
    base: DataFrame, stream_dir: str, name: str, exclude_epoch: int | None = None
) -> DataFrame:
    """The (id, uri) ``base`` catalog plus every ``name`` epoch delta except
    ``exclude_epoch`` — the current epoch is excluded at append time so a
    re-delivered epoch rewrites its delta instead of anti-joining it away
    (idempotence under retries)."""
    base = base.select("id", "uri")
    epoch_dirs = _epoch_paths(os.path.join(stream_dir, name), exclude_epoch)
    if not epoch_dirs:
        return base
    delta = read_table(base.sparkSession, stream_dir, name, epoch_dirs)
    return base.union(delta.select("id", "uri"))


def _drop_epoch(stream_dir: str, name: str, epoch_id: int) -> None:
    """Remove one epoch of a delta kind, and the kind's dir once it is empty
    (an existing ``triples``/``tombstones`` dir means "deltas exist")."""
    import shutil

    root = os.path.join(stream_dir, name)
    shutil.rmtree(os.path.join(root, f"epoch={epoch_id}"), ignore_errors=True)
    if os.path.isdir(root) and not os.listdir(root):
        os.rmdir(root)


def write_epoch_delta(df: DataFrame, stream_dir: str, name: str, epoch_id: int) -> int:
    """Write ``df`` as epoch ``epoch_id`` of delta kind ``name`` and return
    its row count, observed on the write itself; an empty epoch leaves no
    dir behind."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
        os.path.join(stream_dir, name, f"epoch={epoch_id}")
    )
    n = obs.get["n"]
    if n == 0:
        _drop_epoch(stream_dir, name, epoch_id)
    return n


def append_epoch(
    triples_uri: DataFrame,
    dict_df: DataFrame,
    props_df: DataFrame,
    stream_dir: str,
    epoch_id: int,
    base_spo: DataFrame | None = None,
) -> None:
    """Encode one epoch's (s_uri, p_uri, o_uri) triples against the base
    catalogs and append the encoded triples plus duplicate-free dict /
    properties deltas under ``stream_dir`` (see
    :func:`incremental_graph_append` for the layout and invariants).

    With ``base_spo`` the epoch keeps only the triples not already alive in
    base + prior epochs − tombstones. An epoch that adds no triple leaves
    no dir of any delta kind behind."""
    spark = triples_uri.sparkSession

    # one catalog lookup per epoch: every distinct predicate and term of the
    # epoch, left-joined against base + prior-epoch catalogs. A null id marks
    # a new one, which takes its reserved negative id (ADVICE r2: the old
    # inner join silently dropped every triple whose predicate wasn't in the
    # base catalog). Checkpointed rather than persisted: a cached plan keeps
    # every shuffle partition, and each delta below would be written as
    # that many small files.
    catalogs = (
        _with_deltas(props_df, stream_dir, "properties", epoch_id)
        .withColumn("is_p", F.lit(True))
        .unionByName(
            _with_deltas(dict_df, stream_dir, "dict", epoch_id)
            .withColumn("is_p", F.lit(False))
        )
    )
    wanted = (
        triples_uri.select(F.lit(True).alias("is_p"), F.col("p_uri").alias("uri"))
        .union(triples_uri.select(F.lit(False), "s_uri"))
        .union(triples_uri.select(F.lit(False), "o_uri"))
        .distinct()
    )
    lookup = (
        wanted.join(catalogs, ["is_p", "uri"], "left")
        .select(
            "is_p",
            "uri",
            F.coalesce("id", _neg_id(F.col("uri"))).alias("id"),
            F.col("id").isNull().alias("new"),
        )
        .localCheckpoint()
    )
    # catalog deltas BEFORE the triples: readers treat the triples dir as the
    # epoch's commit witness (combined_triples unions only epochs whose
    # triples landed), so writing catalogs first means a crash between the
    # writes leaves at worst an orphan delta — never a committed epoch whose
    # negative stream ids are missing from combined_dict, which would make
    # decode joins return nulls until the epoch is redelivered.
    for name, is_p in (("properties", True), ("dict", False)):
        lookup.filter((F.col("is_p") == is_p) & F.col("new")).select(
            "id", "uri"
        ).write.mode("overwrite").parquet(
            os.path.join(stream_dir, name, f"epoch={epoch_id}")
        )

    def ids(is_p: bool, uri: str, id_: str) -> DataFrame:
        return lookup.filter(F.col("is_p") == is_p).select(
            F.col("uri").alias(uri), F.col("id").alias(id_)
        )

    out = (
        triples_uri.join(F.broadcast(ids(True, "p_uri", "p")), "p_uri")
        .join(ids(False, "s_uri", "s"), "s_uri")
        .join(ids(False, "o_uri", "o"), "o_uri")
        .select("s", "p", "o")
    )
    if base_spo is not None:
        # set semantics at append time (an RDF graph is a set — duplicate
        # rows double BGP solution counts): anti-join the epoch against the
        # currently-ALIVE copy of its own predicate slice. The probe is
        # predicate-pruned on both the p-partitioned base layout and the
        # epoch tail, so at scale it touches only the slices the epoch
        # writes; excluding the current epoch keeps foreachBatch retries
        # idempotent (a redelivered epoch must not anti-join itself away),
        # and anti-joining ALIVE (not merely present) rows keeps a
        # tombstoned-then-reasserted triple alive.
        pids = [r.id for r in lookup.filter("is_p").select("id").collect()]
        alive = _alive_triples(
            spark,
            base_spo.filter(F.col("p").isin(pids)),
            stream_dir,
            exclude_epoch=epoch_id,
            pids=pids,
        )
        out = out.join(alive, ["s", "p", "o"], "left_anti")
    if not write_epoch_delta(out, stream_dir, "triples", epoch_id):
        for name in ("properties", "dict"):
            _drop_epoch(stream_dir, name, epoch_id)


def entail_delta(triples_uri: DataFrame, tbox, schema_preds: list[str]) -> DataFrame:
    """Per-epoch RDFS closure of a delta against the base graph's TBox
    (reason.apply_tbox over the (s_uri, p_uri, o_uri) pipeline shape).

    Exact because every instance rule has one ABox premise once the TBox is
    closed — apply distributes over union, so per-epoch closures compose to
    the closure of the whole graph. That guarantee holds ONLY for a static
    schema, so a delta carrying schema-predicate triples is rejected: a new
    subclass axiom retroactively entails triples from the already-
    materialized base, which no delta append can produce."""
    from pyspark.sql import functions as F  # noqa: F811

    from parj_spark.construct import reason

    if triples_uri.filter(F.col("p_uri").isin(schema_preds)).limit(1).count():
        raise ValueError(
            "streamed epoch carries schema-predicate triples: a new TBox "
            "axiom retroactively entails base triples, which a delta append "
            "cannot produce — re-materialize the full graph with entail=True "
            "instead"
        )
    return reason.apply_tbox(
        triples_uri.select(
            F.col("s_uri").alias("s"),
            F.col("p_uri").alias("p"),
            F.col("o_uri").alias("o"),
        ),
        tbox,
    ).select(
        F.col("s").alias("s_uri"),
        F.col("p").alias("p_uri"),
        F.col("o").alias("o_uri"),
    )


def incremental_graph_append(
    docs_stream: DataFrame,
    store,
    stream_dir: str,
    checkpoint_dir: str,
    entail: bool | dict = False,
):
    """End-to-end incremental KG ingest: per micro-batch the batch stages run
    over the new documents only —

      extract -> canonicalize (stored canon map wins; unseen surfaces take
      their deterministic normalization-chain terminal, avoiding a global
      union-find per epoch) -> encode against the existing dictionary
      (unseen terms get reserved *negative* xxhash64 ids so they can never
      collide with the dense non-negative base ids) -> append

    Writes per epoch (idempotent by epoch subdir, exactly-once per the
    foreachBatch contract):
      <stream_dir>/triples/epoch=N     encoded (s, p, o) additions
      <stream_dir>/dict/epoch=N        (id, uri) for newly-seen terms
      <stream_dir>/properties/epoch=N  (id, uri) for newly-seen predicates

    New-term/new-predicate deltas are anti-joined against the base catalog
    AND every *prior* epoch's delta (a term first seen in epoch 1 must not
    be re-emitted by epoch 2 — duplicate (id, uri) rows would fan out every
    decode join through :func:`combined_dict`); the current epoch's own dir
    is excluded so a re-delivered epoch rewrites its delta instead of
    anti-joining it away (idempotence under foreachBatch retries).

    ``store`` is the GraphStore of the base graph. Its dictionary holds the
    dense non-negative construct ids plus, once :func:`compact_stream` has
    folded earlier deltas in, those deltas' reserved negative ids. A new
    term's negative id can therefore collide only with another
    stream-introduced term whose ``_neg_id`` hash is equal — the same risk
    two terms of one epoch already carry — so ingest restarts against a
    compacted store unchanged
    (test_incremental_append_restarts_after_compaction). Use
    :func:`combined_triples` to query base + appended together.

    ``entail=True`` (or a vocab dict, as in ``materialize_triples``)
    extends RDFS entailment to the streamed epochs: the BASE graph's TBox
    is decoded once at stream construction (reason.tbox_from_store) and
    applied per epoch to the delta alone, BEFORE encoding. Because every
    RDFS instance rule has one ABox premise once the TBox is closed,
    ``apply_tbox`` distributes over union — so

        combined closure == closure(base) ∪ apply_tbox(delta_i, TBox) ∀i

    is EXACT, never approximate, as long as the TBox is static. Epochs that
    carry schema-predicate triples are rejected with an error (a new
    subclass axiom would retroactively entail triples from the already-
    materialized base — that is a batch re-materialization with
    ``entail=True``, not a delta append).

    PRECONDITION for ``entail=True``: the BASE graph must itself have been
    materialized with ``entail=True``. The identity above closes only the
    deltas — on a non-entailed base the combined graph is silently
    under-closed (delta-derived triples present, base-derived absent).
    Nothing can enforce this cheaply at the call site (detecting a
    non-closed base costs a full closure pass), so it is a documented
    contract: re-materialize the base with ``entail=True`` first.
    """
    from pyspark.sql import functions as F  # noqa: F811

    from parj_spark.construct import encode, linking, reason

    spark = store.spark
    canon_path = os.path.join(store.out_dir, "canon_map")
    base_canon = spark.read.parquet(canon_path)
    dict_df = store.dict()
    props_df = store.properties()

    entail_tbox = None
    schema_preds: list[str] = []
    if entail:
        vocab = entail if isinstance(entail, dict) else {}
        entail_tbox = reason.tbox_from_store(store, **vocab)
        schema_preds = [
            vocab.get("subclass_pred", reason.RDFS_SUBCLASS),
            vocab.get("subprop_pred", reason.RDFS_SUBPROP),
            vocab.get("domain_pred", reason.RDFS_DOMAIN),
            vocab.get("range_pred", reason.RDFS_RANGE),
        ]

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        mentions = extract.extract_mentions(batch_df)
        surfaces = linking.mention_surfaces(mentions)
        chain = linking.chain_canonical(surfaces)
        canon = (
            chain.join(
                base_canon.withColumnRenamed("node", "surface"), "surface", "left"
            )
            .select(
                F.col("surface").alias("node"),
                F.coalesce("canon", "terminal").alias("canon"),
            )
        )
        triples_uri = encode.assemble_triples(mentions, canon)
        if entail_tbox is not None:
            triples_uri = entail_delta(triples_uri, entail_tbox, schema_preds)
        triples_uri = triples_uri.persist()
        append_epoch(
            triples_uri, dict_df, props_df, stream_dir, epoch_id,
            base_spo=store.spo(),
        )
        triples_uri.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


COMPACT_TMP = "_compact_tmp"
COMPACT_READY = "_COMPACT_READY"


def compact_stream(store, stream_dir: str):
    """Fold the streamed epoch deltas into the base graph's permutation
    layout and refresh the optimizer statistics, then truncate the deltas.

    Why: :func:`combined_triples` unions raw epoch parquet — unsorted,
    un-p-partitioned, un-bucketed, and invisible to the T1/T2/T3 stats — so
    every query over an appended graph scans an unpruned tail and plans it
    with stale statistics. At scale the deltas dominate over time; the
    reference side-steps this by being batch-only (SURVEY.md §2.8), so the
    compaction step is the streaming extension's analog of its always-at-
    load index build (parj.c:1972-2189).

    Ids are preserved (base dense non-negative, streamed reserved-negative)
    — no re-encoding, so in-flight readers' decode joins stay valid and the
    whole pass is a layout + stats rewrite:

      1. write new dict/properties catalogs (uri-range-sorted, keeping the
         row-group-pruning layout) and the full permutation layout
         (osp/stats + the bucketed spo/pos tables) into ``_compact_tmp/``;
      2. mark ``_COMPACT_READY``, then swap directories into place
         (idempotent per-dir: a crash mid-swap resumes by re-running
         compact_stream — the marker routes straight back to the swap);
      3. truncate the epoch deltas, drop the tmp dir, and rebuild
         T2/T3/histograms for the merged graph.

    The dir swap is the sandbox analog of an Iceberg snapshot commit: on a
    real lakehouse step 2 is one atomic metadata pointer flip, and readers
    pin the old snapshot until it completes. Returns a fresh GraphStore.
    """
    import shutil

    from parj_spark.construct import materialize as mat
    from parj_spark.construct import pipeline as pl

    spark = store.spark
    out = store.out_dir
    tmp = os.path.join(out, COMPACT_TMP)
    ready = os.path.join(tmp, COMPACT_READY)
    have_deltas = os.path.exists(
        os.path.join(stream_dir, "triples")
    ) or os.path.exists(os.path.join(stream_dir, "tombstones"))
    if not have_deltas and not os.path.exists(ready):
        return store  # nothing to fold

    # remember the current bucketed prefix so its (about to be stale)
    # catalog entries can be dropped after the swap
    old_prefix = None
    old_meta = os.path.join(out, "bucketed", mat.BUCKETED_META)
    if os.path.exists(old_meta):
        import json

        with open(old_meta) as f:
            old_prefix = json.load(f).get("prefix")

    if not os.path.exists(ready):
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        # 1a. merged catalogs, uri-range-sorted like encode.build_dictionary
        (
            combined_dict(store, stream_dir)
            .repartitionByRange(F.col("uri"))
            .sortWithinPartitions("uri")
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "dict_stage"))
        )
        combined_properties(store, stream_dir).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "properties_stage"))
        # 1b. full permutation layout over the merged triples. The bucketed
        # table prefix is derived from the delta set (deterministic, so a
        # crashed+retried compaction reuses the same names) and differs from
        # the live prefix — the live tables keep serving until the swap.
        import hashlib

        epochs = []
        for kind in ("triples", "tombstones"):
            d = os.path.join(stream_dir, kind)
            if os.path.isdir(d):
                epochs.extend(f"{kind}/{e}" for e in sorted(os.listdir(d)))
        gen = hashlib.md5(("|".join(epochs)).encode()).hexdigest()[:6]
        mat.write_graph(
            combined_triples(store, stream_dir),
            tmp,
            bucket_prefix=f"{mat.bucket_prefix_for(out)}_{gen}",
        )
        with open(ready, "w") as f:
            f.write("")

    # 2. swap (idempotent: already-moved names are gone from tmp)
    for name in ("dict_stage", "properties_stage", "osp", "stats", "bucketed"):
        src = os.path.join(tmp, name)
        if os.path.exists(src):
            shutil.rmtree(os.path.join(out, name), ignore_errors=True)
            os.rename(src, os.path.join(out, name))
    if old_prefix:
        spark.sql(f"DROP TABLE IF EXISTS {old_prefix}_spo_b")
        spark.sql(f"DROP TABLE IF EXISTS {old_prefix}_pos_b")

    # 3. truncate the folded deltas + refresh statistics for the merged
    # graph (T1 rode the write; T2/T3/histograms need the analyze pass)
    for name in ("triples", "dict", "properties", "tombstones"):
        shutil.rmtree(os.path.join(stream_dir, name), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    fresh = pl.GraphStore(spark, out)
    pl.analyze_graph(fresh, resume=False)
    return fresh


def combined_triples(store, stream_dir: str) -> DataFrame:
    """Base graph + streamed additions − tombstoned deletions, as one
    (s, p, o) relation (the epoch-ordered visibility rule of
    :func:`_alive_triples`)."""
    return _alive_triples(store.spark, store.spo(), stream_dir)


@dataclass
class StreamedGraphStore(GraphStore):
    """Live query view over a base graph plus its un-compacted stream deltas.

    Between compactions (:func:`compact_stream`) the epoch deltas under
    ``stream_dir`` are part of the graph's truth but invisible to the base
    ``GraphStore``'s permutation tables — a ``BGPEngine`` over the base
    store silently misses every streamed triple until the next compaction.
    This view presents base+deltas through the same ``GraphStore``
    interface, so the engine answers with streamed freshness unchanged:

    - triples (spo/pos/osp): the base permutation scan unioned with the
      delta tail — the base side keeps its p-partition pruning and parquet
      pushdown; the tail is an unpruned scan whose size is bounded by the
      compaction cadence (the lakehouse merge-on-read split). When SPARQL
      update deletions have written tombstone epochs
      (:func:`parj_spark.query.update.apply_update`), the merged rows are
      additionally anti-joined against the tombstone set under the
      epoch-ordered visibility rule of :func:`_alive_triples`;
    - dict / properties: the duplicate-free combined catalogs, so constant
      resolution and decode joins see streamed terms and predicates;
    - T1 stats: recomputed over the deltas and merged with the base table
      (``n`` additive; ``ndv`` summed — an upper bound, i.e. conservative
      constant selectivity), so the planner sees fresh per-predicate sizes
      including streamed-ONLY predicates instead of estimating them 0 (an
      estimate of 0 would broadcast-hint a scan of unknown size);
    - T2/T3/histograms: inherited from the base analyze pass — stale until
      compaction, but they only refine join ORDER, never correctness;
    - bucketed layout: disabled while deltas exist (the tail is not
      bucketed, and the union is therefore not bucket-aligned on any key)
      — the engine takes the p-partitioned path; compaction folds the tail
      in and this view transparently resumes the bucketed default.

    The reference cannot express this at all (batch-only, SURVEY.md §2.8);
    it is the query-side half of the streaming extension, pairing with
    :func:`incremental_graph_append` (write) and :func:`compact_stream`
    (maintenance).
    """

    stream_dir: str = ""

    def _has_deltas(self) -> bool:
        return os.path.exists(
            os.path.join(self.stream_dir, "triples")
        ) or os.path.exists(os.path.join(self.stream_dir, "tombstones"))

    def _merged(self, base: DataFrame) -> DataFrame:
        if not self._has_deltas():
            return base.select("s", "p", "o")
        return _alive_triples(self.spark, base, self.stream_dir)

    def spo(self) -> DataFrame:
        return self._merged(super().spo())

    def pos(self) -> DataFrame:
        return self._merged(super().pos())

    def osp(self) -> DataFrame:
        return self._merged(super().osp())

    def dict(self) -> DataFrame:
        return _with_deltas(super().dict(), self.stream_dir, "dict")

    def properties(self) -> DataFrame:
        return _with_deltas(super().properties(), self.stream_dir, "properties")

    def stats(self) -> DataFrame:
        # tombstoned rows are NOT subtracted: the merged stats are upper
        # bounds, i.e. conservative planner estimates until compaction
        base = super().stats()
        if not os.path.exists(os.path.join(self.stream_dir, "triples")):
            return base
        tail = predicate_stats(read_table(self.spark, self.stream_dir, "triples"))
        return (
            base.unionByName(tail)
            .groupBy("p")
            .agg(
                F.sum("n").alias("n"),
                F.sum("ndv_s").alias("ndv_s"),
                F.sum("ndv_o").alias("ndv_o"),
                F.min("min_s").alias("min_s"),
                F.max("max_s").alias("max_s"),
                F.min("min_o").alias("min_o"),
                F.max("max_o").alias("max_o"),
            )
        )

    def bucketed_prefix(self) -> str | None:
        # the delta tail is not bucketed -> the union is not bucket-aligned;
        # fall back to the partitioned path until compaction folds it in
        return None if self._has_deltas() else super().bucketed_prefix()


def combined_dict(store, stream_dir: str) -> DataFrame:
    """Base dictionary + streamed term additions as one (id, uri) relation.

    Duplicate-free by construction: ``incremental_graph_append`` anti-joins
    each epoch's delta against base + all prior epochs, so a plain union is
    a set union and decode joins through it never fan out rows.
    """
    return _with_deltas(store.dict(), stream_dir, "dict")


def combined_properties(store, stream_dir: str) -> DataFrame:
    """Base predicate catalog + streamed predicate additions (duplicate-free
    by the same per-epoch anti-join construction as :func:`combined_dict`)."""
    return _with_deltas(store.properties(), stream_dir, "properties")


def stateful_entity_counts(docs_stream: DataFrame):
    """Custom stateful streaming operator: running mention count per entity
    surface across micro-batches via ``applyInPandasWithState``.

    Demonstrates the arbitrary-state path (GroupState + Arrow batches) the
    built-in windowed aggregations can't express: the state is a running
    counter keyed by entity surface that survives across triggers and
    emits the updated total every time the entity is seen again.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    mentions = streaming_mentions(docs_stream).select("s_surf")

    def update(key, batches, state: GroupState):
        n = sum(len(pdf) for pdf in batches)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame({"s_surf": [key[0]], "mentions": [total]})

    return mentions.groupBy("s_surf").applyInPandasWithState(
        update,
        outputStructType="s_surf string, mentions long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_span_counts(docs_stream: DataFrame) -> DataFrame:
    """Watermarked sliding-window aggregation over span kinds.

    Event time is synthesized from the span offset (the fixture corpus has
    no wall-clock column); in production this is the document ingest time.
    """
    spans = docs_stream.select(
        "doc_id", F.explode("spans").alias("sp")
    ).select(
        "doc_id",
        F.col("sp.kind").alias("kind"),
        (F.timestamp_seconds(F.col("sp.offset"))).alias("event_time"),
    )
    return (
        spans.withWatermark("event_time", "60 seconds")
        .groupBy(F.window("event_time", "30 seconds"), "kind")
        .agg(F.count("*").alias("n_spans"))
    )


def delta_ratio(store, stream_dir: str) -> float:
    """Fraction of the live graph sitting in un-compacted deltas —
    (streamed triples + tombstones) / base triples — computed entirely from
    parquet footers (lineage.partition_counters), so the policy check costs
    zero Spark jobs. Returns 0.0 when no deltas exist; ``inf`` when deltas
    exist over an empty base (always compact)."""
    from parj_spark.construct import lineage

    n_delta = 0
    for kind in ("triples", "tombstones"):
        d = os.path.join(stream_dir, kind)
        if os.path.isdir(d):
            n_delta += sum(c["rows"] for c in lineage.partition_counters(d))
    if n_delta == 0:
        return 0.0
    base_dir = os.path.join(store.out_dir, "bucketed", "spo")
    n_base = sum(c["rows"] for c in lineage.partition_counters(base_dir))
    return n_delta / n_base if n_base else float("inf")


def maybe_compact(store, stream_dir: str, max_ratio: float = 0.10):
    """Fold the deltas into the permutation layout when they exceed
    ``max_ratio`` of the base graph; otherwise leave them for merge-on-read.

    This is the streaming surface's compaction POLICY, separate from the
    mechanism (:func:`compact_stream`): every un-compacted row is scanned
    unpruned and planned with stale statistics by every query
    (VERDICT r3 missing #2), but each compaction rewrites the full layout —
    the ratio bounds read amplification at ~(1 + max_ratio) while keeping
    write amplification sublinear in the number of epochs, the same
    trade lakehouse table services make. The 0.10 default sits at the
    measured knee of that curve (scripts/stream_bench.py at 8.35M base
    triples, BENCH/ADDENDUM.md r5): the merge-on-read penalty is a flat
    ~2.1x suite geomean up to 0.10, then selective queries blow up (4-12x
    at 0.20, where the unpruned tail rivals a selective predicate's pruned
    base slice), while one compaction costs ~50 queries' worth of penalty. A crash-interrupted compaction
    (the _COMPACT_READY marker exists) is always resumed regardless of the
    ratio. Returns (store, compacted: bool).

    Run this BETWEEN streaming sessions (or from a separate table-service
    job), not inside a live foreachBatch: compaction folds streamed terms
    into the base dictionary, so an ingest loop that captured the
    pre-compaction catalogs would re-emit those terms as deltas and fan
    out decode joins with duplicate (id, uri) rows. Out-of-band compaction
    is the lakehouse pattern this mirrors; the incremental ingest query
    restarts cleanly against the compacted store
    (test_incremental_append_restarts_after_compaction)."""
    ready = os.path.join(store.out_dir, COMPACT_TMP, COMPACT_READY)
    if os.path.exists(ready) or delta_ratio(store, stream_dir) > max_ratio:
        new_store = compact_stream(store, stream_dir)
        return new_store, True
    return store, False


# ---------------------------------------------------------------------------
# Incremental corpus dedup (the streaming face of operators/dedup)
# ---------------------------------------------------------------------------

# the text-documents feed shape (TESTDATA.md documents table)
TEXT_DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_text_docs_stream(
    spark: SparkSession,
    path: str,
    max_files: int = 4,
    schema: str = TEXT_DOCS_SCHEMA,
) -> DataFrame:
    """File-source stream of text documents (parquet drops into ``path``)."""
    from pyspark.sql.types import _parse_datatype_string

    return (
        spark.readStream.schema(_parse_datatype_string(schema))
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def incremental_corpus_dedup(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Exactly-once streaming exact-dedup of a document feed: per epoch,
    fingerprint the new docs (the batch operator's normalize+md5), keep the
    min-id doc per within-batch fingerprint, drop everything already seen
    in ANY prior epoch, and append

      <state_dir>/seen/epoch=N  (fingerprint, doc_id)  dedup state delta
      <state_dir>/kept/epoch=N  surviving documents    the curated output

    Same invariants as the KG append path (:func:`append_epoch`): epoch
    subdirs make redelivered batches idempotent (overwrite-by-epoch, the
    current epoch excluded from the prior-state anti-join so a retry
    rewrites its delta instead of anti-joining it away), and the state
    delta is written BEFORE the kept docs so the kept dir is the epoch's
    commit witness — a crash between the writes leaves at worst an orphan
    seen-delta, which redelivery overwrites; it can never emit a duplicate.

    Scale shape: the per-epoch cost is one shuffle of the batch (the
    within-batch min) plus an anti-join keyed on the 32-hex fingerprint
    against the accumulated state — O(batch + state) per epoch. The state
    is append-only epoch deltas; fold them periodically with
    :func:`compact_dedup_state` so the anti-join reads one coalesced
    relation instead of an ever-longer union.
    """
    from pyspark.sql.window import Window

    from parj_spark.operators.text import fingerprint

    def _seen_fingerprints(spark, epoch_id: int) -> DataFrame | None:
        """Fingerprints from the compacted base plus every PRIOR epoch's
        delta (the current epoch excluded for retry idempotence — the
        dict-delta rule of :func:`_prior_delta`, over this state's schema)."""
        parts = []
        base = os.path.join(state_dir, "seen_base")
        if os.path.isdir(base):
            parts.append(spark.read.parquet(base).select("fingerprint"))
        deltas = os.path.join(state_dir, "seen")
        if os.path.isdir(deltas):
            parts.append(
                spark.read.parquet(deltas)
                .filter(F.col("epoch") != epoch_id)
                .select("fingerprint")
            )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.columns:
            return
        fp = fingerprint(batch_df, id_col=id_col, text_col=text_col)
        docs_fp = batch_df.join(fp, id_col)
        win = Window.partitionBy("fingerprint").orderBy(id_col)
        firsts = (
            docs_fp.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        prior = _seen_fingerprints(spark, epoch_id)
        fresh = firsts
        if prior is not None:
            fresh = firsts.join(prior, "fingerprint", "left_anti")
        # state delta first, kept docs last (commit-witness order)
        fresh.select("fingerprint", id_col).write.mode("overwrite").parquet(
            os.path.join(state_dir, "seen", f"epoch={epoch_id}")
        )
        fresh.drop("fingerprint").write.mode("overwrite").parquet(
            os.path.join(state_dir, "kept", f"epoch={epoch_id}")
        )

    return (
        docs_stream.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def kept_docs(spark: SparkSession, state_dir: str) -> DataFrame:
    """The curated (deduplicated) corpus: union of every committed epoch's
    kept docs plus the compacted base, if one exists."""
    parts = []
    base = os.path.join(state_dir, "kept_base")
    if os.path.isdir(base):
        parts.append(spark.read.parquet(base))
    kept = os.path.join(state_dir, "kept")
    if os.path.isdir(kept):
        parts.append(spark.read.parquet(kept).drop("epoch"))
    if not parts:
        raise FileNotFoundError(f"no dedup state under {state_dir}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_dedup_state(spark: SparkSession, state_dir: str) -> None:
    """Fold the per-epoch seen/kept deltas into single sorted base tables
    (``seen_base`` sorted by fingerprint — the anti-join side — and
    ``kept_base``), then drop the epoch dirs.

    Crash-safe via :func:`compact_stream`'s marker protocol: the merged
    bases are written under ``_dedup_compact_tmp/`` first, a READY marker
    commits them, and only then are the live bases swapped and the deltas
    truncated. A crash BEFORE the marker leaves live state untouched (the
    tmp dir is rebuilt from scratch on retry); a crash mid-swap resumes
    from the marker, whose tmp copy still contains the old base content —
    a naive base->old / tmp->base rename pair would lose the old base in
    the window between the two renames. Folding is also idempotent under
    a crash after the swap but before truncation: the merge deduplicates
    by fingerprint / doc id, so re-folding already-folded deltas is a
    no-op."""
    import shutil

    seen_dir = os.path.join(state_dir, "seen")
    kept_dir = os.path.join(state_dir, "kept")
    tmp = os.path.join(state_dir, "_dedup_compact_tmp")
    ready = os.path.join(tmp, "_COMPACT_READY")
    tables = (
        ("seen_base", seen_dir, "fingerprint", ["fingerprint"]),
        ("kept_base", kept_dir, None, ["doc_id"]),
    )

    if not os.path.exists(ready):
        if not os.path.isdir(seen_dir) and not os.path.isdir(kept_dir):
            return
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        for name, delta_dir, sort_col, key in tables:
            base = os.path.join(state_dir, name)
            parts = []
            if os.path.isdir(base):
                parts.append(spark.read.parquet(base))
            if os.path.isdir(delta_dir):
                parts.append(spark.read.parquet(delta_dir).drop("epoch"))
            if not parts:
                continue
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p)
            merged = merged.dropDuplicates(key)
            if sort_col is not None:
                merged = merged.sort(sort_col)
            merged.write.mode("overwrite").parquet(os.path.join(tmp, name))
        with open(ready, "w"):
            pass

    # swap (idempotent: already-moved names are gone from tmp), then
    # truncate the folded deltas and drop the tmp dir last
    for name, _, _, _ in tables:
        src = os.path.join(tmp, name)
        if os.path.isdir(src):
            dst = os.path.join(state_dir, name)
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(src, dst)
    shutil.rmtree(seen_dir, ignore_errors=True)
    shutil.rmtree(kept_dir, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

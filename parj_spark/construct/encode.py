"""Stage 4+5: canonical triple assembly and dictionary encoding.

Mirrors the reference's data model (SURVEY.md §1.1): one dictionary for
entities AND literals (reference ImportHandler.java:99-105 encodes Literal
like URI), a *separate* predicate catalog (`properties`, ImportHandler.java:58),
dense integer IDs (reference uses uint32; we use LongType for headroom).

Dense deterministic IDs are assigned by sort + zipWithIndex — a distributed
total-order assignment (range-partitioned sort, one pass), NOT a
single-partition row_number window. At true 10^12 scale even this global
sort is a bottleneck; xxhash64 content IDs (deterministic, no shuffle,
sacrifices density) are the documented alternative (SURVEY.md §7.3), not
implemented here: dense ids are the one id scheme, and the streaming
extension reserves the negative range for stream-introduced terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parj_spark.fixtures import ontology as O
from parj_spark.session import collect_if_small


def assemble_triples(mentions: DataFrame, canon: DataFrame) -> DataFrame:
    """mentions + (node -> canon surface) map -> distinct canonical URI triples.

    Output: (s_uri, p_uri, o_uri, is_lit). Entity surfaces are replaced by
    their canonical cluster representative before URI minting; duplicate
    facts across documents collapse via distinct (set semantics, matching
    the reference's per-predicate sorted-unique storage).
    """
    canon_s = canon.select(
        F.col("node").alias("s_surf"), F.col("canon").alias("s_canon")
    )
    canon_o = canon.select(
        F.col("node").alias("o_surf"), F.col("canon").alias("o_canon")
    )
    m = mentions.join(canon_s, "s_surf", "left").join(
        canon_o.withColumnRenamed("o_surf", "o_surf_j"),
        mentions.o_surf == F.col("o_surf_j"),
        "left",
    )
    s_uri = F.concat(F.lit(O.UB), F.coalesce("s_canon", "s_surf"))
    o_uri = (
        F.when(F.col("o_kind") == "literal", F.col("o_surf"))
        .when(F.col("o_kind") == "class", F.concat(F.lit(O.UB), F.col("o_surf")))
        .otherwise(F.concat(F.lit(O.UB), F.coalesce("o_canon", "o_surf")))
    )
    return (
        m.select(
            s_uri.alias("s_uri"),
            F.col("p_uri"),
            o_uri.alias("o_uri"),
            (F.col("o_kind") == "literal").alias("is_lit"),
        )
        .distinct()
    )


# distinct-term gate for the driver-local id assignment; the whole
# dictionary is later broadcast by encode_triples under a gate 8x larger
# (BROADCAST_DICT_ROWS), so collecting it costs no new memory class
LOCAL_DENSE_IDS = 1_000_000


def _dense_ids(terms: DataFrame, col: str, size: int | None = None) -> DataFrame:
    """(id, uri) with dense deterministic ids: rank in the global uri sort.

    Size-adaptive through :func:`~parj_spark.session.collect_if_small`: a
    set of at most ``LOCAL_DENSE_IDS`` distinct terms is collected once and
    ranked driver-side — pandas' string sort is code-point order, which
    equals Spark's UTF-8 byte ordering, so the (id, uri) assignment is
    bit-identical to the distributed rank — collapsing the checkpoint +
    offset-collect + window + join chain into one collect. ``size`` is an
    upper bound on the distinct-term count the caller already holds: with
    it the gate decides without a probe read; without it a bounded
    ``limit`` read decides. A larger term set gets the distributed
    assignment below — range-partition the sorted distinct terms, rank
    locally per partition, then add the (tiny, broadcast) per-partition
    cumulative offsets: the classic distributed zipWithIndex, with no
    Python row path and no single-partition window bottleneck.
    """
    from pyspark.sql import Window

    # a null term names nothing: drop it before either path, so the local
    # sort (nulls last) and the distributed range sort (nulls first) rank
    # the same set
    dedup = terms.select(F.col(col).alias("uri")).dropna().distinct()
    pdf = collect_if_small(dedup, LOCAL_DENSE_IDS, size)
    if pdf is not None:
        pdf = pdf.sort_values("uri", ignore_index=True)
        pdf.insert(0, "id", pdf.index.astype("int64"))
        schema = T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("uri", terms.schema[col].dataType, False),
            ]
        )
        return terms.sparkSession.createDataFrame(pdf, schema)

    distinct = (
        dedup
        .repartitionByRange(F.col("uri"))
        .sortWithinPartitions("uri")
        .withColumn("pid", F.spark_partition_id())
    )
    distinct = distinct.localCheckpoint()  # pin partition ids
    counts = (
        distinct.groupBy("pid").count().orderBy("pid").collect()
    )
    offsets, acc = {}, 0
    for r in counts:
        offsets[r["pid"]] = acc
        acc += r["count"]
    off_df = F.broadcast(
        distinct.sparkSession.createDataFrame(
            [(int(pid), int(off)) for pid, off in offsets.items()],
            T.StructType(
                [
                    T.StructField("pid", T.IntegerType(), False),
                    T.StructField("offset", T.LongType(), False),
                ]
            ),
        )
    )
    local_rn = F.row_number().over(Window.partitionBy("pid").orderBy("uri"))
    return (
        distinct.withColumn("rn", local_rn)
        .join(off_df, "pid")
        .select((F.col("offset") + F.col("rn") - 1).alias("id"), "uri")
    )


def build_dictionary(
    triples_uri: DataFrame, n_triples: int | None = None
) -> DataFrame:
    """Term dictionary (id, uri) over all subjects + objects (incl. literals).

    Output is range-partitioned + sorted by uri (`_dense_ids` already
    produces that order and the offset broadcast join preserves it), so the
    checkpointed parquet carries disjoint per-file uri ranges — per-query
    constant-term lookups (`uri IN (...)`) prune to a few row groups via
    parquet min/max instead of scanning the dictionary.

    Distinct terms are at most twice the triple count, and that bound is
    the size `_dense_ids`' gate decides on: no probe read, and a
    corpus-scale dictionary goes straight to the distributed rank.
    ``n_triples`` is the count the stage that wrote the triples observed;
    only without it (a resumed stage) is it counted here, a metadata-only
    job on checkpointed parquet.
    """
    terms = triples_uri.select(F.col("s_uri").alias("uri")).union(
        triples_uri.select(F.col("o_uri").alias("uri"))
    )
    if n_triples is None:
        n_triples = triples_uri.count()
    return (
        _dense_ids(terms, "uri", size=2 * n_triples)
        .repartitionByRange(F.col("uri"))
        .sortWithinPartitions("uri")
    )


def build_properties(triples_uri: DataFrame) -> DataFrame:
    """Predicate catalog (id, uri) — separate from the term dictionary."""
    return _dense_ids(triples_uri.select(F.col("p_uri").alias("uri")), "uri")


BROADCAST_DICT_ROWS = 8_000_000


def encode_triples(
    triples_uri: DataFrame,
    dict_df: DataFrame,
    props_df: DataFrame,
    dict_rows: int | None = None,
) -> DataFrame:
    """URI triples -> (s long, p long, o long) via dictionary joins.

    The predicate catalog is tiny -> always broadcast. The term dictionary
    join is size-gated like the decode join (bgp.py): when the dict fits
    (<= BROADCAST_DICT_ROWS, ~hundreds of MB serialized) both encode joins
    broadcast — no shuffle of the triples at all; past the gate (at 10^12
    docs the dict is billions of terms) it falls back to the plain shuffle
    join Catalyst/AQE will plan. ``dict_rows``: pass a known count to skip
    the gate's metadata-only count job.
    """
    if dict_rows is None:
        dict_rows = dict_df.count()  # parquet-metadata count on checkpointed dicts
    gate = F.broadcast if dict_rows <= BROADCAST_DICT_ROWS else (lambda df: df)
    d_s = gate(dict_df.select(F.col("id").alias("s"), F.col("uri").alias("s_uri")))
    d_o = gate(dict_df.select(F.col("id").alias("o"), F.col("uri").alias("o_uri")))
    d_p = props_df.select(F.col("id").alias("p"), F.col("uri").alias("p_uri"))
    return (
        triples_uri.join(F.broadcast(d_p), "p_uri")
        .join(d_s, "s_uri")
        .join(d_o, "o_uri")
        .select("s", "p", "o")
    )

"""Deduplication operators for large-scale training-data pipelines.

All hash choices are *portable* (md5 over strings) so every operator has an
exact DuckDB oracle; at production scale you'd swap md5 for xxhash64 (one
line) — the shapes (shingle -> minhash -> band -> bucket-join; bit-vote
simhash) are the scale-relevant part:

- exact:    one groupBy on the content key (map-side partial agg).
- MinHash+LSH: banding turns O(n^2) pair search into equi-join on band keys;
  candidate pairs then verified with exact Jaccard. Shuffle volume is
  O(n * bands), never O(n^2).
- SimHash:  32-bit bit-vote fingerprint; near-dup = small Hamming distance.
- n-gram Jaccard: exact verification primitive (also standalone for small n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parj_spark.operators.corpus import _spread, _tokens

DEFAULT_MINHASH_HASHES = 8
DEFAULT_BANDS = 4


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct content: canonical (min) id + duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_key"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups"))
    )


def _shingles_from(toks, n: int):
    """n-word shingle array (distinct) from a *materialized* token array.

    Important: ``toks`` must reference a projected column, not an inline
    split(...) expression — element_at over an unmaterialized split
    re-splits the text per shingle element (O(tokens^2) string work;
    measured 20s vs <2s on 5k docs)."""
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
    )
    # guard: shorter than n tokens -> empty shingle set (sequence would descend)
    return F.when(F.size(toks) >= n, shingles).otherwise(
        F.array().cast("array<string>")
    )


def with_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingles): tokenize once into a column, then window over it.

    The input is spread across task slots first (corpus._spread): shingle
    construction is the CPU-heavy map stage of every consumer, and an
    under-split input (one small file -> one scan partition) would run it
    serially."""
    toked = _spread(df).select(id_col, _tokens(text_col).alias("__toks"))
    return toked.select(id_col, _shingles_from(F.col("__toks"), n).alias("shingles"))


def _combos(arr):
    """All unordered {x, y} element combinations of an array column as
    struct(a, b) with a = least(x, y), b = greatest(x, y) — the in-task
    equivalent of a self-equi-join + (x < y) filter, at half the rows and
    zero join. Struct elements order by their leading field."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(
                    F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
                ),
            ),
        )
    )


def minhash_signature(df: DataFrame, id_col: str, shingles_col: str, n_hashes: int) -> DataFrame:
    """(id, h0..h{n-1}): min over shingles of md5(j || '|' || shingle).

    min-over-md5-hex is a valid minhash family (each salted md5 induces an
    independent pseudo-random total order on the shingle universe).

    Computed per-document with array higher-order functions (transform +
    array_min fold over the shingle array), so the signature needs NO
    explode and NO corpus-wide shuffle — the former explode+groupBy shape
    shuffled one row per shingle occurrence just to take per-doc minima.
    array_min's string ordering is the binary UTF8 ordering F.min uses, so
    the signatures are bit-identical; docs with an empty shingle array are
    dropped, exactly as explode dropped them.
    """
    cols = [
        F.array_min(
            F.transform(
                F.col(shingles_col),
                lambda s: F.md5(F.concat(F.lit(f"{j}|"), s)),
            )
        ).alias(f"h{j}")
        for j in range(n_hashes)
    ]
    return df.filter(F.size(shingles_col) > 0).select(id_col, *cols)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_MINHASH_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) via MinHash banding.

    Pipeline: shingle -> minhash -> band keys -> self-equi-join on band
    bucket -> exact Jaccard verification on the candidate pairs only.

    ``max_bucket``: skew guard — buckets with more members are dropped as
    non-discriminative (a bucket of B members contributes B^2/2 candidate
    pairs; one degenerate bucket at 10^9 docs is a job-killer). Standard
    frequent-bucket skip from the LSH literature.
    """
    rows_per_band = n_hashes // bands
    # shingle arrays are read three times (signature + both sides of the
    # verification join) — persist instead of recomputing the tokenization
    with_sh = with_shingles(df, id_col, text_col, shingle_n).persist()
    sig = minhash_signature(with_sh, id_col, "shingles", n_hashes)
    band_cols = [
        F.md5(
            F.concat_ws("|", F.lit(b), *[f"h{b * rows_per_band + r}" for r in range(rows_per_band)])
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(id_col, *band_cols)
    stacked = banded.select(
        id_col,
        F.explode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias("bucket"),
    )
    # per-bucket posting lists: the bucket-size guard becomes a length
    # filter on the list, and the i<j candidate pairs are generated
    # in-task from each list — no bucket-size join, no self-join, and each
    # unordered pair is emitted once per colliding band instead of twice
    gate = F.size("ids") <= max_bucket if max_bucket is not None else F.lit(True)
    buckets = (
        stacked.groupBy("bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter((F.size("ids") >= 2) & gate)
    )
    cand = (
        buckets.select(F.explode(_combos(F.col("ids"))).alias("pr"))
        .select(F.col("pr.a").alias("id_a"), F.col("pr.b").alias("id_b"))
        .distinct()
    )
    sh_a = with_sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = with_sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # pin the (small) verified pair set and release the corpus-sized
    # shingle cache before returning — a lazy return would keep with_sh
    # persisted for the result's lifetime, leaking one corpus-scale cache
    # entry per call into a long-lived session (semantic_dedup's lifecycle)
    out = verified.localCheckpoint()
    with_sh.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    threshold: float = 0.3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via shared-shingle inverted index (no LSH).

    Scale shape: |intersection| computed distributively from the exploded
    shingle index (groupBy pair), union via inclusion-exclusion — never
    materializes per-doc sets on the join path.

    ``max_df``: document-frequency cap on the inverted index (prefix
    filtering) — a shingle shared by m docs contributes m²/2 pair rows, so
    one stop-bigram at corpus scale is O(n²); shingles with df > max_df are
    dropped from the index as non-discriminative (same skew guard as
    minhash's ``max_bucket``). Intersections then undercount by the dropped
    shingles, making the reported jaccard a lower bound — pairs whose
    overlap is *only* stopword shingles are (intentionally) not candidates.
    Denominators keep the full set sizes. None = exact (oracle mode).

    Shuffle shape (one order less than the naive index self-join): the
    exploded index is grouped ONCE by shingle into per-shingle posting
    lists (the df cap is then a length filter on the list — no separate
    doc-frequency aggregation or join), and the i<j pair combinations are
    generated in-task from each list, so each unordered pair crosses the
    wire once, not twice, and no corpus-sized join output exists. Each
    posting entry carries its doc's full set size, so the jaccard
    denominator needs no join back to a per-doc size table — one corpus
    scan, one posting-list shuffle, one pair aggregation, nothing else.
    """
    docs_sh = with_shingles(df, id_col, text_col, shingle_n)
    posting = (
        docs_sh.select(
            F.struct(
                F.col(id_col).alias("id"), F.size("shingles").alias("sz")
            ).alias("e"),
            F.explode("shingles").alias("sh"),
        )
        .groupBy("sh")
        .agg(F.collect_list("e").alias("es"))
    )
    cap = F.size("es") <= max_df if max_df is not None else F.lit(True)
    # spread the (byte-light, compute-heavy) posting lists across the
    # cluster before pair generation: AQE's byte-based coalescing would
    # otherwise collapse the generation + partial-aggregation stage to a
    # couple of tasks whose hash maps then spill (measured: 3x run-to-run
    # swings at ~1e8 generated pairs)
    par = df.sparkSession.sparkContext.defaultParallelism * 2
    posting = posting.filter((F.size("es") >= 2) & cap).repartition(par, "sh")
    # every unordered {a, b} combination of a posting list, normalized so
    # id_a < id_b (one row per shared shingle per pair — the distributive
    # |intersection| count, exactly as the former self-join produced).
    # Length filter (PPJoin family): jaccard <= min_sz/max_sz regardless of
    # the intersection, and round(j, 6) can lift j by at most 5e-7, so a
    # pair with min_sz < (threshold - 1e-6) * max_sz can never survive the
    # final filter — drop it before it enters the pair aggregation.
    ratio_ok = F.least("sz_a", "sz_b") >= (
        F.lit(threshold - 1e-6) * F.greatest("sz_a", "sz_b")
    )
    # two-level generation (anchor posexplode, then a slice of the tail
    # partners) instead of one flatten(transform(transform(...))) array:
    # the nested-lambda form runs interpreted inside Generate (measured 3x
    # the wall cold), while posexplode/explode+slice generate with codegen
    # and never materialize the O(list^2) flat pair array per input row
    anch = posting.select(F.posexplode("es").alias("i", "x"), "es")
    pair_rows = anch.select(
        "x",
        F.explode(
            F.slice(F.col("es"), F.col("i") + F.lit(2), F.size("es"))
        ).alias("y"),
    ).select(
        F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
    )
    pairs_flat = pair_rows.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.sz").alias("sz_a"),
        F.col("b.sz").alias("sz_b"),
    ).filter(ratio_ok)
    if df.limit(50_000).count() >= 50_000:
        # large-corpus regime: explicit pair-key repartition (4x
        # parallelism, scale-adaptive) before the aggregation. The groupBy
        # reuses this partitioning — still exactly ONE exchange — but the
        # final aggregation runs on 4x more partitions than
        # spark.sql.shuffle.partitions, keeping the per-task hash map out
        # of spill at the operator's worst-case density (the max_df knee,
        # ~6e8 pair rows: measured 77-128s -> ~50s at 100k docs, flat at
        # 50k). The trade is the map-side partial aggregation, which
        # caught almost nothing here: a pair repeats once per SHARED
        # shingle, and posting lists are hash-spread by shingle, so a
        # pair's duplicates land in different tasks anyway. Below the
        # gate, the partial-agg plan wins (128 near-empty reduce tasks
        # cost ~1s of pure task launch at local scale). A bounded probe
        # decides: it reads at most 50k input rows, never the whole corpus.
        pairs_flat = pairs_flat.repartition(
            df.sparkSession.sparkContext.defaultParallelism * 4,
            "id_a",
            "id_b",
        )
    inter = pairs_flat.groupBy("id_a", "id_b").agg(
        F.count("*").alias("i"),
        F.first("sz_a").alias("sz_a"),
        F.first("sz_b").alias("sz_b"),
    )
    verified = (
        inter.withColumn(
            "jaccard", F.round(F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i")), 6)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def simhash32(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document (portable arithmetic; exact SQL oracle).

    token hash = first 8 hex chars of md5 as uint32; per bit, vote +1/-1
    over tokens; fingerprint bit b set iff vote > 0.
    """
    toks = _spread(df).select(id_col, F.explode(_tokens(text_col)).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    toks = toks.select(id_col, h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(32)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    fp = None
    for b in range(32):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else (fp + bit)
    return agg.select(id_col, fp.alias("simhash"))


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine near-dup pairs (brute self-join) — correctness baseline.

    The scale path is banded LSH (similarity.cosine_lsh_neardup_pairs); this
    operator is the oracle-checkable reference for it.
    """
    from parj_spark.operators.similarity import cosine_sim

    # a small input file arrives as one scan partition; the cross-join work
    # is O(n^2) regardless, so spread the probe side over all task slots
    slots = emb.sparkSession.sparkContext.defaultParallelism * 2
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")).repartition(
        slots
    )
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_sim("va", "vb"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def neardup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Transitive near-duplicate clusters from any pair-finder's output:
    (doc_id, cluster, is_canonical), cluster = the minimum member id, the
    canonical doc the one whose id IS the cluster id (deterministic — the
    keep-one-per-cluster step of a dedup pipeline).

    Reuses the construction pipeline's distributed union-find
    (canonicalize.connected_components: min-label propagation, one action
    per iteration, pointer-doubling escape hatch), so the closure is
    O(diameter) joins, never a driver-side pass — at 10^12 docs the pair
    graph is sharded like any other relation. ``all_ids`` (a 1-column
    DataFrame of every doc id) adds the pairless docs as singleton
    clusters; without it only paired docs appear.
    """
    from parj_spark.construct.canonicalize import connected_components

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    labels, _ = connected_components(edges)
    # pin the result and release the loop's cache entry (contract operators
    # must not leak persisted frames into the shared session)
    final = labels.localCheckpoint()
    labels.unpersist()
    out = final.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster")
    )
    if all_ids is not None:
        idc = all_ids.columns[0]
        singles = (
            all_ids.select(F.col(idc).alias("doc_id"))
            .join(out.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", F.col("doc_id").alias("cluster"))
        )
        out = out.unionByName(singles)
    return out.withColumn("is_canonical", F.col("doc_id") == F.col("cluster"))

"""Corpus-curation operators for LLM training-data pipelines: Gopher-style
repetition quality signals, cross-document duplicated-substring spans
(Lee et al., "Deduplicating Training Data Makes Language Models Better"),
deterministic hash-based stratified sampling, regex PII redaction, and
per-document TF-IDF top terms.

All hot-path expressions are JVM built-ins (whole-stage codegen); no Python
UDFs anywhere in this module. Every shuffle key is either the document id
or a 64-bit gram hash, so at 100 TB each operator's cost is O(total tokens)
map work + one hash-partitioned aggregation with map-side combine — never
an all-pairs or driver-side pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _tokens(text_col: str):
    """Whitespace tokens, lowercased (portable: split on single spaces)."""
    return F.split(F.lower(F.col(text_col)), " ")


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the input across the cluster when the scan arrives in
    fewer partitions than there are task slots. A small corpus lands as ONE
    file -> ONE scan partition, and every token/gram-building map stage
    downstream then runs serially (measured: the whole 8-gram build of
    dup_ngram_spans on one core). At real scale the scan already has more
    splits than slots and this is a no-op — the repartition only fires on
    under-split inputs, so no full-corpus shuffle is added at 100 TB.

    The split-count probe (``df.rdd``) forces physical planning of the
    input subtree (~0.1 s of driver work), so this belongs on operators
    whose materialized work dwarfs that, not on sub-second paths."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _gram_array(toks_col: str, n_col: str, n: int):
    """Array of space-joined n-grams over a token array (1-based slice);
    empty when the doc has fewer than n tokens (sequence(1,0) would count
    DOWN in Spark, so the short-doc case must be guarded explicitly)."""
    seq = F.sequence(F.lit(1), F.col(n_col) - F.lit(n - 1))
    grams = F.transform(seq, lambda i: F.concat_ws(" ", F.slice(toks_col, i, n)))
    return F.when(F.col(n_col) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    short_n: int = 2,
    long_n: int = 5,
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    "Scaling Language Models", Table A1):

    - ``top_2gram_frac``: fraction of tokens covered by the single most
      frequent 2-gram (occurrences x 2 / n_tokens),
    - ``dup_5gram_frac``: fraction of 5-gram positions whose gram occurs
      more than once in the document.

    Docs shorter than the gram size score 0.0 on that signal. Shape:
    explode grams -> count per (doc, gram) -> per-doc aggregate; the
    (doc_id, gram) groupBy gets map-side partial aggregation, so the
    shuffle carries one row per distinct gram per doc, not per token.
    """
    toks = _tokens(text_col)
    base = df.select(
        id_col, toks.alias("toks"), F.size(toks).alias("n_tokens")
    )

    def gram_counts(n: int, agg):
        # deliberately NOT _spread: row-count-only consumers (the bench
        # protocol) let the optimizer eliminate the grouped-join subtrees
        # down to count(1) over the scan, so the probe's ~0.1 s of driver
        # planning would be the whole cost; full materializations of this
        # operator are 2x faster spread, but it cannot be had both ways
        # without a per-construction planning probe (measured trade-off,
        # OPTIMIZATION_r06.md)
        g = base.select(
            id_col, F.explode(_gram_array("toks", "n_tokens", n)).alias("g")
        )
        per_gram = g.groupBy(id_col, "g").agg(F.count("*").alias("c"))
        return per_gram.groupBy(id_col).agg(agg)

    top2 = gram_counts(short_n, F.max("c").alias("max_short"))
    dup5 = gram_counts(
        long_n,
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("dup_long"),
    )
    out = (
        base.select(id_col, "n_tokens")
        .join(top2, id_col, "left")
        .join(dup5, id_col, "left")
    )
    nt = F.col("n_tokens")
    top_frac = F.when(
        nt >= short_n,
        F.round(F.coalesce(F.col("max_short"), F.lit(0)) * short_n / nt, 6),
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        nt >= long_n,
        F.round(
            F.coalesce(F.col("dup_long"), F.lit(0))
            / (nt - F.lit(long_n - 1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        "n_tokens",
        top_frac.alias(f"top_{short_n}gram_frac"),
        dup_frac.alias(f"dup_{long_n}gram_frac"),
    )


def _with_gram_doc_freq(w: DataFrame, id_col: str) -> DataFrame:
    """Attach ``n_docs`` — the exact count of distinct documents sharing
    each window's gram key — to every (id, pos, gk) window row.

    Single-subtree shape: the former countDistinct-aggregate + join
    evaluated the whole gram pipeline (posexplode + concat_ws + xxhash64)
    TWICE, because column pruning gives the two consumers different
    exchange outputs and defeats exchange reuse. Two stacked window
    functions compute the same number in one pass: mark the first
    (gk, doc) occurrence with a row_number over (gk, id | pos), then sum
    the markers per gk — exact distinct-doc counts, one gram build, no
    join, no broadcast (measured 4.5 s -> 2.4 s at 50k docs). A hot gram
    concentrates in one window partition, exactly as it concentrated in
    one hash partition of the former join."""
    first = F.when(
        F.row_number().over(
            Window.partitionBy("gk", id_col).orderBy("pos")
        )
        == 1,
        1,
    ).otherwise(0)
    return w.withColumn("__first", first).withColumn(
        "n_docs", F.sum("__first").over(Window.partitionBy("gk"))
    )


def dup_ngram_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated k-token substring spans — the exact-
    substring dedup signal of Lee et al. 2021: every position whose k-token
    window also appears in at least ``min_docs - 1`` OTHER documents.

    Returns (doc_id, pos, n_docs) with ``pos`` the 0-based token offset of
    the window start and ``n_docs`` the number of distinct documents
    containing that window.

    Scale shape: posexplode the sliding windows (O(total tokens) rows),
    group by the 64-bit xxhash64 of the gram — the shuffle moves 8-byte
    keys, never the gram strings — then hash-join the qualifying keys back.
    Collisions at 64 bits are ~n^2/2^65; the DuckDB oracle groups by the
    exact gram string, so the contract gate would catch one.
    """
    toks = _tokens(text_col)
    base = _spread(df).select(
        id_col, toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    w = base.select(
        id_col,
        F.posexplode(_gram_array("toks", "n_tokens", k)).alias("pos", "g"),
    ).select(id_col, "pos", F.xxhash64("g").alias("gk"))
    return _with_gram_doc_freq(w, id_col).filter(
        F.col("n_docs") >= min_docs
    ).select(id_col, "pos", "n_docs")


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "s1",
    denom: int = 10000,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff the md5-derived
    bucket of (key || salt) falls under its stratum's fraction. Strata not
    in ``fractions`` are dropped.

    The bucket is the first 8 hex digits of md5, mod ``denom`` — stable
    across engines, partitionings, and reruns (unlike ``df.sample``, whose
    per-partition RNG reshuffles membership when the input layout changes),
    so a resumed or re-scaled pipeline selects the same rows. Changing
    ``salt`` draws an independent sample.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % denom
    )
    thresh = F.create_map(
        *[x for s, frac in fractions.items() for x in (F.lit(s), F.lit(int(frac * denom)))]
    )
    return df.filter(bucket < F.coalesce(thresh[F.col(strata_col)], F.lit(0)))


# lowercase-only patterns, identical semantics under Java regex and RE2 —
# no backreferences, no lookaround, so the DuckDB oracle runs them verbatim
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"555-[0-9]{3,4}"


def pii_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Regex PII scrub: replace emails / 555-prefixed phone numbers with
    placeholder tags and count the hits per document. Pure JVM regex — one
    projection, no shuffle at all; at 100 TB this is a map-only pass."""
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0)))
    clean = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.select(
        id_col,
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        clean.alias("clean_text"),
    )


def tfidf_topterms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per document: (doc_id, term, tf_cnt, df_docs,
    tfidf, rank). idf is the smoothed sklearn form ln((1+N)/(1+df)) + 1;
    ties break on term ascending so the ranking is engine-portable.

    N rides in via a broadcast 1-row aggregate (no driver action, one plan);
    the per-(doc, term) groupBy gets map-side combine and the per-term
    document frequency is a second small aggregate over distinct (doc, term)
    rows — both shuffles carry term-sized keys, nothing quadratic.
    """
    tf = (
        df.select(id_col, F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf_cnt"))
    )
    total = df.agg(F.count("*").alias("n_total"))
    # per-term document frequency as a window count over the (doc, term)
    # aggregate — one row per (doc, term) means count-over-term IS
    # countDistinct(doc): same number as the former dfreq aggregate + join
    # back, with the tf subtree evaluated once instead of twice
    scored = (
        tf.withColumn(
            "df_docs", F.count("*").over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.col("tf_cnt")
            * (
                F.log((F.lit(1.0) + F.col("n_total")) / (F.lit(1.0) + F.col("df_docs")))
                + F.lit(1.0)
            ),
        )
    )
    win = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            "tf_cnt",
            "df_docs",
            F.round("tfidf", 4).alias("tfidf"),
            "rank",
        )
    )


def remove_dup_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al. cut the
    duplicated spans, they don't just report them): every token covered by
    a cross-document duplicated k-token window is dropped and the document
    re-joined from the surviving tokens, in order.

    Returns (doc_id, clean_text, n_tokens_removed) for every input doc
    (fully-duplicated docs come back with an empty clean_text).

    Fully relational: duplicated window starts (the dup_ngram_spans
    derivation) explode to covered token positions, surviving positions
    anti-join, and the rebuild is sort_array(collect_list(struct(pos,
    tok))) -> concat_ws — deterministic order without a window sort, one
    (doc_id)-keyed aggregation. No Python in any path.
    """
    toks = _tokens(text_col)
    base = _spread(df).select(
        id_col, toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    tok_rows = base.select(
        id_col, F.posexplode("toks").alias("tpos", "tok")
    )
    w = base.select(
        id_col,
        F.posexplode(_gram_array("toks", "n_tokens", k)).alias("pos", "g"),
    ).select(id_col, "pos", F.xxhash64("g").alias("gk"))
    # duplicated window starts via the single-pass windowed doc frequency
    # (see _with_gram_doc_freq) — no dup-key aggregate, no join back
    covered = (
        _with_gram_doc_freq(w, id_col)
        .filter(F.col("n_docs") >= min_docs)
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    kept = tok_rows.join(covered, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        base.select(id_col, "n_tokens")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_tokens_removed"
            ),
        )
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM appendix procedure): flag
    every corpus document sharing at least one k-token window with any
    document of an evaluation set.

    Returns (doc_id, n_hits, n_bench_docs) — one row per CONTAMINATED
    corpus doc, where ``n_hits`` counts its overlapping window positions
    and ``n_bench_docs`` the distinct benchmark docs it collides with.
    Clean docs are absent (filter-side semantics: anti-join the output to
    keep the clean corpus).

    Scale shape: both sides explode to (window-hash, doc) rows; the
    benchmark side is tiny by construction (an eval suite, not a corpus),
    so its distinct hash set broadcast-joins against the corpus windows —
    one map-side pass over O(corpus tokens), no corpus-sized shuffle. The
    corpus-side aggregate groups by doc id only.
    """
    def windows(df, idc, txc, out_id):
        toks = F.split(F.lower(F.col(txc)), " ")
        base = df.select(
            F.col(idc).alias(out_id),
            toks.alias("toks"),
            F.size(toks).alias("n_tokens"),
        )
        return base.select(
            out_id,
            F.posexplode(_gram_array("toks", "n_tokens", k)).alias("pos", "g"),
        ).select(out_id, "pos", F.xxhash64("g").alias("gk"))

    corpus_w = windows(docs, id_col, text_col, id_col)
    bench_w = windows(benchmark, bench_id_col, bench_text_col, "bench_id")
    bench_keys = bench_w.select("gk", "bench_id").distinct()
    hits = corpus_w.join(F.broadcast(bench_keys), "gk")
    return hits.groupBy(id_col).agg(
        F.countDistinct("pos").alias("n_hits"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )


def ngram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020
    filter corpora by LM perplexity): score every document under an
    add-alpha bigram model estimated from the corpus itself, returning
    (doc_id, n_scored, avg_logprob, perplexity) — low perplexity = typical
    text, high = outlier/noise. A corpus-trained bigram model is the
    self-contained stand-in for CCNet's external KenLM; the plumbing
    (count model + per-token join + per-doc aggregate) is identical.

    p(w | prev) = (C(prev, w) + alpha) / (C(prev) + alpha * V); the first
    token scores under the unigram (C(w) + alpha) / (T + alpha * V).

    Scale shape: model estimation is two map-side-combined count
    aggregates over O(total tokens) rows; scoring joins each token
    position against the bigram counts (hash join on 2-token keys) and the
    tiny unigram/vocab aggregates broadcast. No Python anywhere; at 100 TB
    the model tables are themselves DataFrames, so nothing is collected.
    """
    toks = _tokens(text_col)
    pos_tok = df.select(
        id_col, F.posexplode(toks).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    prev_win = pos_tok.select(
        id_col,
        (F.col("pos") + 1).alias("pos"),
        F.col("tok").alias("prev"),
    )
    pairs = pos_tok.join(prev_win, [id_col, "pos"], "left")

    uni = pos_tok.groupBy("tok").agg(F.count("*").alias("c_tok"))
    totals = uni.agg(
        F.sum("c_tok").alias("t_total"), F.count("*").alias("v_size")
    )
    bi = (
        pairs.filter(F.col("prev").isNotNull())
        .groupBy("prev", "tok")
        .agg(F.count("*").alias("c_bi"))
    )
    c_prev = uni.select(F.col("tok").alias("prev"), F.col("c_tok").alias("c_prev"))

    scored = (
        pairs.join(uni, "tok")
        .join(bi, ["prev", "tok"], "left")
        .join(c_prev, "prev", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lp",
            F.when(
                F.col("prev").isNull(),
                F.log(
                    (F.col("c_tok") + F.lit(alpha))
                    / (F.col("t_total") + F.lit(alpha) * F.col("v_size"))
                ),
            ).otherwise(
                F.log(
                    (F.coalesce(F.col("c_bi"), F.lit(0)) + F.lit(alpha))
                    / (F.col("c_prev") + F.lit(alpha) * F.col("v_size"))
                )
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_scored"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
        F.round(F.exp(-F.avg("lp")), 2).alias("perplexity"),
    )


def curation_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    max_top2: float = 0.2,
    max_dup5: float = 0.5,
    max_perplexity: float = 33.0,
) -> DataFrame:
    """The composed filter stack of a FineWeb/Gopher-style curation
    pipeline: (doc_id, keep, reasons) where ``reasons`` names every
    violated rule — length floor, repetition ceilings (top-2-gram
    coverage / duplicated-5-gram fraction), LM perplexity ceiling
    (:func:`ngram_logprob`). Keeping the per-rule breakdown (not just the
    boolean) is the standard quality-report shape: curation needs drop
    counts per rule per shard.

    One join tree over the signal operators — everything stays JVM-side,
    and the decisions compare the same rounded values the individual
    operators publish, so the composed filter agrees with its parts.
    """
    rep = repetition_stats(df, id_col=id_col, text_col=text_col)
    lm = ngram_logprob(df, id_col=id_col, text_col=text_col)
    joined = rep.join(lm.select(id_col, "perplexity"), id_col)
    reasons = F.filter(
        F.array(
            F.when(F.col("n_tokens") < min_tokens, F.lit("too_short")),
            F.when(
                (F.col(f"top_2gram_frac") > max_top2)
                | (F.col(f"dup_5gram_frac") > max_dup5),
                F.lit("repetitive"),
            ),
            F.when(
                F.col("perplexity") > max_perplexity, F.lit("high_perplexity")
            ),
        ),
        lambda r: r.isNotNull(),
    )
    return joined.select(
        id_col,
        (F.size(reasons) == 0).alias("keep"),
        F.array_join(reasons, ",").alias("reasons"),
    )

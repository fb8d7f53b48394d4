"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting. All hot-path expressions are JVM built-ins
(codegen'd); the winnowing fingerprint is the one pandas stage (rolling
hash is inherently sequential per doc, batched via Arrow)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parj_spark.operators.corpus import _tokens

PUNCT_CLASS = "[.,;:!?]"

STOPWORDS = [
    "the", "a", "of", "and", "in", "to", "is", "on", "for", "with",
]

# language marker words, disjoint across languages (heuristic n-gram/stopword ID)
LANG_MARKERS = {
    "en": ["the", "and", "of", "with"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "les", "une", "et"],
    "es": ["el", "los", "una", "y"],
}
_LANG_ORDER = ["en", "de", "fr", "es"]


# GPT-2-style pre-tokenizer, restricted to the Java-and-RE2-common subset
# (no lookahead): contraction suffixes, space-prefixed letter runs, digit
# runs, punctuation runs, residual whitespace. Counting its matches is the
# "BPE-ish" token estimate of the task mandate — each match is one
# pre-token, the unit BPE merges within, so the count tracks real tokenizer
# output far closer than whitespace splitting on punctuation-heavy text.
BPE_PRETOKEN_RE = r"'(s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_bpe_tokens, n_chars, punct_ratio, stopword_ratio,
    quality) — n_tokens is the whitespace count, n_bpe_tokens the BPE-ish
    pre-tokenizer match count (both mandated token-counting modes)."""
    toks = _tokens(text_col)
    n_tokens = F.size(toks)
    n_bpe = F.size(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(BPE_PRETOKEN_RE), F.lit(0)
        )
    )
    n_chars = F.length(text_col)
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), PUNCT_CLASS, ""))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    punct_ratio = F.round(n_punct / n_chars, 6)
    stop_ratio = F.round(stop_hits / n_tokens, 6)
    # quality: long-enough docs with natural stopword density, low punct noise
    quality = F.round(
        F.least(n_tokens / F.lit(50.0), F.lit(1.0)) * (F.lit(0.5) + stop_ratio)
        - punct_ratio,
        6,
    )
    return df.select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        n_chars.alias("n_chars"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-word language guess; deterministic precedence en>de>fr>es>und."""
    toks = _tokens(text_col)
    counts = {
        lang: F.size(F.filter(toks, lambda t: t.isin(LANG_MARKERS[lang])))
        for lang in _LANG_ORDER
    }
    guess = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(_LANG_ORDER):
        others = [counts[o] for o in _LANG_ORDER if o != lang]
        cond = (counts[lang] > 0) & (counts[lang] >= F.greatest(*others))
        guess = F.when(cond, F.lit(lang)).otherwise(guess)
    return df.select(id_col, guess.alias("lang_guess"))


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: md5 over lower+punct-strip+ws-collapse."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), PUNCT_CLASS, ""), " +", " "
        )
    )
    return df.select(id_col, F.md5(norm).alias("fingerprint"))


def _winnow_mulmod_small(x, b):
    """(x * b) mod 2^61-1 for uint64 arrays, b < 2^20 scalar — exact, no
    overflow: split x at bit 41; x_hi*b*2^41 reduces via 2^61 ≡ 1 (mod M)."""
    import numpy as np

    M = np.uint64((1 << 61) - 1)
    b = np.uint64(b)
    x_hi = x >> np.uint64(41)  # < 2^20
    x_lo = x & np.uint64((1 << 41) - 1)  # < 2^41
    y = x_hi * b  # < 2^40
    t = (y >> np.uint64(20)) + ((y & np.uint64((1 << 20) - 1)) << np.uint64(41)) + x_lo * b
    # t < 2^63: Mersenne fold (2^61 ≡ 1 mod M) twice beats uint64 '%'
    t = (t & M) + (t >> np.uint64(61))  # < 2^61 + 4
    t = (t & M) + (t >> np.uint64(61))  # <= M
    return np.where(t == M, np.uint64(0), t)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer et al. MOSS): k-gram polynomial hashes, leftmost
    min per sliding window -> sparse fingerprint set per doc. Pandas/Arrow
    batched, numpy-vectorized per doc (k Horner passes over the codepoint
    array + sliding_window_view argmin — no per-character Python loop);
    output exploded (id, pos, fp) for downstream overlap joins."""
    schema = f"{id_col} long, pos int, fp long"
    B, MOD = 1_000_003, (1 << 61) - 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        M = np.uint64(MOD)
        for pdf in batches:
            out_id, out_pos, out_fp = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                s = str(text).lower()
                n = len(s)
                if n < k:
                    continue
                # codepoints (utf-32-le = one uint32 per char), then Horner
                # over the k gram positions: H = ((c0*B + c1)*B + ...) mod M
                cps = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
                    np.uint64
                )
                L = n - k + 1
                hashes = np.zeros(L, dtype=np.uint64)
                for j in range(k):
                    h = _winnow_mulmod_small(hashes, B) + cps[j : j + L]  # < M + 2^21
                    h = (h & M) + (h >> np.uint64(61))
                    hashes = np.where(h == M, np.uint64(0), h)
                if L <= window:
                    pos = np.array([int(np.argmin(hashes))])
                else:
                    wins = np.lib.stride_tricks.sliding_window_view(hashes, window)
                    # argmin = leftmost minimum, matching the reference scan
                    pos = np.argmin(wins, axis=1) + np.arange(len(wins))
                keep = np.concatenate([[True], pos[1:] != pos[:-1]])
                sel = pos[keep]
                out_id.extend([did] * len(sel))
                out_pos.extend(sel.tolist())
                out_fp.extend(hashes[sel].astype(np.int64).tolist())
            yield pd.DataFrame({id_col: out_id, "pos": out_pos, "fp": out_fp})

    return df.select(id_col, text_col).mapInPandas(run, schema)


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_overlap: int = 2,
    max_df: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing >= min_overlap winnowing fingerprints — the
    MOSS-style local-similarity dedup built on winnow_fingerprints.

    Scale shape: inverted index on fp -> self-equi-join -> per-pair count;
    ``max_df`` drops fingerprints present in more than that many documents
    (the same frequent-key guard as the shingle/bucket caps — one ubiquitous
    fingerprint must not produce O(n²) candidate pairs).
    """
    # persist the distinct fingerprint index: it feeds the df cap and both
    # self-join sides — uncached, one action's plan re-ran the winnow Arrow
    # stage 4x over the full corpus (same fix as the LSH band cache)
    fps = winnow_fingerprints(df, id_col, text_col, k, window).select(
        id_col, "fp"
    ).distinct().persist()
    if max_df is not None:
        dfreq = fps.groupBy("fp").agg(F.count("*").alias("df"))
        fps = fps.join(dfreq, "fp").filter(F.col("df") <= max_df).drop("df")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_punct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.01,
) -> DataFrame:
    """The keep/drop decision of a corpus-quality pipeline:
    (doc_id, keep, reasons) where ``reasons`` lists every violated rule
    (empty array = kept). All three rules are JVM column expressions over
    :func:`text_stats` — one codegen'd pass, no UDF — so the filter runs at
    scan speed and pushes down with the projection at 100 TB. Reasons are
    kept (not just a boolean) because corpus curation needs the drop
    breakdown per shard — the standard quality-report shape.
    """
    st = text_stats(df, id_col=id_col, text_col=text_col)
    reasons = F.filter(
        F.array(
            F.when(F.col("n_tokens") < min_tokens, F.lit("too_short")),
            F.when(F.col("punct_ratio") > max_punct_ratio, F.lit("punct_noise")),
            F.when(
                F.col("stopword_ratio") < min_stopword_ratio,
                F.lit("no_stopwords"),
            ),
        ),
        lambda r: r.isNotNull(),
    )
    return st.select(
        id_col,
        reasons.alias("reasons"),
    ).withColumn("keep", F.size("reasons") == 0).select(id_col, "keep", "reasons")

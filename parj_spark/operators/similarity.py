"""Similarity search over embedding columns (array<float>).

Operators:

- ``cosine_topk``: brute-force exact top-k, the correctness baseline; all
  arithmetic is JVM-side (zip_with + aggregate fold in double).
- ``ivf_topk``: IVF-Flat ANN: sampled centroids, probe the nearest cells.
- ``cosine_lsh_topk``: hyperplane-sign bucket probe with multi-probe.
- ``cosine_lsh_neardup_pairs``: banded-LSH near-duplicate pairs with exact
  JVM verification.
- ``semantic_dedup``: SemDeDup, in-cell cosine pairs then union-find.

Shared vector kernels (each algebra written once):

- ``_matrix`` / ``_unit``: stack vectors to float64, L2-normalized rows.
- ``_centroids``: the n vectors with the smallest md5(id), unit length.
- ``_nearest_cells``: each row's centroid cells, nearest first.
- ``_sign_buckets``: per-band integer bucket of the hyperplane sign bits.
- ``_keyed``: one Arrow-batched stage adding a key to (id, vec) rows.
- ``_pair_cosines``: one GEMM scoring every i < j pair of a group.
- ``_query_vec`` / ``_rerank``: fetch the query vector; exact top-k re-rank
  against a broadcast query.

The numpy arrays (centroids, hyperplanes) ride in the Python closures;
PySpark broadcasts a pickled closure on its own once it passes its
broadcast threshold.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parj_spark.operators.corpus import _spread


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_sim(a_col: str, b_col: str):
    """Exact cosine; each norm is clamped at 1e-12 like ``_unit``'s, so a
    zero vector scores 0 instead of failing the division."""
    a, b = F.col(a_col), F.col(b_col)
    return _dot(a, b) / (
        F.greatest(_norm(a), F.lit(1e-12)) * F.greatest(_norm(b), F.lit(1e-12))
    )


def _matrix(vecs) -> np.ndarray:
    """Stack a sequence of vectors into a float64 (rows, dim) matrix."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vecs])


def _unit(vecs) -> np.ndarray:
    """``_matrix`` with every row L2-normalized; the norm is clamped at
    1e-12, so a zero vector stays a zero row instead of NaN."""
    M = _matrix(vecs)
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)


def _centroids(emb: DataFrame, id_col: str, vec_col: str, n: int) -> np.ndarray:
    """The ``n`` vectors with the smallest md5(id), unit length: a
    deterministic seeded sample of real points, collected in one job."""
    rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n)
        .collect()
    )
    return _unit([r[1] for r in rows])


def _nearest_cells(vecs, C: np.ndarray) -> np.ndarray:
    """Each row's centroid cells by cosine, nearest first (ties keep the
    lower cell): a (rows, cells) index matrix."""
    return np.argsort(-(_unit(vecs) @ C.T), axis=1, kind="stable")


def _sign_buckets(vecs, planes: np.ndarray) -> np.ndarray:
    """Integer bucket of each row's hyperplane sign bits, per band:
    ``planes`` is (bands, planes, dim) and the result (rows, bands)."""
    bits = np.einsum("nd,bpd->bnp", _matrix(vecs), planes) > 0
    return (bits @ (1 << np.arange(planes.shape[1]))).T


def _keyed(emb: DataFrame, id_col: str, vec_col: str, name: str, key_fn) -> DataFrame:
    """(id, vec, ``name``) rows from one Arrow-batched stage, the key being
    ``key_fn`` of the batch's vectors (one long per row).

    The vector rides through the stage, so a filter or group on the key
    reads (id, vec, key) directly: no join re-attaches the embedding. The
    query side calls the same ``key_fn`` on the driver, so the query's key
    and the rows' keys cannot drift apart."""
    vtype = emb.schema[vec_col].dataType.simpleString()

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not pdf.empty:
                yield pdf.assign(**{name: key_fn(pdf[vec_col]).astype(np.int64)})

    return _spread(emb.select(id_col, vec_col)).mapInPandas(
        assign, f"{id_col} long, {vec_col} {vtype}, {name} long"
    )


def _pair_cosines(vecs):
    """(i, j, cosine) over every i < j pair of rows, from one GEMM over the
    group; the O(c^2) scores never exist as Spark rows. Callers apply their
    own cut-off."""
    Mn = _unit(vecs)
    i, j = np.triu_indices(len(Mn), 1)
    return i, j, (Mn @ Mn.T)[i, j]


def _query_vec(emb: DataFrame, query_id: int, id_col: str, vec_col: str):
    """The query row's vector, fetched to the driver in one job: as float64
    numpy and as the one-row ``qvec`` frame ``_rerank`` takes."""
    row = emb.filter(F.col(id_col) == query_id).select(vec_col).first()
    q = np.asarray(row[0], dtype=np.float64)
    qframe = emb.sparkSession.createDataFrame([(q.tolist(),)], "qvec array<double>")
    return q, qframe


def _rerank(
    cands: DataFrame, qframe: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Exact top-k of ``cands`` by cosine to the one-row ``qframe`` (column
    ``qvec``, broadcast into the scan). Ranking uses the rounded score with
    an id tie-break, so results are engine-portable."""
    scored = cands.crossJoin(F.broadcast(qframe)).select(
        id_col, F.round(cosine_sim(vec_col, "qvec"), 6).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def cosine_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k most-cosine-similar vectors to the row with ``query_id``.

    The query vector is a 1-row broadcast join (at cluster scale: a literal
    pushed into the closure); ranking uses the rounded score with id
    tie-break so results are engine-portable.
    """
    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec")
    )
    cands = _spread(emb.filter(F.col(id_col) != query_id))
    return _rerank(cands, q, id_col, vec_col, k)


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize to data-sampled centroids, probe the
    ``n_probe`` closest cells, exact re-rank inside them.

    Centroids are deterministic (the n_centroids vectors with the smallest
    md5(vec_id) — a seeded sample of real points); assignment is one
    Arrow-batched numpy matmul. At 10^9 vectors this is the standard
    IVF-Flat shape: scan cost drops from n to ~n*(n_probe/n_centroids).
    """
    C = _centroids(emb, id_col, vec_col, n_centroids)
    with_cell = _keyed(
        emb, id_col, vec_col, "cell", lambda vecs: _nearest_cells(vecs, C)[:, 0]
    )
    q, qframe = _query_vec(emb, query_id, id_col, vec_col)
    probe_cells = _nearest_cells([q], C)[0, :n_probe].tolist()
    cands = with_cell.filter(
        F.col("cell").isin(probe_cells) & (F.col(id_col) != query_id)
    )
    return _rerank(cands, qframe, id_col, vec_col, k)


def signature_bits(n_planes: int = 16, dim: int = 64, seed: int = 7) -> np.ndarray:
    """Deterministic random-hyperplane matrix (n_planes x dim)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def cosine_lsh_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 6,
    n_bands: int = 8,
    seed: int = 7,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: banded hyperplane LSH.

    ``n_bands`` independent sign-bit signatures; a pair becomes a candidate
    if it collides in ANY band (OR-amplification), then every candidate is
    verified with the exact cosine, so precision is exact and only recall is
    approximate (pairs hashing apart in all bands are missed — collision
    probability per band is (1 - theta/pi)^n_planes, so bands trade shuffle
    volume for recall). This is the scale path for
    dedup.embedding_neardup_pairs (the O(n^2) cross-join oracle): shuffle is
    O(n * bands), never O(n^2). ``max_bucket`` drops degenerate buckets (the
    same frequent-bucket skew guard as dedup.minhash_lsh_pairs).
    """
    dim = len(emb.select(vec_col).first()[0])
    planes = np.stack(
        [signature_bits(n_planes, dim, seed + band) for band in range(n_bands)]
    )  # (bands, planes, dim)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            bucket = _sign_buckets(pdf[vec_col], planes)  # (n, bands)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].values, n_bands),
                    "band": np.tile(np.arange(n_bands, dtype=np.int32), len(pdf)),
                    "bucket": bucket.reshape(-1).astype(np.int64),
                }
            )

    # the (id, band, bucket) assignment feeds exactly one consumer (the
    # per-bucket prefilter below), so the Arrow sign stage runs once per
    # action with no cache
    stacked = _spread(emb.select(id_col, vec_col)).mapInPandas(
        assign, f"{id_col} long, band int, bucket long"
    )
    # the sign stage emits ids only and the vector is attached back to the
    # (id, band, bucket) rows by an equi-join on the id (``cands`` below).
    # Emitting the vector from the sign stage instead (n_bands copies of
    # every vector through Arrow) deletes that join but was not faster in
    # alternating A/B runs on 4400 64-d vectors at 4 cores: medians 1.82 s
    # (join) against 1.87 s over 12 reps, 2.31 s against 2.24 s over 8,
    # with overlapping quartiles.
    pre = emb.select(
        F.col(id_col).alias("__pid"), F.col(vec_col).alias("__pvec")
    )
    # Candidate pruning runs as one numpy GEMM per (band, bucket) group —
    # the O(bucket^2) candidate cosines never exist as rows, and the JVM
    # exact verification below only sees pairs the GEMM scores within
    # ``margin`` of the threshold. Output-preserving by error bound:
    # both sides compute in float64 from the same float32 inputs, so the
    # GEMM and the sequential JVM fold differ only by summation order —
    # |err| <= ~d * eps (~1e-13 for d <= 2^20, unit-scale values), while a
    # final-filter survivor needs exact cosine >= threshold - 5.1e-7 (the
    # round(.,6) lift), far inside the 1e-4 margin. A zero-norm side scores
    # 0 on both sides, which clamp the norm the same way (max(norm, 1e-12)).
    vtype = emb.schema[vec_col].dataType.simpleString()
    margin = 1e-4

    def bucket_prefilter(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "va": pd.Series(dtype="object"),
                "vb": pd.Series(dtype="object"),
            }
        )
        c = len(pdf)
        # bucket-size guard (same semantics as the former length filter on
        # the posting list: degenerate buckets are skipped outright)
        if c < 2 or (max_bucket is not None and c > max_bucket):
            return empty
        i, j, cos = _pair_cosines(pdf["__pvec"])
        keep = cos >= threshold - margin
        ids = pdf["__pid"].to_numpy()
        vecs = pdf["__pvec"].to_numpy()
        ki, kj = i[keep], j[keep]
        ia, ib = ids[ki], ids[kj]
        swap = ia > ib
        # normalize orientation id_a < id_b; dot is elementwise-commutative
        # so the orientation cannot change the exact double downstream
        va = np.where(swap, vecs[kj], vecs[ki])
        vb = np.where(swap, vecs[ki], vecs[kj])
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "va": va,
                "vb": vb,
            }
        )

    # spread the bucket groups across the cluster before the grouped
    # prefilter: the explicit repartition hash-partitions by the group key
    # (reused by the groupBy — no second exchange) and, being user-
    # specified, is exempt from AQE's byte-based coalescing, which would
    # otherwise collapse the ~40 MB of bucket rows to a couple of tasks
    # (measured on the former shape: a near-serial verify)
    par = emb.sparkSession.sparkContext.defaultParallelism * 2
    cands = (
        stacked.join(pre, stacked[id_col] == pre["__pid"])
        .repartition(par, "band", "bucket")
        .groupBy("band", "bucket")
        .applyInPandas(
            bucket_prefilter, f"id_a long, id_b long, va {vtype}, vb {vtype}"
        )
    )
    # exact verification of the (few) margin survivors with the same
    # ``cosine_sim`` fold the brute-force oracle
    # (dedup.embedding_neardup_pairs) evaluates — bit-identical doubles over
    # the same float32 values, so every reported cosine equals the oracle's.
    # A pair colliding in several bands is verified once per band (dup
    # factor <= n_bands; ~1.03 measured on random vectors) and deduplicated
    # after the threshold filter, where survivors are orders of magnitude
    # fewer than candidates.
    return (
        cands.select("id_a", "id_b", F.round(cosine_sim("va", "vb"), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def cosine_lsh_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 7,
    probe_bits: int = 2,
) -> DataFrame:
    """Approximate top-k: hyperplane-sign bucket join, exact re-rank in-bucket.

    Recall < 1 by construction (bucket boundary losses); ``probe_bits``
    enables multi-probe — the query also inspects every bucket within
    Hamming distance <= probe_bits of its own signature, trading candidate
    volume (1 + C(p,1) + C(p,2) buckets) for recall. At 10^9 vectors the
    brute cross-join is not an option; this prunes the exact re-rank to the
    probed buckets only.
    """
    # The query's signature is computed driver-side from the fetched vector
    # (which also gives the dimension): deriving it by filtering the keyed
    # stage's output cannot push the id filter below the Python stage, so
    # the whole table would be signed once to find the query row and again
    # for the candidates — two Arrow stages per action instead of one.
    q, qframe = _query_vec(emb, query_id, id_col, vec_col)
    planes = signature_bits(n_planes, len(q), seed)[None]  # one band

    def bucket(vecs) -> np.ndarray:
        return _sign_buckets(vecs, planes)[:, 0]

    with_b = _keyed(emb, id_col, vec_col, "bucket", bucket)
    qbucket = int(bucket([q])[0])

    # multi-probe: the query bucket plus every flip of 1 (probe_bits >= 1)
    # and of 2 (probe_bits >= 2) of its bits
    probe_buckets = [
        qbucket ^ sum(1 << b for b in bits)
        for r in range(max(0, min(probe_bits, 2)) + 1)
        for bits in combinations(range(n_planes), r)
    ]
    cands = with_b.filter(
        F.col("bucket").isin(probe_buckets) & (F.col(id_col) != query_id)
    )
    return _rerank(cands, qframe, id_col, vec_col, k)


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse-
    cluster the embedding space, find near-duplicate pairs WITHIN each
    cluster by exact cosine, take transitive closure, and keep one canonical
    representative (the minimum id) per semantic cluster.

    Returns (doc_id, cluster, is_canonical) — the keep-set is the
    ``is_canonical`` rows. Approximate by construction: pairs straddling a
    centroid boundary are missed (the recall/cost trade SemDeDup makes), so
    this is a rows-only contract entry; the exact-oracle path is
    dedup.embedding_neardup_pairs -> dedup.neardup_clusters.

    Scale shape: centroids are the n_centroids vectors with the smallest
    md5(id) (deterministic seeded sample, same as ivf_topk); assignment is
    one Arrow-batched matmul with the vector riding through the stage; the
    in-cell similarity is a per-cell numpy GEMM via applyInPandas — the
    paper's own per-cluster pairwise shape, one shuffle of (id, vec, cell)
    grouped by cell, compute O(sum cell_i^2) with cells ~n/k, never the
    global O(n^2); the closure is the construction pipeline's distributed
    union-find (O(diameter) joins). SemDeDup's standing constraint applies:
    k must grow with n so a cell's c^2 similarity block fits an executor
    (``max_cell`` skips degenerate cells outright, the same guard as the
    LSH ``max_bucket``).
    """
    from parj_spark.operators.dedup import neardup_clusters

    C = _centroids(emb, id_col, vec_col, n_centroids)
    with_cell = _keyed(
        emb, id_col, vec_col, "cell", lambda vecs: _nearest_cells(vecs, C)[:, 0]
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        c = len(pdf)
        if c < 2 or (max_cell is not None and c > max_cell):
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64")})
        i, j, cos = _pair_cosines(pdf[vec_col])
        # round(., 6) mirrors the exact-verify convention of the other
        # cosine operators, so thresholds compare identically everywhere
        keep = np.round(cos, 6) >= threshold
        ids = pdf[id_col].to_numpy()
        x, y = ids[i[keep]], ids[j[keep]]
        return pd.DataFrame(
            {"id_a": np.minimum(x, y), "id_b": np.maximum(x, y)}
        )

    # persist the verified pair set: the union-find closure consumes its
    # input across several iterations, and without the cache each one would
    # re-run the assignment + per-cell GEMM stages. Released before
    # returning (contract operators must not leak persisted frames);
    # neardup_clusters localCheckpoints the closure first.
    pairs = with_cell.groupBy("cell").applyInPandas(
        cell_pairs, "id_a long, id_b long"
    ).persist()
    out = neardup_clusters(pairs, all_ids=emb.select(id_col))
    pairs.unpersist()
    return out

"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  All arithmetic is JVM-side (zip_with + aggregate fold in double); no
  Python in the hot path.
- ``cosine_lsh_topk``: random-hyperplane LSH bucketing — the scale path.
  Sign-bit signatures shrink the candidate set from n to ~n/2^bits per
  bucket before the exact re-rank; the projection matrix is a deterministic
  seeded numpy array applied via one Arrow-batched pandas stage.
"""

from __future__ import annotations

from collections.abc import Iterator

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
    a, b = F.col(a_col), F.col(b_col)
    return _dot(a, b) / (_norm(a) * _norm(b))


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
    scored = (
        _spread(emb.filter(F.col(id_col) != query_id))
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            F.round(cosine_sim(vec_col, "qvec"), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


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
    spark = emb.sparkSession
    cent_rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n_centroids)
        .collect()
    )
    C = np.stack([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    bC = spark.sparkContext.broadcast(C)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = bC.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack(pdf[vec_col].apply(lambda v: np.asarray(v, dtype=np.float64)))
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            cell = (Mn @ cm.T).argmax(axis=1)
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = cell.astype(np.int32)
            yield out

    # the vector rides through the Arrow stage, so the probe filter reads
    # (id, vec, cell) directly — no shuffle join to re-attach the embedding
    vtype = emb.schema[vec_col].dataType.simpleString()
    with_cell = _spread(emb.select(id_col, vec_col)).mapInPandas(
        assign, f"{id_col} long, {vec_col} {vtype}, cell int"
    )

    qvec_row = emb.filter(F.col(id_col) == query_id).select(vec_col).first()
    q = np.asarray(qvec_row[0], dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe_cells = [int(c) for c in (C @ qn).argsort()[::-1][:n_probe]]

    qdf = spark.createDataFrame([(list(map(float, q)),)], f"qvec array<double>")
    cands = with_cell.filter(
        (F.col("cell").isin(probe_cells)) & (F.col(id_col) != query_id)
    ).crossJoin(F.broadcast(qdf))
    scored = cands.select(
        id_col, F.round(cosine_sim(vec_col, "qvec"), 6).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


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
    spark = emb.sparkSession
    dim = len(emb.select(vec_col).first()[0])
    planes = np.stack(
        [signature_bits(n_planes, dim, seed + band) for band in range(n_bands)]
    )  # (bands, planes, dim)
    bplanes = spark.sparkContext.broadcast(planes)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bplanes.value
        weights = 1 << np.arange(P.shape[1])
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack(pdf[vec_col].apply(lambda v: np.asarray(v, dtype=np.float64)))
            ids = np.repeat(pdf[id_col].values, P.shape[0])
            bands = np.tile(np.arange(P.shape[0]), len(pdf))
            # (bands, n, planes) signs -> per-band integer buckets
            bits = np.einsum("nd,bpd->bnp", M, P) > 0
            bucket = (bits @ weights).T.reshape(-1)  # row-major: (n, bands)
            yield pd.DataFrame(
                {id_col: ids, "band": bands.astype(np.int32), "bucket": bucket.astype(np.int64)}
            )

    # the (id, band, bucket) assignment feeds exactly one consumer (the
    # per-bucket prefilter below), so the Arrow sign stage runs once per
    # action with no cache
    stacked = _spread(emb.select(id_col, vec_col)).mapInPandas(
        assign, f"{id_col} long, band int, bucket long"
    )
    # the sign stage emits ids only; the vector is attached back to the
    # (id, band, bucket) rows by an equi-join on the id (``cands`` below),
    # which moves corpus x n_bands vector bytes through an exchange.
    # Emitting the vector from the sign stage instead would delete that
    # join (ROADMAP open item 4).
    pre = emb.select(
        F.col(id_col).alias("__pid"), F.col(vec_col).alias("__pvec")
    )
    # Candidate pruning runs as one numpy GEMM per (band, bucket) group —
    # the O(bucket^2) candidate cosines never exist as rows, and the JVM
    # exact verification below only sees pairs the GEMM scores within
    # PREFILTER_MARGIN of the threshold. Output-preserving by error bound:
    # both sides compute in float64 from the same float32 inputs, so the
    # GEMM and the sequential JVM fold differ only by summation order —
    # |err| <= ~d * eps (~1e-13 for d <= 2^20, unit-scale values), while a
    # final-filter survivor needs exact cosine >= threshold - 5.1e-7 (the
    # round(.,6) lift), far inside the 1e-4 margin. The margin also absorbs
    # the prefilter's norm clamp (max(norm, 1e-12)): a zero-norm side makes
    # the exact cosine NaN, which fails the final filter just as the
    # clamped ~0 score fails the prefilter.
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
        M = np.stack(pdf["__pvec"].apply(lambda v: np.asarray(v, dtype=np.float64)))
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = Mn @ Mn.T
        iu, ju = np.triu_indices(c, 1)
        keep = S[iu, ju] >= threshold - margin
        if not keep.any():
            return empty
        ids = pdf["__pid"].to_numpy()
        vecs = pdf["__pvec"].to_numpy()
        ki, kj = iu[keep], ju[keep]
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
    # exact verification of the (few) margin survivors with the SAME fold
    # expressions the former per-pair verify evaluated — bit-identical
    # doubles over the same float32 values, so the reported cosine and the
    # surviving set are unchanged. A pair colliding in several bands is
    # verified once per band (dup factor <= n_bands; ~1.03 measured on
    # random vectors) and deduplicated after the threshold filter, where
    # survivors are orders of magnitude fewer than candidates.
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))),
        6,
    )
    verified = (
        cands.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )
    return verified


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
    spark = emb.sparkSession
    dim = len(emb.select(vec_col).first()[0])
    planes = signature_bits(n_planes, dim, seed)
    bplanes = spark.sparkContext.broadcast(planes)

    # the vector rides through the Arrow stage (same shape as ivf_topk),
    # so the probe filter reads (id, vec, bucket) directly — re-attaching
    # the embedding via emb.join(buckets) would shuffle the full table
    vtype = emb.schema[vec_col].dataType.simpleString()
    sig_schema = f"{id_col} long, {vec_col} {vtype}, bucket long"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bplanes.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack(pdf[vec_col].apply(lambda v: np.asarray(v, dtype=np.float64)))
            bits = (M @ P.T) > 0  # (n, planes)
            bucket = bits @ (1 << np.arange(P.shape[0]))
            out = pdf[[id_col, vec_col]].copy()
            out["bucket"] = bucket.astype(np.int64)
            yield out

    with_b = _spread(emb.select(id_col, vec_col)).mapInPandas(assign, sig_schema)

    # The query's signature is computed driver-side (one first() for the
    # vector + the same numpy sign as `assign`, mirroring ivf_topk's
    # driver-side centroid probe): deriving it by filtering the mapInPandas
    # output cannot push the id filter below the Python stage, so the whole
    # table would be signed once to find the query row and again for the
    # candidates — two Arrow stages per action instead of one.
    qvec_row = emb.filter(F.col(id_col) == query_id).select(vec_col).first()
    qv = np.asarray(qvec_row[0], dtype=np.float64)
    qbucket = int(((qv @ planes.T) > 0) @ (1 << np.arange(n_planes)))

    # multi-probe: query bucket plus all <=probe_bits-bit flips
    flips = [0]
    if probe_bits >= 1:
        flips += [1 << b for b in range(n_planes)]
    if probe_bits >= 2:
        flips += [
            (1 << a) | (1 << b)
            for a in range(n_planes)
            for b in range(a + 1, n_planes)
        ]
    probe_buckets = [qbucket ^ x for x in flips]
    qdf = spark.createDataFrame([(list(map(float, qv)),)], "qvec array<double>")
    cands = with_b.filter(
        F.col("bucket").isin(probe_buckets) & (F.col(id_col) != query_id)
    ).crossJoin(F.broadcast(qdf))
    scored = cands.select(
        id_col, F.round(cosine_sim(vec_col, "qvec"), 6).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


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

    spark = emb.sparkSession
    cent_rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n_centroids)
        .collect()
    )
    C = np.stack([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    bC = spark.sparkContext.broadcast(C)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = bC.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack(pdf[vec_col].apply(lambda v: np.asarray(v, dtype=np.float64)))
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = (Mn @ cm.T).argmax(axis=1).astype(np.int32)
            yield out

    vtype = emb.schema[vec_col].dataType.simpleString()
    with_cell = _spread(emb.select(id_col, vec_col)).mapInPandas(
        assign, f"{id_col} long, {vec_col} {vtype}, cell int"
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64")})
        c = len(pdf)
        if c < 2 or (max_cell is not None and c > max_cell):
            return empty
        M = np.stack(pdf[vec_col].apply(lambda v: np.asarray(v, dtype=np.float64)))
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = Mn @ Mn.T  # one GEMM for the whole cell
        iu, ju = np.triu_indices(c, 1)
        # round(., 6) mirrors the exact-verify convention of the other
        # cosine operators, so thresholds compare identically everywhere
        keep = np.round(S[iu, ju], 6) >= threshold
        ids = pdf[id_col].to_numpy()
        x, y = ids[iu[keep]], ids[ju[keep]]
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

"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: JVM-side dot products (zip_with + aggregate,
  whole-stage codegen) against a broadcast probe set — the exactness
  baseline and the oracle for the bucketed variant.
- SRP-LSH (signed random projections) bucketed top-k: deterministic
  hyperplanes hash vectors to 2^p buckets; probes only scan their bucket
  (optionally hamming-1 neighbors), turning O(N) per probe into O(N/2^p).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_hll_spark.operators.aggregate import (append_columns,
                                                  list_flat_offsets)
from python_hll_spark.operators.dedup import (_capped_bucket_pairs,
                                              _duplicate_ids)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(_dot(a, a))


def with_cosine(df: DataFrame, vec_a: str, vec_b: str,
                out: str = "cosine") -> DataFrame:
    a = F.transform(F.col(vec_a), lambda x: x.cast("double"))
    b = F.transform(F.col(vec_b), lambda x: x.cast("double"))
    return df.withColumn(out, F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6))


def brute_force_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """For each probe vector, exact cosine top-k over the corpus.

    probes: (probe_id, embedding). The probe side is broadcast — it is the
    small dimension by construction."""
    c = corpus.select(F.col(id_col), F.col(vec_col))
    p = probes.select(F.col("probe_id"), F.col(vec_col).alias("__pv"))
    crossed = c.crossJoin(F.broadcast(p))
    scored = with_cosine(crossed, vec_col, "__pv", out="cosine")
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("probe_id", id_col, "cosine", "rank"))


def _srp_planes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def _batch_matrix(vec, dtype=np.float64) -> np.ndarray:
    """(n, dim) matrix from an Arrow list/fixed-size-list column by
    zero-copy buffer flatten — no per-row Python object materialization
    (the pattern the dedup kernels use).  Embeddings are fixed-dim by
    contract; ragged input raises rather than silently mis-shaping."""
    import pyarrow as pa
    n = len(vec)
    if pa.types.is_fixed_size_list(vec.type):
        dim = vec.type.list_size
        flat = vec.flatten().to_numpy(zero_copy_only=False)
        return flat.astype(dtype, copy=False).reshape(n, dim)
    flat, offs = list_flat_offsets(vec, dtype)
    lengths = np.diff(offs)
    if n and (lengths != lengths[0]).any():
        raise ValueError("embedding column is ragged; expected fixed dim")
    return flat.reshape(n, int(lengths[0]) if n else 0)


def _append_from_matrix(df: DataFrame, vec_col: str, out: str,
                        out_type: str, compute_np) -> DataFrame:
    """Append ``out`` computed from the vector column's (n, dim) matrix in
    one ``aggregate.append_columns`` passthrough — every other column
    rides along zero-copy, so this is the Arrow-native replacement for a
    scalar pandas UDF over 10^9 corpus vectors."""
    def fn(batch):
        return compute_np(_batch_matrix(batch.column(vec_col)))
    return append_columns(df, [(out, out_type, lambda: fn)])


def with_srp_bucket(df: DataFrame, vec_col: str, dim: int, n_bits: int,
                    seed: int = 42, out: str = "bucket") -> DataFrame:
    """Append the SRP bucket id (int32) of ``vec_col`` — one matmul per
    Arrow batch against the seeded hyperplanes, no per-row Python."""
    planes = _srp_planes(dim, n_bits, seed)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    def compute(mat):
        bits = (mat @ planes.T) > 0
        return (bits @ weights).astype(np.int32)

    return _append_from_matrix(df, vec_col, out, "int", compute)


def with_ivf_lists(df: DataFrame, vec_col: str, centroids: np.ndarray,
                   nprobe: int = 1, out: str = "lists") -> DataFrame:
    """Append the nprobe nearest IVF list ids (array<int>) — one matmul per
    Arrow batch against the broadcast-in-closure centroid matrix."""
    cent = centroids

    def compute(mat):
        import pyarrow as pa
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cent.T
        if nprobe == 1:
            top = np.argmax(sims, axis=1)[:, None].astype(np.int32)
        else:
            np_eff = min(nprobe, sims.shape[1])
            top = np.argpartition(-sims, np_eff - 1, axis=1)[:, :np_eff] \
                .astype(np.int32)
        flat = pa.array(top.ravel(), pa.int32())
        return pa.FixedSizeListArray.from_arrays(flat, top.shape[1]) \
            .cast(pa.list_(pa.int32()))

    return _append_from_matrix(df, vec_col, out, "array<int>", compute)


def srp_topk(corpus: DataFrame, probes: DataFrame, k: int = 10, n_bits: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 42, multiprobe: bool = True,
             dim: int | None = None) -> DataFrame:
    """Approximate cosine top-k: SRP-bucketed equi-join then exact rescoring
    within buckets.  With multiprobe, each probe also scans hamming-1 buckets
    (recall boost at (n_bits+1)x candidate cost).

    Pass ``dim`` when known to skip the tiny eager first() probe job."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])

    c = with_srp_bucket(corpus.select(id_col, vec_col), vec_col,
                        dim, n_bits, seed)
    p = with_srp_bucket(probes.select("probe_id",
                                      F.col(vec_col).alias("__pv")),
                        "__pv", dim, n_bits, seed)
    if multiprobe:
        flips = F.array(*[F.lit(0)] + [F.lit(1 << i) for i in range(n_bits)])
        p = (p.withColumn("flip", F.explode(flips))
             .withColumn("bucket", F.col("bucket").bitwiseXOR(F.col("flip")))
             .drop("flip"))
    joined = c.join(F.broadcast(p), on="bucket").drop("bucket")
    scored = with_cosine(joined, vec_col, "__pv", out="cosine") \
        .dropDuplicates(["probe_id", id_col])
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("probe_id", id_col, "cosine", "rank"))


# ------------------------------------------------------------------- IVF
def _spherical_kmeans(sample: np.ndarray, n_lists: int, seed: int = 42,
                      iters: int = 10) -> np.ndarray:
    """Deterministic spherical k-means on a driver-side sample — the IVF
    coarse quantizer.  Sample is O(n_lists * 256) rows regardless of corpus
    size; centroids are (n_lists, dim) floats, trivially broadcastable."""
    rng = np.random.default_rng(seed)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    x = sample / np.maximum(norms, 1e-12)
    n_lists = min(n_lists, len(x))
    cent = x[rng.choice(len(x), size=n_lists, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(n_lists):
            members = x[assign == c]
            if len(members):
                v = members.sum(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
            else:  # deterministic re-seed: farthest point from its centroid
                sims = (x * cent[assign]).sum(axis=1)
                cent[c] = x[int(np.argmin(sims))]
    return cent


def ivf_train(corpus: DataFrame, n_lists: int = 64, vec_col: str = "embedding",
              seed: int = 42, train_per_list: int = 256) -> np.ndarray:
    """Train IVF centroids on a seeded sample (standard IVF practice: the
    quantizer trains on O(n_lists*256) vectors, not the corpus).

    Sampling is ONE corpus pass, no count job: order by a seeded xxhash64
    of the vector and take the first ``n_lists * train_per_list`` rows.
    Catalyst plans this as TakeOrderedAndProject — each task keeps a
    bounded target-sized heap, the driver merges heads — so it is
    count-free, unbiased (hash order is pseudo-random), deterministic for
    a given seed, and never shuffles the corpus.  (The round-3 version ran
    a full ``corpus.count()`` first just to size a sample fraction — a
    whole extra 100 TB scan for a 16 K-row sample.)"""
    target = n_lists * train_per_list
    rows = (corpus.select(vec_col)
            .orderBy(F.xxhash64(F.lit(seed), F.col(vec_col)))
            .limit(target).collect())
    sample = np.array([r[0] for r in rows], dtype=np.float64)
    return _spherical_kmeans(sample, n_lists, seed=seed)


def ivf_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
             n_lists: int = 64, nprobe: int = 8, id_col: str = "vec_id",
             vec_col: str = "embedding", seed: int = 42,
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF approximate cosine top-k: corpus vectors live in their nearest
    centroid's inverted list; each probe rescans only its nprobe nearest
    lists (O(N * nprobe / n_lists) per probe instead of O(N)).

    100TB shape: the centroid matrix is KBs (broadcast inside the UDF
    closure); the corpus is bucketed by ONE int column, so the probe join
    is an equi-join Catalyst shuffles/broadcasts like any other key."""
    if centroids is None:
        centroids = ivf_train(corpus, n_lists, vec_col, seed)
    c = (with_ivf_lists(corpus.select(id_col, vec_col), vec_col,
                        centroids, nprobe=1)
         .withColumn("list_id", F.element_at(F.col("lists"), 1))
         .drop("lists"))
    p = (with_ivf_lists(probes.select("probe_id",
                                      F.col(vec_col).alias("__pv")),
                        "__pv", centroids, nprobe=nprobe)
         .withColumn("list_id", F.explode(F.col("lists")))
         .drop("lists"))
    joined = c.join(F.broadcast(p), on="list_id").drop("list_id")
    scored = with_cosine(joined, vec_col, "__pv", out="cosine") \
        .dropDuplicates(["probe_id", id_col])
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("probe_id", id_col, "cosine", "rank"))


def embedding_dedup_pairs(df: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          n_bits: int = 8, seed: int = 42,
                          max_bucket: int = 512,
                          dim: int | None = None) -> DataFrame:
    """Near-duplicate vector pairs by cosine >= threshold, SRP-bucketed.

    Scale hardening (the ``_capped_bucket_pairs`` star rule of
    ``lsh_candidate_pairs``): 2^n_bits buckets means bucket population
    grows linearly with the corpus, so the self-join is quadratic per
    bucket without a cap.  Buckets larger than ``max_bucket`` degrade to a
    star against the bucket's min id — O(B) edges instead of O(B^2).
    Exact-duplicate floods (the realistic oversize bucket) keep cosine 1.0
    to the representative, so duplicate connectivity survives; dissimilar
    collision members fail the cosine threshold exactly as the pairwise
    path would drop them.  Only ids cross the bucket exchange; the vectors
    join back to the (distinct) pairs by id.

    Pass ``dim`` when known to skip the tiny eager first() probe job."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    tagged = with_srp_bucket(df.select(id_col, vec_col), vec_col,
                             dim, n_bits, seed)
    pairs = _capped_cosine_pairs(tagged, "bucket", id_col, vec_col,
                                 max_bucket)
    return (with_cosine(pairs, "va", "vb", out="cosine")
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def _capped_cosine_pairs(tagged: DataFrame, bucket_col: str, id_col: str,
                         vec_col: str, max_bucket: int) -> DataFrame:
    """Within-bucket candidate pairs (id_a, id_b, va, vb): the capped star
    rule of ``dedup._capped_bucket_pairs`` over ``bucket_col``, then two
    id joins that attach each side's vector (the way
    ``lsh_candidate_pairs`` attaches signatures).  Shared by the SRP and
    SemDeDup cluster paths."""
    pairs = _capped_bucket_pairs(tagged, [bucket_col], id_col, max_bucket)
    va = tagged.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = tagged.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return pairs.join(va, "id_a").join(vb, "id_b")


# ---------------------------------------------------------------- SemDeDup
def semdedup_pairs(df: DataFrame, n_clusters: int = 64,
                   threshold: float = 0.95, id_col: str = "vec_id",
                   vec_col: str = "embedding", seed: int = 42,
                   max_cluster: int = 4096,
                   centroids: np.ndarray | None = None) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space with the IVF k-means
    coarse quantizer, then find cosine >= threshold pairs ONLY within a
    cluster.  Unlike the SRP path (seeded random hyperplanes), the
    partition is data-adapted — semantically close but not bit-identical
    vectors land in the same cell — which is the published recipe for
    pruning paraphrase-level duplicates from web-scale corpora.

    100 TB shape: centroid training reads a bounded O(n_clusters*256)
    sample (count-free TakeOrderedAndProject, see ``ivf_train``);
    assignment is one shuffle-free Arrow matmul pass; the within-cluster
    self-join keys on ONE int column; clusters beyond ``max_cluster``
    degrade to star edges (O(B), the LSH/SRP pattern — approximate there:
    a star only keeps pairs through the representative, the documented
    trade at the cap).  In production ``n_clusters`` scales with the
    corpus (the paper used 50K clusters for LAION), holding expected
    cluster size — and so join cost per cluster — constant."""
    if centroids is None:
        centroids = ivf_train(df, n_clusters, vec_col, seed)
    tagged = (with_ivf_lists(df.select(id_col, vec_col), vec_col,
                             centroids, nprobe=1)
              .withColumn("cluster", F.element_at(F.col("lists"), 1))
              .drop("lists"))
    pairs = _capped_cosine_pairs(tagged, "cluster", id_col, vec_col,
                                 max_cluster)
    return (with_cosine(pairs, "va", "vb", out="cosine")
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def semdedup(df: DataFrame, n_clusters: int = 64, threshold: float = 0.95,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 42, max_cluster: int = 4096,
             centroids: np.ndarray | None = None) -> DataFrame:
    """Semantic near-duplicate REMOVAL: ``semdedup_pairs`` -> connected
    components -> keep the min-id representative per duplicate group (the
    keep rule of the MinHash ``near_dedup`` family; the paper keeps one
    member per group by centroid distance — min-id is the deterministic,
    extra-join-free equivalent).  Returns the deduplicated rows of ``df``
    (all original columns)."""
    pairs = semdedup_pairs(df, n_clusters, threshold, id_col, vec_col,
                           seed, max_cluster, centroids) \
        .select("id_a", "id_b")
    return df.join(_duplicate_ids(pairs, id_col), on=id_col, how="left_anti")

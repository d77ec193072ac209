"""Approximate-NDV queries over token-sequence tables (the north-star query).

All heavy lifting is Spark-first: column pruning happens because we select
only the needed columns before the Arrow partial builders (mapInArrow);
string keys are hashed JVM-side with xxhash64 inside whole-stage codegen so
only int64s cross Arrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_hll_spark.sketches.hll import HLLConfig
from python_hll_spark.sketches.specs import HLLSpec


def hll_ndv_tokens(df: DataFrame, by: list[str] | None = None,
                   cfg: HLLConfig | None = None, n_salts: int = 16) -> DataFrame:
    """Approx NDV of exploded ``tokens`` (optionally per group).

    Uses the Arrow-native partial builder (zero-copy ListArray flatten) —
    the 100TB hot path — for any group-key arity (dict_encode_groups
    composes composite/NULL keys batch-side).
    Returns (by..., ndv bigint, state binary)."""
    from python_hll_spark.functions.sketch_funcs import hll_cardinality
    from python_hll_spark.operators.aggregate import merge_sketches, token_partials_arrow

    spec = HLLSpec(cfg or HLLConfig.create(11, 5))
    by = by or []
    partials = token_partials_arrow(df, by, "tokens", spec, n_salts=n_salts)
    states = merge_sketches(partials, by, spec)
    return states.withColumn("ndv", hll_cardinality(F.col("state")))


def hll_column_partials(df: DataFrame, value_col: str, by: list[str],
                        spec: HLLSpec, n_salts: int = 16,
                        hasher: str = "xxhash64") -> DataFrame:
    """Stage 1 of ``hll_ndv_column`` and of its stream: hash
    ``value_col`` into per-task ``scalar_partials_arrow`` rows."""
    from python_hll_spark.operators.aggregate import scalar_partials_arrow

    if hasher == "murmur3":
        # Arrow-buffer-native hashing (mapInArrow): the flat utf-8 buffer
        # feeds the vectorized murmur3 kernel directly — no pandas object
        # Series, no per-row astype(str)
        from python_hll_spark.functions.murmur3 import murmur3_hash_frame
        strd = df.select(*by, F.col(value_col).cast("string").alias("__v"))
        hashed = murmur3_hash_frame(strd, by, "__v")
    elif hasher == "xxhash64":
        hash_expr = F.when(F.col(value_col).isNotNull(),
                           F.xxhash64(F.col(value_col)))
        hashed = df.select(*by, hash_expr.alias("__h"))
    else:
        raise ValueError(f"unknown hasher {hasher!r}; use 'xxhash64' or 'murmur3'")
    return scalar_partials_arrow(hashed, by, "__h", spec, n_salts=n_salts)


def hll_ndv_column(df: DataFrame, value_col: str, by: list[str] | None = None,
                   cfg: HLLConfig | None = None, n_salts: int = 16,
                   hasher: str = "xxhash64") -> DataFrame:
    """Approx NDV of an arbitrary column: values are hashed to int64 with
    JVM-side xxhash64 (codegen) before the Python boundary; the partial
    build is Arrow-native for any group-key arity.

    ``hasher="murmur3"`` hashes with mmh3-compatible MurmurHash3 x64_128
    (first 64 bits, vectorized pandas UDF) instead — the reference
    ecosystem's hash contract (reference README.rst:44-49, hll.py:226-230):
    the resulting sketches can be semantically UNIONED with sketches built
    by java-hll / postgresql-hll / mmh3 callers from the same strings,
    at the cost of a Python hashing stage in the scan. Default stays
    xxhash64 (pure JVM) for sketches that never leave this engine.

    NULL values are excluded from the estimate (countDistinct semantics):
    ``F.xxhash64(NULL)`` returns the seed constant (NOT null) and would
    silently count nulls as one extra distinct value, so the hash is gated
    with ``when(isNotNull)`` — the NULL survives to the Arrow builder,
    which masks it out but still emits the group's state row (a group whose
    values are all NULL reports ndv=0 instead of disappearing).

    Returns (by..., ndv bigint, state binary)."""
    from python_hll_spark.functions.sketch_funcs import hll_cardinality
    from python_hll_spark.operators.aggregate import merge_sketches

    spec = HLLSpec(cfg or HLLConfig.create(11, 5))
    by = by or []
    partials = hll_column_partials(df, value_col, by, spec, n_salts, hasher)
    states = merge_sketches(partials, by, spec)
    return states.withColumn("ndv", hll_cardinality(F.col("state")))


def hll_overlap_matrix(df: DataFrame, value_col: str, by_col: str,
                       cfg: HLLConfig | None = None, n_salts: int = 16,
                       hasher: str = "xxhash64",
                       cache_out: list | None = None) -> DataFrame:
    """Pairwise group-overlap matrix from ONE corpus scan: build one HLL
    per ``by_col`` group, then self-join the K-row state frame on
    ``group_a < group_b`` and estimate every |A∩B| by inclusion-exclusion
    (|A|+|B|-|A∪B|) inside a vectorized pandas UDF over the state pairs.

    This is pure sketch algebra — the cross-source contamination /
    audience-overlap report costs one scan + K(K-1)/2 KB-sized state
    pairs, never a second pass over the data, which is the whole point of
    mergeable sketches at 100 TB.  The state frame is persisted (K rows)
    so the self-join reads the cache instead of re-running the scan for
    each side; the handle lands in ``cache_out`` when given.

    Returns (group_a, group_b, ndv_a, ndv_b, est_union, est_intersection).
    Error bound: each of the three estimates carries the HLL bound
    1.04/sqrt(m), so |est_intersection - exact| <= ~3 sigma * (|A|+|B|+|A∪B|)
    with 3-sigma terms (reference ships no intersection; this is the
    documented caller-side composition, reference README.rst)."""
    from python_hll_spark.functions.sketch_funcs import (
        hll_cardinality_float, hll_intersection_udf, hll_union_pair_udf)

    states = hll_ndv_column(df, value_col, by=[by_col], cfg=cfg,
                            n_salts=n_salts, hasher=hasher).persist()
    if cache_out is not None:
        cache_out.append(states)
    a = states.select(F.col(by_col).alias("group_a"),
                      F.col("ndv").alias("ndv_a"), F.col("state").alias("__sa"))
    b = states.select(F.col(by_col).alias("group_b"),
                      F.col("ndv").alias("ndv_b"), F.col("state").alias("__sb"))
    pairs = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
    # one grouped merge would also work, but the pair frame is tiny and a
    # scalar two-state union keeps the whole matrix a single projection
    union_est = hll_cardinality_float(hll_union_pair_udf(F.col("__sa"),
                                                         F.col("__sb")))
    return (pairs.select(
        "group_a", "group_b", "ndv_a", "ndv_b",
        F.round(union_est).cast("bigint").alias("est_union"),
        hll_intersection_udf(F.col("__sa"), F.col("__sb"))
        .alias("est_intersection")))

"""Distributed quantile profiles via KLL (primary) or t-digest."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from python_hll_spark.sketches.kll import KLLConfig
from python_hll_spark.sketches.specs import KLLSpec, TDigestSpec
from python_hll_spark.sketches.tdigest import TDigestConfig


def quantiles_of(spec, state: bytes, qs) -> list[float]:
    """The finalizer of ``sketch_quantiles`` and of its stream."""
    qarr = np.asarray(qs, dtype=np.float64)
    return [float(x) for x in spec.deserialize(bytes(state)).quantile(qarr)]


def _quantile_udf(spec, qs: list[float]):
    @F.pandas_udf(ArrayType(DoubleType()))
    def finalize(states: pd.Series) -> pd.Series:
        return states.map(lambda b: quantiles_of(spec, b, qs))
    return finalize


def quantile_partials(df: DataFrame, value_col: str, by: list[str],
                      spec) -> DataFrame:
    """Stage 1 of ``sketch_quantiles`` and of its stream: ``value_col``
    as double into per-task ``scalar_partials_arrow`` rows."""
    from python_hll_spark.operators.aggregate import scalar_partials_arrow

    pruned = df.select(*by, F.col(value_col).cast("double").alias("__v"))
    return scalar_partials_arrow(pruned, by, "__v", spec)


def sketch_quantiles(df: DataFrame, value_col: str, qs: list[float],
                     by: list[str] | None = None, method: str = "kll",
                     k: int = 200, compression: float = 100.0) -> DataFrame:
    """(by..., quantiles array<double>, state binary) for normalized ranks qs."""
    if method == "kll":
        spec = KLLSpec(KLLConfig(k=k))
    elif method == "tdigest":
        spec = TDigestSpec(TDigestConfig(compression=compression))
    else:
        raise ValueError(f"unknown quantile method {method!r}")
    from python_hll_spark.operators.aggregate import merge_sketches

    by = by or []
    states = merge_sketches(quantile_partials(df, value_col, by, spec), by, spec)
    return states.withColumn("quantiles", _quantile_udf(spec, qs)(F.col("state")))


def length_buckets(df: DataFrame, value_col: str, n_buckets: int = 8,
                   k: int = 200) -> DataFrame:
    """Equal-population bucketing of ``value_col`` (the length-bucketed
    batching step that keeps padding waste low when batching variable-
    length docs): boundaries are the KLL (i/n)-quantiles from ONE sketch
    pass; assignment is a pure JVM projection comparing against the
    n_buckets-1 broadcast boundary doubles.

    Returns the input plus a ``bucket`` int column in [0, n_buckets).
    Bucket populations are equal up to the sketch's rank error."""
    import functools
    import operator

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    est = sketch_quantiles(df, value_col, qs, method="kll", k=k)
    bounds = [float(b) for b in est.collect()[0]["quantiles"]]
    bucket = functools.reduce(
        operator.add,
        [(F.col(value_col) > F.lit(b)).cast("int") for b in bounds])
    return df.withColumn("bucket", bucket)

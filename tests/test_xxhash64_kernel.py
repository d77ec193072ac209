"""Pinning tests for the vectorized Spark-compatible XXH64 kernel and the
Arrow-kernel DSIR tokens path it enables (round-6 optimization: the
explode + broadcast-join scoring plan became one mapInArrow pass, which is
only sound because the Python featurizer reproduces the JVM
``pmod(xxhash64(...), buckets)`` bit for bit)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_xxhash64_int_matches_spark(spark):
    """Single-arg (seed 42) and two-arg fold must equal F.xxhash64, for
    int and bigint input."""
    from python_hll_spark.functions.hashing import xxhash64_int

    rng = np.random.default_rng(3)
    a = rng.integers(-2**31, 2**31, 4000).astype(np.int32)
    b = rng.integers(-2**31, 2**31, 4000).astype(np.int32)
    # edge values
    a[:4] = [0, -1, 2**31 - 1, -2**31]
    df = spark.createDataFrame(pd.DataFrame({"a": a, "b": b}))
    rows = df.select(F.xxhash64("a").alias("h1"),
                     F.xxhash64("a", "b").alias("h2"),
                     F.pmod(F.xxhash64("a"), F.lit(10000)).alias("p")).collect()
    got1 = xxhash64_int(a, 42)
    got2 = xxhash64_int(b, got1.view(np.uint64))
    gotp = np.remainder(got1, 10000)
    assert np.array_equal(got1, np.array([r["h1"] for r in rows]))
    assert np.array_equal(got2, np.array([r["h2"] for r in rows]))
    assert np.array_equal(gotp, np.array([r["p"] for r in rows]))

    # 8-byte input hashes as LongType (tokenize_word_hashes output)
    la = rng.integers(-2**63, 2**63 - 1, 4000, dtype=np.int64)
    lb = rng.integers(-2**63, 2**63 - 1, 4000, dtype=np.int64)
    la[:3] = [0, -1, 2**63 - 1]
    ldf = spark.createDataFrame([(int(x), int(y)) for x, y in zip(la, lb)],
                                "a bigint, b bigint")
    lrows = ldf.select(F.xxhash64("a").alias("h1"),
                       F.xxhash64("a", "b").alias("h2")).collect()
    lgot1 = xxhash64_int(la, 42)
    assert np.array_equal(lgot1, np.array([r["h1"] for r in lrows]))
    assert np.array_equal(xxhash64_int(lb, lgot1.view(np.uint64)),
                          np.array([r["h2"] for r in lrows]))


@pytest.fixture(scope="module")
def dsir_frames(spark):
    rng = np.random.default_rng(11)
    rows = [(f"d{i}", rng.integers(0, 5000, int(rng.integers(0, 40))).tolist())
            for i in range(1500)]
    rows += [("empty", []), ("single", [7])]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "tokens"]),
                               "doc_id string, tokens array<int>")
    target = df.where(F.xxhash64("doc_id") % 3 == 0)
    return df, target


def test_bucket_counts_tokens_kernel_exactly_matches_explode_plan(
        spark, dsir_frames):
    from python_hll_spark.operators.dsir import (bucket_counts_tokens,
                                                 hashed_ngram_features_tokens)

    df, _ = dsir_frames
    new = {r["bucket"]: r["cnt"]
           for r in bucket_counts_tokens(df, buckets=512).collect()}
    feats = hashed_ngram_features_tokens(F.col("tokens"), 512, True)
    old = {r["bucket"]: r["cnt"]
           for r in df.select(F.explode(feats).alias("bucket"))
           .groupBy("bucket").agg(F.count("*").alias("cnt")).collect()}
    assert new == old


def test_dsir_weights_tokens_kernel_matches_join_plan(spark, dsir_frames):
    """Same doc set (zero-feature docs dropped like the inner join), equal
    integer n_features, weights equal up to summation-order ulp."""
    from python_hll_spark.operators.dsir import (_weights_impl,
                                                 bucket_counts_tokens,
                                                 dsir_logratio,
                                                 dsir_weights_tokens,
                                                 hashed_ngram_features_tokens)

    df, target = dsir_frames
    lr = dsir_logratio(bucket_counts_tokens(target),
                       bucket_counts_tokens(df)).persist()
    try:
        new = {r["doc_id"]: (r["n_features"], r["dsir_weight"])
               for r in dsir_weights_tokens(df, lr).collect()}
        feats = hashed_ngram_features_tokens(F.col("tokens"), 10000, True)
        old = {r["doc_id"]: (r["n_features"], r["dsir_weight"])
               for r in _weights_impl(df, feats, lr, "doc_id").collect()}
        assert set(new) == set(old)
        assert "empty" not in new and "single" in new
        for k, (nf, w) in old.items():
            assert new[k][0] == nf, k
            assert new[k][1] == pytest.approx(w, rel=1e-9, abs=1e-12), k
    finally:
        lr.unpersist()

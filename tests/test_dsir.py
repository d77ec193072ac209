"""DSIR hashed-ngram importance resampling: weight math vs a pure-Python
reference, smoothing/edge cases, resample determinism, and plan shape."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _spark_hasher(spark, texts, buckets):
    """Bucket lookup for every feature string the reference featurizer
    will produce from ``texts``, computed with Spark's own xxhash64 over
    the tokenizer's word hashes: a word ``w`` maps to
    ``pmod(xxhash64(h_w), buckets)`` and a pair ``"a b"`` to
    ``pmod(xxhash64(h_a, h_b), buckets)``."""
    from python_hll_spark.operators.dedup import tokenize_word_hashes

    feats = set()
    for t in texts:
        words = str(t or "").lower().split()
        feats.update(words)
        feats.update(f"{a} {b}" for a, b in zip(words, words[1:]))
    df = spark.createDataFrame(list(enumerate(feats)), "doc_id long, s string")
    toks = tokenize_word_hashes(df, "s").join(df, "doc_id")
    t1, t2 = F.element_at("tokens", 1), F.element_at("tokens", 2)
    rows = toks.select("s", F.pmod(
        F.when(F.size("tokens") == 1, F.xxhash64(t1))
        .otherwise(F.xxhash64(t1, t2)), F.lit(buckets)).alias("b")).collect()
    lut = {r["s"]: r["b"] for r in rows}
    return lut.__getitem__


def test_dsir_weights_match_reference(spark):
    from python_hll_spark.operators.dsir import (
        bucket_counts, dsir_logratio, dsir_weights, reference_dsir_weights)

    rng = np.random.default_rng(3)
    vocab_t = [f"t{i}" for i in range(20)]
    vocab_r = [f"r{i}" for i in range(20)]
    raw_rows = [(i, " ".join(rng.choice(vocab_t + vocab_r, size=15)))
                for i in range(12)]
    target_rows = [(100 + i, " ".join(rng.choice(vocab_t, size=15)))
                   for i in range(4)]
    buckets = 64  # small => hash collisions exercised

    raw = _docs(spark, raw_rows)
    target = _docs(spark, target_rows)
    lr = dsir_logratio(bucket_counts(target, buckets=buckets),
                       bucket_counts(raw, buckets=buckets), buckets=buckets)
    got = {r["doc_id"]: r["dsir_weight"]
           for r in dsir_weights(raw, lr, buckets=buckets).collect()}

    hasher = _spark_hasher(
        spark, [t for _, t in raw_rows + target_rows], buckets)
    want = reference_dsir_weights(raw_rows, target_rows, buckets=buckets,
                                  hasher=hasher)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k


def test_dsir_logratio_full_bucket_space_and_finite(spark):
    from python_hll_spark.operators.dsir import bucket_counts, dsir_logratio

    buckets = 16
    raw = _docs(spark, [(1, "alpha beta gamma")])
    empty_target = _docs(spark, []).where(F.lit(False))
    lr = dsir_logratio(bucket_counts(empty_target, buckets=buckets),
                       bucket_counts(raw, buckets=buckets),
                       buckets=buckets).collect()
    assert len(lr) == buckets  # full space, incl. never-observed buckets
    assert all(np.isfinite(r["logratio"]) for r in lr)  # smoothing works


def test_dsir_weight_of_identical_docs_identical(spark):
    from python_hll_spark.operators.dsir import (
        bucket_counts, dsir_logratio, dsir_weights)

    text = "the quick brown fox jumps over the lazy dog"
    raw = _docs(spark, [(1, text), (2, text), (3, "something else here")])
    target = _docs(spark, [(9, "quick brown fox")])
    lr = dsir_logratio(bucket_counts(target, buckets=128),
                       bucket_counts(raw, buckets=128), buckets=128)
    w = {r["doc_id"]: r["dsir_weight"]
         for r in dsir_weights(raw, lr, buckets=128).collect()}
    assert w[1] == w[2] != w[3]


def test_dsir_separation_and_resample(spark):
    """Docs drawn from the target vocabulary must outweigh docs from a
    disjoint vocabulary, and Gumbel top-k must be deterministic, size-k,
    and biased toward the heavy side."""
    from python_hll_spark.operators.dsir import (
        bucket_counts, dsir_logratio, dsir_resample, dsir_weights)

    rng = np.random.default_rng(7)
    vt = [f"wiki{i}" for i in range(30)]
    vr = [f"spam{i}" for i in range(30)]
    raw_rows = [(i, " ".join(rng.choice(vt, size=20))) for i in range(20)]
    raw_rows += [(100 + i, " ".join(rng.choice(vr, size=20)))
                 for i in range(20)]
    target_rows = [(1000 + i, " ".join(rng.choice(vt, size=20)))
                   for i in range(10)]
    raw, target = _docs(spark, raw_rows), _docs(spark, target_rows)
    lr = dsir_logratio(bucket_counts(target), bucket_counts(raw))
    w = dsir_weights(raw, lr).persist()
    rows = w.collect()
    mean_t = np.mean([r["dsir_weight"] for r in rows if r["doc_id"] < 100])
    mean_r = np.mean([r["dsir_weight"] for r in rows if r["doc_id"] >= 100])
    assert mean_t > mean_r

    k = 10
    pick1 = sorted(r["doc_id"] for r in
                   dsir_resample(raw, w, k, seed=5).collect())
    pick2 = sorted(r["doc_id"] for r in
                   dsir_resample(raw, w, k, seed=5).collect())
    assert pick1 == pick2 and len(pick1) == k
    # weight gap dwarfs Gumbel noise here: most picks are target-like
    assert sum(1 for d in pick1 if d < 100) >= k - 2

    # non-gumbel: exact top-k by weight
    topk = sorted(r["doc_id"] for r in
                  dsir_resample(raw, w, k, gumbel=False).collect())
    want = sorted(r["doc_id"] for r in
                  sorted(rows, key=lambda r: (-r["dsir_weight"], r["doc_id"]))
                  [:k])
    assert topk == want
    w.unpersist()


def test_dsir_weights_plan_broadcasts_ratio(spark):
    """Text scoring is the tokenizer fused with the tokens kernel in one
    Arrow pass, with the buckets-row ratio table broadcast into it: no
    join and no hash Exchange, and no per-occurrence rows (corpus-scale)
    are built."""
    from python_hll_spark.operators.dsir import (
        bucket_counts, dsir_logratio, dsir_weights)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = docs.where(F.col("doc_id") % 5 == 0)
    lr = dsir_logratio(bucket_counts(target), bucket_counts(docs))
    plan = dsir_weights(docs, lr)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan
    tree = plan.split("\n\n", 1)[0]
    assert tree.count("MapInArrow") == 1  # tokenizer + weights kernel


def test_dsir_select_end_to_end(spark):
    from python_hll_spark.operators.dsir import dsir_select

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    target = docs.where(F.col("doc_id") % 7 == 0)
    out = dsir_select(docs, target, k=25, seed=11)
    rows = out.collect()
    assert len(rows) == 25
    assert set(out.columns) == {"doc_id", "text"}


def test_dsir_tokens_path_matches_text_path_shape(spark):
    """Tokens-path weights: identical token arrays get identical weights;
    a doc whose tokens all appear in the target outweighs a disjoint-id
    doc; bucket counts conserve total feature occurrences."""
    from python_hll_spark.operators.dsir import (
        bucket_counts_tokens, dsir_logratio, dsir_weights_tokens)

    rows = [(1, [1, 2, 3, 4]), (2, [1, 2, 3, 4]), (3, [900, 901, 902, 903])]
    raw = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    target = spark.createDataFrame([(9, [1, 2, 3, 4, 2, 3])],
                                   "doc_id long, tokens array<int>")
    tc = bucket_counts_tokens(target, buckets=512)
    rc = bucket_counts_tokens(raw, buckets=512)
    # conservation: 4 uni + 3 bi per 4-token doc, 3 docs
    assert rc.agg(F.sum("cnt")).first()[0] == 3 * (4 + 3)
    lr = dsir_logratio(tc, rc, buckets=512)
    w = {r["doc_id"]: r["dsir_weight"]
         for r in dsir_weights_tokens(raw, lr, buckets=512).collect()}
    assert w[1] == w[2] > w[3]

"""Hashed n-gram linear classifier kernel (functions/classifier.py)."""

import math

import numpy as np
from pyspark.sql import functions as F

from python_hll_spark.functions.classifier import (classifier_scores,
                                                   classifier_scores_tokens)

D = 1 << 12


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_scores_in_open_unit_interval(spark):
    df = _docs(spark, ["a b c d", "x", "", "  ", "one two three four five"])
    rows = classifier_scores(df, n_buckets=D).collect()
    assert len(rows) == 5
    assert all(0.0 < r["score"] < 1.0 for r in rows)


def test_empty_doc_scores_sigmoid_bias(spark):
    df = _docs(spark, ["", "   ", "word word"])
    rows = {r["doc_id"]: r["score"] for r in
            classifier_scores(df, n_buckets=D, bias=0.75).collect()}
    expected = 1.0 / (1.0 + math.exp(-0.75))
    assert rows[0] == rows[1]                      # both empty: identical
    assert abs(rows[0] - expected) < 1e-12
    assert abs(rows[2] - expected) > 1e-6          # non-empty doc differs


def test_constant_weights_give_constant_score_any_length(spark):
    # mean pooling over constant weights must yield sigmoid(bias + c)
    # EXACTLY for every non-empty doc — exercises the prefix-sum segment
    # reduction (uni + bigram) across varied doc lengths in one batch
    w = np.full(D, 0.3, dtype=np.float32)
    texts = ["a", "b c", "d e f g h", " ".join(f"t{i}" for i in range(257))]
    rows = classifier_scores(_docs(spark, texts), n_buckets=D,
                             weights=w, bias=0.1).collect()
    expected = 1.0 / (1.0 + math.exp(-(0.1 + float(np.float32(0.3)))))
    assert all(abs(r["score"] - expected) < 1e-12 for r in rows)


def test_zero_weights_all_sigmoid_bias(spark):
    w = np.zeros(D, dtype=np.float32)
    rows = classifier_scores(_docs(spark, ["a b", "c"]), n_buckets=D,
                             weights=w).collect()
    assert all(r["score"] == 0.5 for r in rows)


def test_duplicate_text_scores_equal_and_partition_stable(spark):
    texts = [f"tok{i} tok{i + 1} tok{i + 2} shared words" for i in range(40)]
    df = _docs(spark, texts + texts)  # ids 0..39 and 40..79 duplicate
    s1 = {r["doc_id"]: r["score"] for r in
          classifier_scores(df, n_buckets=D).collect()}
    s2 = {r["doc_id"]: r["score"] for r in
          classifier_scores(df.repartition(7), n_buckets=D).collect()}
    for i in range(40):
        assert abs(s1[i] - s1[i + 40]) < 1e-9     # dup == original
        assert abs(s1[i] - s2[i]) < 1e-9          # partitioning-stable


def test_bigrams_change_multi_token_scores_only(spark):
    df = _docs(spark, ["single", "two words here"])
    a = {r["doc_id"]: r["score"] for r in
         classifier_scores(df, n_buckets=D, bigrams=True).collect()}
    b = {r["doc_id"]: r["score"] for r in
         classifier_scores(df, n_buckets=D, bigrams=False).collect()}
    assert abs(a[0] - b[0]) < 1e-12   # one token: no bigram features
    assert a[1] != b[1]


def test_tokens_path_matches_text_path(spark):
    from python_hll_spark.operators.dedup import tokenize_word_hashes

    df = _docs(spark, ["alpha beta gamma", "delta", ""])
    toks = tokenize_word_hashes(df)
    via_tokens = {r["doc_id"]: r["score"] for r in
                  classifier_scores_tokens(toks, n_buckets=D).collect()}
    via_text = {r["doc_id"]: r["score"] for r in
                classifier_scores(df, n_buckets=D).collect()}
    assert via_tokens.keys() == via_text.keys()
    for k in via_text:
        assert abs(via_tokens[k] - via_text[k]) < 1e-12


def test_null_text_scores_like_empty(spark):
    df = spark.createDataFrame([(0, None), (1, "")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r["score"] for r in
            classifier_scores(df, n_buckets=D).collect()}
    assert rows[0] == rows[1] == 0.5


def test_trailing_empty_doc_with_bigrams(spark):
    # regression: a zero-token doc LAST in a batch made the bigram
    # segment bounds index one past the prefix-sum array (IndexError)
    df = _docs(spark, ["word word other", "   "])
    rows = {r["doc_id"]: r["score"] for r in
            classifier_scores(df, n_buckets=D, bigrams=True).collect()}
    assert len(rows) == 2
    assert rows[1] == 0.5                      # sigmoid(bias=0) exactly

    toks = spark.createDataFrame([(0, [1, 2, 3]), (1, [])],
                                 "doc_id long, tokens array<bigint>")
    trows = {r["doc_id"]: r["score"] for r in
             classifier_scores_tokens(toks, n_buckets=D,
                                      bigrams=True).collect()}
    assert len(trows) == 2
    assert trows[1] == 0.5


def test_trailing_empty_matches_leading_empty(spark):
    # order must not change any score: same docs, empty first vs last
    a = _docs(spark, ["", "alpha beta gamma delta", "x y"])
    b = _docs(spark, ["alpha beta gamma delta", "x y", ""])
    sa = sorted(r["score"] for r in
                classifier_scores(a.coalesce(1), n_buckets=D).collect())
    sb = sorted(r["score"] for r in
                classifier_scores(b.coalesce(1), n_buckets=D).collect())
    assert sa == sb


def _labeled_corpus(spark, n=300):
    # class 1 speaks vocab A, class 0 speaks vocab B (disjoint)
    a = ["alpha beta gamma delta epsilon zeta", "beta delta zeta alpha",
         "gamma epsilon alpha beta zeta delta gamma"]
    b = ["one two three four five six", "two four six one",
         "three five one two six four three"]
    rows = []
    for i in range(n):
        rows.append((i * 2, a[i % 3], 1.0))
        rows.append((i * 2 + 1, b[i % 3], 0.0))
    return spark.createDataFrame(rows, "doc_id long, text string, y double")


def test_train_separates_synthetic_classes(spark):
    from python_hll_spark.functions.classifier import classifier_train

    df = _labeled_corpus(spark)
    train = df.where("doc_id % 5 != 0")
    heldout = df.where("doc_id % 5 = 0")
    model = classifier_train(train, "y", n_buckets=1 << 14, iters=12)
    assert model["history"][-1] < model["history"][0]      # loss fell
    scored = classifier_scores(heldout, n_buckets=1 << 14,
                               weights=model["weights"],
                               bias=model["bias"])
    joined = scored.join(heldout.select("doc_id", "y"), "doc_id").collect()
    acc = np.mean([(r["score"] >= 0.5) == (r["y"] == 1.0) for r in joined])
    assert acc >= 0.95


def test_train_tokens_path_matches_text_path(spark):
    from python_hll_spark.functions.classifier import (
        classifier_train, classifier_train_tokens)
    from python_hll_spark.operators.dedup import tokenize_word_hashes

    df = _labeled_corpus(spark, n=60)
    m1 = classifier_train(df, "y", n_buckets=1 << 12, iters=5)
    toks = tokenize_word_hashes(df).join(df.select("doc_id", "y"), "doc_id")
    m2 = classifier_train_tokens(toks, "y", n_buckets=1 << 12, iters=5)
    # full-batch gradient: identical up to partial-sum association
    assert abs(m1["bias"] - m2["bias"]) < 1e-6
    assert float(np.abs(m1["weights"] - m2["weights"]).max()) < 1e-5


def test_train_tolerates_empty_docs(spark):
    from python_hll_spark.functions.classifier import classifier_train

    df = spark.createDataFrame(
        [(0, "alpha beta gamma", 1.0), (1, "", 0.0), (2, "   ", 0.0),
         (3, "one two three", 0.0), (4, None, 1.0),
         (5, "alpha gamma beta beta", 1.0)],
        "doc_id long, text string, y double")
    model = classifier_train(df, "y", n_buckets=1 << 10, iters=3)
    assert np.isfinite(model["weights"]).all()
    assert np.isfinite(model["bias"])
    assert len(model["history"]) == 3


def test_train_model_ignores_doc_ids(spark):
    """The text trainer carries each label beside its doc's tokens, so doc
    ids play no part: repeated and NULL ids train the same model as unique
    ones (a join back on the id dropped the NULL-id doc and multiplied the
    repeated id's rows)."""
    from python_hll_spark.functions.classifier import classifier_train

    docs = [("alpha beta gamma", 1.0), ("beta gamma delta", 1.0),
            ("one two three", 0.0), ("two three four", 0.0)]
    models = [classifier_train(
        spark.createDataFrame([(i, t, y) for i, (t, y) in zip(ids, docs)],
                              "doc_id long, text string, y double"),
        "y", n_buckets=1 << 10, iters=3)
        for ids in [(1, 1, 2, None), (0, 1, 2, 3)]]
    m_dup, m_uniq = models
    assert abs(m_dup["bias"] - m_uniq["bias"]) < 1e-6
    assert float(np.abs(m_dup["weights"] - m_uniq["weights"]).max()) < 1e-5


def test_train_tokens_partition_invariant(spark):
    """The round-6 executor-side gradient tree-merge (16-way salted merge
    feeding an Arrow collect) must leave training numerically unchanged
    under repartitioning: full-batch gradients are partial sums, so
    weights may differ only by float association ulp."""
    from python_hll_spark.functions.classifier import classifier_train_tokens
    from python_hll_spark.operators.dedup import tokenize_word_hashes

    df = _labeled_corpus(spark, n=80)
    toks = tokenize_word_hashes(df).join(df.select("doc_id", "y"), "doc_id")
    m_few = classifier_train_tokens(toks.repartition(2), "y",
                                    n_buckets=1 << 12, iters=4)
    m_many = classifier_train_tokens(toks.repartition(97), "y",
                                     n_buckets=1 << 12, iters=4)
    assert abs(m_few["bias"] - m_many["bias"]) < 1e-6
    assert float(np.abs(m_few["weights"] - m_many["weights"]).max()) < 1e-5

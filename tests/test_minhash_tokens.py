"""MinHash over pre-tokenized docs (the input_hint table shape)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_hll_spark.operators.dedup import (
    lsh_candidate_pairs, minhash_signatures_tokens)


@pytest.fixture()
def tok_docs(spark):
    rng = np.random.default_rng(4)
    base = rng.integers(0, 50000, 300, dtype=np.int64).tolist()
    rows = []
    for i in range(40):
        toks = list(base)
        for j in range(i):  # doc i mutates i positions -> decreasing overlap
            toks[j * 7 % 300] = 99991 + i * 300 + j
        rows.append((i, toks))
    rows.append((900, base[:2]))   # short doc (m < n)
    rows.append((901, []))         # empty doc
    return spark.createDataFrame(rows, "doc_id long, tokens array<bigint>")


def test_identical_tokens_identical_sigs(spark, tok_docs):
    shifted = tok_docs.select((F.col("doc_id") + 1000).alias("doc_id"), "tokens")
    sigs = {r["doc_id"]: tuple(r["sig"]) for r in
            minhash_signatures_tokens(tok_docs.unionByName(shifted),
                                      num_hashes=64).collect()}
    for i in list(range(40)) + [900, 901]:
        assert sigs[i] == sigs[i + 1000], i


def test_est_jaccard_tracks_exact_shingle_jaccard(spark, tok_docs):
    n = 3
    sigs = minhash_signatures_tokens(tok_docs, n=n, num_hashes=128)
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
             lsh_candidate_pairs(sigs, bands=64).collect()}
    docs = {r["doc_id"]: list(r["tokens"]) for r in tok_docs.collect()}

    def shingles(toks):
        if not toks:
            return set()
        if len(toks) < n:
            return {tuple(toks)}
        return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    checked = 0
    for (a, b), est in pairs.items():
        if a >= 900 or b >= 900:
            continue
        sa, sb = shingles(docs[a]), shingles(docs[b])
        exact = len(sa & sb) / len(sa | sb)
        assert abs(est - exact) <= 0.15, (a, b, est, exact)
        checked += 1
    assert checked >= 10  # near-identical docs must surface as candidates


def test_empty_docs_never_pair(spark, tok_docs):
    sigs = minhash_signatures_tokens(tok_docs, num_hashes=64)
    pairs = lsh_candidate_pairs(sigs, bands=32).collect()
    ids_in_pairs = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert 901 not in ids_in_pairs  # sentinel sigs dropped at banding


def test_short_doc_trailing_repeat_not_collided(spark):
    """[a,b] and [a,b,b] must NOT share a signature: the short-doc window
    clamp repeats the last token, so without the length mix their chains
    coincide.  Identical short docs still collide (same content)."""
    rows = [(1, [7, 9]), (2, [7, 9, 9]), (3, [7, 9]), (4, [7]), (5, [7, 7])]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    sigs = {r["doc_id"]: tuple(r["sig"]) for r in
            minhash_signatures_tokens(df, n=3, num_hashes=32).collect()}
    assert sigs[1] == sigs[3]          # identical short docs
    assert sigs[1] != sigs[2]          # trailing repeat distinguishes
    assert sigs[4] != sigs[5]          # [a] vs [a,a]


def _adapter_families():
    """family -> (text entry point, tokens kernel); each takes the text
    frame or its ``tokenize_word_hashes`` frame and returns comparable
    Python values."""
    from python_hll_spark.operators import dedup, dsir

    def lr(toks):
        return dsir.dsir_logratio(
            dsir.bucket_counts_tokens(toks.where("doc_id % 3 = 0"),
                                      buckets=64),
            dsir.bucket_counts_tokens(toks, buckets=64), buckets=64)

    def by_id(df, col):
        return {r["doc_id"]: (tuple(r[col]) if isinstance(r[col], list)
                              else r[col]) for r in df.collect()}

    def counts(df):
        return {r["bucket"]: r["cnt"] for r in df.collect()}

    def weights(df):
        return {r["doc_id"]: (r["n_features"], r["dsir_weight"])
                for r in df.collect()}

    def kept(df):
        return sorted(r["doc_id"] for r in df.collect())

    return {
        "minhash": (
            lambda df, t: by_id(dedup.minhash_signatures(
                df, num_hashes=32), "sig"),
            lambda df, t: by_id(dedup.minhash_signatures_tokens(
                t, num_hashes=32), "sig")),
        "simhash": (
            lambda df, t: by_id(dedup.simhash_signatures(df), "simhash"),
            lambda df, t: by_id(dedup._simhash_kernel(
                t, "tokens", "doc_id"), "simhash")),
        "bucket_counts": (
            lambda df, t: counts(dsir.bucket_counts(df, buckets=64)),
            lambda df, t: counts(dsir.bucket_counts_tokens(
                t, buckets=64))),
        "dsir_weights": (
            lambda df, t: weights(dsir.dsir_weights(
                df, lr(t), buckets=64)),
            lambda df, t: weights(dsir.dsir_weights_tokens(
                t, lr(t), buckets=64))),
        "near_dedup": (
            lambda df, t: kept(dedup.near_dedup(
                df, threshold=0.5, num_hashes=32, bands=8)),
            lambda df, t: kept(dedup.near_dedup_tokens(
                t, threshold=0.5, num_hashes=32, bands=8))),
    }


@pytest.mark.parametrize("family", ["minhash", "simhash", "bucket_counts",
                                    "dsir_weights", "near_dedup"])
def test_text_entry_points_are_tokenizer_adapters(spark, family):
    """Each text entry point equals its tokens kernel over
    ``tokenize_word_hashes`` of the same docs — byte-identical signatures
    and counts, ``==`` weights, the same kept ids — including empty,
    whitespace-only, single-word and mixed-case docs.

    The bucket_counts and dsir_weights cases check behaviour: the text DSIR
    path used to hash word strings.  The other three pin the adapter shape,
    so a second text-only path cannot come back unnoticed."""
    from python_hll_spark.operators.dedup import tokenize_word_hashes

    rng = np.random.default_rng(9)
    vocab = [f"w{i}" for i in range(60)]
    base = "the quick brown fox jumps over the lazy dog by the river bank"
    rows = [(i, " ".join(rng.choice(vocab, size=int(rng.integers(1, 30)))))
            for i in range(30)]
    rows += [(100, base), (101, base.upper()), (102, base + " today"),
             (103, "The QUICK Brown fox jumps over the lazy dog"),
             (104, ""), (105, " \t\n "), (106, "single"), (107, "SINGLE")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = tokenize_word_hashes(df)
    text_fn, tokens_fn = _adapter_families()[family]
    got, want = text_fn(df, toks), tokens_fn(df, toks)
    assert got == want
    assert got  # a vacuous match would prove nothing


def _train_input(df, monkeypatch):
    """The frame ``classifier_train`` hands its token trainer."""
    from python_hll_spark.functions import classifier

    seen = []
    real = classifier.classifier_train_tokens

    def spy(frame, *a, **kw):
        seen.append(frame)
        return real(frame, *a, **kw)

    monkeypatch.setattr(classifier, "classifier_train_tokens", spy)
    classifier.classifier_train(df, "y", n_buckets=1 << 8, iters=1)
    return seen[0]


@pytest.mark.parametrize("adapter", [
    "minhash_signatures", "simhash_signatures", "classifier_scores",
    "classifier_train", "bucket_counts", "dsir_weights"])
def test_text_adapters_cross_into_python_once(spark, adapter, monkeypatch):
    """Each text adapter runs the tokenizer and its tokens kernel in ONE
    ``MapInArrow``: the word-hash lists never go back to the JVM between
    them.  ``classifier_train`` carries the label through the tokenizer,
    so its training input has no join back to the docs either."""
    from python_hll_spark.functions.classifier import classifier_scores
    from python_hll_spark.operators import dedup, dsir

    df = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} shared words here", float(i % 2))
         for i in range(40)], "doc_id long, text string, y double")
    def lr():
        return dsir.dsir_logratio(
            dsir.bucket_counts(df.where("doc_id % 3 = 0"), buckets=64),
            dsir.bucket_counts(df, buckets=64), buckets=64)

    frames = {
        "minhash_signatures": lambda: dedup.minhash_signatures(
            df, num_hashes=32),
        "simhash_signatures": lambda: dedup.simhash_signatures(df),
        "classifier_scores": lambda: classifier_scores(df,
                                                       n_buckets=1 << 8),
        "classifier_train": lambda: _train_input(df, monkeypatch),
        "bucket_counts": lambda: dsir.bucket_counts(df, buckets=64),
        "dsir_weights": lambda: dsir.dsir_weights(df, lr(), buckets=64),
    }
    out = frames[adapter]()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "Join" not in plan
    assert out.count() > 0

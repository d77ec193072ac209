"""Hashed n-gram linear quality classifier — the fastText-style "model
score" stage of an LLM data pipeline (GPT-3/LLaMA-era pipelines filter
web text with exactly this shape of model: hashed uni+bigram features ->
mean pooling -> linear layer -> sigmoid).

The Spark-side plumbing is the real deliverable: ONE shuffle-free
``mapInArrow`` pass over pre-hashed tokens, numpy-vectorized feature
hashing and weight gather, weights either regenerated per task from a
seed (default: deterministic synthetic weights, no broadcast traffic at
all) or supplied as a real trained vector (closure-captured -> Spark
broadcasts it once per executor; a 2^18-bucket float32 model is 1 MiB).
Swap ``weights``/``bias`` for fastText-derived values to run a real
model — the kernel does not change.

Scale shape: linear single scan, zero shuffle, zero per-row Python;
composes with ``operators.sampling.group_topk`` / ``web.domain_cap`` as
the quality key for score-ranked retention.

Training lives here too (``classifier_train[_tokens]``): distributed
full-batch logistic regression where each iteration is ONE mergeable
aggregation — per-partition dense gradient partials (the library's
sketch-partial shape) summed on the driver, Adam step, and the updated
1 MiB float32 model rides the next iteration's task closure.  The
gradient kernel shares the serve-time forward pass, so train and serve
features are byte-identical; ``save_model``/``load_model`` are the
spark-submit handoff (train-classifier CLI -> prepare-corpus
--model-weights).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from python_hll_spark.operators.aggregate import (append_columns,
                                                  list_flat_offsets)
from python_hll_spark.operators.dedup import map_word_hashes, word_hash_list

_PHI64 = np.uint64(0x9E3779B97F4A7C15)
#: gradient partials are int64 fixed point at this scale, so they sum
#: exactly in any partition layout (a doc's coefficients sum to at most 1,
#: so int64 holds the sums of up to 2^33 docs)
_GRAD_SCALE = float(1 << 30)


def synthetic_weights(n_buckets: int, seed: int = 7) -> np.ndarray:
    """Deterministic stand-in weight vector (swap for a trained model)."""
    rng = np.random.default_rng(seed)
    return (rng.standard_normal(n_buckets) * 0.5).astype(np.float32)


def _score_segments(flat: np.ndarray, offs: np.ndarray, w: np.ndarray,
                    nb: np.uint64, bias: float, bigrams: bool) -> np.ndarray:
    """Per-document sigmoid scores from a flat uint64 token-hash buffer +
    int64 doc offsets (the Arrow list layout).  Shared by the (id, score)
    kernel and the column-appending passthrough kernel."""
    n_docs = len(offs) - 1
    lens = offs[1:] - offs[:-1]
    contrib = w[(flat % nb).astype(np.int64)].astype(np.float64)
    # prefix-sum segment reduction (reduceat mishandles empty segments)
    csum = np.concatenate([[0.0], np.cumsum(contrib)])
    uni_sum = csum[offs[1:]] - csum[offs[:-1]]
    tot_sum, tot_n = uni_sum, lens.astype(np.float64)
    if bigrams and len(flat) > 1:
        # adjacent-pair mix; pairs crossing doc boundaries are masked out
        # via the per-doc last position
        big = (flat[:-1] * _PHI64) ^ flat[1:]
        bcontrib = w[(big % nb).astype(np.int64)].astype(np.float64)
        last = offs[1:] - 1              # last token index per doc
        valid = np.ones(len(flat) - 1, dtype=bool)
        valid[last[(last >= 0) & (last < len(flat) - 1)]] = False
        bcontrib = np.where(valid, bcontrib, 0.0)
        bcsum = np.concatenate([[0.0], np.cumsum(bcontrib)])
        # clamp BOTH ends into bcsum's index range: a trailing empty doc
        # has s == offs[-1] == len(flat), one past bcsum's last slot
        cap = len(flat) - 1
        s = np.minimum(offs[:-1], cap)
        e = np.maximum(np.minimum(offs[1:] - 1, cap), s)
        tot_sum = tot_sum + (bcsum[e] - bcsum[s])
        tot_n = tot_n + np.maximum(lens - 1, 0).astype(np.float64)
    mean = np.divide(tot_sum, tot_n, out=np.zeros(n_docs), where=tot_n > 0)
    return 1.0 / (1.0 + np.exp(-(bias + mean)))


def classifier_scores_tokens(df: DataFrame, tokens_col: str = "tokens",
                             id_col: str = "doc_id",
                             n_buckets: int = 1 << 18, seed: int = 7,
                             bias: float = 0.0,
                             weights: np.ndarray | None = None,
                             bigrams: bool = True) -> DataFrame:
    """(id, score double): sigmoid(bias + mean(w[feature buckets])) per
    document over hashed unigram (+ adjacent-bigram) features of a
    pre-hashed ``tokens array<bigint>`` column.  Empty/null token lists
    score sigmoid(bias) — rank-neutral, never dropped here (length
    filtering is a separate, explicit stage)."""
    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, tokens_col).mapInArrow(
        _score_gen(tokens_col, id_col, n_buckets, seed, bias, weights,
                   bigrams),
        schema=f"`{id_col}` {id_type}, score double")


def _token_scorer(n_buckets: int, seed: int, bias: float,
                  weights: np.ndarray | None, bigrams: bool):
    """Per-task setup of the scoring kernel: the weight vector (from the
    seed when no trained vector is supplied: cheap, keeps the closure tiny)
    and ``score(token-hash list array) -> float64 pa.Array``."""
    import pyarrow as pa

    w = np.asarray(weights if weights is not None
                   else synthetic_weights(n_buckets, seed), dtype=np.float32)
    nb = np.uint64(n_buckets)

    def score(toks):
        flat, offs = list_flat_offsets(toks, np.uint64)
        return pa.array(_score_segments(flat, offs, w, nb, bias, bigrams),
                        pa.float64())
    return score


def _score_gen(tokens_col: str, id_col: str, *model):
    """The scoring kernel's generator: (id, tokens) batches in, (id,
    score) batches out; ``model`` is ``_token_scorer``'s arguments."""
    def gen(batches):
        import pyarrow as pa

        score = _token_scorer(*model)
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), score(batch.column(tokens_col))],
                names=[id_col, "score"])
    return gen


def score_column(text_col: str, *model) -> tuple:
    """``("score", "double", make)``: the classifier score of raw text as
    an ``aggregate.append_columns`` spec — per task the scoring kernel is
    set up once (``model`` is ``_token_scorer``'s arguments), and each
    batch's text goes through the tokenizer (``dedup.word_hash_list``)."""
    def make():
        score = _token_scorer(*model)
        return lambda batch: score(word_hash_list(batch.column(text_col)))
    return "score", "double", make


def with_classifier_score(df: DataFrame, text_col: str = "text",
                          n_buckets: int = 1 << 18, seed: int = 7,
                          bias: float = 0.0,
                          weights: np.ndarray | None = None,
                          bigrams: bool = True) -> DataFrame:
    """ALL original columns + ``score`` double, in ONE passthrough
    mapInArrow (``aggregate.append_columns`` with ``score_column``) — the
    filter-stage shape: no (id, score) join back against the payload, no
    shuffle at all; ``df.where(F.col("score") >= t)`` composes directly.
    Scores are identical to ``classifier_scores`` (same tokenizer and
    kernel)."""
    return append_columns(df, [score_column(text_col, n_buckets, seed, bias,
                                            weights, bigrams)])


def classifier_scores(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_buckets: int = 1 << 18,
                      seed: int = 7, bias: float = 0.0,
                      weights: np.ndarray | None = None,
                      bigrams: bool = True) -> DataFrame:
    """(id, score) from raw text: the shared Arrow tokenizer and the
    token-hash kernel of ``classifier_scores_tokens`` in one
    ``dedup.map_word_hashes`` pass."""
    return map_word_hashes(
        df, _score_gen("tokens", id_col, n_buckets, seed, bias, weights,
                       bigrams), "score double", text_col, [id_col])


# --------------------------------------------------------------- training
def _grad_segments(flat: np.ndarray, offs: np.ndarray, y: np.ndarray,
                   w: np.ndarray, nb: np.uint64, bias: float,
                   bigrams: bool):
    """One Arrow batch's contribution to the FULL-BATCH logistic-loss
    gradient: (grad_w int64[nb], grad_b int, n_docs, sum_logloss), the
    two gradients in ``_GRAD_SCALE`` fixed point.

    Forward pass is the scoring kernel itself (``_score_segments``), so
    train-time and serve-time features are identical by construction.
    Backward is one ``np.add.at`` scatter per feature tier with per-doc
    coefficient (sigmoid(z_i) - y_i) / n_features_i — the mean-pooling
    jacobian."""
    score = _score_segments(flat, offs, w, nb, bias, bigrams)
    n_docs = len(offs) - 1
    lens = offs[1:] - offs[:-1]
    tot_n = lens.astype(np.float64)
    if bigrams and len(flat) > 1:     # same divisor the forward pass used
        tot_n = tot_n + np.maximum(lens - 1, 0)
    err = score - y
    coef = np.divide(err, tot_n, out=np.zeros(n_docs), where=tot_n > 0)
    coef = np.rint(coef * _GRAD_SCALE).astype(np.int64)
    doc_tok = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    gw = np.zeros(int(nb), dtype=np.int64)
    np.add.at(gw, (flat % nb).astype(np.int64), coef[doc_tok])
    if bigrams and len(flat) > 1:
        big = (((flat[:-1] * _PHI64) ^ flat[1:]) % nb).astype(np.int64)
        last = offs[1:] - 1
        valid = np.ones(len(flat) - 1, dtype=bool)
        valid[last[(last >= 0) & (last < len(flat) - 1)]] = False
        # a valid pair (j, j+1) lies inside one doc -> doc of token j
        np.add.at(gw, big[valid], coef[doc_tok[:-1]][valid])
    eps = 1e-12
    loss = -(y * np.log(score + eps)
             + (1.0 - y) * np.log(1.0 - score + eps)).sum()
    gb = int(np.rint(err * _GRAD_SCALE).astype(np.int64).sum())
    return gw, gb, n_docs, float(loss)


def classifier_train_tokens(df: DataFrame, label_col: str,
                            tokens_col: str = "tokens",
                            n_buckets: int = 1 << 18, iters: int = 20,
                            lr: float = 0.5, l2: float = 1e-6,
                            bigrams: bool = True) -> dict:
    """Train the hashed uni+bigram logistic model DISTRIBUTED — the
    "train a quality classifier on labeled docs" step of CCNet/GPT-3
    style pipelines, expressed in this library's one idiom: every
    iteration is ONE mergeable aggregation.  Each partition emits a
    dense int64 fixed-point gradient partial (``n_buckets`` slots, 2 MB
    at 2^18 —
    the same shape discipline as a sketch partial), partials sum on the
    driver, and an Adam step updates the weights; the next iteration's
    task closure carries the new 1 MB float32 vector.

    Full-batch gradient (not SGD): deterministic given the input and
    ``iters``/``lr``.  The gradient partials sum exactly (fixed point,
    ``_GRAD_SCALE``), so the partition layout leaves only the forward
    pass's float rounding, which the tests bound.
    The input frame is persisted for the duration (``iters`` scans).

    Returns ``{"weights": float32[n_buckets], "bias": float,
    "history": [mean logloss per iteration]}``; feed ``weights``/
    ``bias`` straight into ``classifier_scores*`` /
    ``with_classifier_score`` / ``prepare_corpus(min_model_score=...)``
    — train-time features are byte-identical to serve-time (shared
    kernel)."""
    import pyarrow as pa

    if iters < 1:
        raise ValueError(f"classifier_train: iters must be >= 1, got {iters}")
    nb = np.uint64(n_buckets)
    pruned = df.select(tokens_col, label_col).persist()
    try:
        w = np.zeros(n_buckets, dtype=np.float32)
        b = 0.0
        # Adam state (driver-side; the model is vocabulary-sized)
        mw = np.zeros(n_buckets); vw = np.zeros(n_buckets)
        mb = vb = 0.0
        b1, b2, eps = 0.9, 0.999, 1e-8
        history = []
        for t in range(1, iters + 1):
            w_cur, b_cur = w, b

            def part(batches):
                from pyspark import TaskContext
                gw = np.zeros(n_buckets, dtype=np.int64)
                gb = 0
                n = 0
                loss = 0.0
                for batch in batches:
                    flat, offs = list_flat_offsets(batch.column(0),
                                                   np.uint64)
                    y = batch.column(1).to_numpy(zero_copy_only=False) \
                        .astype(np.float64, copy=False)
                    pgw, pgb, pn, pl = _grad_segments(
                        flat, offs, y, w_cur, nb, b_cur, bigrams)
                    gw += pgw
                    gb += pgb
                    n += pn
                    loss += pl
                if n == 0:
                    return
                pid = TaskContext.get().partitionId()
                yield pa.RecordBatch.from_arrays(
                    [pa.array([pid % 16], pa.int32()),
                     pa.array([gw.tobytes()], pa.binary()),
                     pa.array([gb], pa.int64()),
                     pa.array([n], pa.int64()),
                     pa.array([loss], pa.float64())],
                    names=["salt", "gw", "gb", "n", "loss"])

            def merge_partials(pdf):
                import pandas as pd
                acc = np.zeros(n_buckets, dtype=np.int64)
                for blob in pdf["gw"]:
                    acc += np.frombuffer(blob, dtype=np.int64)
                return pd.DataFrame({
                    "gw": [acc.tobytes()],
                    "gb": [pdf["gb"].sum()],
                    "n": [pdf["n"].sum()],
                    "loss": [pdf["loss"].sum()]})

            # two-level salted tree merge (the library's sketch-merge
            # idiom): per-partition 2 MB partials fan in executor-side to
            # <= 16 rows, so the driver pulls MBs regardless of the input
            # partition count, over the Arrow collect path instead of
            # pickled rows
            parts = (pruned.mapInArrow(
                part,
                schema="salt int, gw binary, gb bigint, n bigint, "
                       "loss double")
                .groupBy("salt")
                .applyInPandas(merge_partials,
                               schema="gw binary, gb bigint, n bigint, "
                                      "loss double")
                .toPandas())
            if len(parts) == 0:
                raise ValueError("classifier_train: empty input frame")
            gw = np.zeros(n_buckets, dtype=np.int64)
            gb = int(parts["gb"].sum()) / _GRAD_SCALE
            n = int(parts["n"].sum())
            loss = float(parts["loss"].sum())
            for blob in parts["gw"]:
                gw += np.frombuffer(blob, dtype=np.int64)
            gw = gw / _GRAD_SCALE / n + l2 * w.astype(np.float64)
            gb = gb / n
            history.append(loss / n)
            # Adam
            mw = b1 * mw + (1 - b1) * gw
            vw = b2 * vw + (1 - b2) * gw * gw
            mb = b1 * mb + (1 - b1) * gb
            vb = b2 * vb + (1 - b2) * gb * gb
            c1, c2 = 1 - b1 ** t, 1 - b2 ** t
            w = (w - lr * (mw / c1) / (np.sqrt(vw / c2) + eps)) \
                .astype(np.float32)
            b = float(b - lr * (mb / c1) / (np.sqrt(vb / c2) + eps))
        return {"weights": w, "bias": b, "history": history}
    finally:
        pruned.unpersist()


def classifier_train(df: DataFrame, label_col: str, text_col: str = "text",
                     **kw) -> dict:
    """Train from raw text: the shared Arrow tokenizer
    (``dedup.map_word_hashes`` — the exact serve-time tokenizer) passes
    ``label_col`` through beside each doc's tokens, in one pass with no
    join back to ``df``, and feeds the token-hash trainer."""
    toks = map_word_hashes(df, lambda batches: batches,
                           "tokens array<bigint>", text_col, [label_col])
    return classifier_train_tokens(toks, label_col, **kw)


def save_model(spark, model: dict, path: str, n_buckets: int,
               bigrams: bool = True) -> None:
    """Persist a trained model as a one-row parquet (weights
    array<float>, bias, n_buckets, bigrams) — the spark-submit handoff
    between ``train-classifier`` and ``prepare-corpus
    --model-weights``."""
    row = [(model["weights"].astype(float).tolist(), float(model["bias"]),
            int(n_buckets), bool(bigrams),
            [float(x) for x in model.get("history", [])])]
    spark.createDataFrame(
        row, "weights array<float>, bias double, n_buckets int, "
             "bigrams boolean, history array<double>") \
        .coalesce(1).write.mode("overwrite").parquet(path)


def load_model(spark, path: str) -> dict:
    """Inverse of ``save_model``: {"weights", "bias", "n_buckets",
    "bigrams", "history"} with weights as float32 ndarray."""
    r = spark.read.parquet(path).collect()[0]
    return {"weights": np.asarray(r["weights"], dtype=np.float32),
            "bias": float(r["bias"]), "n_buckets": int(r["n_buckets"]),
            "bigrams": bool(r["bigrams"]),
            "history": list(r["history"] or [])}

"""Eval-set decontamination: remove training docs that leak evaluation
content — the step every serious LLM data pipeline runs before training.

Two tiers, both train-vs-eval (never a self-join):

- exact: eval normalized-content fingerprints are tiny (eval sets are
  thousands of docs, not billions) — collect + broadcast a semi-join
  filter, so the train scan stays a single pass with a broadcast probe.
- near: MinHash signatures on BOTH sides, banded LSH keys joined
  train x eval (broadcast the eval bands), estimated Jaccard filtered at
  ``threshold``.  Train-side work is the same signature pass dedup
  already does; the eval side is negligible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_hll_spark.functions.text import doc_fingerprint


def contamination_exact(train: DataFrame, eval_df: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Train rows whose normalized content exactly matches ANY eval doc.
    Returns the contaminated train rows (all original columns)."""
    fp = doc_fingerprint(F.col(text_col))
    eval_fps = eval_df.select(fp.alias("__fp")).distinct()
    return (train.withColumn("__fp", fp)
            .join(F.broadcast(eval_fps), "__fp", "left_semi")
            .drop("__fp"))


def decontaminate_exact(train: DataFrame, eval_df: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Train rows with exact eval matches REMOVED (broadcast anti-join)."""
    fp = doc_fingerprint(F.col(text_col))
    eval_fps = eval_df.select(fp.alias("__fp")).distinct()
    return (train.withColumn("__fp", fp)
            .join(F.broadcast(eval_fps), "__fp", "left_anti")
            .drop("__fp"))


def contamination_near(train: DataFrame, eval_df: DataFrame,
                       threshold: float = 0.8, num_hashes: int = 64,
                       bands: int = 16, n: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(train id, eval id, est_jaccard) pairs above ``threshold`` — the
    near-duplicate contamination report.  Bands the eval side (tiny) and
    broadcast-joins it against the train bands."""
    from python_hll_spark.operators.dedup import (
        _band_keys_frame, _est_jaccard, minhash_signatures)

    t_sigs = minhash_signatures(train, text_col, n, num_hashes, id_col)
    e_sigs = minhash_signatures(eval_df, text_col, n, num_hashes, id_col)
    t_bands = _band_keys_frame(t_sigs, bands, id_col).alias("t")
    e_bands = _band_keys_frame(e_sigs, bands, id_col).alias("e")
    cand = (t_bands.join(F.broadcast(e_bands), ["band", "band_key"])
            .select(F.col(f"t.{id_col}").alias("train_id"),
                    F.col(f"e.{id_col}").alias("eval_id"))
            .distinct())
    t_s = t_sigs.select(F.col(id_col).alias("train_id"),
                        F.col("sig").alias("t_sig"))
    e_s = e_sigs.select(F.col(id_col).alias("eval_id"),
                        F.col("sig").alias("e_sig"))
    scored = (cand.join(t_s, "train_id").join(F.broadcast(e_s), "eval_id")
              .withColumn("est_jaccard",
                          F.round(_est_jaccard("t_sig", "e_sig"), 6)))
    return (scored.where(F.col("est_jaccard") >= threshold)
            .select("train_id", "eval_id", "est_jaccard"))


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  threshold: float = 0.8, num_hashes: int = 64,
                  bands: int = 16, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Full decontamination: drop exact matches, then near-duplicates of
    eval docs at ``threshold`` estimated Jaccard."""
    clean = decontaminate_exact(train, eval_df, text_col, id_col)
    near = contamination_near(clean, eval_df, threshold, num_hashes,
                              bands, n, text_col, id_col) \
        .select(F.col("train_id").alias(id_col)).distinct()
    return clean.join(F.broadcast(near), id_col, "left_anti")


def contamination_ngrams(train: DataFrame, eval_df: DataFrame, n: int = 13,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """GPT-3/PaLM-style n-gram collision decontamination: a train doc is
    contaminated when ANY of its word ``n``-grams also occurs in the eval
    set (the published method uses 13-grams).  Deterministic — unlike the
    LSH tier there is no hash-seeded banding, so results are exactly
    SQL-mirrorable.

    Returns (id, n_grams, n_hit_grams) for every train doc with at least
    one colliding window.

    100-TB shape: n-grams travel as 8-byte xxhash64 keys.  The eval gram
    set is eval-sized (thousands of docs), so it broadcast-joins against
    the exploded train grams — the train corpus is scanned once and never
    shuffled; the only exchange groups (id, hit) pairs for the per-doc
    count, and only HITS reach it.
    """
    from python_hll_spark.functions.text import _norm_word_array

    def gram_hashes(col):
        words = _norm_word_array(col)
        idx = F.when(F.size(words) >= n,
                     F.sequence(F.lit(1), F.size(words) - n + 1)) \
            .otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.xxhash64(
            F.concat_ws(" ", F.slice(words, i, n))))

    eval_grams = (eval_df
                  .select(F.explode(gram_hashes(F.col(text_col)))
                          .alias("__h"))
                  .distinct())
    t = train.select(F.col(id_col),
                     gram_hashes(F.col(text_col)).alias("__g"))
    hits = (t.select(id_col, F.size("__g").alias("n_grams"),
                     F.explode(F.array_distinct("__g")).alias("__h"))
            .join(F.broadcast(eval_grams), "__h")
            .groupBy(id_col, "n_grams")
            .agg(F.count("*").alias("n_hit_grams")))
    return hits


def decontaminate_ngrams(train: DataFrame, eval_df: DataFrame, n: int = 13,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Train rows sharing NO word n-gram with the eval set (broadcast
    anti-join against the collision report's ids)."""
    bad = contamination_ngrams(train, eval_df, n, text_col, id_col) \
        .select(id_col)
    return train.join(F.broadcast(bad), id_col, "left_anti")


def decontaminate_spans_tokens(train: DataFrame, eval_df: DataFrame,
                               k: int = 13, tokens_col: str = "tokens",
                               id_col: str = "doc_id",
                               eval_tokens_col: str | None = None,
                               keep_spans: bool = False,
                               drop_if_removed_frac_ge: float | None = None,
                               ) -> DataFrame:
    """Span-granularity decontamination on the pre-tokenized table: cut
    every k-token window of a TRAIN doc whose content also occurs in the
    eval set, instead of dropping the whole doc.  This is the surgical
    tier between ``decontaminate_ngrams`` (drops any doc with one
    colliding 13-gram — loses the doc's unique prose) and doing nothing:
    a long document quoting one benchmark question keeps everything but
    the quoted span.  Overlapping/adjacent hit windows merge into maximal
    spans first (same gaps-and-islands contract as
    ``dedup_spans_tokens``), so ``n_tokens_removed`` counts each position
    once.  Deterministic — no hash-seeded banding — hence exactly
    SQL-mirrorable.

    Returns ``train`` with ``tokens_col`` rewritten plus
    ``n_contam_windows`` / ``n_contam_spans`` / ``n_tokens_removed`` and,
    with ``keep_spans``, the merged 1-based inclusive ``contam_spans``.
    With ``drop_if_removed_frac_ge`` set, docs whose removed-token
    fraction reaches the threshold are dropped entirely (a doc that is
    MOSTLY eval content is itself a leak; the standard practice is to
    cut spans but drop wholesale copies).

    100-TB shape: windows travel as 8-byte xxhash64 keys computed in one
    JVM pass per doc BEFORE the explode (`_window_hash_starts`); the eval
    window set is eval-sized (thousands of docs) so it broadcast-joins
    against the exploded train windows — the train corpus is scanned
    once and never shuffled; only HITS reach the per-doc grouping, and
    span merge + token rewrite are pure JVM higher-order functions.
    """
    from python_hll_spark.operators.dedup import (_remove_spans,
                                                  _window_hash_starts)

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    eval_wins = (_window_hash_starts(
        eval_df, k, eval_tokens_col or tokens_col, id_col)
        .select("__h").distinct())
    wins = _window_hash_starts(train, k, tokens_col, id_col)
    hits = (wins.join(F.broadcast(eval_wins), "__h")
            .select(id_col, "start"))
    out = _remove_spans(train, hits, k, tokens_col, id_col, keep_spans,
                        ("n_contam_windows", "n_contam_spans",
                         "n_tokens_removed", "contam_spans"))
    if drop_if_removed_frac_ge is not None:
        n_before = (F.size(tokens_col) +
                    F.col("n_tokens_removed")).cast("double")
        out = out.where(
            (n_before == 0) |
            (F.col("n_tokens_removed") / n_before <
             F.lit(float(drop_if_removed_frac_ge))))
    return out


def contamination_spans_tokens(train: DataFrame, eval_df: DataFrame,
                               k: int = 13, tokens_col: str = "tokens",
                               id_col: str = "doc_id",
                               eval_tokens_col: str | None = None,
                               ) -> DataFrame:
    """Per-doc contamination report for the span tier: (id,
    n_contam_windows, n_contam_spans, n_tokens_removed, contam_spans)
    for every train doc carrying at least one eval k-window — the audit
    view of ``decontaminate_spans_tokens`` (same hits, same span merge,
    no rewrite of the corpus)."""
    rep = decontaminate_spans_tokens(train, eval_df, k, tokens_col,
                                     id_col, eval_tokens_col,
                                     keep_spans=True)
    return (rep.where(F.col("n_contam_windows") > 0)
            .select(id_col, "n_contam_windows", "n_contam_spans",
                    "n_tokens_removed", "contam_spans"))

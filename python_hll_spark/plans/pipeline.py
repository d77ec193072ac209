"""End-to-end training-corpus preparation: the composition the individual
operators exist for.

    prepare_corpus(df) =
        text stats / language-ID / quality scoring     (pure JVM functions)
        -> quality + language filters                  (Catalyst predicates)
        -> exact dedup (content-hash groupBy)
        -> near-dup removal (MinHash-LSH -> connected components)
        + per-stage metrics and a final sketch profile of what survived

Every stage is the already-tested operator; this module only sequences them
and accounts rows, so the 100TB properties (pruned scans, no raw shuffles
in sketch stages, bounded LSH joins) carry over unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_hll_spark.functions.classifier import score_column
from python_hll_spark.functions.text import entropy_column, with_text_stats
from python_hll_spark.operators.aggregate import append_columns
from python_hll_spark.operators.dedup import near_dedup


@dataclass
class CorpusFilterConfig:
    min_quality: float = 0.3
    min_words: int = 5
    max_words: int = 100_000
    allowed_langs: tuple = ("en", "de", "fr", "es", "und")
    near_dup_threshold: float = 0.9
    minhash_hashes: int = 64
    minhash_bands: int = 16
    run_near_dedup: bool = True
    # optional modern-recipe stages (all default OFF; enabling them does
    # not change any other stage's behavior)
    redact_pii: bool = False          # scrub emails/urls/phones FIRST
    mixture_weights: dict | None = None  # final per-source rebalance
    mixture_by: str = "source"
    # web curation (needs url_col): blocklist + URL dedup run BEFORE the
    # observed stats scan (so rows_in counts their survivors); the
    # per-domain cap runs after quality filtering, ranked by the computed
    # quality column
    url_col: str | None = None
    blocked_domains: tuple = ()
    dedup_by_url: bool = False
    domain_cap_n: int | None = None
    # model-score filter (fastText-shape hashed n-gram classifier):
    # applied after the heuristic quality filter, before exact dedup.
    # None disables; weights/seed/buckets configure the model
    min_model_score: float | None = None
    model_weights: object = None      # np.ndarray of a trained model
    model_bias: float = 0.0           # trained intercept (classifier_train)
    model_bigrams: bool = True        # must match the model's training
    model_buckets: int = 1 << 18
    model_seed: int = 7
    # byte-entropy gate (CCNet-style garbage/binary detector): keep docs
    # with min_entropy <= H(bytes) <= max_entropy.  English web text sits
    # ~3.6-4.6 bits; repeated filler reads near 0, binary junk near 8.
    # None on either side leaves that side open
    min_entropy: float | None = None
    max_entropy: float | None = None
    # duplicated-line removal (CCNet/RefinedWeb): rewrites text_col BEFORE
    # the stats scan so quality is scored on the de-chromed text.  Runs on
    # the train side only — eval decontamination's near tier absorbs the
    # resulting eval-vs-train drift
    line_dedup_min_docs: int | None = None
    # substring-level dedup (Lee et al. 2021, word granularity): strips
    # cross-doc-duplicated n-gram spans after line dedup; NOTE the rebuilt
    # text is the normalized word stream (lowercased, space-joined)
    strip_spans_min_docs: int | None = None
    strip_spans_n: int = 5
    # Gopher-style rule gate ANDed into the same observed filter scan as
    # the heuristic quality predicate (zero extra passes)
    gopher_rules: bool = False
    # extra n-gram collision decontamination tier (GPT-3 13-gram method;
    # needs eval_df).  None disables
    decontaminate_ngram_n: int | None = None
    # span-granularity eval decontamination — the surgical ALTERNATIVE to
    # decontaminate_ngram_n: cut the eval-overlapping k-word windows out
    # of surviving docs (merged to maximal spans) instead of dropping the
    # whole doc; docs losing >= decontam_spans_drop_frac of their words
    # are dropped wholesale (a doc that is mostly eval content is itself
    # a leak).  Needs eval_df.  NOTE: like strip_spans, a rewritten doc
    # carries the normalized word stream (lowercased, space-joined)
    decontam_spans_k: int | None = None
    decontam_spans_drop_frac: float = 0.5
    # CCNet perplexity filter: score the exact-deduped corpus with the
    # corpus-self interpolated bigram LM, tercile it head/middle/tail,
    # drop the tail (dedup runs FIRST so boilerplate repeats don't skew
    # the LM).  Unscored docs (< 2 words) drop with the tail
    ppl_drop_tail: bool = False


def prepare_corpus(df: DataFrame, cfg: CorpusFilterConfig | None = None,
                   text_col: str = "text", id_col: str = "doc_id",
                   eval_df: DataFrame | None = None):
    """Returns (clean_df, metrics dict).  clean_df keeps the original
    columns plus the computed quality/lang columns.

    Full modern recipe when all stages are enabled:
        domain blocklist -> URL dedup -> PII redaction -> line dedup
        -> duplicated-span strip -> stats/filters (+ Gopher rule gate,
           same scan)
        -> model-score filter (adds a ``score`` column)
        -> per-domain cap -> exact dedup -> near-dup removal
        -> eval-set decontamination (pass ``eval_df``; exact + LSH near
           + optional n-gram collision tier OR span-surgery tier)
        -> mixture rebalance
    """
    cfg = cfg or CorpusFilterConfig()

    if cfg.url_col:
        from python_hll_spark.functions.web import (blocklist_filter,
                                                    url_dedup)
        if cfg.blocked_domains:
            df = blocklist_filter(df, list(cfg.blocked_domains),
                                  url_col=cfg.url_col)
        if cfg.dedup_by_url:
            df = url_dedup(df, url_col=cfg.url_col, id_col=id_col)

    if cfg.redact_pii:
        from python_hll_spark.functions.text import redact_pii
        df = df.withColumn(text_col, redact_pii(F.col(text_col)))
        if eval_df is not None:
            # decontamination compares CONTENT: the eval side must carry
            # the same normalization or PII-bearing leaks slip the exact tier
            eval_df = eval_df.withColumn(text_col,
                                         redact_pii(F.col(text_col)))

    line_caches: list = []
    if cfg.line_dedup_min_docs:
        from python_hll_spark.functions.text import line_dedup
        df = (line_dedup(df, cfg.line_dedup_min_docs, text_col=text_col,
                         id_col=id_col, cache_out=line_caches)
              .withColumn(text_col, F.col("clean_text"))
              .drop("clean_text", "n_lines", "n_removed"))

    if cfg.strip_spans_min_docs:
        from python_hll_spark.functions.text import strip_common_ngrams
        df = (strip_common_ngrams(df, n=cfg.strip_spans_n,
                                  min_docs=cfg.strip_spans_min_docs,
                                  text_col=text_col, id_col=id_col,
                                  cache_out=line_caches)
              .withColumn(text_col, F.col("clean_text"))
              .drop("clean_text", "n_words", "n_covered_words"))

    # Single-scan metrics: rows_in and rows_after_quality both come from ONE
    # pass over the scored frame (observe() metrics piggyback on the action
    # that materializes the persisted exact-dedup output), so the 100 TB
    # scan + regex stats run exactly once — not once per metric.
    from pyspark.sql import Observation

    scored = with_text_stats(df, text_col)
    keep_pred = ((F.col("quality") >= cfg.min_quality)
                 & (F.col("n_words") >= cfg.min_words)
                 & (F.col("n_words") <= cfg.max_words)
                 & (F.col("lang_pred").isin(*cfg.allowed_langs)))
    if cfg.gopher_rules:
        from python_hll_spark.functions.text import gopher_keep
        # same observed scan — the rule gate adds expressions, not passes
        keep_pred = keep_pred & gopher_keep(
            F.col(text_col), min_words=cfg.min_words,
            max_words=cfg.max_words)
    obs = Observation("corpus_in")
    observed = scored.observe(
        obs, F.count(F.lit(1)).alias("rows_in"),
        F.sum(keep_pred.cast("long")).alias("rows_after_quality"))
    filtered = observed.where(keep_pred)

    # the model score and the char entropy are appended in ONE passthrough
    # Arrow pass (every column, text included, crosses into Python once);
    # no join, no shuffle.  The model filter still runs first, so the
    # entropy filter counts only the rows it keeps.
    appended = []
    if cfg.min_model_score is not None:
        appended.append(score_column(
            text_col, cfg.model_buckets, cfg.model_seed, cfg.model_bias,
            cfg.model_weights, cfg.model_bigrams))
    with_entropy = cfg.min_entropy is not None or cfg.max_entropy is not None
    if with_entropy:
        appended.append(entropy_column(text_col))
    if appended:
        filtered = append_columns(filtered, appended)

    model_obs = None
    if cfg.min_model_score is not None:
        model_pred = F.col("score") >= cfg.min_model_score
        model_obs = Observation("model_filter")
        filtered = (filtered
                    .observe(model_obs,
                             F.sum(model_pred.cast("long"))
                             .alias("rows_after_model"))
                    .where(model_pred))

    entropy_obs = None
    if with_entropy:
        lo = cfg.min_entropy if cfg.min_entropy is not None else 0.0
        hi = cfg.max_entropy if cfg.max_entropy is not None else 8.0
        ent_pred = F.col("entropy").between(F.lit(float(lo)),
                                            F.lit(float(hi)))
        entropy_obs = Observation("entropy_filter")
        filtered = (filtered
                    .observe(entropy_obs,
                             F.sum(ent_pred.cast("long"))
                             .alias("rows_after_entropy"))
                    .where(ent_pred)
                    .drop("entropy"))

    if cfg.url_col and cfg.domain_cap_n:
        from python_hll_spark.functions.web import domain_cap
        # ranked by the heuristic quality column computed above (or the
        # model score when that stage ran)
        cap_key = "score" if cfg.min_model_score is not None else "quality"
        filtered = domain_cap(filtered, cfg.domain_cap_n,
                              url_col=cfg.url_col, quality_key=cap_key,
                              id_col=id_col).drop("domain")

    # exact dedup: keep min-id representative per fingerprint
    w_rank = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy(F.asc(id_col)))
    exact_unique = (filtered.withColumn("__rn", w_rank)
                    .where(F.col("__rn") == 1).drop("__rn")
                    .persist())
    metrics: dict = {"rows_after_exact_dedup": exact_unique.count()}
    # the exact-dedup cache is materialized; the line-hash projection
    # cache (if the line-dedup stage ran) is no longer reachable
    for c in line_caches:
        c.unpersist()
    metrics["rows_in"] = int(obs.get["rows_in"])
    metrics["rows_after_quality"] = int(obs.get["rows_after_quality"] or 0)
    if model_obs is not None:
        metrics["rows_after_model"] = int(
            model_obs.get["rows_after_model"] or 0)
    if entropy_obs is not None:
        metrics["rows_after_entropy"] = int(
            entropy_obs.get["rows_after_entropy"] or 0)

    if cfg.ppl_drop_tail:
        from python_hll_spark.functions.text import (bigram_logprob,
                                                     perplexity_partition)
        lm_caches: list = []
        # narrow (id, score) frame persisted so the KLL threshold pass and
        # the assignment pass don't each re-run the corpus-scale scoring
        scored_lm = bigram_logprob(exact_unique, text_col=text_col,
                                   id_col=id_col,
                                   cache_out=lm_caches).persist()
        keep_ids = (perplexity_partition(scored_lm)
                    .where(F.col("ppl_bucket") != "tail").select(id_col))
        kept = exact_unique.join(keep_ids, id_col, "left_semi").persist()
        metrics["rows_after_ppl_filter"] = kept.count()
        exact_unique.unpersist()
        scored_lm.unpersist()
        for c in lm_caches:
            c.unpersist()
        exact_unique = kept

    if cfg.run_near_dedup:
        clean = near_dedup(exact_unique, text_col=text_col, id_col=id_col,
                           threshold=cfg.near_dup_threshold,
                           num_hashes=cfg.minhash_hashes,
                           bands=cfg.minhash_bands).persist()
        metrics["rows_after_near_dedup"] = clean.count()
        # clean is materialized in its own cache; the heavier pre-near-dedup
        # cache can go.  Callers unpersist clean when they're done with it.
        exact_unique.unpersist()
    else:
        clean = exact_unique

    if eval_df is not None:
        from python_hll_spark.operators.decontaminate import decontaminate
        upstream = clean
        clean = decontaminate(clean, eval_df,
                              threshold=cfg.near_dup_threshold,
                              num_hashes=cfg.minhash_hashes,
                              bands=cfg.minhash_bands,
                              text_col=text_col, id_col=id_col).persist()
        # this count materializes the decontaminated cache, so the later
        # mixture counts and the caller's final write re-read it instead of
        # re-executing the decontamination LSH lineage; the upstream cache
        # is no longer reachable and can go
        metrics["rows_after_decontamination"] = clean.count()
        upstream.unpersist()

    if eval_df is not None and cfg.decontaminate_ngram_n:
        from python_hll_spark.operators.decontaminate import \
            decontaminate_ngrams
        upstream = clean
        clean = decontaminate_ngrams(
            clean, eval_df, cfg.decontaminate_ngram_n,
            text_col=text_col, id_col=id_col).persist()
        metrics["rows_after_ngram_decontamination"] = clean.count()
        upstream.unpersist()

    if eval_df is not None and cfg.decontam_spans_k:
        from python_hll_spark.functions.text import _norm_word_array
        from python_hll_spark.operators.decontaminate import \
            decontaminate_spans_tokens
        upstream = clean
        ewords = eval_df.select(
            F.col(id_col),
            _norm_word_array(F.col(text_col)).alias("__w"))
        cut = decontaminate_spans_tokens(
            clean.withColumn("__w", _norm_word_array(F.col(text_col))),
            ewords, k=cfg.decontam_spans_k, tokens_col="__w",
            id_col=id_col,
            drop_if_removed_frac_ge=cfg.decontam_spans_drop_frac)
        span_obs = Observation("span_decontam")
        clean = (cut.withColumn(
                     text_col,
                     F.when(F.col("n_tokens_removed") > 0,
                            F.concat_ws(" ", "__w"))
                     .otherwise(F.col(text_col)))
                 .observe(span_obs,
                          F.sum((F.col("n_tokens_removed") > 0)
                                .cast("long")).alias("docs_span_cut"),
                          F.sum("n_tokens_removed")
                          .alias("words_span_cut"))
                 .drop("__w", "n_contam_windows", "n_contam_spans",
                       "n_tokens_removed")
                 .persist())
        # one action materializes the cache AND collects the cut metrics
        metrics["rows_after_span_decontamination"] = clean.count()
        got = span_obs.get
        metrics["docs_span_cut"] = int(got["docs_span_cut"] or 0)
        metrics["words_span_cut"] = int(got["words_span_cut"] or 0)
        upstream.unpersist()

    if cfg.mixture_weights:
        from python_hll_spark.operators.sampling import mixture_sample
        clean, plan = mixture_sample(clean, cfg.mixture_weights,
                                     by=cfg.mixture_by, id_col=id_col,
                                     on_missing="skip")
        metrics["mixture_plan"] = {
            g: {"n": p["n"], "rate": round(p["rate"], 6)}
            for g, p in plan.items()}
        metrics["rows_after_mixture"] = clean.count()

    metrics["rows_out"] = metrics.get(
        "rows_after_mixture",
        metrics.get("rows_after_span_decontamination",
                    metrics.get("rows_after_ngram_decontamination",
                                metrics.get("rows_after_decontamination",
                                            metrics.get(
                                                "rows_after_near_dedup",
                                                metrics.get(
                                                    "rows_after_ppl_filter",
                                                    metrics["rows_after_exact_dedup"]))))))
    return clean, metrics


def refresh_corpus(new_batch: DataFrame, fp_store: DataFrame,
                   near_sigs: DataFrame, near_bands: DataFrame,
                   threshold: float = 0.9, num_hashes: int = 64,
                   bands: int = 16, n: int = 3, text_col: str = "text",
                   id_col: str = "doc_id"):
    """The DAILY-REFRESH composition: fold a new crawl batch into an
    existing corpus without re-touching the corpus itself.

        exact tier:  incremental_dedup vs the persisted fingerprint store
                     (8-byte anti-join — removes exact re-crawls first so
                     the near tier never signatures them)
        near tier:   incremental_near_dedup vs the persisted signature/
                     band-key store (within-batch collapse + broadcast
                     store probe)

    Returns ``(kept, metrics, new_fps, new_sigs)``: the surviving rows,
    stage row-counts, and the two frames to APPEND to the stores.
    ``new_sigs`` is the survivors' (id, sig) rows SLICED from the near
    tier's one batch signature pass (``outputs["survivor_sigs"]``
    contract — no second kernel run) — write it with
    ``near_store_write(..., mode="append")``.  Store parameters
    (num_hashes/bands/n) must match the near store's build.

    ``kept`` is returned LINEAGE-TRUNCATED (eager ``localCheckpoint``),
    not merely persisted — this is load-bearing: ``kept``'s lineage reads
    the store parquet, and appending survivors back to that store
    triggers Spark's recache-by-path, which would silently RE-EVALUATE
    any merely-cached derivative against the grown store (each survivor
    then matches its own just-appended signature, and ``new_fps``/
    ``new_sigs`` evaporate).  With the checkpoint, the returned frames
    are immune to subsequent store writes."""
    from python_hll_spark.operators.dedup import (fingerprint_frame,
                                                  incremental_dedup,
                                                  incremental_near_dedup)

    return _refresh_impl(
        new_batch, fp_store, near_sigs, near_bands,
        exact_fn=lambda df, fps: incremental_dedup(df, fps, text_col, id_col),
        near_fn=lambda df, caches, outputs: incremental_near_dedup(
            df, near_sigs, near_bands, threshold=threshold,
            num_hashes=num_hashes, bands=bands, n=n, text_col=text_col,
            id_col=id_col, cache_out=caches, outputs=outputs),
        fps_fn=lambda df: fingerprint_frame(df, text_col), id_col=id_col)


def refresh_corpus_tokens(new_batch: DataFrame, fp_store: DataFrame,
                          near_sigs: DataFrame, near_bands: DataFrame,
                          threshold: float = 0.9, num_hashes: int = 64,
                          bands: int = 16, n: int = 3,
                          tokens_col: str = "tokens",
                          id_col: str = "doc_id"):
    """``refresh_corpus`` over PRE-TOKENIZED docs (the input_hint table
    shape): the exact tier fingerprints the token array (xxhash64 — the
    per-row token-array-equality invariant) and the near tier signatures
    via the single-pass Arrow n-gram kernel.  Same return contract and
    the same load-bearing ``localCheckpoint`` (see ``refresh_corpus``)."""
    from python_hll_spark.operators.dedup import (
        fingerprint_frame_tokens, incremental_dedup_tokens,
        incremental_near_dedup_tokens)

    return _refresh_impl(
        new_batch, fp_store, near_sigs, near_bands,
        exact_fn=lambda df, fps: incremental_dedup_tokens(df, fps,
                                                          tokens_col, id_col),
        near_fn=lambda df, caches, outputs: incremental_near_dedup_tokens(
            df, near_sigs, near_bands, threshold=threshold,
            num_hashes=num_hashes, bands=bands, n=n, tokens_col=tokens_col,
            id_col=id_col, cache_out=caches, outputs=outputs),
        fps_fn=lambda df: fingerprint_frame_tokens(df, tokens_col),
        id_col=id_col)


def _refresh_impl(new_batch, fp_store, near_sigs, near_bands,
                  exact_fn, near_fn, fps_fn, id_col):
    from pyspark.sql import Observation

    # rows_in is observed on the exact tier's own action, not a separate
    # count; a tier that keeps nothing lets AQE fold its plan into an empty
    # relation and drop the metrics, so only then is the batch counted
    obs = Observation("refresh_in")
    exact_kept = exact_fn(new_batch.observe(
        obs, F.count(F.lit(1)).alias("rows_in")), fp_store).persist()
    n_exact = exact_kept.count()
    metrics = {"rows_in": int(obs.get["rows_in"]) if n_exact
               else new_batch.count(),
               "rows_after_exact_tier": n_exact}
    caches: list = []
    outputs: dict = {}
    if n_exact:
        kept = near_fn(exact_kept, caches, outputs).localCheckpoint()
    else:
        # nothing left for the near tier to probe; running it on the empty
        # batch left an AQE broadcast stage running after this call
        # returned (its plan had folded to an empty relation)
        kept = exact_kept.localCheckpoint()
        id_type = dict(exact_kept.dtypes)[id_col]
        outputs["survivor_sigs"] = exact_kept.sparkSession.createDataFrame(
            [], f"`{id_col}` {id_type}, sig array<bigint>")
    metrics["rows_out"] = kept.count()
    # the store-append signature frame is SLICED from the near tier's
    # persisted batch signatures (outputs contract) — ONE signature-kernel
    # pass per refresh, where this used to re-tokenize and re-hash every
    # survivor.  Checkpoint it while the caches are still alive (and
    # before any store append can trigger recache-by-path).
    new_sigs = outputs["survivor_sigs"].localCheckpoint()
    exact_kept.unpersist()
    for c in caches:
        c.unpersist()
    return kept, metrics, fps_fn(kept), new_sigs

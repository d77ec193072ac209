"""spark-submit job entrypoints.

Cluster usage (north_rule: multi-executor, --py-files):

    cd /root/repo && zip -r /tmp/python_hll_spark.zip python_hll_spark
    spark-submit --py-files /tmp/python_hll_spark.zip \
        --master <cluster> \
        -m python_hll_spark.plans.jobs  # or path to this file
        build-ndv --input s3://.../seqs --group-cols source \
        --checkpoint s3://.../state --output s3://.../ndv

Local smoke:

    python -m python_hll_spark.plans.jobs build-ndv \
        --input /tmp/seqs --group-cols source --output /tmp/ndv_out

Daily crawl refresh (stores bootstrap empty on day zero; append
survivors back so tomorrow's batch dedups against today's):

    python -m python_hll_spark.plans.jobs refresh-corpus \
        --input /data/crawl/2026-08-17 --output /data/clean/2026-08-17 \
        --fp-store /data/stores/fps --near-store /data/stores/near
    # pre-tokenized sequences: add --content tokens
    # store appends are keyed by a batch id derived from --input (or
    # --batch-id): re-running a failed day overwrites its own append
    # instead of duplicating store rows

Store maintenance (run on whatever cadence keeps file counts sane —
weekly against daily refreshes; probe results are byte-identical):

    python -m python_hll_spark.plans.jobs compact-near-store \
        --store /data/stores/near --target-partitions 64

Loader-facing shard layout (seeded global shuffle, run after
prepare/refresh; deterministic for a given seed on any cluster size):

    python -m python_hll_spark.plans.jobs write-shards \
        --input /data/clean/2026-08-17 --output /data/shards/2026-08-17 \
        --n-shards 1024 --seed 42

Crawl-dump front door (JSONL -> documents-shaped parquet + quarantine
lane; good + quarantined == input lines, so nothing silently vanishes):

    python -m python_hll_spark.plans.jobs ingest-crawl \
        --input /data/rawcrawl/2026-08-17.jsonl \
        --output /data/crawl/2026-08-17 \
        --quarantine /data/quarantine/2026-08-17 --min-chars 200

Context-window chunking (long docs -> overlapping fixed-width chunks;
run before packing when documents exceed the training window):

    python -m python_hll_spark.plans.jobs chunk-corpus \
        --input /data/clean/2026-08-17 --output /data/chunks/2026-08-17 \
        --window 2048 --stride 1536

Tokenize a cleaned corpus into the library's pre-tokenized input shape
(doc_id, tokens array<int>, n_tok, source); save the vocab once, reuse
it for every later batch so ids stay stable across refreshes:

    python -m python_hll_spark.plans.jobs tokenize-corpus \
        --input /data/clean/2026-08-17 --output /data/tokens/2026-08-17 \
        --vocab-size 65536 --vocab-out /data/vocab/v1
    python -m python_hll_spark.plans.jobs tokenize-corpus \
        --input /data/clean/2026-08-18 --output /data/tokens/2026-08-18 \
        --vocab-in /data/vocab/v1

(add ``--extend-vocab --vocab-size 80000 --vocab-out /data/vocab/v1`` to
let a batch's new frequent words join the vocab at fresh ids V+1.. —
existing ids never move, so earlier token tables stay valid; then
``pack-corpus --seq-len 2048 --eod-id 1`` for loader-ready sequences)

Daily ops report (single-scan multi-sketch profile: token NDV, heavy
hitters, membership, n_tok quantiles per source — one pass total):

    python -m python_hll_spark.plans.jobs profile-corpus \
        --input /data/clean/2026-08-17 --output /data/reports/2026-08-17

Full web-curation recipe (all round-5 filter stages on):

    python -m python_hll_spark.plans.jobs prepare-corpus \
        --input /data/crawl --output /data/clean \
        --eval-input /data/evalsets --redact-pii --gopher-rules \
        --line-dedup-min-docs 2 --strip-spans-min-docs 2 \
        --decontaminate-ngram-n 13
"""

from __future__ import annotations

import argparse
import json

from python_hll_spark.plans.session import get_spark


def _build_ndv(args) -> None:
    from python_hll_spark.operators.ndv import hll_ndv_tokens
    from python_hll_spark.sketches.hll import HLLConfig
    from python_hll_spark.sketches.specs import HLLSpec

    spark = get_spark("build-ndv")
    cfg = HLLConfig.create(args.log2m, args.regwidth)
    group_cols = args.group_cols.split(",") if args.group_cols else None

    if args.checkpoint:
        import glob
        import os
        from python_hll_spark.sources.state import SketchCheckpoint

        paths = sorted(glob.glob(os.path.join(args.input, "*.parquet")))
        cp = SketchCheckpoint(args.checkpoint)
        cp.run(spark, paths, group_cols or [], "tokens", HLLSpec(cfg),
               n_chunks=args.n_chunks)
        out = cp.finalize(spark, group_cols or [], HLLSpec(cfg))
        from python_hll_spark.functions.sketch_funcs import hll_cardinality
        from pyspark.sql import functions as F
        out = out.withColumn("ndv", hll_cardinality(F.col("state")))
    else:
        df = spark.read.parquet(args.input)
        out = hll_ndv_tokens(df, by=group_cols, cfg=cfg, n_salts=args.n_salts)

    out.write.mode("overwrite").parquet(args.output)
    for row in spark.read.parquet(args.output).drop("state").collect():
        print(json.dumps(row.asDict(), default=str))
    spark.stop()


def _build_quantiles(args) -> None:
    from python_hll_spark.operators.quantiles import sketch_quantiles

    spark = get_spark("build-quantiles")
    df = spark.read.parquet(args.input)
    group_cols = args.group_cols.split(",") if args.group_cols else None
    qs = [float(x) for x in args.quantiles.split(",")]
    out = sketch_quantiles(df, args.value_col, qs, by=group_cols, method=args.method)
    out.write.mode("overwrite").parquet(args.output)
    spark.stop()


def _prepare_corpus(args) -> None:
    """Full training-corpus preparation as a spark-submit job: redact ->
    filter -> dedup -> (optional) decontaminate -> (optional) rebalance.
    Stage metrics go to STDOUT as one JSON line (spark-submit routes the
    driver's stderr unreliably); the clean corpus to ``--output`` parquet."""
    from python_hll_spark.plans.pipeline import (
        CorpusFilterConfig, prepare_corpus)

    spark = get_spark("prepare-corpus")
    df = spark.read.parquet(args.input)
    weights = None
    if args.mixture_weights:
        weights = {k: float(v) for k, v in
                   (kv.split("=") for kv in args.mixture_weights.split(","))}
    model_weights, model_bias, model_buckets = None, 0.0, 1 << 18
    model_bigrams = True
    if args.model_weights and args.min_model_score is None:
        raise SystemExit("--model-weights without --min-model-score would "
                         "load the model and never apply it; pass a "
                         "threshold (e.g. --min-model-score 0.5)")
    if args.model_weights:
        from python_hll_spark.functions.classifier import load_model
        m = load_model(spark, args.model_weights)
        model_weights, model_bias = m["weights"], m["bias"]
        model_buckets, model_bigrams = m["n_buckets"], m["bigrams"]
    cfg = CorpusFilterConfig(
        min_quality=args.min_quality,
        near_dup_threshold=args.near_dup_threshold,
        run_near_dedup=not args.skip_near_dedup,
        redact_pii=args.redact_pii,
        mixture_weights=weights,
        line_dedup_min_docs=args.line_dedup_min_docs or None,
        strip_spans_min_docs=args.strip_spans_min_docs or None,
        strip_spans_n=args.strip_spans_n,
        gopher_rules=args.gopher_rules,
        decontaminate_ngram_n=args.decontaminate_ngram_n or None,
        decontam_spans_k=args.decontam_spans_k or None,
        decontam_spans_drop_frac=args.decontam_spans_drop_frac,
        ppl_drop_tail=args.ppl_drop_tail,
        min_model_score=args.min_model_score,
        model_weights=model_weights, model_bias=model_bias,
        model_buckets=model_buckets, model_bigrams=model_bigrams,
        min_entropy=args.min_entropy, max_entropy=args.max_entropy)
    eval_df = spark.read.parquet(args.eval_input) if args.eval_input else None
    clean, metrics = prepare_corpus(df, cfg, eval_df=eval_df)
    clean.write.mode("overwrite").parquet(args.output)
    # metrics on stdout (spark-submit routes the python process's stderr
    # through its own logging and can drop it); rows_out stays the LAST line
    print(json.dumps({"metrics": metrics}, default=str))
    print(json.dumps({"rows_out": metrics["rows_out"]}))
    spark.stop()


def _train_classifier(args) -> None:
    """Train the hashed n-gram quality classifier as a spark-submit job
    (distributed full-batch logistic regression; each iteration one
    mergeable gradient aggregation) and persist the model to a one-row
    parquet that ``prepare-corpus --model-weights`` loads."""
    from python_hll_spark.functions.classifier import (classifier_train,
                                                       classifier_train_tokens,
                                                       save_model)

    spark = get_spark("train-classifier")
    df = spark.read.parquet(args.input)
    kw = dict(n_buckets=args.n_buckets, iters=args.iters, lr=args.lr,
              bigrams=not args.no_bigrams)
    if args.content == "tokens":
        model = classifier_train_tokens(df, args.label_col,
                                        tokens_col=args.tokens_col, **kw)
    else:
        model = classifier_train(df, args.label_col,
                                 text_col=args.text_col, **kw)
    save_model(spark, model, args.output, args.n_buckets,
               bigrams=not args.no_bigrams)
    print(json.dumps({"first_loss": model["history"][0],
                      "final_loss": model["history"][-1],
                      "iters": args.iters}))
    print(json.dumps({"rows_out": 1}))
    spark.stop()


def _refresh_corpus(args) -> None:
    """DAILY-REFRESH as a spark-submit job: fold a new crawl batch into an
    existing corpus via ``plans.pipeline.refresh_corpus`` (exact
    fingerprint tier, then near signature tier against the persisted
    stores), write the survivors to ``--output``, and append their
    fingerprints/signatures back to both stores so tomorrow's batch
    dedups against today's survivors.  Missing stores bootstrap empty
    (day zero).  Metrics go to STDOUT as one JSON line; ``rows_out``
    stays the LAST line (same contract as prepare-corpus)."""
    import hashlib
    import os
    import re

    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from python_hll_spark.operators.dedup import (near_store_check,
                                                  near_store_init,
                                                  near_store_read,
                                                  near_store_write)
    from python_hll_spark.plans.pipeline import (refresh_corpus,
                                                 refresh_corpus_tokens)

    spark = get_spark("refresh-corpus")
    batch = spark.read.parquet(args.input)
    id_field = dict((f.name, f.dataType.simpleString())
                    for f in batch.schema.fields)[args.id_col]
    # replay-idempotent store appends: each input batch writes under its
    # own batch_id= subdirectory, derived deterministically from the input
    # path — a re-run of the same day's job (crash recovery, operator
    # retry) OVERWRITES its own append instead of duplicating store rows
    if args.batch_id:
        batch_id = args.batch_id
    else:
        base = re.sub(r"[^A-Za-z0-9_.-]", "_",
                      os.path.basename(os.path.normpath(args.input)))
        digest = hashlib.sha256(
            os.path.abspath(args.input).encode()).hexdigest()[:8]
        batch_id = f"{base}-{digest}"
    try:
        fp_store = spark.read.parquet(args.fp_store)
        if "batch_id" in fp_store.columns:
            # a re-run must not see its OWN previous append (it would drop
            # every survivor as an exact self-match and write empty)
            fp_store = fp_store.where(
                F.col("batch_id").cast("string") != batch_id)
        fp_store = fp_store.drop("batch_id")
    except AnalysisException:
        fp_store = spark.createDataFrame([], "fp bigint")  # day zero
    near_store_check(args.near_store, num_hashes=args.num_hashes,
                     bands=args.bands, n=args.ngram)
    try:
        sigs, band_keys = near_store_read(spark, args.near_store,
                                          exclude_batch_id=batch_id)
    except AnalysisException:
        near_store_init(spark, args.near_store, id_type=id_field,
                        id_col=args.id_col, num_hashes=args.num_hashes,
                        bands=args.bands, n=args.ngram)
        sigs, band_keys = near_store_read(spark, args.near_store)

    if args.content == "tokens":
        kept, metrics, new_fps, new_sigs = refresh_corpus_tokens(
            batch, fp_store, sigs, band_keys, threshold=args.threshold,
            num_hashes=args.num_hashes, bands=args.bands, n=args.ngram,
            tokens_col=args.tokens_col, id_col=args.id_col)
    else:
        kept, metrics, new_fps, new_sigs = refresh_corpus(
            batch, fp_store, sigs, band_keys, threshold=args.threshold,
            num_hashes=args.num_hashes, bands=args.bands, n=args.ngram,
            text_col=args.text_col, id_col=args.id_col)
    kept.write.mode("overwrite").parquet(args.output)
    if not args.skip_store_append:
        # safe w.r.t. recache-by-path: refresh_corpus localCheckpoints the
        # survivors, so these frames no longer read the store paths
        from python_hll_spark.operators.dedup import migrate_flat_store_layout
        migrate_flat_store_layout(args.fp_store)  # pre-batch_id stores
        new_fps.write.mode("overwrite").parquet(
            f"{args.fp_store}/batch_id={batch_id}")
        near_store_write(new_sigs, args.near_store, bands=args.bands,
                         id_col=args.id_col, mode="append",
                         batch_id=batch_id, num_hashes=args.num_hashes,
                         n=args.ngram)
    kept.unpersist()
    metrics["batch_id"] = batch_id
    print(json.dumps({"metrics": metrics}, default=str))
    print(json.dumps({"rows_out": metrics["rows_out"]}))
    spark.stop()


def _compact_near_store(args) -> None:
    """Rewrite a near store's accumulated per-batch appends into a few
    target-sized files (atomic directory swap) — run this on whatever
    cadence keeps the file count sane (weekly against daily refreshes);
    probe results are byte-identical before/after.  ``--fp-store``
    compacts the sibling fingerprint store in the same maintenance run
    (its distinct() also collapses cross-batch duplicate fingerprints)."""
    from python_hll_spark.operators.dedup import (fp_store_compact,
                                                  near_store_compact)

    spark = get_spark("compact-near-store")
    stats = {"near": near_store_compact(
        spark, args.store, target_partitions=args.target_partitions)}
    if args.fp_store:
        stats["fp"] = fp_store_compact(
            spark, args.fp_store, target_partitions=args.target_partitions)
    print(json.dumps({"compacted": stats}))
    spark.stop()


def _write_shards(args) -> None:
    """Seeded global shuffle of a prepared corpus into balanced training
    shards under ``{output}/shard=K/`` — the loader-facing final step
    after prepare/refresh.  Deterministic for a given seed regardless of
    input layout or cluster size."""
    from python_hll_spark.operators.shards import write_shards

    spark = get_spark("write-shards")
    df = spark.read.parquet(args.input)
    write_shards(df, args.output, args.n_shards, seed=args.seed,
                 id_col=args.id_col)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"rows": n, "n_shards": args.n_shards,
                      "seed": args.seed}))
    spark.stop()


def _select_budget(args) -> None:
    """Token-budget selection: keep the deterministic hash-order prefix
    of the corpus whose cumulative ``--cost-col`` fits the budget —
    per ``--by`` group when ``--budgets`` gives ``group=tokens`` pairs,
    or globally with ``--budget N``.  The mixture-planning sibling of
    write-shards: run it on a prepared corpus to cut an exact-token-size
    training mix."""
    from pyspark.sql import functions as F

    from python_hll_spark.operators.sampling import token_budget_select

    spark = get_spark("select-budget")
    df = spark.read.parquet(args.input)
    if args.budgets:
        budget = {k: int(v) for k, v in
                  (kv.split("=") for kv in args.budgets.split(","))}
        if not args.by:
            raise SystemExit("--budgets requires --by")
    elif args.budget is not None:
        budget = args.budget
    else:
        raise SystemExit("pass --budget N or --budgets g=N,...")
    sel = token_budget_select(df, budget, cost_col=args.cost_col,
                              by=args.by or None, id_col=args.id_col,
                              seed=args.seed)
    sel.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    kept = out.agg(F.count("*").alias("n"),
                   F.sum(args.cost_col).alias("cost")).first()
    print(json.dumps({"rows": kept["n"], "cost_kept": int(kept["cost"] or 0),
                      "seed": args.seed}))
    spark.stop()


def _ingest_crawl(args) -> None:
    """JSONL crawl dump -> documents-shaped parquet, with every rejected
    line landing in the quarantine sink (raw line + reason) instead of
    vanishing.  The two lanes have different schemas and different sinks,
    so they are two scans of the raw dump by design: splitting one scan
    into two writers would need a full cache of the parsed frame (not an
    option at dump scale), and the quarantine lane is skipped entirely
    when --quarantine is absent."""
    from python_hll_spark.sources.crawl import (crawl_quarantine,
                                                read_crawl_jsonl)

    spark = get_spark("ingest-crawl")
    good = read_crawl_jsonl(spark, args.input, source=args.source,
                            min_chars=args.min_chars)
    good.write.mode("overwrite").parquet(args.output)
    n_good = spark.read.parquet(args.output).count()
    n_bad = 0
    if args.quarantine:
        bad = crawl_quarantine(spark, args.input, min_chars=args.min_chars)
        bad.write.mode("overwrite").parquet(args.quarantine)
        n_bad = spark.read.parquet(args.quarantine).count()
    print(json.dumps({"good": n_good, "quarantined": n_bad}))
    spark.stop()


def _chunk_corpus(args) -> None:
    """Word-level context-window chunking of a documents-shaped corpus.
    Zero-shuffle: chunk rows stream straight from the scan to the
    writer."""
    from python_hll_spark.operators.chunking import chunk_text_words

    spark = get_spark("chunk-corpus")
    df = spark.read.parquet(args.input)
    out = chunk_text_words(df, args.window, args.stride,
                           id_col=args.id_col)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"chunks": n, "window": args.window,
                      "stride": args.stride}))
    spark.stop()


def _tokenize_corpus(args) -> None:
    """Clean text -> the pre-tokenized training table
    (doc_id, tokens array<int>, n_tok, source): build (or load) the
    frequency vocabulary, encode every document against it.  Two corpus
    passes when building the vocab (counts + encode), one when loading."""
    from python_hll_spark.operators.tokenize import (build_vocab,
                                                     encode_corpus)

    from pyspark.sql import functions as F

    spark = get_spark("tokenize-corpus")
    df = spark.read.parquet(args.input)
    if args.vocab_in:
        vocab = spark.read.parquet(args.vocab_in)
        if args.extend_vocab:
            from python_hll_spark.operators.tokenize import extend_vocab
            vocab = extend_vocab(vocab, df, args.vocab_size,
                                 text_col=args.text_col,
                                 min_count=args.min_count)
    else:
        vocab = build_vocab(df, args.vocab_size, text_col=args.text_col,
                            min_count=args.min_count)
    # materialize driver-side ONCE (vocabulary-scale, <= a few MB): the
    # lazy build/extend plan re-scans the whole corpus per action — the
    # final vocab_size must not cost a third corpus pass — and
    # --vocab-out may equal --vocab-in (grow in place), where writing a
    # parquet path the plan is still lazily reading self-clobbers
    vocab_rows = vocab.collect()
    vocab = spark.createDataFrame(vocab_rows, vocab.schema)
    if args.vocab_out:
        vocab.write.mode("overwrite").parquet(args.vocab_out)
    enc = encode_corpus(df, vocab, text_col=args.text_col,
                        id_col=args.id_col)
    enc.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    n_docs = out.count()
    n_tok = out.agg(F.sum("n_tok")).collect()[0][0] or 0
    print(json.dumps({"docs": n_docs, "tokens": int(n_tok),
                      "vocab_size": len(vocab_rows)}))
    spark.stop()


def _pack_corpus(args) -> None:
    """Pre-tokenized table -> fixed-length training sequences (shuffle-
    free per-partition packing; optional end-of-document separator)."""
    from pyspark.sql import functions as F

    from python_hll_spark.operators.packing import pack_sequences

    spark = get_spark("pack-corpus")
    df = spark.read.parquet(args.input)
    out = pack_sequences(df, token_col=args.tokens_col,
                         seq_len=args.seq_len, pad_id=args.pad_id,
                         eod_id=args.eod_id)
    out.write.mode("overwrite").parquet(args.output)
    packed = spark.read.parquet(args.output)
    stats = packed.agg(F.count("*").alias("s"),
                       F.sum("n_tokens").alias("t")).collect()[0]
    print(json.dumps({"sequences": int(stats["s"]),
                      "nonpad_tokens": int(stats["t"] or 0),
                      "seq_len": args.seq_len}))
    spark.stop()


def _profile_corpus(args) -> None:
    """Single-scan multi-sketch corpus profile (HLL token NDV + CMS heavy
    hitters + Bloom membership + KLL n_tok quantiles, one pass) over a
    pre-tokenized corpus; writes the per-group summary frame and prints
    totals.  The daily ops report: one linear scan regardless of how many
    sketches it fills."""
    from python_hll_spark.operators.profile import (profile_summary,
                                                    token_profile)

    spark = get_spark("profile-corpus")
    df = spark.read.parquet(args.input)
    summary = profile_summary(
        token_profile(df, by=args.by, token_col=args.tokens_col,
                      len_col=args.len_col), by=args.by)
    summary.write.mode("overwrite").parquet(args.output)
    rows = spark.read.parquet(args.output).collect()
    print(json.dumps({
        "groups": len(rows),
        "n_docs": sum(r["n_docs"] for r in rows),
        "token_ndv_by_group": {str(r[args.by]): r["token_ndv"]
                               for r in rows}}))
    spark.stop()


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="python_hll_spark.plans.jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    ndv = sub.add_parser("build-ndv", help="HLL token NDV (optionally checkpointed)")
    ndv.add_argument("--input", required=True)
    ndv.add_argument("--output", required=True)
    ndv.add_argument("--group-cols", default="")
    ndv.add_argument("--checkpoint", default="")
    ndv.add_argument("--log2m", type=int, default=11)
    ndv.add_argument("--regwidth", type=int, default=5)
    ndv.add_argument("--n-salts", type=int, default=16)
    ndv.add_argument("--n-chunks", type=int, default=8)
    ndv.set_defaults(fn=_build_ndv)

    qt = sub.add_parser("build-quantiles", help="KLL/t-digest quantile profiles")
    qt.add_argument("--input", required=True)
    qt.add_argument("--output", required=True)
    qt.add_argument("--value-col", required=True)
    qt.add_argument("--group-cols", default="")
    qt.add_argument("--quantiles", default="0.25,0.5,0.75")
    qt.add_argument("--method", default="kll", choices=["kll", "tdigest"])
    qt.set_defaults(fn=_build_quantiles)

    cp = sub.add_parser("prepare-corpus",
                        help="full corpus prep: redact/filter/dedup/"
                             "decontaminate/rebalance")
    cp.add_argument("--input", required=True)
    cp.add_argument("--output", required=True)
    cp.add_argument("--eval-input", default="",
                    help="parquet of eval docs to decontaminate against")
    cp.add_argument("--min-quality", type=float, default=0.3)
    cp.add_argument("--near-dup-threshold", type=float, default=0.9)
    cp.add_argument("--skip-near-dedup", action="store_true")
    cp.add_argument("--redact-pii", action="store_true")
    cp.add_argument("--line-dedup-min-docs", type=int, default=0,
                    help="remove lines duplicated across >= N docs (0=off)")
    cp.add_argument("--strip-spans-min-docs", type=int, default=0,
                    help="strip word n-gram spans duplicated across >= N "
                         "docs (0=off)")
    cp.add_argument("--strip-spans-n", type=int, default=5)
    cp.add_argument("--gopher-rules", action="store_true",
                    help="AND the Gopher rule gate into the quality filter")
    cp.add_argument("--ppl-drop-tail", action="store_true",
                    help="CCNet perplexity filter: drop the worst "
                         "bigram-LM tercile after exact dedup")
    cp.add_argument("--decontaminate-ngram-n", type=int, default=0,
                    help="extra n-gram collision decontamination tier "
                         "(needs --eval-input; 0=off)")
    cp.add_argument("--decontam-spans-k", type=int, default=0,
                    help="span-surgery decontamination: cut eval-"
                         "overlapping k-word windows out of docs instead "
                         "of dropping them (needs --eval-input; 0=off)")
    cp.add_argument("--decontam-spans-drop-frac", type=float, default=0.5,
                    help="drop a doc wholesale when >= this fraction of "
                         "its words is eval content")
    cp.add_argument("--mixture-weights", default="",
                    help="comma list of group=weight, e.g. web=1,code=2")
    cp.add_argument("--min-model-score", type=float, default=None,
                    help="model-score filter threshold (enables the "
                         "classifier stage; seed-synthetic weights unless "
                         "--model-weights)")
    cp.add_argument("--model-weights", default="",
                    help="trained model parquet from train-classifier")
    cp.add_argument("--min-entropy", type=float, default=None,
                    help="drop docs below this byte entropy (bits; "
                         "repeated filler reads near 0)")
    cp.add_argument("--max-entropy", type=float, default=None,
                    help="drop docs above this byte entropy (binary "
                         "junk reads near 8)")
    cp.set_defaults(fn=_prepare_corpus)

    tc = sub.add_parser("train-classifier",
                        help="train the hashed n-gram quality classifier "
                             "(distributed full-batch logistic regression)")
    tc.add_argument("--input", required=True,
                    help="labeled parquet (text or tokens + label column)")
    tc.add_argument("--output", required=True,
                    help="model parquet (weights/bias/n_buckets)")
    tc.add_argument("--label-col", default="y")
    tc.add_argument("--content", choices=("text", "tokens"), default="text")
    tc.add_argument("--text-col", default="text")
    tc.add_argument("--tokens-col", default="tokens")
    tc.add_argument("--n-buckets", type=int, default=1 << 18)
    tc.add_argument("--iters", type=int, default=20)
    tc.add_argument("--lr", type=float, default=0.5)
    tc.add_argument("--no-bigrams", action="store_true")
    tc.set_defaults(fn=_train_classifier)

    rf = sub.add_parser("refresh-corpus",
                        help="daily refresh: dedup a new batch against "
                             "persisted fingerprint + near-dup stores, "
                             "append survivors back")
    rf.add_argument("--input", required=True, help="new batch parquet")
    rf.add_argument("--output", required=True, help="survivors parquet")
    rf.add_argument("--fp-store", required=True,
                    help="fingerprint store parquet (bootstraps if absent)")
    rf.add_argument("--near-store", required=True,
                    help="near_store_write path (bootstraps if absent)")
    rf.add_argument("--threshold", type=float, default=0.9)
    rf.add_argument("--num-hashes", type=int, default=128)
    rf.add_argument("--bands", type=int, default=32)
    rf.add_argument("--ngram", type=int, default=3)
    rf.add_argument("--text-col", default="text")
    rf.add_argument("--content", default="text", choices=["text", "tokens"],
                    help="'tokens' runs the pre-tokenized path: exact tier "
                         "on token-array xxhash64, near tier on the Arrow "
                         "n-gram kernel")
    rf.add_argument("--tokens-col", default="tokens")
    rf.add_argument("--id-col", default="doc_id")
    rf.add_argument("--skip-store-append", action="store_true",
                    help="dry run: don't grow the stores")
    rf.add_argument("--batch-id", default="",
                    help="store-append key (default: derived from the "
                         "input path); re-running with the same key "
                         "overwrites that append — idempotent recovery")
    rf.set_defaults(fn=_refresh_corpus)

    cn = sub.add_parser("compact-near-store",
                        help="rewrite a near store's per-batch appends "
                             "into target-sized files (atomic swap)")
    cn.add_argument("--store", required=True, help="near_store_write path")
    cn.add_argument("--fp-store", default="",
                    help="also compact this fingerprint store")
    cn.add_argument("--target-partitions", type=int, default=8)
    cn.set_defaults(fn=_compact_near_store)

    ws = sub.add_parser("write-shards",
                        help="seeded global shuffle into balanced "
                             "training shards (shard=K/ directories)")
    ws.add_argument("--input", required=True)
    ws.add_argument("--output", required=True)
    ws.add_argument("--n-shards", type=int, required=True)
    ws.add_argument("--seed", type=int, default=42)
    ws.add_argument("--id-col", default="doc_id",
                    help="row key; comma-separated for composite keys "
                         "(e.g. doc_id,chunk_idx for a chunked corpus)")
    ws.set_defaults(fn=_write_shards)

    sb = sub.add_parser("select-budget",
                        help="deterministic token-budget selection "
                             "(hash-order prefix per group fitting a "
                             "token budget)")
    sb.add_argument("--input", required=True)
    sb.add_argument("--output", required=True)
    sb.add_argument("--cost-col", required=True,
                    help="integer cost column (n_tok, n_chars, ...)")
    sb.add_argument("--budget", type=int, default=None,
                    help="global budget (or every group's when --by set)")
    sb.add_argument("--budgets", default="",
                    help="per-group budgets, e.g. web=50000000,code=5000000 "
                         "(groups absent from the list are dropped)")
    sb.add_argument("--by", default="",
                    help="group column for per-group budgets")
    sb.add_argument("--id-col", default="doc_id")
    sb.add_argument("--seed", type=int, default=42)
    sb.set_defaults(fn=_select_budget)

    ic = sub.add_parser("ingest-crawl",
                        help="JSONL crawl dump -> documents parquet "
                             "+ quarantine lane")
    ic.add_argument("--input", required=True)
    ic.add_argument("--output", required=True)
    ic.add_argument("--quarantine")
    ic.add_argument("--source", default="crawl")
    ic.add_argument("--min-chars", type=int, default=1)
    ic.set_defaults(fn=_ingest_crawl)

    tk = sub.add_parser("tokenize-corpus",
                        help="clean text -> pre-tokenized training table "
                             "(vocab build or reuse + encode)")
    tk.add_argument("--input", required=True)
    tk.add_argument("--output", required=True)
    tk.add_argument("--vocab-size", type=int, default=1 << 16)
    tk.add_argument("--min-count", type=int, default=1)
    tk.add_argument("--vocab-in", help="reuse a saved vocab parquet "
                                       "(skips the counting pass)")
    tk.add_argument("--extend-vocab", action="store_true",
                    help="with --vocab-in: append this batch's new "
                         "frequent words (ids V+1.. up to --vocab-size) "
                         "WITHOUT changing any existing id")
    tk.add_argument("--vocab-out", help="persist the built vocab for "
                                        "later incremental batches")
    tk.add_argument("--text-col", default="text")
    tk.add_argument("--id-col", default="doc_id")
    tk.set_defaults(fn=_tokenize_corpus)

    pk = sub.add_parser("pack-corpus",
                        help="pre-tokenized table -> fixed-length "
                             "training sequences")
    pk.add_argument("--input", required=True)
    pk.add_argument("--output", required=True)
    pk.add_argument("--seq-len", type=int, required=True)
    pk.add_argument("--pad-id", type=int, default=0)
    pk.add_argument("--eod-id", type=int, default=None,
                    help="append this token after every document before "
                         "packing (document-boundary marker)")
    pk.add_argument("--tokens-col", default="tokens")
    pk.set_defaults(fn=_pack_corpus)

    pc = sub.add_parser("profile-corpus",
                        help="single-scan multi-sketch corpus profile "
                             "(NDV / quantiles per group)")
    pc.add_argument("--input", required=True)
    pc.add_argument("--output", required=True)
    pc.add_argument("--by", default="source")
    pc.add_argument("--tokens-col", default="tokens")
    pc.add_argument("--len-col", default="n_tok")
    pc.set_defaults(fn=_profile_corpus)

    ch = sub.add_parser("chunk-corpus",
                        help="context-window chunking of long documents")
    ch.add_argument("--input", required=True)
    ch.add_argument("--output", required=True)
    ch.add_argument("--window", type=int, required=True)
    ch.add_argument("--stride", type=int, default=None)
    ch.add_argument("--id-col", default="doc_id")
    ch.set_defaults(fn=_chunk_corpus)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()

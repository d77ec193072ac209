"""Structured Streaming sketch builds.

``foreachBatch`` incremental design: every micro-batch runs the same
partial-build + tree-merge used for batch jobs, then unions the batch's
per-group states with the persisted state table and rewrites it (the state
table has one tiny row per group, so the rewrite is O(groups), not O(data)).
Mergeability of the sketches is exactly what makes the streaming operator a
three-line composition of the batch operator — the monoid does the work.

For watermarked time-windowed NDV, ``windowed_ndv_stream`` shows the
DataFrame-native shape (window column in the group key).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_hll_spark.operators.aggregate import merge_sketches, sketch_partials


class StreamingSketchBuild:
    """Incremental per-group sketch state of ``value_col`` maintained
    across micro-batches (each batch built by ``sketch_partials``)."""

    def __init__(self, group_cols: list[str], value_col: str, spec,
                 state_dir: str):
        self.group_cols = group_cols
        self.value_col = value_col
        self.spec = spec
        self.state_dir = state_dir

    def _merge_into_state(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_states = merge_sketches(
            sketch_partials(batch_df, self.group_cols, self.value_col,
                            self.spec), self.group_cols, self.spec)
        current = os.path.join(self.state_dir, "current")
        if os.path.exists(current):
            prev = spark.read.parquet(current)
            partials = prev.select(*self.group_cols, "state", "n_rows", "n_values") \
                .unionByName(batch_states.select(*self.group_cols, "state",
                                                 "n_rows", "n_values"))
            merged = merge_sketches(partials, self.group_cols, self.spec,
                                    two_level=False)
        else:
            merged = batch_states
        staged = os.path.join(self.state_dir, f"_stage_{batch_id}")
        merged.write.mode("overwrite").parquet(staged)
        spark.read.parquet(staged).write.mode("overwrite").parquet(current)

    def attach(self, stream_df: DataFrame, checkpoint_dir: str,
               trigger_available_now: bool = True):
        writer = (stream_df.writeStream
                  .foreachBatch(self._merge_into_state)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("update"))
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def current_state(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.state_dir, "current"))


def stateful_hll_stream(stream_df: DataFrame, group_col: str, key_col: str,
                        log2m: int = 11, regwidth: int = 5) -> DataFrame:
    """Custom stateful streaming NDV via ``applyInPandasWithState``.

    Keeps one serialized HLL per group in Spark's streaming state store and
    emits (group, ndv, n_rows) on every update — the arbitrary-stateful
    counterpart to the foreachBatch design (exactly-once state handled by
    Spark's checkpointing instead of our table rewrite).  Keys are hashed
    JVM-side (xxhash64) before entering the state function.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = stream_df.select(F.col(group_col).alias("g"),
                              F.xxhash64(F.col(key_col)).alias("h"))

    def update(key, pdfs, state: GroupState):
        import numpy as np

        from python_hll_spark.sketches.hll import HLLConfig, HLLSketch

        if state.exists:
            blob, n_rows = state.get
            sk = HLLSketch.from_bytes(bytes(blob))
        else:
            sk, n_rows = HLLSketch(HLLConfig.create(log2m, regwidth)), 0
        for pdf in pdfs:
            sk.add_hashed(pdf["h"].to_numpy(dtype=np.int64))
            n_rows += len(pdf)
        state.update((sk.to_bytes(), n_rows))
        yield pd.DataFrame({"g": [key[0]], "ndv": [sk.cardinality()],
                            "n_rows": [n_rows]})

    return (hashed.groupBy("g")
            .applyInPandasWithState(
                update,
                outputStructType="g string, ndv bigint, n_rows bigint",
                stateStructType="state binary, n_rows bigint",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stateful_topk_stream(stream_df: DataFrame, group_col: str, key_col: str,
                         k: int = 10, depth: int = 5, width: int = 65536,
                         capacity: int | None = None) -> DataFrame:
    """Streaming heavy hitters per group via ``applyInPandasWithState``.

    State per group = one CMS (for count estimates with the published
    eps*N overcount bound) + a bounded SpaceSaving candidate summary with
    true admission semantics (same as the batch ``cms_topk``): unseen keys
    enter at the group's eviction floor (the largest count ever evicted),
    so a heavy hitter that surges late in the stream catches up instead of
    being starved by early accumulators.  Candidate memory is bounded at
    ``capacity`` keys (default 16k) regardless of how many distinct keys
    stream through — the long-running-stream guarantee.

    Keys are hashed JVM-side (xxhash64) before the state function; their
    hashes ride along in the state so estimates never re-hash in Python.
    Emits the current (group, key, est_count, n_rows) top-k per update,
    ranked by CMS estimate with deterministic key tie-break.

    State-schema v2 (adds the ``floor bigint`` slot for SpaceSaving
    admission): checkpoints written by the pre-floor build are NOT
    compatible — Spark's state-store schema check rejects them, and the
    5-tuple ``state.get`` unpacking would break even if it loaded.
    Restart such a query from a fresh checkpoint location.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from python_hll_spark.sketches.cms import CMSConfig, CMSSketch

    cap = capacity or 16 * k
    cfg = CMSConfig(depth=depth, width=width)

    hashed = stream_df.select(F.col(group_col).alias("g"),
                              F.col(key_col).cast("string").alias("key"),
                              F.xxhash64(F.col(key_col)).alias("h"))

    def update(gkey, pdfs, state: GroupState):
        import numpy as np

        if state.exists:
            blob, keys, counts, hashes, n_rows, floor = state.get
            cms = CMSSketch.from_bytes(bytes(blob))
            summary = {kk: [c, h] for kk, c, h in zip(keys, counts, hashes)}
        else:
            cms, summary, n_rows, floor = CMSSketch(cfg), {}, 0, 0
        for pdf in pdfs:
            n_rows += len(pdf)
            grouped = pdf.groupby("key", sort=False, dropna=False).agg(
                cnt=("h", "size"), h=("h", "first"))
            cms.update(grouped["h"].to_numpy(dtype=np.int64),
                       weights=grouped["cnt"].to_numpy(dtype=np.int64))
            for kk, cnt, h in zip(grouped.index, grouped["cnt"], grouped["h"]):
                kk = None if pd.isna(kk) else kk
                ent = summary.get(kk)
                if ent is None:
                    # SpaceSaving admission: unseen keys inherit the
                    # eviction floor so late heavy hitters catch up
                    summary[kk] = [floor + int(cnt), int(h)]
                else:
                    ent[0] += int(cnt)
            if len(summary) > cap:
                items = sorted(summary.items(), key=lambda kv: -kv[1][0])
                summary = dict(items[:cap])
                floor = max(floor, items[cap][1][0])
        keys = list(summary)
        counts = [summary[kk][0] for kk in keys]
        hashes = [summary[kk][1] for kk in keys]
        state.update((cms.to_bytes(), keys, counts, hashes, n_rows, floor))

        est = cms.estimate(np.asarray(hashes, dtype=np.int64))
        order = sorted(range(len(keys)),
                       key=lambda i: (-int(est[i]), str(keys[i])))[:k]
        yield pd.DataFrame({
            "g": [gkey[0]] * len(order),
            "key": [keys[i] for i in order],
            "est_count": [int(est[i]) for i in order],
            "n_rows": [n_rows] * len(order),
        })

    return (hashed.groupBy("g")
            .applyInPandasWithState(
                update,
                outputStructType="g string, key string, est_count bigint, "
                                 "n_rows bigint",
                stateStructType="state binary, keys array<string>, "
                                "counts array<bigint>, hashes array<bigint>, "
                                "n_rows bigint, floor bigint",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stateful_quantiles_stream(stream_df: DataFrame, group_col: str,
                              value_col: str,
                              qs: tuple = (0.25, 0.5, 0.75),
                              k: int = 200) -> DataFrame:
    """Streaming quantile profiles per group: one KLL sketch per group in
    Spark's streaming state store (``applyInPandasWithState``), emitting
    the current quantile estimates on every update.  Completes the
    streaming trio (NDV: ``stateful_hll_stream``, heavy hitters:
    ``stateful_topk_stream``) — all three ride the same mergeable-state
    design, so a restart resumes from the checkpointed sketch bytes."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from python_hll_spark.sketches.kll import KLLConfig, KLLSketch

    qlist = [float(q) for q in qs]
    typed = stream_df.select(F.col(group_col).alias("g"),
                             F.col(value_col).cast("double").alias("v"))

    def update(gkey, pdfs, state: GroupState):
        import numpy as np

        if state.exists:
            blob, n_rows = state.get
            sk = KLLSketch.from_bytes(bytes(blob))
        else:
            sk, n_rows = KLLSketch(KLLConfig(k=k)), 0
        for pdf in pdfs:
            vals = pdf["v"].to_numpy(dtype=np.float64)
            sk.update(vals[~np.isnan(vals)])
            n_rows += len(pdf)
        state.update((sk.to_bytes(), n_rows))
        est = sk.quantile(np.asarray(qlist))
        yield pd.DataFrame({"g": [gkey[0]],
                            "quantiles": [[float(x) for x in est]],
                            "n_rows": [n_rows]})

    return (typed.groupBy("g")
            .applyInPandasWithState(
                update,
                outputStructType="g string, quantiles array<double>, "
                                 "n_rows bigint",
                stateStructType="state binary, n_rows bigint",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def dedup_stream(stream_df: DataFrame, text_col: str = "text",
                 ts_col: str | None = None,
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: emit only the FIRST occurrence of each
    content fingerprint (normalized-text hash) seen on the stream.

    With ``ts_col`` the dedup state is bounded by the watermark
    (``dropDuplicatesWithinWatermark``) — the 100 TB-friendly mode: state
    holds only fingerprints younger than the watermark horizon, so a
    perpetual crawl stream cannot grow state without bound (duplicates
    farther apart than the horizon are the batch ``incremental_dedup``
    store's job).  Without ``ts_col`` state is unbounded exact
    ``dropDuplicates`` — acceptable only for finite replays."""
    from python_hll_spark.functions.text import doc_fingerprint

    fp_df = stream_df.withColumn("__fp", doc_fingerprint(F.col(text_col)))
    if ts_col is not None:
        fp_df = (fp_df
                 .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
                 .withWatermark(ts_col, watermark)
                 .dropDuplicatesWithinWatermark(["__fp"]))
    else:
        fp_df = fp_df.dropDuplicates(["__fp"])
    return fp_df.drop("__fp")


def decontaminate_stream(stream_df: DataFrame, eval_df: DataFrame,
                         text_col: str = "text") -> DataFrame:
    """Streaming eval-set decontamination, exact tier: drop stream docs
    whose normalized content fingerprint matches ANY eval doc — a
    stream-static broadcast anti-join, stateless, so it composes with any
    downstream streaming op (no foreachBatch needed).  For the NEAR tier
    (stream docs near-duplicating eval docs) use ``near_dedup_stream``
    with the eval set's signatures as a read-only store
    (``append_store=False``) — near matching needs stream-side signatures
    and per-pair scoring, which is inherently per-batch."""
    from python_hll_spark.functions.text import doc_fingerprint

    eval_fps = (eval_df.select(doc_fingerprint(F.col(text_col))
                               .alias("__fp")).distinct())
    return (stream_df.withColumn("__fp", doc_fingerprint(F.col(text_col)))
            .join(F.broadcast(eval_fps), "__fp", "left_anti")
            .drop("__fp"))


def decontaminate_spans_stream(stream_df: DataFrame, eval_df: DataFrame,
                               sink_path: str | None = None, *,
                               k: int = 13, tokens_col: str = "tokens",
                               id_col: str = "doc_id",
                               eval_tokens_col: str | None = None,
                               drop_if_removed_frac_ge: float | None = 0.5,
                               sink_writer=None):
    """Streaming span-surgery decontamination: every micro-batch of the
    crawl stream has its eval-overlapping k-token windows cut (merged to
    maximal spans) against the STATIC eval set, survivors written to the
    sink with their ``n_contam_*`` audit columns; docs that are mostly
    eval content drop wholesale.

    Built on ``foreachBatch`` because the span tier groups hit windows
    per doc and joins back — a stream-side aggregation Structured
    Streaming can't run inline — so each micro-batch runs the UNCHANGED
    batch ``decontaminate_spans_tokens`` against the static eval frame;
    streaming and batch share one code path.  Unlike the near-dedup
    stream there is no store: batches are independent, so a replayed
    batch recomputes identical rows (pass an idempotent
    ``sink_writer(df, batch_id)`` to make the sink exactly-once too).

    Returns a ``DataStreamWriter`` — configure checkpointing/trigger and
    ``.start()`` it."""
    from python_hll_spark.operators.decontaminate import \
        decontaminate_spans_tokens

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = decontaminate_spans_tokens(
            batch_df, eval_df, k=k, tokens_col=tokens_col, id_col=id_col,
            eval_tokens_col=eval_tokens_col,
            drop_if_removed_frac_ge=drop_if_removed_frac_ge)
        if sink_writer is not None:
            sink_writer(out, batch_id)
        elif sink_path is not None:
            out.write.mode("append").parquet(sink_path)

    return stream_df.writeStream.foreachBatch(_process)


def near_dedup_stream(stream_df: DataFrame, store_path: str,
                      sink_path: str | None = None, *,
                      threshold: float = 0.8, num_hashes: int = 128,
                      bands: int = 32, n: int = 3, text_col: str = "text",
                      id_col: str = "doc_id", append_store: bool = True,
                      sink_writer=None):
    """Streaming incremental NEAR-dedup: crawl micro-batches checked
    against the persisted signature/band-key store, survivors written to
    the sink AND appended to the store — so every micro-batch dedups
    against the whole history (initial corpus + all earlier batches), the
    perpetual-crawl shape ``dedup_stream`` (exact tier, watermark-bounded
    state) cannot express.

    Built on ``foreachBatch`` — the canonical Structured Streaming
    pattern when a batch needs static joins plus a store update: each
    micro-batch runs the full batch ``incremental_near_dedup`` (within-
    batch collapse -> broadcast store probe; the store is scanned, never
    shuffled), so streaming and batch tiers share one code path and one
    store.  Bootstrap an empty store with ``near_store_init``.

    Replay semantics: store appends are keyed by the micro-batch id
    (``near_store_write(..., batch_id=batch_id)`` writes under its own
    ``batch_id=`` subdirectory), so a batch replayed after a failure
    OVERWRITES its own append instead of duplicating rows — the store
    does not accumulate garbage across crash-replays.  The default sink
    is still a plain parquet append; pass ``sink_writer(df, batch_id)``
    writing to a per-batch-id path for an idempotent sink too.

    Returns a ``DataStreamWriter`` — configure checkpointing/trigger and
    ``.start()`` it."""
    from python_hll_spark.operators.dedup import near_store_check

    near_store_check(store_path, num_hashes=num_hashes, bands=bands, n=n)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_near_dedup_batch(
            batch_df, batch_id, store_path, sink_path=sink_path,
            threshold=threshold, num_hashes=num_hashes, bands=bands, n=n,
            text_col=text_col, id_col=id_col, append_store=append_store,
            sink_writer=sink_writer)

    return stream_df.writeStream.foreachBatch(_process)


def process_near_dedup_batch(batch_df: DataFrame, batch_id: int,
                             store_path: str, *,
                             sink_path: str | None = None,
                             threshold: float = 0.8, num_hashes: int = 128,
                             bands: int = 32, n: int = 3,
                             text_col: str = "text", id_col: str = "doc_id",
                             append_store: bool = True,
                             sink_writer=None) -> None:
    """One ``near_dedup_stream`` micro-batch, as a plain function so
    replay semantics are directly testable: calling it twice with the
    same ``batch_id`` (a crash-replay) leaves the store byte-identical —
    the append is keyed by ``batch_id`` and overwrites itself."""
    from python_hll_spark.operators.dedup import (incremental_near_dedup,
                                                  near_store_read,
                                                  near_store_write)

    spark = batch_df.sparkSession
    # exclude this batch's OWN partition from the probe: on a replay the
    # store already holds the first attempt's survivors, which would all
    # self-match and zero out the rewrite
    store_sigs, store_bands = near_store_read(spark, store_path,
                                              exclude_batch_id=batch_id)
    caches: list = []
    outputs: dict = {}
    kept = incremental_near_dedup(batch_df, store_sigs, store_bands,
                                  threshold=threshold,
                                  num_hashes=num_hashes, bands=bands,
                                  n=n, text_col=text_col, id_col=id_col,
                                  cache_out=caches,
                                  outputs=outputs).persist()
    try:
        if sink_writer is not None:
            sink_writer(kept, batch_id)
        elif sink_path is not None:
            kept.write.mode("append").parquet(sink_path)
        if append_store:
            # survivors' signatures come SLICED from the batch's one
            # signature pass (outputs contract) — no re-tokenize/
            # re-hash of the survivors.  localCheckpoint before
            # appending: the frame's lineage reads the store parquet
            # (and the batch persist handles), and near_store_write's
            # TWO appends (sigs, then derived band keys) would
            # otherwise re-evaluate it through a cache entry that
            # Spark's recache-by-path may have invalidated after the
            # first append — against a store that now contains this
            # batch's own signatures (every survivor then
            # self-matches and the band-keys append writes nothing).
            # Same load-bearing truncation as plans.pipeline
            # refresh_corpus; the frame is batch-survivor-sized.
            new_sigs = outputs["survivor_sigs"].localCheckpoint()
            near_store_write(new_sigs, store_path, bands=bands,
                             id_col=id_col, mode="append",
                             batch_id=batch_id, num_hashes=num_hashes,
                             n=n)
    finally:
        kept.unpersist()
        for c in caches:
            c.unpersist()


def windowed_ndv_stream(stream_df: DataFrame, ts_col: str, key_col: str,
                        window: str = "1 minute", watermark: str = "2 minutes") -> DataFrame:
    """Watermarked approximate NDV per event-time window using Spark's
    native streaming HLL++ (approx_count_distinct) — the built-in oracle
    shape; our storage-compatible sketches ride foreachBatch above."""
    return (stream_df
            # watermarks require TIMESTAMP (ntz is rejected by the analyzer)
            .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window))
            .agg(F.approx_count_distinct(key_col).alias("ndv")))

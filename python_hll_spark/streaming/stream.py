"""Structured Streaming sketch builds, each a composition of the batch
operators — mergeability of the sketches does the work:

- ``StreamingSketchBuild`` (``foreachBatch``) merges every micro-batch's
  batch build into the newest committed state version (one tiny row per
  group, so each write is O(groups), not O(data)).
- ``stateful_hll_stream`` / ``stateful_quantiles_stream``
  (``applyInPandasWithState``) run the batch operator's stage 1 on the
  stream and fold each group's partial rows (one per task, not one per
  input row) into its state with ``merge_states``; ``stateful_topk_stream``
  counts and admits keys as ``cms_topk`` does.

For watermarked time-windowed NDV, ``windowed_ndv_stream`` shows the
DataFrame-native shape (window column in the group key).
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from python_hll_spark.operators.aggregate import (SplitmixSpec, merge_sketches,
                                                  merge_states, sketch_partials)
from python_hll_spark.operators.ndv import hll_column_partials
from python_hll_spark.operators.quantiles import (quantile_partials,
                                                  quantiles_of)
from python_hll_spark.operators.topk import _hash_keys, space_saving_admit
from python_hll_spark.sketches.cms import CMSConfig
from python_hll_spark.sketches.hll import HLLConfig
from python_hll_spark.sketches.kll import KLLConfig
from python_hll_spark.sketches.specs import CMSSpec, HLLSpec, KLLSpec


class StreamingSketchBuild:
    """Incremental per-group sketch state of ``value_col`` maintained
    across micro-batches (each batch built by ``sketch_partials``).

    Batch ``b`` merges into the newest committed version with a smaller id
    and writes the result to ``state_dir/batch=<b>`` (committed by Spark's
    ``_SUCCESS`` marker), so a replayed batch rewrites its own version
    instead of merging twice.  Versions older than that base are deleted."""

    def __init__(self, group_cols: list[str], value_col: str, spec,
                 state_dir: str):
        self.group_cols = group_cols
        self.value_col = value_col
        self.spec = spec
        self.state_dir = state_dir

    def _path(self, batch_id: int) -> str:
        return os.path.join(self.state_dir, f"batch={batch_id}")

    def _committed(self) -> list[int]:
        marks = glob.glob(os.path.join(glob.escape(self.state_dir),
                                       "batch=*", "_SUCCESS"))
        return sorted(int(os.path.dirname(m).rsplit("=", 1)[1]) for m in marks)

    def _merge_into_state(self, batch_df: DataFrame, batch_id: int) -> None:
        merged = merge_sketches(
            sketch_partials(batch_df, self.group_cols, self.value_col,
                            self.spec), self.group_cols, self.spec)
        older = [b for b in self._committed() if b < batch_id]
        if older:
            cols = [*self.group_cols, "state", "n_rows", "n_values"]
            prev = batch_df.sparkSession.read.parquet(self._path(older[-1]))
            merged = merge_sketches(
                prev.select(*cols).unionByName(merged.select(*cols)),
                self.group_cols, self.spec, two_level=False)
        merged.write.mode("overwrite").parquet(self._path(batch_id))
        for b in older[:-1]:
            shutil.rmtree(self._path(b), ignore_errors=True)

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
        """The newest committed state version."""
        return spark.read.parquet(self._path(self._committed()[-1]))


def _fold_stream(partials: DataFrame, spec, name: str, dtype: str,
                 finalize) -> DataFrame:
    """Fold stage-1 partial rows into one state per group ``g`` in Spark's
    streaming state store with ``merge_states``; every update emits the
    group's (g, <name> = finalize(state), n_rows, state)."""

    def update(key, pdfs, state: GroupState):
        blobs, n_rows = ([bytes(state.get[0])], state.get[1]) \
            if state.exists else ([], 0)
        for pdf in pdfs:
            blobs.extend(pdf["state"])
            n_rows += int(pdf["n_rows"].sum())
        blob = merge_states(spec, blobs)
        state.update((blob, n_rows))
        yield pd.DataFrame({"g": [key[0]], name: [finalize(blob)],
                            "n_rows": [n_rows], "state": [blob]})

    return (partials.select("g", "state", "n_rows").groupBy("g")
            .applyInPandasWithState(
                update,
                outputStructType=f"g string, {name} {dtype}, n_rows bigint, "
                                 "state binary",
                stateStructType="state binary, n_rows bigint",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stateful_hll_stream(stream_df: DataFrame, group_col: str, key_col: str,
                        log2m: int = 11, regwidth: int = 5) -> DataFrame:
    """Custom stateful streaming NDV via ``applyInPandasWithState``.

    Keeps one serialized HLL per group in Spark's streaming state store and
    emits (g, ndv, n_rows, state) on every update — the arbitrary-stateful
    counterpart to the foreachBatch design.  Keys go through
    ``hll_ndv_column``'s stage 1, so NULL keys count in ``n_rows`` but not
    in ``ndv`` (an all-NULL group reports 0), and the final ``state``
    equals ``hll_ndv_column``'s bytes.  Checkpoints of the earlier build,
    which counted NULL as a key, must not be resumed.
    """
    spec = HLLSpec(HLLConfig.create(log2m, regwidth))
    keyed = stream_df.select(F.col(group_col).alias("g"), key_col)
    return _fold_stream(hll_column_partials(keyed, key_col, ["g"], spec),
                        spec, "ndv", "bigint", spec.estimate)


def stateful_topk_stream(stream_df: DataFrame, group_col: str, key_col: str,
                         k: int = 10, depth: int = 5, width: int = 65536,
                         capacity: int | None = None) -> DataFrame:
    """Streaming heavy hitters per group via ``applyInPandasWithState``.

    State per group = one CMS (for count estimates with the published
    eps*N overcount bound) + a bounded SpaceSaving candidate summary, both
    kept as ``cms_topk`` keeps them: the CMS is ``SplitmixSpec(CMSSpec)``
    probed through ``topk._hash_keys``, so its estimates equal
    ``cms_topk``'s on the same rows, and keys are admitted by
    ``space_saving_admit``.  Candidate memory is bounded at ``capacity``
    keys (default 16k) regardless of how many distinct keys stream
    through — the long-running-stream guarantee.

    Keys are hashed JVM-side (xxhash64) before the state function; their
    hashes ride along in the state so estimates never re-hash in Python.
    Emits the current (group, key, est_count, n_rows) top-k per update,
    ranked by CMS estimate with deterministic key tie-break.

    State-schema v3: the stored CMS counts splitmix-finalized hashes (v2
    counted raw xxhash64 values; v1 lacked the ``floor`` slot).  The
    schema is unchanged, so Spark's state-store check does NOT reject a
    v2 checkpoint: restart such a query from a fresh checkpoint location.
    """
    cap = capacity or 16 * k
    spec = SplitmixSpec(CMSSpec(CMSConfig(depth=depth, width=width)))

    hashed = stream_df.select(F.col(group_col).alias("g"),
                              F.col(key_col).cast("string").alias("key"),
                              F.xxhash64(F.col(key_col)).alias("h"))

    def update(gkey, pdfs, state: GroupState):
        if state.exists:
            blob, keys, counts, hashes, n_rows, floor = state.get
            cms = spec.deserialize(bytes(blob))
            summary = dict(zip(keys, counts))
            key_hash = dict(zip(keys, hashes))
        else:
            cms, summary, key_hash, n_rows, floor = spec.new(), {}, {}, 0, 0
        for pdf in pdfs:
            n_rows += len(pdf)
            spec.update(cms, pdf["h"].to_numpy(dtype=np.int64))
            grouped = pdf.groupby("key", sort=False, dropna=False).agg(
                cnt=("h", "size"), h=("h", "first"))
            batch_keys = [None if pd.isna(kk) else kk for kk in grouped.index]
            key_hash.update(zip(batch_keys, grouped["h"].tolist()))
            floor = space_saving_admit(summary, floor, batch_keys,
                                       grouped["cnt"].tolist(), cap)
        keys = list(summary)
        hashes = [key_hash[kk] for kk in keys]
        state.update((spec.serialize(cms), keys, list(summary.values()),
                      hashes, n_rows, floor))

        est = cms.estimate(_hash_keys(np.asarray(hashes, dtype=np.int64)))
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
    (g, quantiles, n_rows, state) on every update.  Values go through
    ``sketch_quantiles``'s stage 1 and finalizer, so NULL values count in
    ``n_rows`` but not in the sketch, and an all-NULL group is still
    emitted (with NULL quantiles).  An empty sketch's quantiles leave the
    state function as one NULL array and are expanded to NULL elements in
    the JVM: NULL elements inside an Arrow-backed array break Spark's row
    decoding (the memory sink fails with ``EXPRESSION_DECODING_FAILED``).
    Completes the streaming trio (NDV: ``stateful_hll_stream``, heavy
    hitters: ``stateful_topk_stream``) — all three ride the same
    mergeable-state design, so a restart resumes from the checkpointed
    sketch bytes."""
    spec = KLLSpec(KLLConfig(k=k))
    keyed = stream_df.select(F.col(group_col).alias("g"), value_col)

    def finalize(blob):
        q = quantiles_of(spec, blob, qs)
        return None if np.isnan(q).all() else q

    out = _fold_stream(quantile_partials(keyed, value_col, ["g"], spec),
                       spec, "quantiles", "array<double>", finalize)
    return out.withColumn("quantiles", F.coalesce(
        "quantiles", F.array_repeat(F.lit(None).cast("double"), len(qs))))


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

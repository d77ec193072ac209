"""Checkpoint/resume and Structured Streaming tests: a killed build resumed
from its manifest must produce byte-identical final sketches to a clean run,
and both equal the batch operator's (``hll_ndv_tokens``) states."""

import os

import pytest
from pyspark.sql import functions as F

from python_hll_spark.operators.ndv import hll_ndv_tokens
from python_hll_spark.sketches.hll import HLLConfig
from python_hll_spark.sketches.specs import HLLSpec
from python_hll_spark.sources.seqs import seqs_table
from python_hll_spark.sources.state import SketchCheckpoint


@pytest.fixture(scope="module")
def seqs_files(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("seqs"))
    seqs_table(spark, 300, partitions=8).write.parquet(root, mode="overwrite")
    files = [os.path.join(root, f) for f in os.listdir(root) if f.endswith(".parquet")]
    assert len(files) >= 4
    return files


@pytest.fixture(scope="module")
def batch_states(spark, seqs_files):
    """Per-source HLL states of the one-shot batch operator."""
    df = spark.read.parquet(*seqs_files)
    return {r["source"]: bytes(r["state"]) for r in
            hll_ndv_tokens(df, by=["source"],
                           cfg=HLLConfig.create(11, 5)).collect()}


def test_checkpoint_resume_byte_identical(spark, seqs_files, batch_states,
                                          tmp_path):
    spec = HLLSpec(HLLConfig.create(11, 5))

    # clean run
    cp_clean = SketchCheckpoint(str(tmp_path / "clean"))
    cp_clean.run(spark, seqs_files, ["source"], "tokens", spec, n_chunks=4)
    clean = {r["source"]: bytes(r["state"])
             for r in cp_clean.finalize(spark, ["source"], spec).collect()}

    # crashed run: dies after chunk 1, resumed
    cp = SketchCheckpoint(str(tmp_path / "crashy"))
    with pytest.raises(RuntimeError, match="simulated failure"):
        cp.run(spark, seqs_files, ["source"], "tokens", spec,
               n_chunks=4, fail_after_chunk=1)
    assert len(cp.committed_chunks()) == 2
    cp.run(spark, seqs_files, ["source"], "tokens", spec, n_chunks=4)
    assert len(cp.committed_chunks()) == 4
    resumed = {r["source"]: bytes(r["state"])
               for r in cp.finalize(spark, ["source"], spec).collect()}

    assert resumed == clean
    assert clean == batch_states  # checkpointed build == the operator's

    # lineage metrics recorded per chunk
    metrics = cp.chunk_metrics()
    assert len(metrics) == 4
    assert all(m["n_partitions"] >= 1 for m in metrics)
    assert sum(m["n_rows"] for m in metrics) == 300


def test_streaming_sketch_build_matches_batch(spark, seqs_files, batch_states,
                                              tmp_path):
    from python_hll_spark.streaming.stream import StreamingSketchBuild

    spec = HLLSpec(HLLConfig.create(11, 5))
    batch_df = spark.read.parquet(*seqs_files)

    stream_df = (spark.readStream.schema(batch_df.schema)
                 .option("maxFilesPerTrigger", 2)
                 .parquet(os.path.dirname(seqs_files[0])))
    build = StreamingSketchBuild(["source"], "tokens", spec,
                                 state_dir=str(tmp_path / "state"))
    q = build.attach(stream_df, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {r["source"]: bytes(r["state"])
           for r in build.current_state(spark).collect()}
    assert got == batch_states


def test_streaming_sketch_build_replay_exactly_once(spark, tmp_path):
    """A micro-batch replayed after its state write committed (a crash
    before the stream's own commit) leaves the state as one application
    would: CMS counts and n_rows are not merged twice, and no staging or
    superseded state directories are left behind."""
    from python_hll_spark.operators.aggregate import (merge_sketches,
                                                      sketch_partials)
    from python_hll_spark.sketches.cms import CMSConfig
    from python_hll_spark.sketches.specs import CMSSpec
    from python_hll_spark.streaming.stream import StreamingSketchBuild

    spec = CMSSpec(CMSConfig(depth=3, width=256))
    rows = [(f"g{i % 3}", i % 97) for i in range(1500)]
    b0 = spark.createDataFrame(rows[:1000], "g string, h long")
    b1 = spark.createDataFrame(rows[1000:], "g string, h long")
    state_dir = str(tmp_path / "replay_state")
    build = StreamingSketchBuild(["g"], "h", spec, state_dir)
    build._merge_into_state(b0, 0)
    build._merge_into_state(b1, 1)
    build._merge_into_state(b1, 1)  # replay of batch 1

    got = {r["g"]: r for r in build.current_state(spark).collect()}
    once = {r["g"]: r for r in merge_sketches(
        sketch_partials(b0.unionByName(b1), ["g"], "h", spec),
        ["g"], spec).collect()}
    assert set(got) == set(once)
    for g, r in once.items():
        assert got[g]["n_rows"] == r["n_rows"], g
        assert bytes(got[g]["state"]) == bytes(r["state"]), g
    assert sum(r["n_rows"] for r in got.values()) == 1500
    assert sorted(os.listdir(state_dir)) == ["batch=0", "batch=1"]


def test_tables_reader_parquet_fallback(spark, seqs_files):
    import os
    from python_hll_spark.sources.tables import iceberg_available, read_seqs

    assert iceberg_available(spark) is False  # sandbox ships no Iceberg jar
    df = read_seqs(spark, path=os.path.dirname(seqs_files[0]))
    assert df.columns == ["doc_id", "tokens", "n_tok", "source"]
    assert df.count() == 300


def test_checkpoint_retry_after_manifest_crash_no_double_count(
        spark, seqs_files, batch_states, tmp_path):
    """Crash AFTER the parquet job commits but BEFORE the manifest rename:
    the retry must overwrite the chunk's directory, not append a second
    copy (which would double CMS/KLL counts and n_rows lineage)."""
    spec = HLLSpec(HLLConfig.create(11, 5))
    cp = SketchCheckpoint(str(tmp_path / "mcrash"))
    cp.run(spark, seqs_files, ["source"], "tokens", spec, n_chunks=4)
    # simulate the crash window: chunk 2's parquet exists, manifest doesn't
    os.remove(os.path.join(cp.manifest_dir, "chunk_2.json"))
    assert len(cp.committed_chunks()) == 3
    cp.run(spark, seqs_files, ["source"], "tokens", spec, n_chunks=4)
    assert len(cp.committed_chunks()) == 4
    # lineage must count chunk 2's rows exactly once
    metrics = cp.chunk_metrics()
    assert sum(m["n_rows"] for m in metrics) == 300
    final = cp.finalize(spark, ["source"], spec).collect()
    assert sum(r["n_rows"] for r in final) == 300
    # and the resumed states are a clean build's, byte for byte
    assert {r["source"]: bytes(r["state"]) for r in final} == batch_states


def test_near_dedup_stream_across_microbatches(spark, tmp_path):
    """Streaming incremental near-dedup: micro-batch 1's survivors are
    appended to the store, so micro-batch 2 dedups against BOTH the
    initial corpus and batch 1 — the cross-batch guarantee exact
    dedup_stream's watermark state cannot give."""
    import time as _t

    from python_hll_spark.operators.dedup import (minhash_signatures,
                                                  near_store_read,
                                                  near_store_write)
    from python_hll_spark.streaming.stream import near_dedup_stream

    store = str(tmp_path / "store")
    base = ("the quick brown fox jumps over the lazy dog while rain falls "
            "gently on the quiet grey town every single morning again ")
    corpus = spark.createDataFrame([(1, base * 2)], "doc_id long, text string")
    near_store_write(minhash_signatures(corpus, num_hashes=64, n=3),
                     store, bands=16)

    fresh_x = ("a completely new crawl document describing solar panels "
               "batteries and inverters in one long rambling list " * 2)
    fresh_y = ("yet another unrelated page about winnowing fingerprints "
               "rolling hashes and normalized lowercase text windows " * 2)
    src = str(tmp_path / "src")
    b1 = spark.createDataFrame(
        [(10, base * 2 + " tiny edit"),      # near-copy of stored 1 -> drop
         (11, fresh_x)],                     # fresh -> keep
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(20, fresh_x + " minor twist"),     # near-copy of batch-1's 11 -> drop
         (21, fresh_y)],                     # fresh -> keep
        "doc_id long, text string")
    b1.coalesce(1).write.parquet(src)
    _t.sleep(1.1)                            # distinct mtimes => batch order
    b2.coalesce(1).write.mode("append").parquet(src)

    sink = str(tmp_path / "sink")
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (near_dedup_stream(stream, store, sink, threshold=0.8,
                           num_hashes=64, bands=16, n=3)
         .option("checkpointLocation", str(tmp_path / "chk"))
         .trigger(availableNow=True).start())
    q.awaitTermination(420)
    assert not q.isActive, f"stream did not finish: {q.status}"
    assert q.exception() is None, f"stream failed: {q.exception()}"

    kept = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert kept == [11, 21], kept
    sigs, bnds = near_store_read(spark, store)
    store_ids = sorted(r["doc_id"] for r in sigs.select("doc_id").collect())
    assert store_ids == [1, 11, 21], store_ids
    assert bnds.where(F.col("doc_id") == 21).count() == 16


def test_decontaminate_stream_exact(spark, tmp_path):
    """Stream-static broadcast anti-join: eval-content docs never reach
    the sink; normalization matches the batch tier."""
    from python_hll_spark.streaming.stream import decontaminate_stream

    eval_df = spark.createDataFrame(
        [(900, "the secret eval question")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "ordinary training text one"),
         (2, "  The   SECRET eval QUESTION "),   # normalizes to eval -> drop
         (3, "ordinary training text two")],
        "doc_id long, text string")
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = decontaminate_stream(stream, eval_df)
    q = (out.writeStream.format("memory").queryName("decon_s")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM decon_s").collect())
    assert kept == [1, 3]


def test_near_dedup_stream_as_decontaminator(spark, tmp_path):
    """NEAR-tier streaming decontamination = near_dedup_stream with the
    eval signatures as a read-only store (append_store=False): a stream
    doc near-duplicating an eval doc is dropped, and the store is NOT
    grown by the stream."""
    from python_hll_spark.operators.dedup import (minhash_signatures,
                                                  near_store_read,
                                                  near_store_write)
    from python_hll_spark.streaming.stream import near_dedup_stream

    eval_text = ("what is the airspeed velocity of an unladen swallow "
                 "asked the keeper of the bridge of death " * 2)
    eval_df = spark.createDataFrame([(900, eval_text)],
                                    "doc_id long, text string")
    store = str(tmp_path / "eval_store")
    near_store_write(minhash_signatures(eval_df, num_hashes=64, n=3),
                     store, bands=16)
    docs = spark.createDataFrame(
        [(1, eval_text + " tiny edit"),       # near-dup of eval -> drop
         (2, "completely unrelated training document about gardening "
             "tools shovels and rakes listed at length " * 2)],
        "doc_id long, text string")
    src = str(tmp_path / "src2")
    docs.coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    sink = str(tmp_path / "sink2")
    q = (near_dedup_stream(stream, store, sink, threshold=0.8,
                           num_hashes=64, bands=16, n=3, append_store=False)
         .option("checkpointLocation", str(tmp_path / "chk2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(420)
    assert not q.isActive, f"stream did not finish: {q.status}"
    assert q.exception() is None, f"stream failed: {q.exception()}"
    kept = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    # historical flake root-caused: pyarrow's utf8_split_whitespace
    # buffer-tail overread made doc 1's last token (and so its signature)
    # layout-dependent; fixed by murmur3.word_hash_segments.  Diagnostics
    # kept in case a new nondeterminism source ever appears:
    if kept != [2]:
        from python_hll_spark.operators.dedup import incremental_near_dedup
        sigs_d, bands_d = near_store_read(spark, store)
        print(f"DIAG store rows: sigs={sigs_d.count()} "
              f"bands={bands_d.count()}")
        rerun = incremental_near_dedup(docs, sigs_d, bands_d, threshold=0.8,
                                       num_hashes=64, bands=16, n=3)
        print("DIAG batch-mode rerun kept:",
              sorted(r["doc_id"] for r in rerun.collect()))
    assert kept == [2], kept
    sigs, _ = near_store_read(spark, store)
    assert sorted(r["doc_id"] for r in sigs.collect()) == [900]  # unchanged


def test_decontaminate_spans_stream_matches_batch(spark, tmp_path):
    """Streaming span-surgery decontamination: micro-batches through the
    foreachBatch leg produce exactly the batch operator's output — an
    embedded eval passage is cut, a mostly-eval doc drops wholesale, a
    clean doc flows through untouched."""
    import time as _t

    from python_hll_spark.operators.decontaminate import \
        decontaminate_spans_tokens
    from python_hll_spark.streaming.stream import decontaminate_spans_stream

    eval_df = spark.createDataFrame(
        [(900, list(range(100, 110)))], "doc_id long, tokens array<int>")
    b1 = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5, 6] + list(range(100, 110))
             + [7, 8, 11, 12, 13, 14]),                       # cut middle
         (2, [50, 51, 52, 53, 54, 55])],                      # clean
        "doc_id long, tokens array<int>")
    b2 = spark.createDataFrame(
        [(3, list(range(100, 110)) + [9]),                    # mostly eval
         (4, [60, 61, 62, 63, 64])],                          # clean
        "doc_id long, tokens array<int>")
    src = str(tmp_path / "src")
    b1.coalesce(1).write.parquet(src)
    _t.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(src)

    sink = str(tmp_path / "sink")
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (decontaminate_spans_stream(stream, eval_df, sink, k=4,
                                    drop_if_removed_frac_ge=0.5)
         .option("checkpointLocation", str(tmp_path / "chk"))
         .trigger(availableNow=True).start())
    q.awaitTermination(240)
    assert not q.isActive and q.exception() is None

    got = {r["doc_id"]: (list(r["tokens"]), r["n_tokens_removed"])
           for r in spark.read.parquet(sink).collect()}
    want = {r["doc_id"]: (list(r["tokens"]), r["n_tokens_removed"])
            for r in decontaminate_spans_tokens(
                b1.unionByName(b2), eval_df, k=4,
                drop_if_removed_frac_ge=0.5).collect()}
    assert got == want
    assert sorted(got) == [1, 2, 4]                 # doc 3 dropped
    assert got[1][0] == [1, 2, 3, 4, 5, 6,
                         7, 8, 11, 12, 13, 14]      # span cut exactly
    assert got[2][1] == 0 and got[4][1] == 0

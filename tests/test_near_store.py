"""Near-dup store hardening: replay-idempotent batch_id-keyed appends,
build-parameter meta validation, compaction, custom id columns, and the
single-signature-pass refresh contract."""

import glob
import os

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _near_docs(spark):
    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls gently on the quiet grey town every single morning ")
    rows = [(i, base.replace("fox", f"fox{i}") + f"suffix token {i} "
             + base) for i in range(1, 6)]
    return _docs(spark, rows)


def _store_counts(spark, path):
    from python_hll_spark.operators.dedup import near_store_read
    sigs, bands = near_store_read(spark, path)
    return sigs.count(), bands.count()


def test_append_replay_idempotent(spark, tmp_path):
    """Re-running an append with the same batch_id (crash-replay)
    overwrites its own subdirectory: store row counts and contents are
    unchanged after the second write."""
    from python_hll_spark.operators.dedup import (minhash_signatures,
                                                  near_store_read,
                                                  near_store_write)

    path = str(tmp_path / "store")
    near_store_write(minhash_signatures(_near_docs(spark), num_hashes=64,
                                        n=3),
                     path, bands=16, num_hashes=64, n=3)
    extra = _docs(spark, [(9, "a fresh appended document about solar "
                              "panels and batteries " * 3)])
    e_sigs = minhash_signatures(extra, num_hashes=64, n=3).localCheckpoint()

    near_store_write(e_sigs, path, bands=16, mode="append", batch_id="day1",
                     num_hashes=64, n=3)
    c1 = _store_counts(spark, path)
    ids1 = sorted(r["doc_id"] for r in
                  near_store_read(spark, path)[0].collect())

    # replay
    near_store_write(e_sigs, path, bands=16, mode="append", batch_id="day1",
                     num_hashes=64, n=3)
    assert _store_counts(spark, path) == c1
    assert sorted(r["doc_id"] for r in
                  near_store_read(spark, path)[0].collect()) == ids1

    # a DIFFERENT batch_id is a real append and grows the store
    extra2 = _docs(spark, [(10, "another appended document mentioning "
                                "wind turbines and inverters " * 3)])
    near_store_write(minhash_signatures(extra2, num_hashes=64, n=3),
                     path, bands=16, mode="append", batch_id="day2",
                     num_hashes=64, n=3)
    assert _store_counts(spark, path)[0] == c1[0] + 1


def test_meta_validation_rejects_mismatched_params(spark, tmp_path):
    """A store records its build parameters; probes/appends with different
    num_hashes/bands fail loudly instead of silently under-deduping."""
    from python_hll_spark.operators.dedup import (minhash_signatures,
                                                  near_store_check,
                                                  near_store_init,
                                                  near_store_meta,
                                                  near_store_write)

    path = str(tmp_path / "store")
    near_store_init(spark, path, num_hashes=64, bands=16, n=3)
    meta = near_store_meta(path)
    assert meta["num_hashes"] == 64 and meta["bands"] == 16

    near_store_check(path, num_hashes=64, bands=16, n=3)  # matching: ok
    near_store_check(path)                                # unknown: ok
    with pytest.raises(ValueError, match="num_hashes=64"):
        near_store_check(path, num_hashes=128)
    with pytest.raises(ValueError, match="bands=16"):
        near_store_check(path, bands=32)

    sigs = minhash_signatures(_near_docs(spark), num_hashes=128, n=3)
    with pytest.raises(ValueError, match="num_hashes"):
        near_store_write(sigs, path, bands=16, mode="append",
                         num_hashes=128)

    # overwrite REPLACES the build and its recorded parameters
    near_store_write(minhash_signatures(_near_docs(spark), num_hashes=128,
                                        n=3),
                     path, bands=32, num_hashes=128, n=3)
    assert near_store_meta(path)["num_hashes"] == 128


def test_compact_preserves_probe_results(spark, tmp_path):
    """Many small appends -> compact -> probe results identical, file
    count bounded, meta preserved."""
    from python_hll_spark.operators.dedup import (
        incremental_near_dedup, minhash_signatures, near_store_compact,
        near_store_init, near_store_meta, near_store_read,
        near_store_write)

    path = str(tmp_path / "store")
    near_store_init(spark, path, num_hashes=64, bands=16, n=3)
    corpus = _near_docs(spark)
    for i in range(1, 6):
        one = corpus.where(F.col("doc_id") == i)
        near_store_write(minhash_signatures(one, num_hashes=64, n=3),
                         path, bands=16, mode="append", batch_id=f"b{i}",
                         num_hashes=64, n=3)

    def probe():
        sigs, bands = near_store_read(spark, path)
        stored = corpus.where("doc_id = 3").collect()[0]["text"]
        batch = _docs(spark, [(103, stored + " tiny edit"),
                              (110, "totally fresh text about solar "
                                    "panels and grid batteries " * 3)])
        kept = incremental_near_dedup(batch, sigs, bands, threshold=0.8,
                                      num_hashes=64, bands=16, n=3)
        return sorted(r["doc_id"] for r in kept.select("doc_id").collect())

    before = probe()
    files_before = len(glob.glob(os.path.join(path, "sigs", "**",
                                              "*.parquet"), recursive=True))
    stats = near_store_compact(spark, path, target_partitions=2)
    assert probe() == before == [110]
    assert stats["sigs"]["files_before"] == files_before
    assert stats["sigs"]["files_after"] <= 2
    assert stats["bands"]["files_after"] <= 2
    assert near_store_meta(path)["num_hashes"] == 64
    # layout is still appendable after the swap
    extra = _docs(spark, [(9, "post-compaction append about wind "
                              "turbines and inverters " * 3)])
    near_store_write(minhash_signatures(extra, num_hashes=64, n=3),
                     path, bands=16, mode="append", num_hashes=64, n=3)
    assert near_store_read(spark, path)[0].count() == 6


def test_fp_store_compact(spark, tmp_path):
    """Fingerprint-store compaction: per-batch appends collapse into a
    few files, cross-batch duplicate fingerprints dedup (set semantics),
    and the incremental-dedup anti-join sees the same store."""
    from python_hll_spark.operators.dedup import (fp_store_compact,
                                                  incremental_dedup)

    path = str(tmp_path / "fps")
    for b in range(5):
        rows = [(i,) for i in range(b * 10, b * 10 + 10)]
        spark.createDataFrame(rows + [(0,)], "fp bigint") \
            .write.mode("overwrite").parquet(f"{path}/batch_id=b{b}")
    assert spark.read.parquet(path).count() == 55  # 50 distinct + 5 dups

    stats = fp_store_compact(spark, path, target_partitions=2)
    compacted = spark.read.parquet(path).drop("batch_id")
    assert compacted.count() == 50
    assert stats["files_after"] <= 2

    from python_hll_spark.functions.text import doc_fingerprint
    probe = _docs(spark, [(1, "some new text"), (2, "other new text")])
    fp_of = {r["doc_id"]: r["fp"] for r in probe.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fp")).collect()}
    # force doc 1's fingerprint into the store; doc 2 stays fresh
    spark.createDataFrame([(fp_of[1],)], "fp bigint") \
        .write.mode("overwrite").parquet(f"{path}/batch_id=extra")
    kept = incremental_dedup(probe, spark.read.parquet(path)
                             .drop("batch_id"))
    assert sorted(r["doc_id"] for r in kept.collect()) == [2]


def test_init_custom_id_col(spark, tmp_path):
    """Day-zero bootstrap honours a non-default id column (the refresh
    CLI exposes --id-col; the store schema must match it)."""
    from python_hll_spark.operators.dedup import (
        incremental_near_dedup, near_store_init, near_store_read)

    path = str(tmp_path / "store")
    near_store_init(spark, path, id_type="string", id_col="seq_id",
                    num_hashes=64, bands=16, n=3)
    sigs, bands = near_store_read(spark, path)
    assert sigs.columns == ["seq_id", "sig"]
    assert bands.columns == ["seq_id", "band", "band_key"]

    fresh = ("an entirely unrelated new crawl document mentioning solar "
             "panels batteries and inverters in a long rambling list " * 2)
    batch = spark.createDataFrame(
        [("s1", fresh), ("s2", fresh + " minor twist")],
        "seq_id string, text string")
    kept = incremental_near_dedup(batch, sigs, bands, threshold=0.8,
                                  num_hashes=64, bands=16, n=3,
                                  id_col="seq_id")
    assert sorted(r["seq_id"] for r in kept.collect()) == ["s1"]


def test_refresh_single_signature_pass(spark, tmp_path, monkeypatch):
    """The refresh composition runs the MinHash signature kernel exactly
    ONCE per batch: the store-append frame is sliced from the near tier's
    signatures, not recomputed over the survivors."""
    import python_hll_spark.operators.dedup as D
    from python_hll_spark.plans.pipeline import refresh_corpus

    calls = {"n": 0}
    orig = D.minhash_signatures
    kernel = D._minhash_gen

    def counting(*a, **k):
        calls["n"] += 1
        return kernel(*a, **k)

    # every signature frame, fused with band keys or not, is built around
    # one instance of the kernel's generator
    monkeypatch.setattr(D, "_minhash_gen", counting)

    corpus = _near_docs(spark)
    fp_store = D.fingerprint_frame(corpus)
    store_sigs = orig(corpus, num_hashes=64, n=3).persist()
    store_bands = D._band_keys_frame(store_sigs, 16)

    stored = corpus.where("doc_id = 2").collect()[0]["text"]
    batch = _docs(spark, [
        (102, stored),                                   # exact re-crawl
        (110, "fresh doc about solar panels " * 5),      # survives
        (111, "fresh doc about solar panels " * 5 + "x"),  # near-dup of 110
    ])
    calls["n"] = 0
    kept, metrics, new_fps, new_sigs = refresh_corpus(
        batch, fp_store, store_sigs, store_bands, threshold=0.8,
        num_hashes=64, bands=16, n=3)
    assert calls["n"] == 1, f"signature kernel ran {calls['n']} times"
    assert sorted(r["doc_id"] for r in kept.collect()) == [110]

    # the sliced frame matches a from-scratch signature run bit-for-bit
    want = {r["doc_id"]: r["sig"]
            for r in orig(kept, num_hashes=64, n=3).collect()}
    got = {r["doc_id"]: r["sig"] for r in new_sigs.collect()}
    assert got == want
    store_sigs.unpersist()


def test_collapse_failure_cancels_store_probe(spark, tmp_path, monkeypatch):
    """A within-batch collapse that raises cancels the store probe running
    beside it (by its job tag) and surfaces its own error, not the
    cancellation; no Spark job outlives the call."""
    import python_hll_spark.operators.dedup as D

    corpus = _near_docs(spark)
    path = str(tmp_path / "store")
    D.near_store_write(D.minhash_signatures(corpus, num_hashes=64, n=3),
                       path, bands=16)
    store_sigs, store_bands = D.near_store_read(spark, path)

    def failing_components(*a, **k):
        raise RuntimeError("collapse failed")

    monkeypatch.setattr(D, "connected_components", failing_components)
    sc = spark.sparkContext
    cancelled = []
    cancel = sc.cancelJobsWithTag

    def recording_cancel(tag):
        cancelled.append(tag)
        cancel(tag)

    monkeypatch.setattr(sc, "cancelJobsWithTag", recording_cancel)

    caches = []
    with pytest.raises(RuntimeError, match="collapse failed"):
        D.incremental_near_dedup(corpus, store_sigs, store_bands,
                                 threshold=0.8, num_hashes=64, bands=16, n=3,
                                 cache_out=caches)
    # the status store is fed by the listener bus: drain it before asking
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getActiveJobsIds() == []
    assert len(cancelled) == 1
    for c in caches:
        c.unpersist()


def test_streaming_batch_replay_idempotent(spark, tmp_path):
    """process_near_dedup_batch called twice with the same batch_id (a
    foreachBatch crash-replay) leaves the store row-counts unchanged and
    a per-batch-id sink identical."""
    from python_hll_spark.operators.dedup import (minhash_signatures,
                                                  near_store_write)
    from python_hll_spark.streaming.stream import process_near_dedup_batch

    store = str(tmp_path / "store")
    corpus = _near_docs(spark)
    near_store_write(minhash_signatures(corpus, num_hashes=64, n=3),
                     store, bands=16, num_hashes=64, n=3)

    sink_root = str(tmp_path / "sink")

    def sink_writer(df, batch_id):
        df.write.mode("overwrite").parquet(f"{sink_root}/batch={batch_id}")

    stored = corpus.where("doc_id = 4").collect()[0]["text"]
    batch = _docs(spark, [
        (104, stored + " tiny edit"),                   # near store copy
        (120, "new crawl text about wind farms " * 4),  # survives
    ])
    kw = dict(threshold=0.8, num_hashes=64, bands=16, n=3,
              sink_writer=sink_writer)

    process_near_dedup_batch(batch, 7, store, **kw)
    c1 = _store_counts(spark, store)
    sink1 = sorted(r["doc_id"] for r in
                   spark.read.parquet(f"{sink_root}/batch=7").collect())
    assert sink1 == [120]
    assert c1[0] == 6  # 5 corpus + 1 survivor

    process_near_dedup_batch(batch, 7, store, **kw)  # replay
    assert _store_counts(spark, store) == c1
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(f"{sink_root}/batch=7").collect()) \
        == sink1

    # the next REAL batch dedups against the replayed batch's survivors
    batch2 = _docs(spark, [(130, "new crawl text about wind farms " * 4)])
    process_near_dedup_batch(batch2, 8, store, **kw)
    assert spark.read.parquet(f"{sink_root}/batch=8").count() == 0
    assert _store_counts(spark, store)[0] == 6


def test_legacy_flat_layout_migrates_on_append(spark, tmp_path):
    """A store written BEFORE the batch_id= layout (flat part files under
    sigs/ and bands/) must not be shadowed by the first partitioned
    append — Spark's partition discovery ignores root-level files once a
    batch_id= directory exists, which would silently hide the entire
    dedup history."""
    from python_hll_spark.operators.dedup import (minhash_signatures,
                                                  _band_keys_frame,
                                                  near_store_write)

    path = str(tmp_path / "near_store")
    sigs = minhash_signatures(_near_docs(spark), num_hashes=16, n=3)
    # simulate the pre-round-5 flat layout: parquet files at the root
    sigs.write.mode("overwrite").parquet(f"{path}/sigs")
    _band_keys_frame(sigs, 4).write.mode("overwrite") \
        .parquet(f"{path}/bands")
    flat_sigs, flat_bands = _store_counts(spark, path)
    assert flat_sigs == 5

    extra = _docs(spark, [(100, "completely different content here "
                                "about ships and harbours and tide")])
    near_store_write(minhash_signatures(extra, num_hashes=16, n=3),
                     path, bands=4, mode="append", batch_id="day1",
                     num_hashes=16, n=3)
    got_sigs, got_bands = _store_counts(spark, path)
    assert got_sigs == flat_sigs + 1          # legacy rows still visible
    assert got_bands == flat_bands + 4
    assert os.path.isdir(f"{path}/sigs/batch_id=legacy")


def test_legacy_flat_fp_store_migrates(spark, tmp_path):
    """Same shadowing hazard for the fingerprint store: the refresh CLI's
    batch_id= append must not hide a flat store; compaction must keep
    every row."""
    from python_hll_spark.operators.dedup import (fp_store_compact,
                                                  migrate_flat_store_layout)

    path = str(tmp_path / "fp_store")
    spark.range(0, 10).selectExpr("id AS fp").write.parquet(path)
    migrate_flat_store_layout(path)
    spark.range(100, 105).selectExpr("id AS fp").write.mode("overwrite") \
        .parquet(f"{path}/batch_id=day1")
    df = spark.read.parquet(path)
    assert df.count() == 15
    stats = fp_store_compact(spark, path, target_partitions=2)
    assert spark.read.parquet(path).count() == 15
    assert stats["files_after"] <= 2

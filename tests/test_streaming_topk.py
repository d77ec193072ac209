"""Streaming heavy hitters (stateful CMS + bounded candidates) and the
spec-generality of the foreachBatch incremental build (CMS, not just HLL).
"""

import pytest
from pyspark.sql import functions as F


def _zipf_rows(n=4000, n_groups=2):
    """Deterministic skewed key stream: key j appears ~n/(j+1) times."""
    rows = []
    i = 0
    for j in range(60):
        for _ in range(max(1, n // (j + 1) // 10)):
            rows.append((f"g{i % n_groups}", f"k{j:03d}"))
            i += 1
    return rows


def test_stateful_topk_stream_matches_exact(spark, tmp_path):
    from python_hll_spark.streaming.stream import stateful_topk_stream

    df = spark.createDataFrame(_zipf_rows(), "grp string, key string")
    src = str(tmp_path / "topk_stream")
    df.repartition(6).write.parquet(src)

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    out = stateful_topk_stream(stream, "grp", "key", k=5)
    q = (out.writeStream.format("memory").queryName("stopk")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    # keep each group's FINAL emission (largest n_rows)
    final = spark.sql("""
        SELECT g, key, est_count FROM (
            SELECT *, DENSE_RANK() OVER (PARTITION BY g ORDER BY n_rows DESC) rn
            FROM stopk) WHERE rn = 1""").collect()
    got = {}
    for r in final:
        got.setdefault(r["g"], []).append((r["key"], r["est_count"]))

    exact = {}
    for r in (df.groupBy("grp", "key").count().collect()):
        exact.setdefault(r["grp"], {})[r["key"]] = r["count"]

    assert set(got) == set(exact)
    for g, pairs in got.items():
        assert len(pairs) == 5
        top_exact = sorted(exact[g].items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        # CMS overcount bound: est >= exact, est <= exact + eps*N
        n = sum(exact[g].values())
        eps_n = (2.718281828 / 65536) * n + 1
        got_sorted = sorted(pairs, key=lambda kv: (-kv[1], kv[0]))
        assert [kv[0] for kv in got_sorted] == [kv[0] for kv in top_exact]
        for (kk, est), (_, ex) in zip(got_sorted, top_exact):
            assert ex <= est <= ex + eps_n, (g, kk, est, ex)


def test_stateful_topk_candidate_memory_bounded(spark, tmp_path):
    """Many more distinct keys than capacity: state stays bounded and the
    heavy hitter still wins."""
    from python_hll_spark.streaming.stream import stateful_topk_stream

    rows = [("g", "HEAVY")] * 500 + [("g", f"u{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "grp string, key string")
    src = str(tmp_path / "bounded_stream")
    df.repartition(8).write.parquet(src)

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 3).parquet(src))
    out = stateful_topk_stream(stream, "grp", "key", k=3, capacity=64)
    q = (out.writeStream.format("memory").queryName("stopk_b")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    final = spark.sql("""
        SELECT key, est_count FROM (
            SELECT *, DENSE_RANK() OVER (PARTITION BY g ORDER BY n_rows DESC) rn
            FROM stopk_b) WHERE rn = 1
        ORDER BY est_count DESC, key""").collect()
    assert final[0]["key"] == "HEAVY"
    assert final[0]["est_count"] >= 500


def test_stateful_quantiles_stream_within_bound(spark, tmp_path):
    """Streaming KLL quantiles: final per-group estimates within the
    sketch's rank-error bound of exact."""
    import numpy as np

    from python_hll_spark.sketches.kll import KLLConfig
    from python_hll_spark.streaming.stream import stateful_quantiles_stream

    rng = np.random.default_rng(11)
    rows = [("g0", float(v)) for v in rng.uniform(0, 100, 3000)] + \
           [("g1", float(v)) for v in rng.lognormal(0, 1, 3000)]
    df = spark.createDataFrame(rows, "grp string, value double")
    src = str(tmp_path / "q_stream")
    df.repartition(5).write.parquet(src)

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    out = stateful_quantiles_stream(stream, "grp", "value", k=200)
    q = (out.writeStream.format("memory").queryName("sq")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    final = {r["g"]: r["quantiles"] for r in spark.sql("""
        SELECT * FROM (SELECT *, DENSE_RANK() OVER
            (PARTITION BY g ORDER BY n_rows DESC) rn FROM sq)
        WHERE rn = 1""").collect()}
    tol = 3 * KLLConfig(k=200).rank_error + 1e-9
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, est in final.items():
        vals = np.sort(np.array(by_g[g]))
        for q_, e in zip((0.25, 0.5, 0.75), est):
            rank = np.searchsorted(vals, e) / len(vals)
            assert abs(rank - q_) <= tol, (g, q_, e, rank)


def test_streaming_sketch_build_cms_matches_batch(spark, tmp_path):
    """The foreachBatch incremental design is spec-generic: a CMS state
    built across micro-batches is byte-identical to a one-shot batch build
    (elementwise-sum merge is order-independent)."""
    from python_hll_spark.operators.aggregate import (merge_sketches,
                                                      sketch_partials)
    from python_hll_spark.sketches.cms import CMSConfig
    from python_hll_spark.sketches.specs import CMSSpec
    from python_hll_spark.streaming.stream import StreamingSketchBuild

    spec = CMSSpec(CMSConfig(depth=4, width=4096))
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_type", F.xxhash64("user_id").alias("h"))
    src = str(tmp_path / "cms_stream")
    events.write.parquet(src)

    build = StreamingSketchBuild(["event_type"], "h", spec,
                                 str(tmp_path / "cms_state"))
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = build.attach(stream, str(tmp_path / "cms_ckpt"))
    q.awaitTermination(120)

    streamed = {r["event_type"]: bytes(r["state"])
                for r in build.current_state(spark).collect()}
    batch = {r["event_type"]: bytes(r["state"])
             for r in merge_sketches(
                 sketch_partials(events, ["event_type"], "h", spec),
                 ["event_type"], spec).collect()}
    assert set(streamed) == set(batch)
    for g in batch:
        assert streamed[g] == batch[g], f"CMS state mismatch for {g}"


def test_stateful_topk_late_surging_heavy_hitter(spark, tmp_path):
    """SpaceSaving admission semantics: a heavy hitter whose occurrences are
    spread thinly across many micro-batches (evicted and re-admitted each
    time) must still surface at rank 1 — restart-at-zero truncation would
    starve it forever below the per-batch fresh keys."""
    from python_hll_spark.streaming.stream import stateful_topk_stream

    src = str(tmp_path / "late_heavy")
    # batches 1-9: 20 fresh lights x100 each (> capacity, so HEAVY at 80 is
    # evicted EVERY batch); batch 10: HEAVY alone.  Restart-at-zero would
    # re-admit HEAVY at 80 < the 16 kept lights' 100s and drop it at the
    # final truncation; floor admission re-admits it above the floor.
    for seg in range(9):
        rows = [("g", f"l{seg}_{i}") for i in range(20) for _ in range(100)]
        rows += [("g", "HEAVY")] * 80   # 80/batch, 800 total = true top-1
        spark.createDataFrame(rows, "grp string, key string") \
            .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([("g", "HEAVY")] * 80, "grp string, key string") \
        .coalesce(1).write.mode("append").parquet(src)

    df = spark.read.parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stateful_topk_stream(stream, "grp", "key", k=1, capacity=16)
    q = (out.writeStream.format("memory").queryName("stopk_late")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    final = spark.sql("""
        SELECT key, est_count FROM (
            SELECT *, DENSE_RANK() OVER (PARTITION BY g ORDER BY n_rows DESC) rn
            FROM stopk_late) WHERE rn = 1""").collect()
    assert [r["key"] for r in final] == ["HEAVY"], final
    # CMS estimate still tracks the TRUE count (no admission inflation)
    n_total = df.count()
    eps_n = (2.718281828 / 65536) * n_total + 1
    assert 800 <= final[0]["est_count"] <= 800 + eps_n

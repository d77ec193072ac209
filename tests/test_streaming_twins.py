"""Each stateful stream against its batch twin on the same rows: the
stream's stage 1 is the batch operator's (same hashing, same NULL
semantics), so its final state and estimates equal the batch ones."""


def _null_key_rows():
    """Group ``a``: 50 distinct keys and 10 NULLs; group ``b``: 5 NULLs."""
    return ([("a", i) for i in range(50)] + [("a", None)] * 10
            + [("b", None)] * 5)


def _run_final(spark, tmp_path, rows, schema, make_stream, name):
    """Stream ``rows`` through ``make_stream`` in several micro-batches;
    return the input, every row of each group's last emission, and the
    executed plan.  Rows are gathered with ``foreachBatch``."""
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / name)
    df.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    emitted = []
    q = (make_stream(stream).writeStream
         .foreachBatch(lambda batch, _: emitted.extend(batch.collect()))
         .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    plan = q._jsq.explainInternal(False)
    last = {}
    for r in emitted:
        last[r["g"]] = max(last.get(r["g"], 0), r["n_rows"])
    return df, [r for r in emitted if r["n_rows"] == last[r["g"]]], plan


def _stage1_below_state(plan):
    """The stage-1 ``MapInArrow`` builder sits below the state function."""
    state_at = plan.index("FlatMapGroupsInPandasWithState")
    return "MapInArrow" in plan[state_at:]


def test_stateful_streams_null_keys_match_batch(spark, tmp_path):
    from python_hll_spark.operators.ndv import hll_ndv_column
    from python_hll_spark.operators.quantiles import sketch_quantiles
    from python_hll_spark.streaming.stream import (stateful_hll_stream,
                                                   stateful_quantiles_stream)

    rows, schema = _null_key_rows(), "grp string, v long"
    df, final, plan = _run_final(
        spark, tmp_path, rows, schema,
        lambda s: stateful_hll_stream(s, "grp", "v"), "twin_hll")
    assert _stage1_below_state(plan), plan
    hll = {r["g"]: r for r in final}
    batch = {r["grp"]: r for r in hll_ndv_column(df, "v", by=["grp"]).collect()}
    assert set(hll) == set(batch) == {"a", "b"}
    for g, r in batch.items():
        assert hll[g]["ndv"] == r["ndv"], (g, hll[g]["ndv"], r["ndv"])
        assert bytes(hll[g]["state"]) == bytes(r["state"]), g
    assert {g: r["ndv"] for g, r in hll.items()} == {"a": 50, "b": 0}
    assert {g: r["n_rows"] for g, r in hll.items()} == {"a": 60, "b": 5}

    qs = (0.25, 0.5, 0.75)
    _, final, plan = _run_final(
        spark, tmp_path, rows, schema,
        lambda s: stateful_quantiles_stream(s, "grp", "v", qs=qs),
        "twin_quant")
    assert _stage1_below_state(plan), plan
    quant = {r["g"]: r for r in final}
    batch = {r["grp"]: r for r in
             sketch_quantiles(df, "v", list(qs), by=["grp"]).collect()}
    assert set(quant) == set(batch) == {"a", "b"}
    assert {g: r["n_rows"] for g, r in quant.items()} == {"a": 60, "b": 5}
    # 50 values < k: both sketches are exact, so NULLs cannot hide
    assert quant["a"]["quantiles"] == batch["a"]["quantiles"]
    assert quant["b"]["quantiles"] == batch["b"]["quantiles"] == [None] * 3


def test_stateful_quantiles_stream_memory_sink_all_null_group(spark,
                                                             tmp_path):
    """Spark's memory sink takes an all-NULL group's row: its quantiles
    are NULL elements that the sink decodes (NULL elements inside an
    Arrow-backed array used to fail it with EXPRESSION_DECODING_FAILED)."""
    from python_hll_spark.streaming.stream import stateful_quantiles_stream

    df = spark.createDataFrame([("a", 1), ("b", None)], "grp string, v int")
    src = str(tmp_path / "mem_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (stateful_quantiles_stream(stream, "grp", "v").writeStream
         .format("memory").queryName("quantiles_all_null")
         .option("checkpointLocation", str(tmp_path / "mem_ckpt"))
         .outputMode("update").start())
    try:
        q.processAllAvailable()
        got = {r["g"]: (r["quantiles"], r["n_rows"]) for r in
               spark.sql("SELECT * FROM quantiles_all_null").collect()}
    finally:
        q.stop()
    assert got == {"a": ([1.0] * 3, 1), "b": ([None] * 3, 1)}


def test_stateful_topk_cms_matches_cms_topk(spark, tmp_path):
    """A CMS narrow enough to overcount: every emitted estimate is the
    estimate of the CMS that ``cms_topk`` builds from the same rows."""
    from python_hll_spark.operators.topk import cms_topk
    from python_hll_spark.sketches.cms import CMSConfig
    from python_hll_spark.streaming.stream import stateful_topk_stream

    rows = [(f"g{i % 2}", f"k{j:03d}") for j in range(80)
            for i in range(max(1, 400 // (j + 1)))]
    df, final, _ = _run_final(
        spark, tmp_path, rows, "grp string, key string",
        lambda s: stateful_topk_stream(s, "grp", "key", k=10, depth=2,
                                       width=64), "twin_topk")
    got = {(r["g"], r["key"]): r["est_count"] for r in final}
    assert len(got) == 2 * 10
    batch = {(r["grp"], r["key"]): r["est_count"] for r in
             cms_topk(df, ["grp"], "key", k=80,
                      cfg=CMSConfig(depth=2, width=64)).collect()}
    exact = {(r["grp"], r["key"]): r["count"]
             for r in df.groupBy("grp", "key").count().collect()}
    assert any(batch[gk] > exact[gk] for gk in got)  # the CMS overcounts
    assert got == {gk: batch[gk] for gk in got}
    # and the top-k is cms_topk's, with the same (-est, key) tie-break
    for g in ("g0", "g1"):
        mine = sorted((-e, kk) for (gg, kk), e in got.items() if gg == g)
        ref = sorted((-e, kk) for (gg, kk), e in batch.items() if gg == g)
        assert mine == ref[:10], g

"""Physical-plan regression tests: the properties that make the engine
viable at 100TB must be visible in the executed plan, not just intended.

- scans are column-pruned to exactly what the operator needs;
- the raw table is NEVER shuffled: the first Exchange sits above the
  partial-sketch MapInPandas/MapInArrow and carries only state rows;
- JVM-side hashing happens before the Python boundary;
- exact dedup gets map-side partial aggregation.
"""

import re

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ndv_column_plan(spark):
    from python_hll_spark.operators.ndv import hll_ndv_column

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    plan = _plan(hll_ndv_column(li, "l_partkey", by=["l_returnflag"]))

    # column pruning: only the two needed columns reach the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_partkey", "l_returnflag"}

    # JVM-side hash before Python
    assert "xxhash64" in plan

    # no Exchange below the partial build: the segment of the plan tree
    # under the Arrow partial stage must be exchange-free
    assert "MapInArrow" in plan
    below_map = plan.split("MapInArrow")[-1]
    assert "Exchange" not in below_map, below_map

    # adaptive salt level: a small scan (<= 64 upstream partitions) skips
    # the salted pre-merge, leaving exactly ONE state-row exchange
    assert plan.count("Exchange") == 1

    # the merge is collect_list + one Arrow fold, not a pandas call per group
    assert "FlatMapGroupsInPandas" not in plan


def test_ndv_tokens_arrow_plan(spark):
    from python_hll_spark.operators.ndv import hll_ndv_tokens
    from python_hll_spark.sources.seqs import seqs_table

    df = seqs_table(spark, 50, partitions=2)
    plan = _plan(hll_ndv_tokens(df, by=["source"]))
    # Arrow-native stage 1; nothing below it shuffles
    assert "MapInArrow" in plan
    below = plan.split("MapInArrow")[-1]
    assert "Exchange" not in below
    assert plan.count("Exchange") == 1  # salt skipped at 2 partitions
    assert "FlatMapGroupsInPandas" not in plan


def test_ndv_wide_scan_keeps_salted_tree_merge(spark):
    """The adaptive salt decision must KEEP the two-level merge when the
    partial frame has many upstream partitions (a 100 TB scan is thousands
    of tasks): > 64 partitions -> salted exchange + final exchange."""
    from python_hll_spark.operators.ndv import hll_ndv_tokens
    from python_hll_spark.sources.seqs import seqs_table

    df = seqs_table(spark, 130, partitions=65)
    plan = _plan(hll_ndv_tokens(df, by=["source"]))
    assert "MapInArrow" in plan
    assert "Exchange" not in plan.split("MapInArrow")[-1]
    assert plan.count("Exchange") == 2  # salted + final merge
    assert "FlatMapGroupsInPandas" not in plan


def test_dedup_exact_plan(spark):
    from python_hll_spark.operators.dedup import dedup_exact

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _plan(dedup_exact(docs))
    # map-side combine: partial_min/partial_count below the exchange
    assert "partial_min" in plan
    assert "xxhash64" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}


def test_brute_force_topk_broadcasts_probes(spark):
    from python_hll_spark.operators.similarity import brute_force_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    probes = emb.limit(2).select(F.col("vec_id").alias("probe_id"), "embedding")
    plan = _plan(brute_force_topk(emb, probes, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_token_profile_plan(spark):
    from python_hll_spark.operators.profile import token_profile
    from python_hll_spark.sources.seqs import seqs_table

    df = seqs_table(spark, 50, partitions=2)
    plan = _plan(token_profile(df, by="source"))
    assert "MapInArrow" in plan
    below = plan.split("MapInArrow")[-1]
    assert "Exchange" not in below
    assert plan.count("Exchange") == 1  # salt skipped on a small scan


def test_ndv_composite_group_plan(spark):
    """Composite (2-col) group keys keep the same 100TB plan shape: pruned
    scan, exchange-free below the Arrow partial build, 2 state exchanges."""
    from pyspark.sql import functions as F
    from python_hll_spark.operators.ndv import hll_ndv_column

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet") \
        .withColumn("day", F.to_date("ts").cast("string"))
    plan = _plan(hll_ndv_column(ev, "user_id", by=["event_type", "day"]))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"user_id", "event_type", "ts"}
    assert "MapInArrow" in plan
    assert "Exchange" not in plan.split("MapInArrow")[-1]
    assert plan.count("Exchange") == 1  # salt skipped on a small scan


def test_quantiles_composite_group_plan(spark):
    from pyspark.sql import functions as F
    from python_hll_spark.operators.quantiles import sketch_quantiles

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet") \
        .withColumn("day", F.to_date("ts").cast("string"))
    plan = _plan(sketch_quantiles(ev, "value", [0.5],
                                  by=["event_type", "day"]))
    assert "MapInArrow" in plan
    assert "Exchange" not in plan.split("MapInArrow")[-1]
    assert plan.count("Exchange") == 1  # salt skipped on a small scan


def test_unigram_logprob_single_corpus_agg(spark):
    """The corpus-wide explode+aggregate (the expensive lineage) must run
    ONCE: freq is persisted, so the word total, hot-set sort, and tail
    join all read InMemoryTableScan instead of re-exploding the corpus.
    Round-3 plan re-executed the aggregation lineage three times."""
    from python_hll_spark.functions.text import unigram_logprob

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    caches = []
    out = unigram_logprob(docs, cache_out=caches)
    plan = _plan(out)
    # freq comes from the cache in BOTH remaining consumers (hot broadcast
    # + tail join): the final job contains cache scans, and the only
    # corpus explodes left are the two narrow words branches (no
    # HashAggregate over an exploded corpus outside the cached lineage)
    assert plan.count("InMemoryTableScan") >= 2, plan
    # executing scans carry both columns; the extra [text]-only FileScan
    # strings are the cached relation's subtree reprinted inside each
    # InMemoryTableScan node, not separate jobs
    n_scans = len(re.findall(r"FileScan parquet \[doc_id", plan))
    assert n_scans <= 2, f"corpus re-scanned {n_scans}x:\n{plan}"
    assert len(caches) == 1
    out.collect()
    for c in caches:
        c.unpersist()


def test_incremental_near_dedup_store_never_shuffles(spark, tmp_path):
    """The 100 TB property of the incremental near-dedup store probe: the
    store (the big object) is scanned once per frame and STREAMED into
    BroadcastHashJoins whose build side is the batch — no Exchange may
    sit between a store FileScan and its join."""
    from python_hll_spark.operators.dedup import (incremental_near_dedup,
                                                  minhash_signatures,
                                                  near_store_read,
                                                  near_store_write)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    store_path = str(tmp_path / "store")
    near_store_write(
        minhash_signatures(docs.where("doc_id % 3 != 0"), num_hashes=64, n=3),
        store_path, bands=16)
    sigs, bands = near_store_read(spark, store_path)
    out = incremental_near_dedup(docs.where("doc_id % 3 = 0"), sigs, bands,
                                 threshold=0.9, num_hashes=64, bands=16, n=3)
    lines = _plan(out).splitlines()
    # identify store scans by their read columns (the printed Location
    # path is truncated): sigs scan reads `sig`, bands scan `band_key`
    store_scans = [i for i, l in enumerate(lines)
                   if re.search(r"FileScan parquet \[[^\]]*(sig|band_key)", l)]
    assert len(store_scans) >= 2, "expected sigs + bands store scans"
    for i in store_scans:
        # walk ancestors (printed above at shallower indent): the nearest
        # join must come before any Exchange
        depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
        joined = exchanged = False
        for j in range(i - 1, -1, -1):
            l = lines[j]
            d = len(l) - len(l.lstrip(" :+-"))
            if d >= depth:
                continue
            depth = d
            if "Join" in l:
                joined = True
                assert "BroadcastHashJoin" in l, l
                break
            assert "Exchange" not in l, \
                f"store rows shuffled before their join:\n{l}"
        assert joined, "no join found above store scan"


def _final_plan(df) -> str:
    # AQE: materialize first so the printed plan is the FINAL one, and cut
    # the trailing "== Initial Plan ==" echo (pre-AQE: SMJ + Exchanges)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _assert_text_scan_feeds_broadcast_join(plan: str):
    """The corpus text scan must stream into a BroadcastHashJoin — no
    Exchange between reading `text` and its rebuild join."""
    # literal "\n" inside expressions (e.g. concat_ws separators) wraps a
    # node across physical lines; keep only real tree-node lines so the
    # indent walk sees consistent depths
    lines = [l for l in plan.splitlines()
             if re.match(r"^[\s:+|-]*(\*\(\d+\)\s*)?[A-Za-z]", l)]
    text_scans = [i for i, l in enumerate(lines)
                  if "FileScan parquet" in l and "text" in l]
    assert text_scans, "no text scan found"
    checked = 0
    for i in text_scans:
        depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
        for j in range(i - 1, -1, -1):
            l = lines[j]
            d = len(l) - len(l.lstrip(" :+-"))
            if d >= depth:
                continue
            depth = d
            if "InMemoryRelation" in l:
                break    # the cached hash-projection build, not the rebuild
            if "Join" in l:
                assert "BroadcastHashJoin" in l, l
                checked += 1
                break
            assert "Exchange" not in l, \
                f"text rows shuffled before the rebuild join:\n{l}"
    assert checked >= 1, "rebuild join not found above any text scan"


def test_line_dedup_plan_text_never_shuffles(spark):
    """line_dedup's 100 TB shape in the executed plan: exchanges carry
    only 8-byte hashes / int positions, the persisted projection is the
    2-column (id, line-hash) frame reused by both branches, the df agg is
    map-side combined, and the rebuild joins text by broadcast."""
    import pyspark.sql.functions as F

    from python_hll_spark.functions.text import line_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", F.concat_ws(
            "\n", F.lit("NAV"), F.col("text"), F.lit("FOOT")).alias("text"))
    caches = []
    out = line_dedup(docs, 2, cache_out=caches).select(
        "doc_id", "n_lines", "n_removed")
    plan = _final_plan(out)
    for c in caches:
        c.unpersist()

    for l in plan.splitlines():
        if "Exchange hashpartitioning" in l:
            assert "text#" not in l and ("__h#" in l or "doc_id#" in l), l
    m = re.search(r"InMemoryTableScan \[([^\]]*)\]", plan)
    assert m and {c.split("#")[0] for c in m.group(1).split(", ")} == \
        {"doc_id", "__lh"}, m
    assert "partial_count" in plan          # map-side combined df agg
    _assert_text_scan_feeds_broadcast_join(plan)


def test_strip_spans_plan_text_never_shuffles(spark):
    """Same contract for substring-level dedup: gram hashes shuffle,
    words never do."""
    from python_hll_spark.functions.text import strip_common_ngrams

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    caches = []
    out = strip_common_ngrams(docs, n=5, min_docs=2, cache_out=caches) \
        .select("doc_id", "n_words", "n_covered_words")
    plan = _final_plan(out)
    for c in caches:
        c.unpersist()

    for l in plan.splitlines():
        if "Exchange hashpartitioning" in l:
            assert "text#" not in l and ("__h#" in l or "doc_id#" in l), l
    m = re.search(r"InMemoryTableScan \[([^\]]*)\]", plan)
    assert m and {c.split("#")[0] for c in m.group(1).split(", ")} == \
        {"doc_id", "__g"}, m
    assert "partial_count" in plan
    _assert_text_scan_feeds_broadcast_join(plan)


def test_near_dedup_one_band_shuffle_and_broadcast_keep(spark):
    """Near-dedup's shape: ``lsh_candidate_pairs`` starts no job before
    its first action and its band rows cross ONE exchange; the driver
    union-find's components frame is a LocalTableScan (not an RDD scan
    without statistics), so ``near_dedup_tokens``' keep anti-join
    broadcasts it."""
    import numpy as np

    from python_hll_spark.operators.dedup import (connected_components,
                                                  lsh_candidate_pairs,
                                                  minhash_signatures_tokens,
                                                  near_dedup_tokens)

    rng = np.random.default_rng(5)
    rows = [(i, [int(x) for x in rng.integers(0, 500, 40)])
            for i in range(60)]
    rows += [(100 + i, rows[i][1]) for i in range(10)]  # exact token copies
    df = spark.createDataFrame(rows, "doc_id long, tokens array<bigint>")
    sc = spark.sparkContext

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    sigs = minhash_signatures_tokens(df, num_hashes=64).persist()
    sigs.count()
    before = job_ids()
    pairs = lsh_candidate_pairs(sigs, bands=16)
    assert job_ids() == before, "lsh_candidate_pairs ran a job eagerly"
    plan = _final_plan(pairs)
    band_exchanges = re.findall(
        r"Exchange hashpartitioning\(band#\d+, band_key#\d+L?,", plan)
    assert len(band_exchanges) == 1, plan
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} \
        == {(i, 100 + i) for i in range(10)}
    sigs.unpersist()

    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "id_a long, id_b long")
    comps = connected_components(edges)
    cplan = _plan(comps)
    assert "LocalTableScan" in cplan and "ExistingRDD" not in cplan, cplan
    assert sorted(map(tuple, comps.collect())) \
        == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]

    kept = near_dedup_tokens(df, num_hashes=64, bands=16)
    kplan = _final_plan(kept)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", kplan), kplan
    assert sorted(r["doc_id"] for r in kept.collect()) == list(range(60))

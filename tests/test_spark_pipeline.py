"""End-to-end Spark pipeline tests: distributed golden-vector replay,
NDV error bounds on the synthetic seqs table, and the per-row token-array
invariant."""

import csv
import os

import numpy as np
import pytest

from python_hll_spark.operators.aggregate import merge_sketches, sketch_partials
from python_hll_spark.operators.ndv import hll_ndv_column, hll_ndv_tokens
from python_hll_spark.sketches.hll import HLLConfig, HLLSketch
from python_hll_spark.sketches.specs import HLLSpec
from python_hll_spark.sources.seqs import generate_docs, seqs_table

DATA = "/root/reference/tests/data"


def test_distributed_vector_replay_matches_single_process(spark):
    """Golden-vector raw values pushed through the full distributed pipeline
    (partition -> partial -> salted merges) must produce the byte-identical
    sketch a single sequential build produces: distribution must not change
    semantics (SURVEY.md §5.2)."""
    with open(os.path.join(DATA, "cumulative_add_sparse_random.csv")) as f:
        rows = list(csv.DictReader(f))
    values = [int(r["raw_value"]) for r in rows[1:]]
    # seed state: sketch from row 1 replayed in-process
    cfg = HLLSketch.from_hex(rows[0]["multiset"]).cfg

    seq = HLLSketch(cfg)
    seq.add_hashed(np.array(values, dtype=np.int64))

    spec = HLLSpec(cfg)
    df = spark.createDataFrame([(v,) for v in values], "raw bigint").repartition(8)
    out = merge_sketches(sketch_partials(df, [], "raw", spec, n_salts=4),
                         [], spec).collect()
    assert len(out) == 1
    assert bytes(out[0]["state"]) == seq.to_bytes()
    assert out[0]["n_values"] == len(values)


def test_ndv_tokens_within_bound(spark):
    df = seqs_table(spark, 400, partitions=8)
    cfg = HLLConfig.create(11, 5)
    res = hll_ndv_tokens(df, cfg=cfg).collect()[0]

    from pyspark.sql import functions as F
    exact = (df.select(F.explode("tokens").alias("t"))
             .agg(F.countDistinct("t")).collect()[0][0])
    rel = abs(res["ndv"] - exact) / exact
    assert rel < 3 * cfg.error_bound, (res["ndv"], exact, rel)


def test_ndv_per_source_within_bound(spark):
    df = seqs_table(spark, 400, partitions=8)
    cfg = HLLConfig.create(11, 5)
    got = {r["source"]: r["ndv"] for r in hll_ndv_tokens(df, by=["source"], cfg=cfg).collect()}

    from pyspark.sql import functions as F
    exact = {r["source"]: r["ndv"] for r in
             df.select("source", F.explode("tokens").alias("t"))
               .groupBy("source").agg(F.countDistinct("t").alias("ndv")).collect()}
    assert set(got) == set(exact)
    for src, e in exact.items():
        rel = abs(got[src] - e) / e
        assert rel < 4 * cfg.error_bound, (src, got[src], e)


def test_ndv_string_column(spark):
    df = seqs_table(spark, 300, partitions=4)
    cfg = HLLConfig.create(13, 5)
    res = hll_ndv_column(df, "doc_id", cfg=cfg).collect()[0]
    rel = abs(res["ndv"] - 300) / 300
    assert rel < 4 * cfg.error_bound, (res["ndv"], rel)


def test_seqs_per_row_token_invariant(spark):
    """tokens arrays must be byte-equal to the deterministic generator output
    after a Spark round trip (shuffle + Arrow)."""
    df = seqs_table(spark, 50, partitions=4).repartition(7)
    rows = {r["doc_id"]: np.array(r["tokens"], dtype=np.int32) for r in df.collect()}
    doc_ids, tokens, n_toks, _ = generate_docs(np.arange(50))
    assert set(rows) == set(doc_ids)
    for did, toks in zip(doc_ids, tokens):
        assert np.array_equal(rows[did], toks), did
        assert len(rows[did]) == n_toks[list(doc_ids).index(did)]


def test_merge_partials_grouped_bytes_match(spark):
    """Grouped distributed build equals per-group sequential build, byte-exact."""
    df = seqs_table(spark, 200, partitions=8)
    cfg = HLLConfig.create(11, 5)
    spec = HLLSpec(cfg)
    got = {r["source"]: bytes(r["state"])
           for r in hll_ndv_tokens(df, by=["source"], cfg=cfg).collect()}

    from python_hll_spark.functions.hashing import splitmix64
    pdf = df.toPandas()
    for src, sub in pdf.groupby("source"):
        seq = HLLSketch(cfg)
        seq.add_hashed(splitmix64(np.concatenate([np.asarray(t, dtype=np.int64)
                                                  for t in sub["tokens"]])))
        assert got[src] == seq.to_bytes(), src


def test_ndv_tokens_null_and_empty_rows(spark):
    """Arrow token path must survive null / empty token arrays (real tables
    have them even though the generator doesn't)."""
    df = spark.createDataFrame(
        [("a", [1, 2, 3], 3), ("b", None, 0), ("a", [], 0), ("b", [3, 4], 2)],
        "source string, tokens array<int>, n_tok int")
    rows = {r["source"]: r for r in
            hll_ndv_tokens(df, by=["source"]).collect()}
    assert rows["a"]["ndv"] == 3 and rows["a"]["n_values"] == 3
    assert rows["b"]["ndv"] == 2 and rows["b"]["n_values"] == 2
    total = hll_ndv_tokens(df).collect()[0]
    assert total["ndv"] == 4 and total["n_values"] == 5


def test_distributed_union_vectors_match_accumulator(spark):
    """Union golden vectors: merging every standalone sketch through the
    distributed salted tree must reproduce the reference accumulator's final
    bytes (the union CSVs record cumulative in-order unions; associativity
    makes any merge tree land on the same state)."""
    for filename in ("cumulative_union_explicit_explicit.csv",
                     "cumulative_union_sparse_sparse.csv",
                     "cumulative_union_comprehensive.csv"):
        with open(os.path.join(DATA, filename)) as f:
            rows = list(csv.DictReader(f))
        blobs = [HLLSketch.from_hex(r["multiset"]).to_bytes() for r in rows[1:]]
        final = HLLSketch.from_hex(rows[-1]["union_multiset"])
        cfg = HLLSketch.from_hex(rows[0]["union_multiset"]).cfg
        spec = HLLSpec(cfg)

        from python_hll_spark.operators.aggregate import merge_sketches
        from pyspark.sql import functions as F
        partials = spark.createDataFrame(
            [(0, i % 4, bytearray(b), 1, 1, i) for i, b in enumerate(blobs)],
            "g int, salt int, state binary, n_rows bigint, n_values bigint, partition_id int")
        merged = merge_sketches(partials, ["g"], spec).collect()[0]
        got = HLLSketch.from_bytes(bytes(merged["state"]))
        assert got.cardinality_float() == pytest.approx(final.cardinality_float()), filename
        if got.type == final.type:
            assert got.to_bytes() == final.to_bytes(), filename


def test_distributed_cms_and_bloom_byte_match(spark):
    """CMS (sum) and Bloom (OR) merges are fully order-independent: the
    distributed build must byte-match a sequential build."""
    from python_hll_spark.sketches.bloom import BloomConfig, BloomSketch
    from python_hll_spark.sketches.cms import CMSConfig, CMSSketch
    from python_hll_spark.sketches.specs import BloomSpec, CMSSpec
    from python_hll_spark.functions.hashing import splitmix64

    rng = np.random.default_rng(3)
    values = rng.integers(0, 100_000, size=20_000, dtype=np.int64)
    hashed = splitmix64(values)
    df = spark.createDataFrame([(int(v),) for v in hashed], "h bigint").repartition(8)

    def state_of(spec):
        merged = merge_sketches(sketch_partials(df, [], "h", spec), [], spec)
        return bytes(merged.collect()[0]["state"])

    cms_spec = CMSSpec(CMSConfig(depth=4, width=4096))
    cms_got = state_of(cms_spec)
    cms_seq = CMSSketch(CMSConfig(depth=4, width=4096))
    cms_seq.update(hashed)
    assert cms_got == cms_seq.to_bytes()

    bl_spec = BloomSpec(BloomConfig(log2_bits=16, num_hashes=5))
    bl_got = state_of(bl_spec)
    bl_seq = BloomSketch(BloomConfig(log2_bits=16, num_hashes=5))
    bl_seq.update(hashed)
    assert bl_got == bl_seq.to_bytes()


def test_skewed_group_partials_spread_across_salts(spark):
    """Explicit skew handling: a group holding ~99% of the data must arrive
    at level-1 reducers under multiple salts (bounded fan-in), not one."""
    from pyspark.sql import functions as F

    n = 40_000
    df = (spark.range(n)
          .select(F.when(F.col("id") % 100 < 99, F.lit("hot"))
                  .otherwise(F.lit("cold")).alias("source"),
                  F.xxhash64("id").alias("h"))
          .repartition(16))
    spec = HLLSpec(HLLConfig.create(11, 5))
    partials = sketch_partials(df, ["source"], "h", spec, n_salts=8)
    per_salt = (partials.where("source = 'hot'")
                .groupBy("salt").count().collect())
    assert len(per_salt) >= 4  # hot group spread across salts
    assert max(r["count"] for r in per_salt) <= 16  # bounded fan-in per reducer

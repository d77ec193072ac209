"""Incremental dedup against a persisted fingerprint store + streaming
exact dedup + the shared Arrow tokenizer feeding MinHash/SimHash."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_semantics(spark):
    from python_hll_spark.operators.dedup import (
        fingerprint_frame, incremental_dedup)

    existing = _docs(spark, [(1, "alpha beta"), (2, "gamma delta")])
    store = fingerprint_frame(existing)
    new = _docs(spark, [
        (10, "  Alpha   BETA "),   # normalizes to a stored doc -> dropped
        (11, "epsilon zeta"),      # fresh
        (12, "epsilon zeta"),      # within-batch dupe of 11 -> dropped
        (13, "eta theta"),         # fresh
    ])
    kept = sorted(r["doc_id"] for r in
                  incremental_dedup(new, store).collect())
    assert kept == [11, 13]


def test_incremental_dedup_empty_store(spark):
    from python_hll_spark.operators.dedup import (
        fingerprint_frame, incremental_dedup)

    store = fingerprint_frame(_docs(spark, []))
    new = _docs(spark, [(1, "a b"), (2, "a b"), (3, "c")])
    kept = sorted(r["doc_id"] for r in
                  incremental_dedup(new, store).collect())
    assert kept == [1, 3]


def test_incremental_dedup_keeps_all_columns(spark):
    from python_hll_spark.operators.dedup import (
        fingerprint_frame, incremental_dedup)

    new = spark.createDataFrame([(1, "x y", "web")],
                                "doc_id long, text string, source string")
    store = fingerprint_frame(_docs(spark, [(9, "other")]))
    out = incremental_dedup(new, store)
    assert set(out.columns) == {"doc_id", "text", "source"}
    assert out.collect()[0]["source"] == "web"


def test_dedup_stream_first_occurrence(spark, tmp_path):
    """Streaming exact dedup with watermark-bounded state: every distinct
    normalized text survives exactly once across micro-batches."""
    from python_hll_spark.streaming.stream import dedup_stream

    rows = [(i, f"doc {i % 7}", f"2024-01-01 00:{i:02d}:00")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "docs_stream")
    df.repartition(5).write.parquet(src)

    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = dedup_stream(stream, "text", ts_col="ts", watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("dedup_s")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("SELECT * FROM dedup_s").collect()
    texts = [r["text"] for r in got]
    assert sorted(texts) == sorted(set(texts))        # no dupes survive
    assert set(texts) == {f"doc {k}" for k in range(7)}  # nothing lost


def test_dedup_stream_unbounded_mode(spark, tmp_path):
    from python_hll_spark.streaming.stream import dedup_stream

    df = _docs(spark, [(1, "a"), (2, "a"), (3, "b")])
    src = str(tmp_path / "s2")
    df.write.parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = dedup_stream(stream, "text")
    q = (out.writeStream.format("memory").queryName("dedup_u")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    texts = sorted(r["text"] for r in spark.sql("SELECT * FROM dedup_u").collect())
    assert texts == ["a", "b"]


# ------------------------------------------------------- Arrow tokenizer
def test_tokenize_word_hashes_matches_murmur3(spark):
    from python_hll_spark.functions.murmur3 import murmur3_64
    from python_hll_spark.operators.dedup import tokenize_word_hashes

    df = _docs(spark, [(1, "  Hello   WORLD "), (2, ""), (3, "one"),
                       (4, "a\tb\nc")])
    toks = {r["doc_id"]: list(r["tokens"]) for r in
            tokenize_word_hashes(df).collect()}
    exp1 = [int(h) for h in murmur3_64(["hello", "world"])]
    assert toks[1] == exp1
    assert toks[2] == []                      # empty -> empty token list
    assert toks[3] == [int(murmur3_64(["one"])[0])]
    assert toks[4] == [int(h) for h in murmur3_64(["a", "b", "c"])]


def test_minhash_arrow_tokenizer_collapses_exact_dupes(spark):
    from python_hll_spark.operators.dedup import minhash_signatures

    df = _docs(spark, [(1, "the quick brown fox jumps over the lazy dog"),
                       (2, "The  QUICK brown fox jumps over the lazy dog"),
                       (3, "a completely different document about sparks")])
    sigs = {r["doc_id"]: tuple(r["sig"]) for r in
            minhash_signatures(df, num_hashes=32, n=3).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_tokenizers_agree_on_est_jaccard(spark):
    """The text MinHash path must pair a near-dup (two appended words) and
    estimate its Jaccard above 0.75."""
    from python_hll_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures)

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon") * 3
    near = base + " phi chi"
    df = _docs(spark, [(1, base), (2, near)])
    sigs = minhash_signatures(df, num_hashes=128, n=3)
    pairs = lsh_candidate_pairs(sigs, bands=32).collect()
    assert len(pairs) == 1
    assert pairs[0]["est_jaccard"] > 0.75, pairs


def test_simhash_arrow_tokenizer(spark):
    from python_hll_spark.operators.dedup import simhash_signatures

    df = _docs(spark, [(1, "one two three four five six seven eight"),
                       (2, "ONE two  three four five six seven eight"),
                       (3, "totally unrelated words here entirely")])
    sigs = {r["doc_id"]: r["simhash"] for r in
            simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    ham = bin((sigs[1] ^ sigs[3]) & ((1 << 64) - 1)).count("1")
    assert ham > 10, ham


# -------------------------------------------- incremental NEAR-dedup store
def _near_docs(spark):
    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls gently on the quiet grey town every single morning ")
    rows = [(i, base.replace("fox", f"fox{i}") + f"suffix token {i} "
             + base) for i in range(1, 6)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_near_dedup_store_roundtrip(spark, tmp_path):
    """Write the store, append a refresh, probe a new batch: a near-copy
    of a STORED doc is dropped, a near-copy of an APPENDED doc is dropped,
    a within-batch near-pair collapses to its min id, and a fresh doc
    survives."""
    from python_hll_spark.operators.dedup import (
        incremental_near_dedup, minhash_signatures, near_store_read,
        near_store_write)

    path = str(tmp_path / "near_store")
    corpus = _near_docs(spark)                       # docs 1..5
    near_store_write(minhash_signatures(corpus, num_hashes=64, n=3),
                     path, bands=16)
    extra = spark.createDataFrame(
        [(6, "appended corpus document about winnowing fingerprints and "
             "rolling hashes over normalized lowercase text windows " * 2)],
        "doc_id long, text string")
    near_store_write(minhash_signatures(extra, num_hashes=64, n=3),
                     path, bands=16, mode="append")

    sigs, bnds = near_store_read(spark, path)
    assert sorted(r["doc_id"] for r in sigs.select("doc_id").collect()) \
        == [1, 2, 3, 4, 5, 6]

    stored_text = corpus.where("doc_id = 3").collect()[0]["text"]
    appended_text = extra.collect()[0]["text"]
    fresh = ("an entirely unrelated new crawl document mentioning solar "
             "panels batteries and inverters in a long rambling list " * 2)
    batch = spark.createDataFrame([
        (103, stored_text + " tiny edit"),     # near-copy of stored 3
        (106, appended_text),                  # exact copy of appended 6
        (110, fresh),                          # fresh -> kept
        (111, fresh + " minor twist"),         # within-batch near-dup of 110
    ], "doc_id long, text string")

    caches, outputs = [], {}
    kept = incremental_near_dedup(batch, sigs, bnds, threshold=0.8,
                                  num_hashes=64, bands=16, n=3,
                                  cache_out=caches, outputs=outputs)
    got = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    assert got == [110], got
    assert set(kept.columns) == {"doc_id", "text"}
    # the store-append frame keeps the store schema: the band keys the
    # signature pass emits beside ``sig`` stay out of the store
    assert outputs["survivor_sigs"].columns == ["doc_id", "sig"]
    assert sigs.columns == ["doc_id", "sig"]
    assert bnds.columns == ["doc_id", "band", "band_key"]
    for c in caches:
        c.unpersist()


def test_incremental_near_dedup_empty_store(spark):
    """With an empty store the operator degrades to plain within-batch
    near-dedup."""
    from python_hll_spark.operators.dedup import (incremental_near_dedup,
                                                  minhash_signatures)

    empty = spark.createDataFrame([], "doc_id long, text string")
    e_sigs = minhash_signatures(empty, num_hashes=64, n=3)
    from python_hll_spark.operators.dedup import _band_keys_frame
    e_bands = _band_keys_frame(e_sigs, 16)
    doc = ("repeated words about streams sketches and joins flowing "
           "through a long deterministic sentence for shingling " * 2)
    batch = spark.createDataFrame(
        [(1, doc), (2, doc + " extra"), (3, "short fresh unrelated text")],
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  incremental_near_dedup(batch, e_sigs, e_bands,
                                         threshold=0.8, num_hashes=64,
                                         bands=16, n=3).collect())
    assert kept == [1, 3]


def test_incremental_near_dedup_raises_on_failed_store_probe(spark,
                                                             tmp_path):
    """The store probe runs on a background thread.  When it fails (here:
    the store's files vanish after ``near_store_read``), the call itself
    must raise, not return a frame whose first action fails later."""
    import shutil

    from python_hll_spark.operators.dedup import (
        incremental_near_dedup, minhash_signatures, near_store_read,
        near_store_write)

    path = str(tmp_path / "near_store")
    near_store_write(minhash_signatures(_near_docs(spark), num_hashes=64,
                                        n=3), path, bands=16)
    sigs, bnds = near_store_read(spark, path)
    shutil.rmtree(path)
    batch = _near_docs(spark).selectExpr("doc_id + 100 AS doc_id", "text")
    caches = []
    try:
        with pytest.raises(Exception, match="(?i)not.?exist|not found"):
            incremental_near_dedup(batch, sigs, bnds, threshold=0.8,
                                   num_hashes=64, bands=16, n=3,
                                   cache_out=caches)
    finally:
        for c in caches:
            c.unpersist()


def test_incremental_near_dedup_tokens(spark):
    """Pre-tokenized store probe: an exact token-array copy of a stored
    doc is dropped; a fresh token doc survives."""
    import numpy as np

    from python_hll_spark.operators.dedup import (
        _band_keys_frame, incremental_near_dedup_tokens,
        minhash_signatures_tokens)

    rng = np.random.default_rng(7)
    stored = rng.integers(0, 50000, 200, dtype=np.int64).tolist()
    fresh = rng.integers(60000, 90000, 200, dtype=np.int64).tolist()
    corpus = spark.createDataFrame([(1, stored)],
                                   "doc_id long, tokens array<bigint>")
    sigs = minhash_signatures_tokens(corpus, num_hashes=64, n=3).persist()
    bands = _band_keys_frame(sigs, 16)
    batch = spark.createDataFrame(
        [(10, stored[:190] + stored[190:]),   # exact copy -> drop
         (11, fresh)],                        # fresh -> keep
        "doc_id long, tokens array<bigint>")
    kept = sorted(r["doc_id"] for r in
                  incremental_near_dedup_tokens(batch, sigs, bands,
                                                threshold=0.8, num_hashes=64,
                                                bands=16, n=3).collect())
    assert kept == [11], kept
    sigs.unpersist()


def test_incremental_fan_out_rebalances_skewed_batch(spark):
    """A DERIVED batch (filter over a bigger table) arrives with every row
    in one partition; ``_fan_out_batch`` must rebalance it before the
    signature kernel — and must not change the survivor set."""
    import numpy as np

    from python_hll_spark.operators.dedup import (
        _band_keys_frame, _fan_out_batch, incremental_near_dedup_tokens,
        minhash_signatures_tokens)

    rng = np.random.default_rng(11)
    stored = rng.integers(0, 50000, 200, dtype=np.int64).tolist()
    corpus = spark.createDataFrame([(1, stored)],
                                   "doc_id long, tokens array<bigint>")
    sigs = minhash_signatures_tokens(corpus, num_hashes=64, n=3).persist()
    bands = _band_keys_frame(sigs, 16)
    rows = [(10, stored),
            (11, rng.integers(60000, 90000, 200, dtype=np.int64).tolist()),
            (12, rng.integers(90000, 120000, 180, dtype=np.int64).tolist())]
    # the skewed shape: 8 partitions, all rows in one
    skewed = (spark.createDataFrame(rows * 1,
                                    "doc_id long, tokens array<bigint>")
              .coalesce(1).repartition(8).where("doc_id >= 0")
              .coalesce(1))
    assert skewed.rdd.getNumPartitions() == 1
    fanned = _fan_out_batch(skewed)
    assert fanned.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    kept = sorted(r["doc_id"] for r in incremental_near_dedup_tokens(
        skewed, sigs, bands, threshold=0.8, num_hashes=64, bands=16,
        n=3).collect())
    assert kept == [11, 12], kept
    sigs.unpersist()


def test_refresh_corpus_two_tiers_and_store_appends(spark, tmp_path):
    """Daily refresh end to end: exact re-crawls die at the fingerprint
    tier, near-copies at the signature tier, fresh docs survive, and the
    returned append frames grow both stores correctly for day 2."""
    from python_hll_spark.operators.dedup import (fingerprint_frame,
                                                  minhash_signatures,
                                                  near_store_read,
                                                  near_store_write)
    from python_hll_spark.plans.pipeline import refresh_corpus

    corpus = _near_docs(spark)                       # docs 1..5
    fp_store = fingerprint_frame(corpus)
    near_path = str(tmp_path / "near")
    near_store_write(minhash_signatures(corpus, num_hashes=64, n=3),
                     near_path, bands=16)
    sigs, bnds = near_store_read(spark, near_path)

    stored_text = corpus.where("doc_id = 2").collect()[0]["text"]
    fresh = ("a brand new crawl page discussing kiln temperatures and "
             "glaze chemistry at considerable repetitive length " * 2)
    batch = spark.createDataFrame([
        (101, "  " + stored_text.upper() + "  "),  # exact tier (normalized)
        (102, stored_text + " slight edit"),       # near tier
        (103, fresh),                              # survives
    ], "doc_id long, text string")

    kept, metrics, new_fps, new_sigs = refresh_corpus(
        batch, fp_store, sigs, bnds, threshold=0.8, num_hashes=64,
        bands=16, n=3)
    assert sorted(r["doc_id"] for r in kept.collect()) == [103]
    assert metrics == {"rows_in": 3, "rows_after_exact_tier": 2,
                       "rows_out": 1}
    # append both stores; a day-2 re-crawl of doc 103 must now die
    near_store_write(new_sigs, near_path, bands=16, mode="append")
    fp_store2 = fp_store.unionByName(new_fps)
    sigs2, bnds2 = near_store_read(spark, near_path)
    day2 = spark.createDataFrame(
        [(201, fresh), (202, fresh + " reworded a bit")],
        "doc_id long, text string")
    kept2, m2, _, _ = refresh_corpus(day2, fp_store2, sigs2, bnds2,
                                     threshold=0.8, num_hashes=64,
                                     bands=16, n=3)
    assert m2["rows_after_exact_tier"] == 1      # 201 died on fingerprint
    assert m2["rows_out"] == 0                   # 202 died on near tier
    kept.unpersist()
    kept2.unpersist()


def test_refresh_corpus_edge_shapes(spark):
    """Operational edges of the daily refresh: a day with no new crawl
    (empty batch), day zero (empty stores), and a batch of docs shorter
    than the shingle size — all must complete with sane metrics, not
    crash in the Arrow kernels or the empty-pairs CC."""
    from python_hll_spark.operators.dedup import (_band_keys_frame,
                                                  fingerprint_frame,
                                                  minhash_signatures)
    from python_hll_spark.plans.pipeline import refresh_corpus

    corpus = _near_docs(spark)
    empty = corpus.where("doc_id < 0")
    fp = fingerprint_frame(corpus)
    sigs = minhash_signatures(corpus, num_hashes=64, n=3).persist()
    bands = _band_keys_frame(sigs, 16)

    kept, m, nf, ns = refresh_corpus(empty, fp, sigs, bands,
                                     threshold=0.9, num_hashes=64,
                                     bands=16, n=3)
    assert m == {"rows_in": 0, "rows_after_exact_tier": 0, "rows_out": 0}
    assert nf.count() == 0 and ns.count() == 0

    esigs = minhash_signatures(empty, num_hashes=64, n=3).persist()
    kept, m, nf, ns = refresh_corpus(
        corpus, fingerprint_frame(empty), esigs,
        _band_keys_frame(esigs, 16), threshold=0.9, num_hashes=64,
        bands=16, n=3)
    assert m["rows_in"] == 5 and m["rows_out"] == m["rows_after_exact_tier"]
    assert nf.count() == m["rows_out"]
    assert ns.select("doc_id").distinct().count() == m["rows_out"]

    tiny = spark.createDataFrame([(10, "hi"), (11, "yo")],
                                 "doc_id long, text string")
    kept, m, _, _ = refresh_corpus(tiny, fp, sigs, bands, threshold=0.9,
                                   num_hashes=64, bands=16, n=3)
    assert sorted(r["doc_id"] for r in kept.collect()) == [10, 11]
    sigs.unpersist()
    esigs.unpersist()


def test_refresh_corpus_leaves_no_job_running(spark):
    """No Spark job of a refresh outlives the call.  Two refreshes of the
    sf0.01 documents against a store of the even ids: a mixed batch, then
    a batch of exact re-crawls that the exact tier empties (its near tier
    used to leave an AQE broadcast stage running after the return)."""
    from conftest import TESTDATA_DIR

    from python_hll_spark.operators.dedup import (_band_keys_frame,
                                                  fingerprint_frame,
                                                  minhash_signatures)
    from python_hll_spark.plans.pipeline import refresh_corpus

    docs = spark.read.parquet(f"{TESTDATA_DIR}/sf0.01/documents.parquet") \
        .select("doc_id", "text")
    store = docs.where("doc_id % 2 = 0")
    fp_store = fingerprint_frame(store)
    sigs = minhash_signatures(store, num_hashes=64).persist()
    bands = _band_keys_frame(sigs, 16).persist()
    copies = store.select((F.col("doc_id") + 10 ** 6).alias("doc_id"), "text")
    mixed = docs.where("doc_id % 2 = 1").unionByName(
        copies.where("doc_id % 4 = 0"))
    exact = copies.where("doc_id % 4 = 2")
    sc = spark.sparkContext

    def refresh(batch):
        _, m, _, new_sigs = refresh_corpus(batch, fp_store, sigs, bands)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getActiveJobsIds() == []
        assert new_sigs.columns == ["doc_id", "sig"]
        return m

    m = refresh(mixed)
    assert m["rows_after_exact_tier"] == docs.where("doc_id % 2 = 1").count()
    m = refresh(exact)
    assert m["rows_in"] > 0 and m["rows_after_exact_tier"] == m["rows_out"] == 0
    sigs.unpersist()
    bands.unpersist()


def test_refresh_corpus_tokens_two_tiers(spark):
    """Tokens-path daily refresh (the input_hint table shape): an exact
    token-array re-crawl dies at the fingerprint tier, a near copy at
    the signature tier, a fresh sequence survives and its append frames
    cover exactly the survivors."""
    from python_hll_spark.operators.dedup import (_band_keys_frame,
                                                  fingerprint_frame_tokens,
                                                  minhash_signatures_tokens)
    from python_hll_spark.plans.pipeline import refresh_corpus_tokens

    base = list(range(200))
    other = list(range(1000, 1160))
    corpus = spark.createDataFrame([(1, base), (2, other)],
                                   "doc_id long, tokens array<int>")
    fp = fingerprint_frame_tokens(corpus)
    sigs = minhash_signatures_tokens(corpus, num_hashes=64, n=3).persist()
    bands = _band_keys_frame(sigs, 16)

    batch = spark.createDataFrame([
        (101, base),                               # exact tier
        (102, base + [7, 8, 9]),                   # near tier (J ~ 0.985)
        (103, [5000 + 3 * i for i in range(150)]),  # survives
    ], "doc_id long, tokens array<int>")
    kept, m, nf, ns = refresh_corpus_tokens(batch, fp, sigs, bands,
                                            threshold=0.8, num_hashes=64,
                                            bands=16, n=3)
    assert sorted(r["doc_id"] for r in kept.collect()) == [103]
    assert m == {"rows_in": 3, "rows_after_exact_tier": 2, "rows_out": 1}
    assert nf.count() == 1
    assert ns.select("doc_id").distinct().count() == 1
    sigs.unpersist()
    kept.unpersist()


def test_incremental_dedup_tokens_semantics(spark):
    """Tokens exact tier: order-sensitive array equality — a permuted
    sequence is NOT an exact dup; a verbatim one is."""
    from python_hll_spark.operators.dedup import (fingerprint_frame_tokens,
                                                  incremental_dedup_tokens)

    store = spark.createDataFrame([(1, [1, 2, 3, 4])],
                                  "doc_id long, tokens array<int>")
    batch = spark.createDataFrame(
        [(10, [1, 2, 3, 4]), (11, [4, 3, 2, 1]), (12, [1, 2, 3, 4]),
         (13, [9, 9])],
        "doc_id long, tokens array<int>")
    kept = incremental_dedup_tokens(batch, fingerprint_frame_tokens(store))
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 13]

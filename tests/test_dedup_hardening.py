"""Round-2 scale hardening of the dedup pipeline: LSH degenerate buckets,
bucket-cap star fallback, vectorized SimHash equivalence, and
connected-components convergence semantics."""

import math
import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ----------------------------------------------------- empty-doc LSH flood
def test_lsh_empty_docs_no_bucket_blowup(spark):
    """1k empty/whitespace docs normalize to ONE identical shingle (the
    hash of ""), land in one giant bucket, and used to explode into
    O(E^2) = ~500k self-join pairs.  With the bucket cap they must resolve
    via star edges — LINEAR pair count — while real near-dups are still
    found and empty docs never pair with real docs."""
    from python_hll_spark.operators.dedup import minhash_dedup_pairs

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the cat sleeps peacefully near the warm fire ") * 3
    rows = [(1, base), (2, base + "extra token")]
    rows += [(100 + i, "") for i in range(500)]
    rows += [(700 + i, "   ") for i in range(500)]
    pairs = minhash_dedup_pairs(_docs(spark, rows), num_hashes=64, bands=16,
                                threshold=0.5, n=3).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in ids
    # linear, not quadratic: 1000 empty docs -> <= 999 star edges (+1 real)
    assert len(ids) <= 1001, f"bucket blowup: {len(ids)} pairs"
    for a, b in ids:
        real_a, real_b = a < 100, b < 100
        assert real_a == real_b, f"empty doc paired with real doc: {(a, b)}"


def test_lsh_oversized_bucket_star_fallback(spark):
    """A bucket bigger than max_bucket emits O(B) star edges (vs min id),
    keeping component connectivity without O(B^2) pairs."""
    from python_hll_spark.operators.dedup import (
        connected_components, lsh_candidate_pairs, minhash_signatures)

    text = ("identical content repeated for every document in this flood "
            "of exact duplicates that lands in one single lsh bucket ") * 2
    rows = [(i, text) for i in range(40)]
    sigs = minhash_signatures(_docs(spark, rows), num_hashes=64, n=3)
    pairs = lsh_candidate_pairs(sigs, bands=16, max_bucket=8)
    got = pairs.select("id_a", "id_b").collect()
    # star: every edge is (0, x) — linear count, not 40*39/2 = 780
    assert 0 < len(got) <= 40
    assert all(r["id_a"] == 0 for r in got)
    comps = connected_components(
        pairs.select("id_a", "id_b")).select("component").distinct().collect()
    assert len(comps) == 1  # all 40 docs still one component


def test_simhash_oversized_bucket_star_fallback(spark):
    """A SimHash chunk-bucket flood (>= max_bucket identical signatures)
    must resolve as O(B) star edges, not O(B^2) pairs, while preserving
    duplicate connectivity and still finding genuinely near pairs."""
    from python_hll_spark.operators.dedup import (connected_components,
                                                  simhash_near_pairs)

    text = ("identical flood content that lands every document in the same "
            "simhash chunk buckets for all four sixteen bit chunks ") * 2
    rows = [(i, text) for i in range(60)]
    # one near-pair outside the flood (tiny hamming distance, own buckets)
    rows += [(1000, "alpha beta gamma delta epsilon zeta eta theta iota"),
             (1001, "alpha beta gamma delta epsilon zeta eta theta kappa")]
    pairs = simhash_near_pairs(_docs(spark, rows), max_hamming=6,
                               max_bucket=8)
    got = pairs.collect()
    flood = [(r["id_a"], r["id_b"]) for r in got if r["id_a"] < 1000]
    # star: linear edge count against min id 0, not 60*59/2 = 1770
    assert 0 < len(flood) <= 60, len(flood)
    assert all(a == 0 for a, _ in flood)
    comps = connected_components(
        pairs.where(F.col("id_a") < 1000).select("id_a", "id_b")) \
        .select("component").distinct().collect()
    assert len(comps) == 1  # flood still one duplicate cluster


def test_simhash_star_fallback_same_pairs_as_pairwise(spark):
    """Below the cap, the hardened path must emit the EXACT same pairs the
    unhardened pairwise join would (cap large enough = pairwise)."""
    from python_hll_spark.operators.dedup import simhash_near_pairs

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(50)]
    rows = [(i, " ".join(rng.choice(vocab, size=30))) for i in range(80)]
    df = _docs(spark, rows)
    capped = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in
                    simhash_near_pairs(df, max_hamming=10,
                                       max_bucket=10 ** 9).collect())
    small_cap = simhash_near_pairs(df, max_hamming=10, max_bucket=4)
    # with a tiny cap we may get FEWER pairs (star keeps only rep edges)
    # but every emitted pair must be a true near pair from the full set
    got = {(r["id_a"], r["id_b"]) for r in small_cap.collect()}
    assert got <= {(a, b) for a, b, _ in capped}


def test_embedding_dedup_bucket_flood_linear(spark):
    """10^3 identical embeddings share one SRP bucket; the hardened path
    must emit O(B) star edges (cosine 1.0 to the rep), not O(B^2)."""
    from python_hll_spark.operators.similarity import embedding_dedup_pairs

    rng = np.random.default_rng(3)
    base = rng.normal(size=8).astype("float32")
    rows = [(i, [float(x) for x in base]) for i in range(1000)]
    # a distinct non-dup vector
    rows.append((5000, [float(x) for x in rng.normal(size=8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_dedup_pairs(df, threshold=0.95, max_bucket=50)
    got = pairs.collect()
    assert 0 < len(got) <= 1000, len(got)   # linear, not ~500k
    assert all(r["id_a"] == 0 for r in got)
    assert all(abs(r["cosine"] - 1.0) < 1e-6 for r in got)
    ids = {r["id_b"] for r in got} | {0}
    assert ids == set(range(1000))          # full flood connectivity
    assert 5000 not in ids


def test_embedding_dedup_small_buckets_unchanged(spark):
    """With a huge cap the hardened operator reduces to the pairwise join —
    results must match across cap settings for normal (small) buckets."""
    from python_hll_spark.operators.similarity import embedding_dedup_pairs

    rng = np.random.default_rng(7)
    rows = []
    for i in range(60):
        v = rng.normal(size=8).astype("float64")
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + 0.01 * rng.normal(size=8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    big = sorted((r["id_a"], r["id_b"]) for r in
                 embedding_dedup_pairs(df, threshold=0.98,
                                       max_bucket=10 ** 9).collect())
    capped = sorted((r["id_a"], r["id_b"]) for r in
                    embedding_dedup_pairs(df, threshold=0.98,
                                          max_bucket=500).collect())
    assert big == capped and len(big) >= 40  # most jittered twins found


# ------------------------------------------------ simhash: old == new bits
def _simhash_reference(word_hashes: list[int]) -> int:
    """The round-1 per-row implementation, kept as the spec."""
    h = np.asarray(word_hashes, dtype=np.int64).view(np.uint64)
    if len(h) == 0:
        return 0
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
            & np.uint64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    sig = np.uint64(0)
    for bit in np.nonzero(votes > 0)[0]:
        sig |= np.uint64(1) << np.uint64(bit)
    return int(np.int64(sig.astype(np.int64)))


def test_simhash_vectorized_matches_reference(spark):
    from python_hll_spark.operators.dedup import (simhash_signatures,
                                                  tokenize_word_hashes)

    rng = np.random.default_rng(5)
    vocab = [f"word{i}" for i in range(300)]
    rows = [(i, " ".join(rng.choice(vocab, size=int(rng.integers(1, 60)))))
            for i in range(200)]
    rows += [(1000, ""), (1001, "   "), (1002, "single")]
    df = _docs(spark, rows)
    got = {r["doc_id"]: r["simhash"]
           for r in simhash_signatures(df).collect()}
    for r in tokenize_word_hashes(df).collect():
        if r["tokens"]:
            assert got[r["doc_id"]] == _simhash_reference(r["tokens"]), \
                r["doc_id"]
        else:
            assert got[r["doc_id"]] == 0   # empty docs: zero signature


# --------------------------------------- connected components convergence
def _force_distributed_cc(monkeypatch, cap=0, rounds=None):
    """Route ``connected_components`` past the driver union-find (edge
    lists longer than ``cap``), optionally with a smaller round budget."""
    from python_hll_spark.operators import dedup

    monkeypatch.setattr(dedup, "_CC_DRIVER_CAP", cap)
    if rounds is not None:
        monkeypatch.setattr(dedup, "_CC_MAX_ROUNDS", rounds)


def test_connected_components_nonconvergence_raises(spark, monkeypatch):
    from python_hll_spark.operators.dedup import connected_components

    # path graph 0-1-2-...-12: star needs more than 2 rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long")
    _force_distributed_cc(monkeypatch, rounds=2)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)


def test_near_dedup_tokens_propagates_nonconvergence(spark, monkeypatch):
    """A keep rule over non-converged labels could drop rows no min-id
    rule would; near_dedup_tokens must fail with the RuntimeError instead,
    and without a warning."""
    from python_hll_spark.operators.dedup import near_dedup_tokens

    # sliding windows over one token run: doc i shares all but one token
    # with doc i+1, so the duplicate pairs chain 40 docs together
    df = spark.createDataFrame(
        [(i, list(range(i, i + 20))) for i in range(40)],
        "doc_id long, tokens array<bigint>")
    _force_distributed_cc(monkeypatch, rounds=2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with pytest.raises(RuntimeError, match="did not converge"):
            near_dedup_tokens(df, num_hashes=64, bands=16)
    # (the Py4J gateway's unclosed-socket ResourceWarnings aside)
    assert [str(w.message) for w in caught
            if not issubclass(w.category, ResourceWarning)] == []


def test_connected_components_uses_reliable_checkpoint(spark, monkeypatch):
    from python_hll_spark.operators.dedup import connected_components

    assert spark.sparkContext.getCheckpointDir() is not None
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    _force_distributed_cc(monkeypatch)
    comps = connected_components(edges).collect()
    m = {r["id"]: r["component"] for r in comps}
    assert m == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_star_converges_on_deep_chain(spark, monkeypatch):
    """Large-star/small-star handles a diameter-200 chain in O(log d)
    rounds: 10 are enough (min-label would need 200)."""
    from python_hll_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long")
    _force_distributed_cc(monkeypatch, rounds=10)
    comps = connected_components(edges).collect()
    assert len(comps) == 201
    assert {r["component"] for r in comps} == {0}


# -------------------------------------------------- prepare_corpus metrics
def test_prepare_corpus_metrics_single_pass(spark):
    from python_hll_spark.plans.pipeline import CorpusFilterConfig, prepare_corpus

    good = ("the quick brown fox jumps over the lazy dog while rain falls "
            "softly on the quiet village roofs this fine morning indeed ")
    rows = [(i, good + f"doc {i}") for i in range(20)]          # unique docs
    rows += [(100, good), (101, good), (102, good)]             # exact dups
    rows += [(200, "x")]                                        # too short
    df = _docs(spark, rows)
    clean, metrics = prepare_corpus(df, CorpusFilterConfig(
        min_quality=0.0, min_words=5, near_dup_threshold=0.95,
        minhash_hashes=64, minhash_bands=16, run_near_dedup=False))
    assert metrics["rows_in"] == 24
    assert metrics["rows_after_quality"] == 23          # short doc dropped
    assert metrics["rows_after_exact_dedup"] == 21      # 3 exact dups -> 1
    assert metrics["rows_out"] == 21
    assert clean.count() == 21


def test_prepare_corpus_optional_stages_single_pass(spark):
    """With decontaminate + mixture both ON, the decontaminated frame must
    be persisted: downstream metric counts, the mixture plan, and any
    caller action (the CLI's final write) read the cache instead of
    re-executing the decontamination LSH lineage.  Detected by an
    accumulator on the eval side — eval rows are only scanned when the
    decontamination lineage actually executes."""
    from python_hll_spark.plans.pipeline import CorpusFilterConfig, prepare_corpus

    good = ("the quick brown fox jumps over the lazy dog while rain falls "
            "softly on the quiet village roofs this fine morning indeed ")
    rows = [(i, good + f"unique doc {i} " + "web" if i % 2 else
             good + f"unique doc {i} " + "wiki") for i in range(30)]
    docs = spark.createDataFrame(
        [(i, t, "web" if i % 2 else "wiki") for i, t in rows],
        "doc_id long, text string, source string")
    eval_rows = [(900 + j, good + "unique doc 3 web") for j in range(3)]
    acc = spark.sparkContext.accumulator(0)

    def count_scans(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    eval_df = spark.createDataFrame(eval_rows, "doc_id long, text string") \
        .mapInPandas(count_scans, "doc_id long, text string")

    clean, metrics = prepare_corpus(
        docs,
        CorpusFilterConfig(min_quality=0.0, min_words=5,
                           minhash_hashes=64, minhash_bands=16,
                           mixture_weights={"web": 0.5, "wiki": 0.5}),
        eval_df=eval_df)
    assert metrics["rows_after_decontamination"] <= metrics["rows_after_near_dedup"]
    assert "rows_after_mixture" in metrics
    scans_after_pipeline = acc.value
    assert scans_after_pipeline > 0  # decontamination really ran
    # caller-side actions (metrics re-reads, the CLI's parquet write) must
    # hit the persisted cache — the eval lineage must NOT execute again
    clean.count()
    clean.count()
    assert acc.value == scans_after_pipeline
    clean.unpersist()


# ---------------------------------------------- capped bucket pair rule
def _capped_reference(bucket_rows, max_bucket):
    """The capped pair rule in plain Python over (bucket, id) rows: every
    i < j pair in a bucket of 2..max_bucket ids, and a star from the
    bucket's min id to each other member above that size."""
    buckets = {}
    for key, i in bucket_rows:
        buckets.setdefault(key, []).append(i)
    pairs = set()
    for ids in buckets.values():
        if len(ids) < 2:
            continue
        if len(ids) <= max_bucket:
            pairs |= {(a, b) for a in ids for b in ids if a < b}
        else:
            rep = min(ids)
            pairs |= {(rep, i) for i in ids if i != rep}
    return pairs


@pytest.fixture(scope="module")
def flood_docs(spark):
    """30 duplicate clusters x 12 docs, plus singletons and empty docs."""
    rows = []
    for c in range(30):
        text = (f"cluster {c} body token{c * 7} filler words repeated "
                f"enough to produce shingles for group {c} ") * 3
        rows += [(c * 100 + i, text) for i in range(12)]
    rows += [(10000 + i, f"singleton number {i} with its own words w{i} "
                         f"z{i * 3}") for i in range(20)]
    rows += [(20000 + i, "") for i in range(15)]
    return _docs(spark, rows)


def _flood_embeddings(spark):
    """30 clusters x 12 identical 8-dim vectors plus 40 random ones, as a
    frame and as an id -> float32-exact vector dict."""
    rng = np.random.default_rng(13)
    vecs = {}
    for c in range(30):
        v = rng.normal(size=8).astype("float32").tolist()
        vecs.update({c * 100 + i: v for i in range(12)})
    vecs.update({10000 + i: rng.normal(size=8).astype("float32").tolist()
                 for i in range(40)})
    emb = spark.createDataFrame(list(vecs.items()),
                                "vec_id long, embedding array<float>")
    return emb, vecs


def _cosine(a, b):
    """``similarity.with_cosine`` in plain Python: sequential double sums,
    rounded to 6 places."""
    def dot(x, y):
        acc = 0.0
        for p, q in zip(x, y):
            acc += p * q
        return acc
    return round(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))), 6)


@pytest.mark.parametrize("max_bucket", [11, 12, 13])
def test_capped_bucket_pairs_match_reference(spark, flood_docs, max_bucket):
    """The lazy window-capped bucket join emits exactly the capped rule's
    pairs, on both sides of the cluster size (12): LSH band buckets
    against band keys collected to the driver, SimHash chunk buckets
    against signatures collected to the driver, and SRP vector buckets
    (then the cosine filter) against bucket ids collected to the driver."""
    from python_hll_spark.operators.dedup import (
        _band_keys_frame, lsh_candidate_pairs, minhash_signatures,
        simhash_near_pairs, simhash_signatures)
    from python_hll_spark.operators.similarity import (embedding_dedup_pairs,
                                                       with_srp_bucket)

    sigs = minhash_signatures(flood_docs, num_hashes=32, n=3).persist()
    bands = _band_keys_frame(sigs, 8).collect()
    # empty docs have no band rows
    assert not {r["doc_id"] for r in bands} & set(range(20000, 20015))
    want = _capped_reference(
        [((r["band"], r["band_key"]), r["doc_id"]) for r in bands],
        max_bucket)
    got = {(r["id_a"], r["id_b"]) for r in
           lsh_candidate_pairs(sigs, bands=8, max_bucket=max_bucket)
           .select("id_a", "id_b").collect()}
    assert got == want and got
    sigs.unpersist()

    simhash = {r["doc_id"]: r["simhash"] for r in
               simhash_signatures(flood_docs).collect()}
    chunk_rows = [((c, (h >> (16 * c)) & 0xFFFF), i)
                  for i, h in simhash.items() for c in range(4)]
    want = {(a, b) for a, b in _capped_reference(chunk_rows, max_bucket)
            if bin((simhash[a] ^ simhash[b]) & (2 ** 64 - 1)).count("1") <= 6}
    got = {(r["id_a"], r["id_b"]) for r in
           simhash_near_pairs(flood_docs, max_hamming=6,
                              max_bucket=max_bucket).collect()}
    assert got == want and got

    emb, vecs = _flood_embeddings(spark)
    bucket_rows = [(r["bucket"], r["vec_id"]) for r in
                   with_srp_bucket(emb, "embedding", 8, 6).collect()]
    want = {(a, b) for a, b in _capped_reference(bucket_rows, max_bucket)
            if _cosine(vecs[a], vecs[b]) >= 0.9}
    got = {(r["id_a"], r["id_b"]) for r in
           embedding_dedup_pairs(emb, threshold=0.9, n_bits=6,
                                 max_bucket=max_bucket, dim=8).collect()}
    assert got == want and got


def test_tokens_short_batch_large_shingle_no_crash(spark):
    """Regression (round-3 ADVICE): a batch whose TOTAL token count L
    satisfies 2 <= L <= n-2 made the shifted-pass chain's acc_full[:L-j]
    slice wrap negative and crash in the executor.  One 2-token doc with
    n=5 is exactly that batch; it must yield the same signature as the
    clamped single-window semantics (one shingle over all m tokens)."""
    from python_hll_spark.operators.dedup import minhash_signatures_tokens

    df = spark.createDataFrame([(1, [7, 11])], "doc_id long, tokens array<bigint>")
    one = minhash_signatures_tokens(df, n=5, num_hashes=16).collect()
    assert len(one) == 1 and len(one[0]["sig"]) == 16
    # same doc inside a bigger batch must produce the identical signature
    big = spark.createDataFrame(
        [(1, [7, 11]), (2, list(range(100, 140)))],
        "doc_id long, tokens array<bigint>").coalesce(1)
    sigs = {r["doc_id"]: tuple(r["sig"]) for r in
            minhash_signatures_tokens(big, n=5, num_hashes=16).collect()}
    assert sigs[1] == tuple(one[0]["sig"])


# ------------------------------------- small-graph union-find fast path
def test_cc_fast_path_matches_distributed(spark, monkeypatch):
    """The distributed star rounds must return exactly what the driver
    union-find returns, on a messy random graph plus small clusters: a
    triangle, a pair and a chain."""
    from python_hll_spark.operators.dedup import connected_components

    rng = np.random.default_rng(7)
    e = [(int(a), int(b)) for a, b in rng.integers(0, 60, size=(120, 2))
         if a != b]
    e += [(101, 102), (102, 103), (103, 101), (110, 111), (120, 121),
          (121, 122), (122, 123)]
    edges = spark.createDataFrame(e, "id_a long, id_b long")
    fast = {r["id"]: r["component"] for r in
            connected_components(edges).collect()}
    _force_distributed_cc(monkeypatch)
    dist = {r["id"]: r["component"] for r in
            connected_components(edges).collect()}
    assert fast == dist and len(fast) > 0
    assert fast[103] == 101 and fast[111] == 110 and fast[123] == 120


def test_cc_fast_path_string_ids_and_empty(spark):
    from python_hll_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "id_a string, id_b string")
    m = {r["id"]: r["component"] for r in
         connected_components(edges).collect()}
    assert m == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).collect() == []


def test_cc_cap_exceeded_falls_back_to_distributed(spark, monkeypatch):
    """A driver cap smaller than the edge count must route to the
    distributed rounds — proven by the non-convergence error a diameter-12
    chain raises within 2 rounds (the union-find would just solve it)."""
    from python_hll_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long")
    _force_distributed_cc(monkeypatch, cap=5, rounds=2)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)


def test_keep_rule_filter_equals_agg_join(spark, monkeypatch):
    """The keep rule of near_dedup/incremental_near_dedup/semdedup
    (``_duplicate_ids``) is the filter ``id != component`` (round 6:
    drops one agg + one join per call).  Pin its equivalence to the
    original min-agg + join formulation over connected_components output
    on a messy graph."""
    from pyspark.sql import functions as F

    from python_hll_spark.operators.dedup import (_duplicate_ids,
                                                  connected_components)

    rng = np.random.default_rng(11)
    e = [(int(a), int(b)) for a, b in rng.integers(0, 80, size=(150, 2))
         if a != b]
    edges = spark.createDataFrame(e, "id_a long, id_b long")
    for cap in (0, 1 << 20):  # distributed AND driver union-find paths
        _force_distributed_cc(monkeypatch, cap=cap)
        comps = connected_components(edges)
        filt = {r["id"] for r in _duplicate_ids(edges, "id").collect()}
        keep = comps.groupBy("component").agg(F.min("id").alias("keep_id"))
        agg = {r["id"] for r in
               (comps.join(keep, "component")
                .where(F.col("id") != F.col("keep_id"))).collect()}
        assert filt == agg and len(filt) > 0

"""Kernel tests for CMS / Bloom / KLL / t-digest: published error bounds,
merge associativity under random partitionings, serialization round trips."""

import numpy as np
import pytest

from python_hll_spark.functions.hashing import splitmix64
from python_hll_spark.sketches.bloom import BloomConfig, BloomSketch
from python_hll_spark.sketches.cms import CMSConfig, CMSSketch
from python_hll_spark.sketches.kll import KLLConfig, KLLSketch
from python_hll_spark.sketches.tdigest import TDigestConfig, TDigestSketch


def _zipf_tokens(n, vocab=10000, s=1.2, seed=0):
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    w = ranks ** (-s)
    cdf = np.cumsum(w / w.sum())
    cdf[-1] = 1.0
    return np.searchsorted(cdf, rng.random(n)).astype(np.int64)


# ---------------------------------------------------------------- CMS
def test_cms_point_estimates_within_eps_n():
    cfg = CMSConfig(depth=5, width=4096)
    toks = _zipf_tokens(200_000)
    hashed = splitmix64(toks)
    sk = CMSSketch(cfg)
    sk.update(hashed)

    uniq, exact = np.unique(toks, return_counts=True)
    est = sk.estimate(splitmix64(uniq))
    assert (est >= exact).all()  # CMS never undercounts
    overshoot = est - exact
    n = len(toks)
    # P(overshoot > eps*N) <= delta per row set; allow a small failure margin
    frac_bad = (overshoot > cfg.eps * n).mean()
    assert frac_bad <= cfg.delta * 5, frac_bad
    assert sk.total == n


def test_cms_merge_equals_sequential():
    cfg = CMSConfig(depth=4, width=512)
    toks = splitmix64(_zipf_tokens(50_000, seed=3))
    seq = CMSSketch(cfg)
    seq.update(toks)
    parts = np.array_split(toks, 7)
    acc = CMSSketch(cfg)
    for p in parts:
        other = CMSSketch(cfg)
        other.update(p)
        acc.merge(other)
    assert np.array_equal(acc.counts, seq.counts)
    assert acc.to_bytes() == seq.to_bytes()
    back = CMSSketch.from_bytes(seq.to_bytes())
    assert np.array_equal(back.counts, seq.counts)


# ---------------------------------------------------------------- Bloom
def test_bloom_no_false_negatives_and_fp_rate():
    cfg = BloomConfig.from_capacity(50_000, fp_rate=0.01)
    present = splitmix64(np.arange(50_000, dtype=np.int64))
    absent = splitmix64(np.arange(50_000, 150_000, dtype=np.int64))
    sk = BloomSketch(cfg)
    sk.update(present)
    assert sk.might_contain(present).all()  # zero false negatives
    fp = sk.might_contain(absent).mean()
    assert fp < 0.03, fp  # ~1% target with slack


def test_bloom_merge_is_or():
    cfg = BloomConfig(log2_bits=16, num_hashes=5)
    a, b = BloomSketch(cfg), BloomSketch(cfg)
    va = splitmix64(np.arange(1000, dtype=np.int64))
    vb = splitmix64(np.arange(1000, 2000, dtype=np.int64))
    a.update(va)
    b.update(vb)
    a.merge(b)
    assert a.might_contain(va).all() and a.might_contain(vb).all()
    both = BloomSketch(cfg)
    both.update(np.concatenate([va, vb]))
    assert np.array_equal(a.bits, both.bits)
    assert BloomSketch.from_bytes(a.to_bytes()).to_bytes() == a.to_bytes()


# ---------------------------------------------------------------- KLL
def test_kll_rank_error_within_bound():
    cfg = KLLConfig(k=200)
    rng = np.random.default_rng(5)
    data = rng.lognormal(3.0, 1.0, size=500_000)
    sk = KLLSketch(cfg)
    for chunk in np.array_split(data, 50):
        sk.update(chunk)
    sorted_data = np.sort(data)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = sk.quantile(q)
        true_rank = np.searchsorted(sorted_data, est) / len(data)
        assert abs(true_rank - q) < 3 * cfg.rank_error, (q, true_rank)
    assert sk.n == len(data)


def test_kll_merge_rank_error_and_roundtrip():
    cfg = KLLConfig(k=200)
    rng = np.random.default_rng(6)
    data = rng.normal(0, 1, size=200_000)
    parts = np.array_split(data, 16)
    partials = []
    for p in parts:
        s = KLLSketch(cfg)
        s.update(p)
        partials.append(s)
    rng.shuffle(partials)
    acc = KLLSketch(cfg)
    for p in partials:
        acc.merge(p)
    assert acc.n == len(data)
    sorted_data = np.sort(data)
    for q in (0.1, 0.5, 0.9):
        est = acc.quantile(q)
        true_rank = np.searchsorted(sorted_data, est) / len(data)
        assert abs(true_rank - q) < 4 * cfg.rank_error, (q, true_rank)
    back = KLLSketch.from_bytes(acc.to_bytes())
    assert back.n == acc.n
    assert np.allclose(back.quantile(np.linspace(0, 1, 11)),
                       acc.quantile(np.linspace(0, 1, 11)))


def test_kll_min_max_exact():
    sk = KLLSketch(KLLConfig(k=50))
    sk.update(np.array([5.0, -2.0, 100.0]))
    assert sk.quantile(0.0) == -2.0
    assert sk.quantile(1.0) == 100.0


# ---------------------------------------------------------------- t-digest
def test_tdigest_quantiles_close():
    cfg = TDigestConfig(compression=100.0)
    rng = np.random.default_rng(7)
    data = rng.exponential(10.0, size=300_000)
    sk = TDigestSketch(cfg)
    for chunk in np.array_split(data, 30):
        sk.update(chunk)
    sorted_data = np.sort(data)
    for q in (0.01, 0.5, 0.99):
        est = sk.quantile(q)
        true_rank = np.searchsorted(sorted_data, est) / len(data)
        assert abs(true_rank - q) < 0.02, (q, true_rank, est)


def test_tdigest_merge_and_roundtrip():
    cfg = TDigestConfig(compression=100.0)
    rng = np.random.default_rng(8)
    data = rng.normal(50, 10, size=100_000)
    parts = np.array_split(data, 8)
    acc = TDigestSketch(cfg)
    for p in parts:
        s = TDigestSketch(cfg)
        s.update(p)
        acc.merge(s)
    assert acc.n == len(data)
    sorted_data = np.sort(data)
    for q in (0.1, 0.5, 0.9):
        est = acc.quantile(q)
        true_rank = np.searchsorted(sorted_data, est) / len(data)
        assert abs(true_rank - q) < 0.03, (q, true_rank)
    back = TDigestSketch.from_bytes(acc.to_bytes())
    assert np.allclose(back.quantile(np.array([0.25, 0.5, 0.75])),
                       acc.quantile(np.array([0.25, 0.5, 0.75])))
    # centroid count bounded by the compression parameter
    assert len(back.means) <= 3 * cfg.compression


def test_tdigest_tail_quantiles():
    """Tail accuracy (the reason t-digest exists): q=0.001/0.999 on a heavy
    tail must land within tight rank error."""
    cfg = TDigestConfig(compression=200.0)
    rng = np.random.default_rng(11)
    data = rng.pareto(2.0, size=400_000) + 1.0
    sk = TDigestSketch(cfg)
    for chunk in np.array_split(data, 40):
        sk.update(chunk)
    sorted_data = np.sort(data)
    for q in (0.001, 0.01, 0.99, 0.999):
        est = sk.quantile(q)
        true_rank = np.searchsorted(sorted_data, est) / len(data)
        assert abs(true_rank - q) < 0.005, (q, true_rank, est)


# ------------------------------------- size-adaptive serialization (round 6)
def test_cms_serialization_covers_all_encodings():
    """The size-adaptive CMS codec has three encodings: sparse
    positions+counts (CMS2: few nonzero cells), dense-narrow (CMS3: most
    cells hit, counts fit a narrow uint), legacy int64 grid (CMS1: read
    compatibility).  Roundtrip + cross-encoding byte-determinism for each."""
    cfg = CMSConfig(depth=4, width=2048, seed=7)
    # sparse: a handful of keys
    sparse = CMSSketch(cfg)
    sparse.update(np.arange(10, dtype=np.int64))
    b = sparse.to_bytes()
    assert b[:4] == b"CMS2"
    assert CMSSketch.from_bytes(b).to_bytes() == b
    assert np.array_equal(CMSSketch.from_bytes(b).counts, sparse.counts)
    # dense-narrow: most cells nonzero, counts small
    dense = CMSSketch(cfg)
    dense.update(_zipf_tokens(200_000, vocab=100_000))
    b2 = dense.to_bytes()
    assert b2[:4] in (b"CMS2", b"CMS3")
    assert np.array_equal(CMSSketch.from_bytes(b2).counts, dense.counts)
    assert CMSSketch.from_bytes(b2).total == dense.total
    # legacy dense int64 blob still readable
    import struct
    legacy = (b"CMS1" + struct.pack("<iiqq", cfg.depth, cfg.width, cfg.seed,
                                    dense.total) + dense.counts.tobytes())
    assert np.array_equal(CMSSketch.from_bytes(legacy).counts, dense.counts)
    # determinism: a merge of two halves byte-matches the sequential build
    keys = _zipf_tokens(50_000)
    seq = CMSSketch(cfg)
    seq.update(keys)
    m1, m2 = CMSSketch(cfg), CMSSketch(cfg)
    m1.update(keys[:20_000])
    m2.update(keys[20_000:])
    m1.merge(m2)
    assert m1.to_bytes() == seq.to_bytes()


def test_bloom_serialization_sparse_dense_boundary():
    """Bloom codec: sparse set-bit positions (BLM2) for light states,
    packed bitmap (BLM1) once positions stop paying, legacy readable,
    byte-deterministic across build orders."""
    cfg = BloomConfig(log2_bits=16, num_hashes=4, seed=3)
    light = BloomSketch(cfg)
    light.update(np.arange(5, dtype=np.int64))
    b = light.to_bytes()
    assert b[:4] == b"BLM2"
    back = BloomSketch.from_bytes(b)
    assert np.array_equal(back.unpacked, light.unpacked)
    assert back.to_bytes() == b
    heavy = BloomSketch(cfg)
    heavy.update(np.arange(60_000, dtype=np.int64))
    b2 = heavy.to_bytes()
    assert b2[:4] == b"BLM1"
    assert np.array_equal(BloomSketch.from_bytes(b2).unpacked, heavy.unpacked)
    # legacy blob (pre-BLM2 writer) still readable
    import struct
    legacy = (b"BLM1" + struct.pack("<iiqq", cfg.log2_bits, cfg.num_hashes,
                                    cfg.seed, light.n_added)
              + light.bits.tobytes())
    assert np.array_equal(BloomSketch.from_bytes(legacy).unpacked,
                          light.unpacked)
    # determinism across partitionings
    a1, a2 = BloomSketch(cfg), BloomSketch(cfg)
    a1.update(np.arange(0, 100, dtype=np.int64))
    a2.update(np.arange(100, 200, dtype=np.int64))
    a1.merge(a2)
    whole = BloomSketch(cfg)
    whole.update(np.arange(200, dtype=np.int64))
    assert a1.to_bytes() == whole.to_bytes()

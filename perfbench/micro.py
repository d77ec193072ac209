"""Driver-side timings of the sketch kernels and hash functions, no Spark.

Arrays are shaped like the workloads' data: ``hll_full`` is one FULL
state fed Zipf token hashes, as the partial builder of token_build sees
them; ``hll_sparse`` is many states of ~1k values each, as group_rollup's
groups stay; CMS, Bloom and KLL use token_profile's default configs.
Every rate is the median of a few repetitions.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from python_hll_spark.functions.hashing import splitmix64
from python_hll_spark.sketches.bloom import BloomConfig, BloomSketch
from python_hll_spark.sketches.cms import CMSConfig, CMSSketch
from python_hll_spark.sketches.hll import HLLConfig, HLLSketch
from python_hll_spark.sketches.kll import KLLConfig, KLLSketch
from python_hll_spark.sketches.tdigest import TDigestConfig, TDigestSketch
from python_hll_spark.sources.seqs import _get_token_cdf

REPS = 3
MIN_LOOP_S = 0.05
# token_build_kernels: values fed to the FULL state, and the slices they
# are split into for the merge timings
N_VALUES = 10_000_000
N_STATES = 16


def _median_time(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _rate(fn, items: list) -> float:
    """Calls of ``fn`` per second over ``items``, looping the list until
    ``MIN_LOOP_S`` has passed so that microsecond calls are resolvable."""
    def one_pass():
        for it in items:
            fn(it)
    n, t0 = 0, time.perf_counter()
    while True:
        one_pass()
        n += len(items)
        dt = time.perf_counter() - t0
        if dt >= MIN_LOOP_S:
            return n / dt


def _family(new, update, merge, values_per_state: list) -> dict:
    """Update, merge, serialize and deserialize rates of one family.

    ``values_per_state`` holds one array per state; updates are timed
    over all of them and reported per million values."""
    def build():
        states = []
        for vals in values_per_state:
            s = new()
            update(s, vals)
            states.append(s)
        return states

    update_s = _median_time(build)
    states = build()
    blobs = [s.to_bytes() for s in states]
    cls = type(states[0])

    # pairwise merges of neighbouring states, as a per-group merge sees them
    merge_times = []
    for _ in range(REPS):
        accs = [cls.from_bytes(b) for b in blobs[:-1]]
        t0 = time.perf_counter()
        for acc, other in zip(accs, states[1:]):
            merge(acc, other)
        merge_times.append(time.perf_counter() - t0)
    merge_s = statistics.median(merge_times)
    return {
        "update_mvals_per_s": sum(map(len, values_per_state)) / update_s / 1e6,
        "merge_per_s": (len(states) - 1) / merge_s,
        "serialize_per_s": _rate(lambda s: s.to_bytes(), states),
        "deserialize_per_s": _rate(cls.from_bytes, blobs),
        "state_bytes": statistics.mean(len(b) for b in blobs),
    }


def token_build_kernels(seed: int) -> dict:
    """hll_full, cms, bloom, kll, tdigest and splitmix64 rates."""
    rng = np.random.default_rng(seed)
    raw = np.searchsorted(_get_token_cdf(), rng.random(N_VALUES)).astype(np.int64)
    hashed = splitmix64(raw)
    out = {"functions.splitmix64_mvals_per_s":
           N_VALUES / _median_time(lambda: splitmix64(raw)) / 1e6}
    hll_cfg = HLLConfig.create(11, 5)
    # one FULL state over all values, merged against per-slice states
    slices = np.array_split(hashed, N_STATES)
    fam = _family(lambda: HLLSketch(hll_cfg), HLLSketch.add_hashed,
                  HLLSketch.union, slices)
    out.update({f"sketches.hll_full.{k}": v for k, v in fam.items()})
    small = np.array_split(hashed[:1_000_000], N_STATES)
    lengths = np.array_split(
        np.clip(rng.lognormal(np.log(200.0), 0.6, 1_000_000), 1, 2048), N_STATES)
    families = {
        "cms": (lambda: CMSSketch(CMSConfig(depth=5, width=16384)),
                CMSSketch.update, CMSSketch.merge, small),
        "bloom": (lambda: BloomSketch(BloomConfig(log2_bits=20, num_hashes=5)),
                  BloomSketch.update, BloomSketch.merge, small),
        "kll": (lambda: KLLSketch(KLLConfig(k=200)),
                KLLSketch.update, KLLSketch.merge, lengths),
        "tdigest": (lambda: TDigestSketch(TDigestConfig()),
                    TDigestSketch.update, TDigestSketch.merge, lengths),
    }
    for name, (new, upd, mrg, parts) in families.items():
        fam = _family(new, upd, mrg, parts)
        out.update({f"sketches.{name}.{k}": v for k, v in fam.items()})
    return out


def group_rollup_kernels(seed: int, n_states: int, values_per_state: int) -> dict:
    """hll_sparse rates: many small states of pre-hashed keys."""
    rng = np.random.default_rng(seed)
    parts = [rng.integers(-2**63, 2**63 - 1, values_per_state, dtype=np.int64)
             for _ in range(n_states)]
    cfg = HLLConfig.create(11, 5)
    fam = _family(lambda: HLLSketch(cfg), HLLSketch.add_hashed,
                  HLLSketch.union, parts)
    return {f"sketches.hll_sparse.{k}": v for k, v in fam.items()}


def hll_cardinality_seconds(states: list[bytes]) -> float:
    """Driver-side time of the ``hll_cardinality`` UDF body over states."""
    import pandas as pd

    from python_hll_spark.functions.sketch_funcs import hll_cardinality

    series = pd.Series(states)
    return _median_time(lambda: hll_cardinality.func(series))


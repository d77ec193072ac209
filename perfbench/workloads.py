"""The workloads: seeded inputs, exact answers, and one cycle of
user-visible operations each, driven through the engine's public API.

A cycle has two timed steps:
- ``build``: sketches or signatures built from raw rows; its rate is
  input items per second (tokens or docs);
- ``incremental``: the daily round against a persisted store: sketch
  states written, merged and rolled up, or a new batch probed against
  the near-dup store.

With tracing on, a cycle calls the layers one by one (partials persisted
and counted, then merged, then written) inside spans, so each layer's
self time can be read off; the untraced cycle makes the same calls the
way a user would, through the composed operators.

Inputs depend on the seed alone and are cached per seed under the cache
directory; exact answers are computed once per seed with them.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import checks
import micro
from python_hll_spark.functions.hashing import splitmix64
from python_hll_spark.functions.sketch_funcs import hll_cardinality
from python_hll_spark.operators.aggregate import (
    merge_sketches, scalar_partials_arrow, token_partials_arrow)
from python_hll_spark.operators.dedup import (
    connected_components, incremental_near_dedup_tokens, lsh_candidate_pairs,
    minhash_signatures_tokens, near_dedup_tokens, near_store_read,
    near_store_write)
from python_hll_spark.operators.ndv import hll_ndv_tokens
from python_hll_spark.operators.profile import token_profile
from python_hll_spark.sketches.cms import CMSSketch
from python_hll_spark.sketches.hll import HLLConfig
from python_hll_spark.sketches.kll import KLLSketch
from python_hll_spark.sketches.specs import HLLSpec
from python_hll_spark.sources.seqs import VOCAB, generate_docs
from python_hll_spark.sources.store import SketchStore

HLL_CFG = HLLConfig.create(11, 5)
INPUT_FILES = 4
# bump when the inputs a seed maps to change in a way the cache key
# (workload, seed, sizes) does not show, so stale caches are ignored
INPUT_VERSION = 1


def _now() -> float:
    return time.perf_counter()


def doc_start(seed: int, stride: int) -> int:
    """First doc index of a seed's range: the seed picks the range."""
    return (seed % 10_000_000) * stride


def docs_table(indices: np.ndarray) -> pa.Table:
    """Arrow table of ``generate_docs`` rows, the seqs_table schema."""
    doc_ids, tokens, n_toks, sources = generate_docs(indices)
    return _docs_arrow(doc_ids, tokens, n_toks, sources)


def _docs_arrow(doc_ids, tokens, n_toks, sources) -> pa.Table:
    offsets = np.zeros(len(tokens) + 1, dtype=np.int32)
    np.cumsum([len(t) for t in tokens], out=offsets[1:])
    flat = np.concatenate(tokens).astype(np.int32) if tokens else np.empty(0, np.int32)
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
        "n_tok": pa.array(np.asarray(n_toks, dtype=np.int32)),
        "source": pa.array(list(sources), pa.string()),
    })


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, INPUT_FILES + 1).astype(int)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def cached(cache_dir: str, key: str, build) -> tuple[str, float]:
    """Directory of a seed's inputs, built by ``build(tmp_dir)`` on first
    use and renamed into place, so a run killed mid-build leaves no
    half-written cache.  Returns (dir, seconds spent building)."""
    final = os.path.join(cache_dir, f"{key}-v{INPUT_VERSION}")
    if os.path.isdir(final):
        return final, 0.0
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = _now()
    build(tmp)
    os.makedirs(cache_dir, exist_ok=True)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return final, _now() - t0


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and count of the data files under ``path``."""
    total = n = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, name))
                n += 1
    return total, n


@contextmanager
def _coalesced_cache(spark):
    """Let AQE coalesce the partitions of a plan that is being cached.

    Spark keeps a cached plan's 32 shuffle partitions by default, so a
    persisted merge would pay a Python task per partition where the
    untraced path runs one or two, and would write 32 store files."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _add(c: "Cycle", key: str, value: float) -> None:
    c.layer[key] = c.layer.get(key, 0) + value


def _count_partials(parts: DataFrame, c: "Cycle", span: str) -> None:
    """Rows and state bytes of a persisted partials frame, counted under
    the name of the span that built it."""
    st = parts.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.length("state")).alias("b")).collect()[0]
    _add(c, f"{span}.rows", st["n"])
    _add(c, f"{span}.state_bytes", st["b"])


class Cycle:
    """One cycle's timings, outputs checked, and per-layer counts."""

    def __init__(self):
        self.build_s = 0.0
        self.build_items = 0
        self.build_samples: list[float] = []  # items per second
        self.incremental_s = 0.0
        self.checks: dict[str, tuple[float, bool]] = {}
        self.layer: dict[str, float] = {}


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, work_dir: str, cache_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir
        self.cache_dir = cache_dir

    def cache_key(self, *sizes) -> str:
        return "-".join([self.name, f"s{self.seed}", *map(str, sizes)])

    def inputs(self) -> float:
        """Load (building on first use) the seed's inputs; returns the
        seconds spent generating them."""
        raise NotImplementedError

    def prep(self) -> None:
        """Per-process preparation that counts as set-up."""

    def cycle(self, traced: bool) -> Cycle:
        raise NotImplementedError

    def final_checks(self) -> dict[str, tuple[float, bool]]:
        return {}

    def layer_probes(self) -> dict[str, float]:
        """Traced-run extras outside the cycle: the scan and Arrow floors
        and driver-side kernel timings."""
        return {}

    def _scan_and_passthrough(self, df: DataFrame) -> dict[str, float]:
        schema = df.schema

        def passthrough(batches):
            yield from batches

        with self.tracer.span("sources.scan"):
            rows, toks = df.agg(F.count(F.lit(1)), F.sum(F.size("tokens"))).first()
        with self.tracer.span("arrow.passthrough"):
            df.mapInArrow(passthrough, schema).agg(F.count(F.lit(1))).collect()
        return {"sources.input_rows": rows, "sources.input_tokens": toks}


class TokenBuild(Workload):
    """Build step of sketch_rollup: per-source NDV, then the one-scan
    profile (HLL, CMS, Bloom, KLL merged with MultiSpec), over a seeded
    synthetic token table with five ``source`` groups."""

    name = "token_build"
    DOCS = 20_000
    TOP = 100
    QS = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])

    def inputs(self) -> float:
        start = doc_start(self.seed, 100_000)

        def build(tmp):
            docs = docs_table(np.arange(start, start + self.DOCS))
            write_parquet(docs, os.path.join(tmp, "docs"))
            self._exact(docs, tmp)

        path, gen_s = cached(self.cache_dir, self.cache_key(self.DOCS), build)
        self.docs = self.spark.read.parquet(os.path.join(path, "docs"))
        with open(os.path.join(path, "exact.json")) as f:
            self.exact = json.load(f)
        self.n_tokens = sum(self.exact["n_values"].values())
        return gen_s

    def _exact(self, docs: pa.Table, out_dir: str) -> None:
        """Exact per-source NDV, token counts, top-token frequencies and
        sorted n_tok: numpy, no sketch code."""
        src = np.asarray(docs["source"].to_pylist())
        lengths = docs["n_tok"].to_numpy()
        flat = docs["tokens"].combine_chunks().flatten().to_numpy()
        tok_src = np.repeat(src, lengths)
        exact = {"ndv": {}, "n_values": {}, "top": {}, "n_tok": {}}
        for s in np.unique(src).tolist():
            vals, counts = np.unique(flat[tok_src == s], return_counts=True)
            top = np.argsort(-counts, kind="stable")[:self.TOP]
            exact["ndv"][s] = len(vals)
            exact["n_values"][s] = int(counts.sum())
            exact["top"][s] = [vals[top].tolist(), counts[top].tolist()]
            exact["n_tok"][s] = np.sort(lengths[src == s]).tolist()
        with open(os.path.join(out_dir, "exact.json"), "w") as f:
            json.dump(exact, f)

    def run(self, c: Cycle, traced: bool) -> None:
        docs = self.docs
        spec = HLLSpec(HLL_CFG)
        t0 = _now()
        if traced:
            with self.tracer.span("aggregate.token_partials"):
                parts = token_partials_arrow(docs, ["source"], "tokens", spec,
                                             n_salts=16).persist()
                _count_partials(parts, c, "aggregate.token_partials")
            # the NDV projection stays in the merge job, as in hll_ndv_tokens:
            # run over a persisted merge it would pay a Python task for
            # each of the 32 cached shuffle partitions
            with self.tracer.span("aggregate.token_merge"):
                ndv = merge_sketches(parts, ["source"], spec) \
                    .withColumn("ndv", hll_cardinality(F.col("state"))) \
                    .select("source", "ndv", "state").collect()
                _add(c, "aggregate.token_merge.rows", len(ndv))
            parts.unpersist()
        else:
            ndv = hll_ndv_tokens(docs, by=["source"]).select(
                "source", "ndv", "state").collect()
        with self.tracer.span("profile.token_profile"):
            prof = token_profile(docs).collect()
        c.build_s = _now() - t0
        c.build_items = self.n_tokens
        c.build_samples.append(self.n_tokens / c.build_s)
        self.states = [bytes(r["state"]) for r in ndv]
        self._check(c, ndv, prof)

    def _check(self, c: Cycle, ndv, prof) -> None:
        ex = self.exact
        c.checks["ndv_tokens"] = checks.hll_err_over_bound(
            {r["source"]: r["ndv"] for r in ndv}, ex["ndv"], HLL_CFG.error_bound)
        cms_worst, cms_ok, kll_worst, kll_ok = 0.0, True, 0.0, True
        by_source = {(r["source"], r["sketch"]): r for r in prof}
        for s, (toks, counts) in ex["top"].items():
            cms = CMSSketch.from_bytes(bytes(by_source[(s, "cms_tokens")]["state"]))
            est = cms.estimate(splitmix64(np.asarray(toks, dtype=np.int64)))
            ratio, ok = checks.cms_err_over_bound(est, counts, cms.cfg.eps,
                                                  ex["n_values"][s])
            cms_worst, cms_ok = max(cms_worst, ratio), cms_ok and ok
            kll = KLLSketch.from_bytes(bytes(by_source[(s, "kll_n_tok")]["state"]))
            ratio, ok = checks.kll_err_over_bound(
                np.asarray(ex["n_tok"][s]), self.QS, kll.quantile(self.QS),
                kll.cfg.rank_error)
            kll_worst, kll_ok = max(kll_worst, ratio), kll_ok and ok
        c.checks["cms"] = (cms_worst, cms_ok)
        c.checks["kll"] = (kll_worst, kll_ok)


class GroupRollup(Workload):
    """Incremental step of sketch_rollup: day partitions of many small
    groups written to a SketchStore, a late increment merged into one day,
    then rollups by group and overall."""

    name = "group_rollup"
    GROUPS = 100
    DAYS = 2
    ROWS_PER_DAY = 60_000
    LATE_ROWS = 6_000
    # value universe: with these draws each group ends near 340 distinct
    # keys, below the HLL sparse threshold of log2m=11, regwidth=5 states
    UNIVERSE = 35_000
    LATE_DAY = 99

    def _keys(self, day: int, rows: int) -> DataFrame:
        """Seeded hashed keys generated JVM-side: the value id is a hash of
        (seed, day, row) folded into the universe, so days overlap; the
        group is a hash of the value, so a value lives in one group."""
        vid = F.pmod(F.xxhash64(F.lit(self.seed), F.lit(day), F.col("id")),
                     F.lit(self.UNIVERSE))
        grp = F.pmod(F.xxhash64(F.lit(self.seed), vid), F.lit(self.GROUPS))
        return (self.spark.range(0, rows, numPartitions=INPUT_FILES)
                .select(grp.cast("int").alias("grp"), F.xxhash64(vid).alias("h")))

    def _all_keys(self) -> DataFrame:
        out = self._keys(self.LATE_DAY, self.LATE_ROWS)
        for day in range(self.DAYS):
            out = out.unionByName(self._keys(day, self.ROWS_PER_DAY))
        return out

    def inputs(self) -> float:
        def build(tmp):
            rows = (self._all_keys().groupBy("grp")
                    .agg(F.countDistinct("h").alias("ndv")).collect())
            total = self._all_keys().agg(F.countDistinct("h")).collect()[0][0]
            os.makedirs(tmp)
            with open(os.path.join(tmp, "exact.json"), "w") as f:
                json.dump({"ndv": {str(r["grp"]): r["ndv"] for r in rows},
                           "total": total}, f)

        key = self.cache_key(self.GROUPS, self.DAYS, self.ROWS_PER_DAY,
                             self.LATE_ROWS, self.UNIVERSE)
        path, gen_s = cached(self.cache_dir, key, build)
        with open(os.path.join(path, "exact.json")) as f:
            self.exact = json.load(f)
        self.store = SketchStore(self.spark, os.path.join(self.work_dir, "sketch_store"),
                                 HLLSpec(HLL_CFG), ["grp"], partition_col="day")
        return gen_s

    def _states(self, keys: DataFrame, traced: bool, c: Cycle, held: list) -> DataFrame:
        """scalar_partials_arrow -> merge_sketches; traced, each stage is
        persisted and counted inside its own span."""
        spec = HLLSpec(HLL_CFG)
        parts = scalar_partials_arrow(keys, ["grp"], "h", spec, n_salts=16)
        if not traced:
            return merge_sketches(parts, ["grp"], spec)
        with self.tracer.span("aggregate.scalar_partials"):
            parts = parts.persist()
            _count_partials(parts, c, "aggregate.scalar_partials")
        with self.tracer.span("aggregate.group_merge"), _coalesced_cache(self.spark):
            merged = merge_sketches(parts, ["grp"], spec).persist()
            _add(c, "aggregate.group_merge.rows", merged.count())
        held += [parts, merged]
        return merged

    def run(self, c: Cycle, traced: bool) -> None:
        store, held = self.store, []
        t0 = _now()
        for day in range(self.DAYS):
            states = self._states(self._keys(day, self.ROWS_PER_DAY), traced, c, held)
            with self.tracer.span("store.write_partition"):
                store.write_partition(states, f"d{day}")
        late = self._states(self._keys(self.LATE_DAY, self.LATE_ROWS), traced, c, held)
        with self.tracer.span("store.merge_into_partition"):
            store.merge_into_partition(late, "d0")
        with self.tracer.span("store.rollup_by_group"):
            by_group = store.ndv().select("grp", "ndv", "state").collect()
        with self.tracer.span("store.rollup_global"):
            self.total = store.ndv(by=[]).select("ndv", "state").collect()[0]
        c.incremental_s = _now() - t0
        for df in held:
            df.unpersist()
        self.states = [bytes(r["state"]) for r in by_group]
        c.checks["ndv_groups"] = checks.hll_err_over_bound(
            {str(r["grp"]): r["ndv"] for r in by_group} | {"all": self.total["ndv"]},
            self.exact["ndv"] | {"all": self.exact["total"]}, HLL_CFG.error_bound)
        if not traced:
            size, files = dir_bytes_files(store.path)
            c.layer.update({"store.bytes": size, "store.files": files,
                            "store.bytes_per_state": size / (self.GROUPS * self.DAYS)})

    def final_checks(self) -> dict[str, tuple[float, bool]]:
        """Merge associativity: the global rollup's HLL bytes equal one
        direct build over the same rows."""
        spec = HLLSpec(HLL_CFG)
        keys = self._all_keys().withColumn("__g", F.lit(0))
        direct = merge_sketches(
            scalar_partials_arrow(keys, ["__g"], "h", spec, n_salts=16),
            ["__g"], spec).collect()[0]["state"]
        same = bytes(direct) == bytes(self.total["state"])
        return {"rollup_bytes_equal_direct_build": (0.0 if same else 1.0, same)}


class SketchRollup(Workload):
    """token_build as the build step, group_rollup as the incremental
    step.  The build runs the token kernel over five large groups, though
    at this size per-job cost outweighs it; the incremental step runs no
    token kernel: many small groups keep the HLL states sparse and
    per-group merges, serde and store I/O dominate."""

    name = "sketch_rollup"

    def __init__(self, *args):
        super().__init__(*args)
        self.tokens = TokenBuild(*args)
        self.groups = GroupRollup(*args)

    def inputs(self) -> float:
        return self.tokens.inputs() + self.groups.inputs()

    def cycle(self, traced: bool) -> Cycle:
        c = Cycle()
        self.tokens.run(c, traced)
        self.groups.run(c, traced)
        return c

    def final_checks(self) -> dict[str, tuple[float, bool]]:
        return self.groups.final_checks()

    def layer_probes(self) -> dict[str, float]:
        out = self._scan_and_passthrough(
            self.tokens.docs.select("source", "tokens", "n_tok"))
        out.update(micro.token_build_kernels(self.seed))
        out.update(micro.group_rollup_kernels(self.seed, GroupRollup.GROUPS, 340))
        out["functions.hll_cardinality_s"] = micro.hll_cardinality_seconds(
            self.tokens.states + self.groups.states)
        return out


class NearDedup(Workload):
    """Near-duplicate removal over a corpus with injected exact and near
    copies, then an incremental batch probed against a near-dup store."""

    name = "near_dedup"
    DOCS = 8_000
    EXACT = 160
    NEAR = 160
    BATCH_FRESH = 800
    BATCH_EXACT = 80
    BATCH_NEAR = 80
    MUTATIONS = 2
    # a near copy of a long doc keeps a 3-shingle Jaccard above ~0.94,
    # well over the 0.8 threshold
    MIN_NEAR_LEN = 100

    def inputs(self) -> float:
        start = doc_start(self.seed, 100_000)

        def build(tmp):
            rng = np.random.default_rng([self.seed, 7])
            doc_ids, tokens, n_toks, sources = generate_docs(
                np.arange(start, start + self.DOCS))
            f_ids, f_toks, f_n, f_src = generate_docs(
                np.arange(start + self.DOCS, start + self.DOCS + self.BATCH_FRESH))
            long_docs = np.flatnonzero(np.asarray(n_toks) >= self.MIN_NEAR_LEN)

            def copies(prefix, n_exact, n_near):
                picks = rng.choice(len(doc_ids), n_exact, replace=False)
                near = rng.choice(long_docs, n_near, replace=False)
                ids, toks, ns, srcs = [], [], [], []
                for k, i in enumerate(picks):
                    ids.append(f"{prefix}-e-{k:06d}")
                    toks.append(tokens[i])
                    ns.append(n_toks[i])
                    srcs.append(sources[i])
                for k, i in enumerate(near):
                    t = tokens[i].copy()
                    pos = rng.choice(len(t), self.MUTATIONS, replace=False)
                    t[pos] = (t[pos] + rng.integers(1, VOCAB, len(pos))) % VOCAB
                    ids.append(f"{prefix}-n-{k:06d}")
                    toks.append(t)
                    ns.append(n_toks[i])
                    srcs.append(sources[i])
                return ids, toks, ns, srcs

            # copy ids sort after the "doc-" originals, so each duplicate
            # cluster keeps its original as the min-id representative
            c_ids, c_toks, c_n, c_src = copies("dup", self.EXACT, self.NEAR)
            b_ids, b_toks, b_n, b_src = copies("new", self.BATCH_EXACT,
                                               self.BATCH_NEAR)
            corpus = _docs_arrow(doc_ids + c_ids, tokens + c_toks,
                                 list(n_toks) + c_n, list(sources) + c_src)
            batch = _docs_arrow(f_ids + b_ids, f_toks + b_toks,
                                list(f_n) + b_n, list(f_src) + b_src)
            # interleave copies with originals across files
            order = rng.permutation(corpus.num_rows)
            write_parquet(corpus.take(order), os.path.join(tmp, "corpus"))
            write_parquet(batch.take(rng.permutation(batch.num_rows)),
                          os.path.join(tmp, "batch"))
            with open(os.path.join(tmp, "ids.json"), "w") as f:
                json.dump({"keep": doc_ids, "exact": c_ids[:self.EXACT],
                           "near": c_ids[self.EXACT:], "fresh": f_ids,
                           "b_exact": b_ids[:self.BATCH_EXACT],
                           "b_near": b_ids[self.BATCH_EXACT:]}, f)

        key = self.cache_key(self.DOCS, self.EXACT, self.NEAR, self.BATCH_FRESH,
                             self.BATCH_EXACT, self.BATCH_NEAR, self.MUTATIONS)
        path, gen_s = cached(self.cache_dir, key, build)
        read = self.spark.read.parquet
        self.corpus = read(os.path.join(path, "corpus"))
        self.batch = read(os.path.join(path, "batch"))
        with open(os.path.join(path, "ids.json")) as f:
            self.ids = {k: set(v) for k, v in json.load(f).items()}
        self.n_docs = len(self.ids["keep"]) + self.EXACT + self.NEAR
        return gen_s

    def prep(self) -> None:
        """The near-dup store the incremental batch is probed against:
        signatures of the corpus originals."""
        path = os.path.join(self.work_dir, "near_store")
        originals = self.corpus.where(F.col("doc_id").startswith("doc-"))
        with self.tracer.span("dedup.store_write"):
            sigs = minhash_signatures_tokens(originals).persist()
            near_store_write(sigs, path, bands=32, num_hashes=128, n=3)
            sigs.unpersist()
        self.store_sigs, self.store_bands = near_store_read(self.spark, path)

    def cycle(self, traced: bool) -> Cycle:
        c = self._run(traced)
        survivors, inc_survivors = self._out
        ids = self.ids
        corpus = checks.dedup_outcome(survivors, ids["keep"], ids["exact"],
                                      ids["near"])
        inc = checks.dedup_outcome(inc_survivors, ids["fresh"], ids["b_exact"],
                                   ids["b_near"])
        for name, out in (("dedup", corpus), ("incremental", inc)):
            ok = out["kept_ok"] and out["exact_removed_ok"]
            c.checks[name] = (0.0 if ok else 1.0, ok)
        c.layer["dedup.near_dup_recall"] = (
            (corpus["near_removed"] + inc["near_removed"])
            / (corpus["near_total"] + inc["near_total"]))
        return c

    def _run(self, traced: bool) -> Cycle:
        c = Cycle()
        corpus, batch = self.corpus, self.batch
        t0 = _now()
        if traced:
            # near_dedup_tokens, one public layer call at a time
            with self.tracer.span("dedup.signatures"):
                sigs = minhash_signatures_tokens(corpus).persist()
                sigs.count()
            caches = [sigs]
            with self.tracer.span("dedup.lsh_pairs"):
                cand = lsh_candidate_pairs(sigs, 32, "doc_id",
                                           cache_out=caches).persist()
                pairs = cand.where(F.col("est_jaccard") >= 0.8) \
                    .select("id_a", "id_b").persist()
                n_cand, n_pairs = cand.count(), pairs.count()
                caches += [cand, pairs]
            with self.tracer.span("dedup.cc"):
                comps = connected_components(pairs)
            with self.tracer.span("dedup.keep"):
                drop = comps.where(F.col("id") != F.col("component")) \
                    .select(F.col("id").alias("doc_id"))
                rows = corpus.join(drop, "doc_id", "left_anti") \
                    .select("doc_id").collect()
            for df in caches:
                df.unpersist()
            c.layer["dedup.candidate_pairs"] = n_cand
            c.layer["dedup.candidate_precision"] = n_pairs / n_cand if n_cand else 0.0
        else:
            rows = near_dedup_tokens(corpus).select("doc_id").collect()
        c.build_s = _now() - t0
        c.build_items = self.n_docs
        c.build_samples.append(self.n_docs / c.build_s)
        t1 = _now()
        with self.tracer.span("dedup.incremental"):
            inc_rows = incremental_near_dedup_tokens(
                batch, self.store_sigs, self.store_bands).select("doc_id").collect()
        c.incremental_s = _now() - t1
        self._out = ({r["doc_id"] for r in rows}, {r["doc_id"] for r in inc_rows})
        return c

    def layer_probes(self) -> dict[str, float]:
        return self._scan_and_passthrough(self.corpus.select("doc_id", "tokens"))


WORKLOADS = {w.name: w for w in (SketchRollup, NearDedup)}

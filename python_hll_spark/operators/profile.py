"""Single-pass corpus profile: every sketch the north rule asks for, built
in ONE scan of the token table.

Per group (e.g. ``source``) and per task, one Arrow-native pass maintains:
  - HLL over token hashes        (approx NDV, storage-spec bytes)
  - CMS over token hashes        (heavy-hitter frequencies)
  - Bloom over token hashes      (membership)
  - KLL over n_tok               (sequence-length quantile profile)

This amortizes the scan: at 100TB the parquet decode dominates a
single-sketch job, so co-building k sketches costs ~1 scan instead of k.
Emits (group, sketch, salt, state, ...) partial rows merged by MultiSpec.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401  (pandas_udf type hints resolve against module scope)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_hll_spark.operators.aggregate import merge_sketches
from python_hll_spark.sketches.bloom import BloomConfig, BloomSketch
from python_hll_spark.sketches.cms import CMSConfig, CMSSketch
from python_hll_spark.sketches.hll import HLLConfig, HLLSketch
from python_hll_spark.sketches.kll import KLLConfig, KLLSketch
from python_hll_spark.sketches.multi import MultiSpec


def _default_sketches():
    # cache-conscious defaults: the CMS/Bloom tables are the profile's only
    # random-access state; these sizes keep the per-group working set
    # ~L2/L3-resident while the error bounds stay far below heavy-hitter
    # scale (eps*N = 0.017% of tokens; Bloom fp ~3% at 131k distinct)
    return {
        "hll_tokens": lambda: HLLSketch(HLLConfig.create(11, 5)),
        "cms_tokens": lambda: CMSSketch(CMSConfig(depth=5, width=16384)),
        "bloom_tokens": lambda: BloomSketch(BloomConfig(log2_bits=20, num_hashes=5)),
        "kll_n_tok": lambda: KLLSketch(KLLConfig(k=200)),
    }


def token_profile(df: DataFrame, by: str = "source", token_col: str = "tokens",
                  len_col: str = "n_tok", n_salts: int = 16,
                  sketches: dict | None = None) -> DataFrame:
    """One-scan multi-sketch build.  Returns (by, sketch, state, ...)."""
    import pyarrow as pa
    from pyspark import TaskContext

    from python_hll_spark.functions.hashing import splitmix64

    makers = sketches or _default_sketches()
    pruned = df.select(by, token_col, len_col)
    out_schema = (f"`{by}` {dict(df.dtypes)[by]}, sketch string, salt int, "
                  "state binary, n_rows bigint, n_values bigint, partition_id int")

    CHUNK = 131072  # keep int64 temps cache-resident (see aggregate.py)

    def build(batches):
        from python_hll_spark.operators.aggregate import dict_encode_groups

        pid = TaskContext.get().partitionId()
        states: dict = {}   # gval -> {sketch_name: state}
        counts: dict = {}
        for batch in batches:
            tok = batch.column(token_col)
            flat = tok.flatten().to_numpy(zero_copy_only=False)
            lengths = np.diff(tok.offsets.to_numpy(zero_copy_only=False))
            n_toks = batch.column(len_col)
            n_toks = n_toks.to_numpy(zero_copy_only=False)
            # null-safe dense group codes (NULL group = its own key,
            # matching Spark groupBy semantics)
            codes, keys = dict_encode_groups(batch, [by])
            dictionary = [k[0] for k in keys]
            value_groups = np.repeat(codes, lengths)
            # per-row sketches (KLL over n_tok) update once per batch;
            # counting-sort over row codes gives contiguous per-group rows
            row_order = np.argsort(codes, kind="stable")
            row_bounds = np.zeros(len(dictionary) + 1, dtype=np.int64)
            np.cumsum(np.bincount(codes, minlength=len(dictionary)),
                      out=row_bounds[1:])
            n_sorted = n_toks[row_order]
            for g, gval in enumerate(dictionary):
                group = states.get(gval)
                if group is None:
                    group = states[gval] = {name: mk() for name, mk in makers.items()}
                    counts[gval] = [0, 0]
                rows_g = n_sorted[row_bounds[g]:row_bounds[g + 1]]
                for name, st in group.items():
                    if name.endswith("n_tok"):
                        st.update(rows_g.astype(np.float64))
                counts[gval][0] += len(rows_g)
            # token sketches update in cache-resident chunks; counting-sort
            # separation gives each group a contiguous zero-copy slice
            n_groups = len(dictionary)
            for start in range(0, len(flat), CHUNK):
                sl = slice(start, start + CHUNK)
                hashed = splitmix64(flat[sl].astype(np.int64))
                vg = value_groups[sl]
                order = np.argsort(vg, kind="stable")
                hashed = hashed[order]
                bounds = np.zeros(n_groups + 1, dtype=np.int64)
                np.cumsum(np.bincount(vg, minlength=n_groups), out=bounds[1:])
                for g, gval in enumerate(dictionary):
                    vals = hashed[bounds[g]:bounds[g + 1]]
                    if len(vals) == 0:
                        continue
                    for name, st in states[gval].items():
                        if name.endswith("n_tok"):
                            continue
                        if isinstance(st, HLLSketch):
                            st.add_hashed(vals)
                        else:
                            st.update(vals)
                    counts[gval][1] += len(vals)
        if not states:
            return
        rows_g, rows_s, rows_state, rows_nr, rows_nv = [], [], [], [], []
        for gval, group in states.items():
            for name, st in group.items():
                rows_g.append(gval)
                rows_s.append(name)
                rows_state.append(st.to_bytes())
                rows_nr.append(counts[gval][0])
                rows_nv.append(counts[gval][1])
        n = len(rows_g)
        yield pa.RecordBatch.from_arrays([
            pa.array(rows_g),
            pa.array(rows_s, pa.string()),
            pa.array([pid % n_salts] * n, pa.int32()),
            pa.array(rows_state, pa.binary()),
            pa.array(rows_nr, pa.int64()),
            pa.array(rows_nv, pa.int64()),
            pa.array([pid] * n, pa.int32()),
        ], names=[by, "sketch", "salt", "state", "n_rows", "n_values",
                  "partition_id"])

    partials = pruned.mapInArrow(build, schema=out_schema)
    return merge_sketches(partials, [by, "sketch"], MultiSpec())


def profile_summary(profile_df: DataFrame, by: str = "source") -> DataFrame:
    """Human-facing summary: NDV + n_tok quantiles per group."""
    from pyspark.sql.types import DoubleType, LongType

    @F.pandas_udf(LongType())
    def ndv(states: pd.Series) -> pd.Series:
        from python_hll_spark.sketches.hll import HLLSketch
        return states.map(lambda b: HLLSketch.from_bytes(bytes(b)).cardinality())

    @F.pandas_udf(DoubleType())
    def p50(states: pd.Series) -> pd.Series:
        from python_hll_spark.sketches.kll import KLLSketch
        return states.map(lambda b: float(KLLSketch.from_bytes(bytes(b)).quantile(0.5)))

    hll = (profile_df.where(F.col("sketch") == "hll_tokens")
           .select(by, ndv(F.col("state")).alias("token_ndv"),
                   F.col("n_rows").alias("n_docs"), "n_values"))
    kll = (profile_df.where(F.col("sketch") == "kll_n_tok")
           .select(by, p50(F.col("state")).alias("n_tok_p50")))
    return hll.join(kll, by)

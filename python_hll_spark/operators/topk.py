"""Per-group heavy hitters: CMS point estimates over locally-generated
candidates.

100TB shape: stage 1 computes, per task x group, (a) a CMS partial and
(b) the task's exact local top-C keys — both tiny — so the raw table is
scanned once and never shuffled.  Candidates (<= tasks * groups * C rows)
and CMS states (one per group) are merged on reducers, and the final
estimate is a broadcast-join of two small frames.  Skewed sources cost
nothing extra: a group's candidates arrive pre-aggregated per task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_hll_spark.functions.hashing import splitmix64
from python_hll_spark.operators.aggregate import merge_sketches
from python_hll_spark.sketches.cms import CMSConfig
from python_hll_spark.sketches.specs import CMSSpec


def _hash_keys(keys: np.ndarray) -> np.ndarray:
    return splitmix64(keys.astype(np.int64, copy=False))


def space_saving_admit(summary: dict, floor: int, keys, counts,
                       cap: int) -> int:
    """Add ``counts`` of ``keys`` to one group's SpaceSaving summary (key
    -> running count) and return the group's new floor.  An untracked key
    enters at floor + count, floor being the largest count ever evicted,
    so a tracked count bounds the key's true count from above and a
    late-surging heavy hitter is never starved out by early keys.  Past
    ``cap`` keys the ``cap`` largest stay, ties broken by ``str(key)``."""
    for key, c in zip(keys, counts):
        prev = summary.get(key)
        summary[key] = floor + c if prev is None else prev + c
    if len(summary) > cap:
        items = sorted(summary.items(), key=lambda kv: (-kv[1], str(kv[0])))
        summary.clear()
        summary.update(items[:cap])
        floor = max(floor, items[cap][1])
    return floor


def cms_topk(df: DataFrame, group_cols: list[str], key_col: str, k: int = 10,
             cfg: CMSConfig | None = None, candidates_per_task: int = 64,
             shared_cms: bool = False) -> DataFrame:
    """Top-k ``key_col`` values per group with CMS frequency estimates.

    Works for any orderable key type: the CMS ingests the JVM-side
    ``xxhash64`` of the key; candidates carry the original key value.
    Returns (group..., key <input type>, est_count bigint, rank int).

    ``shared_cms=True`` is the HIGH-GROUP-ARITY mode: instead of one CMS
    per group (state = depth*width*8 bytes PER GROUP — at 10^3+ groups the
    partial shuffle is groups x MBs per task), a single CMS counts the
    composite ``xxhash64(group..., key)`` pair, making state size
    independent of group count.  Trade-off: the overcount bound becomes
    eps * N_TOTAL rather than eps * N_group.  Use it when groups are many
    and per-group volume is a small share of the stream.
    """
    cfg = cfg or CMSConfig(depth=5, width=65536)
    spec = CMSSpec(cfg)
    cand_c = max(candidates_per_task, 4 * k)
    # per-(task, group) SpaceSaving summary of at most `cap` keys however
    # many distinct keys stream through — the 100 TB memory guarantee;
    # reported counts come from the CMS, so admission inflation never shows
    cap = 4 * cand_c

    if shared_cms:
        cms_hash = F.xxhash64(*[F.col(c) for c in group_cols], F.col(key_col))
    else:
        cms_hash = F.xxhash64(F.col(key_col))
    pruned = df.select(*group_cols, F.col(key_col).alias("__key"),
                       cms_hash.alias("__kh"))
    key_type = dict(pruned.dtypes)["__key"]

    # -- CMS partials + candidates, both Arrow-native ------------------------
    from python_hll_spark.operators.aggregate import (
        SplitmixSpec, dict_encode_groups, scalar_partials_arrow)

    state_group_cols = [] if shared_cms else list(group_cols)
    partials = scalar_partials_arrow(pruned.drop("__key"), state_group_cols,
                                     "__kh", SplitmixSpec(spec))
    states = merge_sketches(partials, state_group_cols, spec)

    group_fields = [f"`{f.name}` {f.dataType.simpleString()}"
                    for f in pruned.schema.fields if f.name in group_cols]
    cand_schema = ", ".join(group_fields + [f"key {key_type}", "local_count bigint"])

    def local_candidates(batches):
        """Per-task approximate local top-C via dictionary-encoded composite
        codes: one sort-unique per Arrow batch, no per-row Python; each
        group's summary is truncated to `cap` keys after every batch."""
        import pyarrow as pa
        per_group: dict = {}  # gkey tuple -> {key: running count}
        floors: dict = {}     # gkey tuple -> largest evicted count
        gtypes = ktype = None
        for batch in batches:
            if gtypes is None:
                gtypes = [batch.schema.field(c).type for c in group_cols]
                ktype = batch.schema.field("__key").type
            gcodes, gkeys = dict_encode_groups(batch, group_cols)
            kcodes, kkeys = dict_encode_groups(batch, ["__key"])
            card = len(kkeys)
            uniq, cnts = np.unique(gcodes * np.int64(card) + kcodes,
                                   return_counts=True)
            # uniq is sorted, so each group's keys are one contiguous run
            gidx = uniq // card
            starts = np.flatnonzero(np.diff(gidx, prepend=-1))
            for a, b in zip(starts.tolist(), [*starts[1:].tolist(), len(uniq)]):
                gkey = gkeys[int(gidx[a])]
                floors[gkey] = space_saving_admit(
                    per_group.setdefault(gkey, {}), floors.get(gkey, 0),
                    [kkeys[c][0] for c in (uniq[a:b] % card).tolist()],
                    cnts[a:b].tolist(), cap)
        g_out, k_out, c_out = [], [], []
        for gkey, d in per_group.items():
            items = sorted(d.items(), key=lambda kv: (-kv[1], str(kv[0])))
            for key, c in items[:cand_c]:
                g_out.append(gkey)
                k_out.append(key)
                c_out.append(c)
        if not k_out:
            return
        arrays = [pa.array([g[i] for g in g_out], type=gtypes[i])
                  for i in range(len(group_cols))]
        arrays += [pa.array(k_out, type=ktype), pa.array(c_out, pa.int64())]
        yield pa.RecordBatch.from_arrays(
            arrays, names=group_cols + ["key", "local_count"])

    if shared_cms:
        cand_hash = F.xxhash64(*[F.col(c) for c in group_cols], F.col("key"))
    else:
        cand_hash = F.xxhash64(F.col("key"))
    candidates = (pruned.drop("__kh")
                  .mapInArrow(local_candidates, schema=cand_schema)
                  .groupBy(*group_cols, "key")
                  .agg(F.sum("local_count").alias("cand_count"))
                  .withColumn("__kh", cand_hash))

    # -- estimate candidates against the merged per-group CMS ----------------
    # A CMS state is depth*width*8 bytes (MBs at default width): joining it
    # as a DataFrame column would duplicate those MBs onto EVERY candidate
    # row through Arrow (at 97 groups x 256 candidates that is tens of GB
    # for a toy input).  Instead the per-group state table — one small blob
    # per group — is collected and sc.broadcast as a dict, and candidates
    # probe it inside mapInPandas (same pattern as membership.bloom_probe).
    import pandas as pd

    spark = df.sparkSession
    states_local = {
        tuple(r[c] for c in state_group_cols): bytes(r["state"])
        for r in states.select(*state_group_cols, "state").collect()}
    bstates = spark.sparkContext.broadcast(states_local)
    gcols = state_group_cols

    def probe(pdf_iter):
        from python_hll_spark.sketches.cms import CMSSketch
        cache: dict = {}
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            est = np.zeros(len(pdf), dtype=np.int64)
            if gcols:
                # normalize pandas NaN back to None so NULL groups hit
                # their state row (Spark groupBy keeps NULL groups)
                gtuples = [tuple(None if pd.isna(v) else v for v in t)
                           for t in pdf[gcols].itertuples(index=False)]
            else:
                gtuples = [()] * len(pdf)
            by_group: dict = {}
            for i, gt in enumerate(gtuples):
                by_group.setdefault(gt, []).append(i)
            hashes = pdf["__kh"].to_numpy(dtype=np.int64)
            for gt, idx in by_group.items():
                blob = bstates.value.get(gt)
                if blob is None:
                    continue
                sk = cache.get(gt)
                if sk is None:
                    sk = cache[gt] = CMSSketch.from_bytes(blob)
                est[idx] = sk.estimate(_hash_keys(hashes[idx]))
            yield pdf.assign(est_count=est)

    est_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in candidates.schema.fields] + ["est_count bigint"])
    estimated = candidates.mapInPandas(probe, schema=est_schema)

    from pyspark.sql import Window
    w = (Window.partitionBy(*[F.col(c) for c in group_cols])
         .orderBy(F.desc("est_count"), F.asc("key")))
    return (estimated
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(*group_cols, "key", "est_count", "rank"))


def exact_topk(df: DataFrame, group_cols: list[str], key_col: str, k: int = 10) -> DataFrame:
    """Exact oracle (shuffles; test scale only)."""
    from pyspark.sql import Window
    counted = (df.groupBy(*group_cols, F.col(key_col).alias("key"))
               .agg(F.count("*").alias("cnt")))
    w = (Window.partitionBy(*[F.col(c) for c in group_cols])
         .orderBy(F.desc("cnt"), F.asc("key")))
    return (counted.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))

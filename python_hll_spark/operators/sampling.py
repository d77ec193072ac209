"""Deterministic sampling and splitting for training-data pipelines.

Both operators are pure functions of (row identity, seed) — re-running on
the same table, any cluster size, any partitioning, reproduces the exact
same sample/split.  That determinism is what makes 100 TB pipelines
debuggable: a sampled shard can be regenerated months later for audit.

- ``bottomk_sample``: exactly-k uniform sample per group via the bottom-k
  of ``xxhash64(id, seed)``.  Hash order is a uniform random order, so the
  k smallest hashes are a uniform k-subset (the classic bottom-k sketch
  argument).  Candidates ARE pre-pruned per input partition (lossless,
  no shuffle) so only <= k rows per (partition, group) reach the single
  ranking shuffle.
- ``hash_split``: assign each row to train/val/test (or any named
  fractions) by bucketing ``xxhash64(id, seed)`` — no shuffle at all, the
  assignment is a JVM-codegen projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _local_topk_prune(narrow: DataFrame, by: list[str], k: int,
                      key_col: str, id_col: str,
                      ascending: bool) -> DataFrame:
    """Keep the per-(input partition, group) top-k of ``narrow`` by
    (key, id) WITHOUT shuffling — a narrow ``mapInPandas`` pass that
    streams each partition's Arrow batches through a running bottom-k.

    This prune is LOSSLESS for the global per-group top-k: any row in a
    group's global top-k is necessarily in its own partition's local
    top-k for that group (removing other rows can only improve its local
    rank).  So the downstream ranking window sees at most
    k x groups x partitions candidate rows — bounded per reducer task by
    k x partitions instead of the group's full row count, which is what
    makes the sampler survive a 10^10-row dominant group at 100 TB.

    Task-local state is <= k rows per group present in the partition.

    Arrow-native: columns stay Arrow arrays end to end (types and nulls —
    including NULL group keys — preserved exactly via ``take``); group
    codes come from null-safe ``dictionary_encode`` and the per-group
    top-k from one ``np.lexsort`` + segment-rank pass, replacing the
    round-3 pandas concat/sort/groupby-head per batch."""
    import numpy as np

    cols = list(narrow.columns)
    id_idx, key_idx = cols.index(id_col), cols.index(key_col)
    by_idx = [cols.index(c) for c in by]

    def _sort_key(keys_np):
        if ascending:
            return keys_np
        if keys_np.dtype.kind in "iu":
            return ~keys_np        # bitwise NOT: exact descending for ints
        if keys_np.dtype.kind == "f":
            return -keys_np
        # strings/decimals/bools/datetimes: negation is undefined (or, for
        # bool, wrong) — factorize to ascending codes and negate those.
        # O(n log n) like the lexsort itself; exact for any comparable dtype.
        _, codes = np.unique(keys_np, return_inverse=True)
        return -codes

    def prune(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        carry = None
        for batch in batches:
            arrs = batch.columns
            if carry is not None:
                arrs = [pa.concat_arrays([ca, a])
                        for ca, a in zip(carry, arrs)]
            n = len(arrs[0])
            if n == 0:
                continue
            keys_np = arrs[key_idx].to_numpy(zero_copy_only=False)
            ids_np = arrs[id_idx].to_numpy(zero_copy_only=False)
            if by_idx:
                code = np.zeros(n, dtype=np.int64)
                for bi in by_idx:
                    enc = pc.dictionary_encode(arrs[bi])
                    # nulls form their own group (code 0 after the shift)
                    idx = pc.fill_null(enc.indices.cast(pa.int64()), -1) \
                        .to_numpy(zero_copy_only=False)
                    code = code * (len(enc.dictionary) + 1) + (idx + 1)
                order = np.lexsort((ids_np, _sort_key(keys_np), code))
                sc = code[order]
                starts = np.flatnonzero(
                    np.concatenate([[True], sc[1:] != sc[:-1]]))
                pos = np.arange(n)
                rank = pos - starts[
                    np.searchsorted(starts, pos, side="right") - 1]
                keep = order[rank < k]
            else:
                order = np.lexsort((ids_np, _sort_key(keys_np)))
                keep = order[:k]
            # row order is irrelevant downstream (the ranking window
            # re-sorts); a sorted take is cheaper on Arrow buffers
            take = pa.array(np.sort(keep))
            carry = [a.take(take) for a in arrs]
        if carry is not None and len(carry[0]):
            yield pa.RecordBatch.from_arrays(carry, names=cols)

    return narrow.mapInArrow(prune, narrow.schema)


def group_topk(df: DataFrame, k: int, key, by: list[str] | None = None,
               id_col: str = "doc_id", ascending: bool = True,
               prune: bool = True,
               broadcast_winners: bool = True) -> DataFrame:
    """Exactly min(k, group size) rows per group ordered by
    (``key`` asc/desc, id asc), deterministic.  Returns the original
    columns.  ``key`` is a column name or Column expression evaluated
    against ``df`` (a hash for uniform sampling, a quality score for
    per-domain caps, ...).

    100 TB shape: candidates are first pruned per input partition to
    <= k per group (narrow, no shuffle — see ``_local_topk_prune``), so
    the ranking window's single reducer per group handles at most
    k x partitions rows, never the group's full population.  Only the
    NARROW (group, id, key) projection moves — wide payload columns
    (document text, token arrays) never shuffle.  Winners semi-join
    back: pass ``broadcast_winners=True`` when k x groups is dimension
    -table sized (samples), ``False`` when groups are unbounded (e.g.
    one group per web domain) so AQE picks the join strategy.  Assumes
    ``id_col`` is unique per row (duplicate ids would all survive the
    semi-join).  ``prune=False`` skips the local prune (identical
    output, kept for determinism tests)."""
    by = by or []
    key_expr = F.col(key) if isinstance(key, str) else key
    narrow = df.select(*by, id_col, key_expr.alias("__key"))
    if prune:
        narrow = _local_topk_prune(narrow, by, k, "__key", id_col,
                                   ascending=ascending)
    kc = F.col("__key").asc() if ascending else F.col("__key").desc()
    w = (Window.partitionBy(*[F.col(c) for c in by])
         .orderBy(kc, F.col(id_col).asc()))
    winners = (narrow
               .withColumn("__rk", F.row_number().over(w))
               .where(F.col("__rk") <= k)
               .select(id_col))
    if broadcast_winners:
        winners = F.broadcast(winners)
    return df.join(winners, id_col, "left_semi")


def bottomk_sample(df: DataFrame, k: int, id_col: str = "doc_id",
                   by: list[str] | None = None, seed: int = 0,
                   prune: bool = True) -> DataFrame:
    """Exactly min(k, group size) rows per group, uniformly at random,
    deterministic in (id, seed).  Returns the original columns.

    Hash order is a uniform random order, so the bottom-k of
    ``xxhash64(id, seed)`` is a uniform k-subset; all scale-shape
    properties are ``group_topk``'s (winners broadcast: k x groups is
    sample-sized by definition here)."""
    return group_topk(df, k, F.xxhash64(F.col(id_col), F.lit(seed)),
                      by=by, id_col=id_col, ascending=True, prune=prune,
                      broadcast_winners=True)


def _unit_hash(id_col: str, seed: int):
    """Deterministic u ~ Uniform(0,1) from the row id (double precision)."""
    return (F.xxhash64(F.col(id_col), F.lit(seed)).cast("double")
            / F.lit(float(2 ** 64)) + F.lit(0.5))


def hash_sample(df: DataFrame, fraction: float, id_col: str = "doc_id",
                seed: int = 0) -> DataFrame:
    """Deterministic Bernoulli(fraction) sample — a pure zero-shuffle
    filter, stable under appends/repartitions/reruns (unlike
    ``df.sample`` whose draw depends on partition layout)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.where(_unit_hash(id_col, seed) < F.lit(fraction))


def weighted_sample(df: DataFrame, k: int, weight_col: str,
                    id_col: str = "doc_id", by: list[str] | None = None,
                    seed: int = 0, prune: bool = True) -> DataFrame:
    """Exactly min(k, group size) rows per group, sampled WITHOUT
    replacement with probability proportional to ``weight_col``
    (Efraimidis-Spirakis A-ES: rank by ln(u)/w, u = deterministic unit
    hash of the id).  Deterministic in (id, weight, seed); rows with
    weight <= 0 are never sampled.  Same 100 TB shape as
    ``bottomk_sample``: lossless per-partition top-k prune (no shuffle),
    then the narrow ranking window over <= k x partitions rows per
    group, then a broadcast semi-join back to the payload."""
    by = by or []
    u = _unit_hash(id_col, seed)
    # ln(u)/w is monotone in the A-ES key u^(1/w); larger is better
    key = F.log(u) / F.col(weight_col)
    narrow = (df.where(F.col(weight_col) > 0)
              .select(*by, id_col, key.alias("__key")))
    if prune:
        narrow = _local_topk_prune(narrow, by, k, "__key", id_col,
                                   ascending=False)
    w = (Window.partitionBy(*[F.col(c) for c in by])
         .orderBy(F.col("__key").desc(), F.col(id_col).asc()))
    winners = (narrow
               .withColumn("__rk", F.row_number().over(w))
               .where(F.col("__rk") <= k)
               .select(id_col))
    return df.join(F.broadcast(winners), id_col, "left_semi")


def mixture_sample(df: DataFrame, weights: dict[str, float],
                   by: str = "source", id_col: str = "doc_id",
                   seed: int = 0,
                   on_missing: str = "raise") -> tuple[DataFrame, dict]:
    """Rebalance a corpus to target per-group mixture ``weights`` (the
    data-mixing step of LLM training recipes) by deterministic downsampling.

    Picks the LARGEST feasible output size T = min_g(n_g / w_g) — the
    binding group keeps all its rows, every other group Bernoulli-samples
    at rate w_g*T/n_g via the id hash (so membership is reproducible and
    append-stable).  Returns (sampled_df, plan) where plan maps group ->
    {n, rate, target}.  Groups absent from ``weights`` are dropped.

    One tiny counts aggregation + one zero-shuffle filter — no other
    action, no repartition."""
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    weights = {g: w / total_w for g, w in weights.items()}
    counts = {r[by]: r["n"] for r in
              df.groupBy(by).agg(F.count("*").alias("n")).collect()
              if r[by] in weights}
    missing = [g for g in weights if g not in counts]
    if missing:
        if on_missing == "raise":
            raise ValueError(
                f"weight groups absent from data: {missing} "
                "(pass on_missing='skip' if upstream filters may legally "
                "empty a group)")
        weights = {g: w for g, w in weights.items() if g in counts}
        total_w = sum(weights.values())
        if total_w <= 0:
            raise ValueError("no weight group present in the data")
        weights = {g: w / total_w for g, w in weights.items()}
    T = min(counts[g] / w for g, w in weights.items() if w > 0)
    plan = {g: {"n": counts[g],
                "target": weights[g] * T,
                "rate": min(1.0, (weights[g] * T) / counts[g])}
            for g in weights}
    rate_map = F.create_map(*[x for g, p in plan.items()
                              for x in (F.lit(g), F.lit(p["rate"]))])
    u = _unit_hash(id_col, seed)
    sampled = df.where(rate_map[F.col(by)].isNotNull()
                       & (u < rate_map[F.col(by)]))
    return sampled, plan


def token_budget_select(df: DataFrame, budget,
                        cost_col: str = "n_tokens",
                        by: str | None = None,
                        id_col: str = "doc_id", seed: int = 0,
                        bucket_bits: int = 10,
                        two_phase: bool = True) -> DataFrame:
    """Select documents up to a TOKEN budget (the mixture-planning step of
    an LLM data recipe: "take 50B tokens of web, 5B of code"), not a row
    count: keep the maximal prefix, in deterministic hash order, whose
    cumulative ``cost_col`` stays <= the budget.

    Semantics (the contract unit tests pin): order rows by
    (xxhash64(id, seed), id) within each ``by`` group; a row is kept iff
    the running sum of ``cost_col`` up to AND INCLUDING it is <= the
    group's budget.  Hash order is a uniform random order, so the kept
    set is a uniform "first tokens" sample — and, like every sampler
    here, a pure function of (id, seed): append-stable, partition-layout
    -independent, regenerable months later.  ``budget`` is an int
    (global, or every group when ``by`` is set) or a dict
    {group: budget}; groups absent from a dict budget are dropped.

    100 TB shape: the naive plan is one window cumsum ordered by hash —
    a TOTAL SORT per group through a single reducer, which dies on a
    dominant source.  Instead the prefix splits exactly into buckets
    (``two_phase``): the top ``bucket_bits`` bits of the signed hash give
    2^bucket_bits order-preserving buckets (arithmetic shift keeps signed
    order); per-(group, bucket) token sums are a map-side-combined
    aggregation to a G x 2^bits frame; a window over THAT tiny frame
    finds each group's boundary bucket.  Rows in buckets whose running
    total fits entirely -> kept with NO sort; rows past the boundary ->
    dropped with no sort; only the ~1/2^bits of rows inside the boundary
    bucket take the per-group sort, seeded with the prior buckets'
    offset.  Decomposition is exact (bucket order refines hash order), so
    the output is row-identical to the naive window — pinned by the
    ``two_phase=False`` equivalence tests.  Rows only ever FILTER against
    the broadcast bucket frame; the wide payload never shuffles except
    the boundary sliver."""
    grp = [by] if by else []
    if isinstance(budget, dict):
        if not by:
            raise ValueError("dict budget requires a `by` group column")
        bmap = F.create_map(*[x for g, b in budget.items()
                              for x in (F.lit(g), F.lit(int(b)))])
        budget_col = bmap[F.col(by)]
    else:
        budget_col = F.lit(int(budget))
    h = F.xxhash64(F.col(id_col), F.lit(seed))
    cost = F.col(cost_col).cast("long")
    work = (df.withColumn("__h", h)
              .withColumn("__budget", budget_col)
              .where(F.col("__budget").isNotNull()))

    if not two_phase:
        w = (Window.partitionBy(*grp)
             .orderBy(F.col("__h").asc(), F.col(id_col).asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return (work.withColumn("__cum", F.sum(cost).over(w))
                .where(F.col("__cum") <= F.col("__budget"))
                .drop("__h", "__budget", "__cum"))

    bucket = F.shiftright("__h", 64 - bucket_bits)
    work = work.withColumn("__bkt", bucket)
    # tiny frame: G x 2^bucket_bits rows of (group, bucket, token sum)
    sums = (work.groupBy(*grp, "__bkt")
            .agg(F.sum(cost).alias("__bsum")))
    wb = (Window.partitionBy(*grp).orderBy(F.col("__bkt").asc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    marks = (sums.withColumn("__cum_through", F.sum("__bsum").over(wb))
             .withColumn("__cum_before",
                         F.col("__cum_through") - F.col("__bsum"))
             .select(*grp, "__bkt", "__cum_before", "__cum_through"))
    # null-safe group equality: a NULL group key is a group like any other
    # under the naive window, so the marks join must not drop it
    marks_r = marks.select(
        *[F.col(c).alias(f"__m_{i}") for i, c in enumerate(grp)],
        F.col("__bkt").alias("__m_bkt"), "__cum_before", "__cum_through")
    cond = F.col("__bkt") == F.col("__m_bkt")
    for i, c in enumerate(grp):
        cond = cond & F.col(c).eqNullSafe(F.col(f"__m_{i}"))
    tagged = (work.join(F.broadcast(marks_r), cond)
              .drop("__m_bkt", *[f"__m_{i}" for i in range(len(grp))]))
    full_keep = (tagged.where(F.col("__cum_through") <= F.col("__budget")))
    boundary = tagged.where((F.col("__cum_before") <= F.col("__budget"))
                            & (F.col("__cum_through") > F.col("__budget")))
    wr = (Window.partitionBy(*grp)
          .orderBy(F.col("__h").asc(), F.col(id_col).asc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    boundary_keep = (boundary
                     .withColumn("__cum",
                                 F.col("__cum_before") + F.sum(cost).over(wr))
                     .where(F.col("__cum") <= F.col("__budget"))
                     .drop("__cum"))
    return (full_keep.unionByName(boundary_keep)
            .select(*df.columns))


def hash_split(df: DataFrame, fractions: dict[str, float],
               id_col: str = "doc_id", seed: int = 0,
               split_col: str = "split") -> DataFrame:
    """Deterministic named splits (e.g. {"train": .98, "val": .01,
    "test": .01}) — a pure projection, no shuffle.  Fractions must sum to
    1 (±1e-9); rows land in a split by the bucket their id-hash falls in,
    so membership is stable under appends, repartitions and reruns."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions sum to {total}, expected 1.0")
    if not fractions:
        raise ValueError("fractions must not be empty")
    # map the signed 64-bit hash to [0, 1): h/2^64 + 0.5 (double arithmetic;
    # 53-bit mantissa granularity is far below any useful split fraction)
    u = (F.xxhash64(F.col(id_col), F.lit(seed)).cast("double")
         / F.lit(float(2 ** 64)) + F.lit(0.5))
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        clause = F.when(u < F.lit(acc), F.lit(name))
        expr = clause if expr is None else expr.when(u < F.lit(acc), F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)

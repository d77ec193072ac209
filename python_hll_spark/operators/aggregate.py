"""Distributed mergeable-sketch aggregation: the engine's core operator.

Why not a grouped-agg pandas UDF: PySpark's GROUPED_AGG UDFs shuffle *raw
rows* to the reducers (no partial aggregation), which is exactly what must
never happen at 10^12 rows.  This operator hand-builds the partial/final
split a native TypedImperativeAggregate would get from Catalyst:

  stage 1  mapInArrow      one in-memory sketch per (group) per task; one
                           vectorized numpy update per Arrow batch; emits one
                           tiny row (group, salt, state, lineage) per
                           partition x group.  The 100TB scan shuffles NOTHING.
  stage 2  groupBy(group, salt).agg(collect_list(state), sums)
           -> mapInArrow(fold)                  fan-in #partitions -> S
  stage 3  groupBy(group).agg(collect_list(state), sums)
           -> mapInArrow(fold)                  fan-in S -> 1 per group

Each merge stage is one JVM aggregate (map-side partial collect, then
one Exchange of state rows) and one Arrow pass that walks the
``list<binary>`` offsets and folds each group's blobs with
``merge_states``, so Python is entered once per partition, not once per
group.

Salting bounds the per-reducer fan-in for skewed groups (a 55%-of-corpus
source lands on S reducers, not one), per the explicit-skew-handling
requirement.  Merge rows are a few KB each (<= regwidth*m/8 + 3 bytes for
HLL), so stages 2-3 are trivially small no matter the input scale.
"""

from __future__ import annotations

from typing import Protocol

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, LongType,
                               StructField, StructType)


class SketchSpec(Protocol):
    """Mergeable-aggregator contract every sketch implements."""

    name: str

    def new(self): ...

    def update(self, state, values: np.ndarray) -> None:
        """Vectorized batch update (values: np.int64 for hashed inputs,
        or sketch-appropriate dtype)."""

    def merge(self, state, other) -> None:
        """Associative in-place union of ``other`` into ``state``."""

    def serialize(self, state) -> bytes: ...

    def deserialize(self, data: bytes): ...


def dict_encode_groups(batch, group_cols: list[str]):
    """Dictionary-encode the group columns of one Arrow RecordBatch into
    dense int64 codes — the shared grouping kernel for every Arrow-native
    partial builder.

    Returns ``(codes, keys)``: ``codes`` is an int64 ndarray (one entry per
    batch row) with values in ``[0, len(keys))``; ``keys`` is a list of
    group-key tuples (one per distinct group present in the batch).

    Semantics match Spark ``groupBy``:
    - NULL group values form their own group (``None`` in the key tuple) —
      the indices array from ``dictionary_encode`` carries nulls, which
      would otherwise round-trip through float64 NaN and crash
      ``np.bincount``;
    - composite (multi-column) keys are combined pairwise mixed-radix and
      re-densified with ``np.unique`` after each combine, so intermediate
      products stay < batch_rows**2 and never overflow int64.
    """
    if not group_cols:
        return np.zeros(batch.num_rows, dtype=np.int64), [()]
    per_col = []
    for name in group_cols:
        col = batch.column(name)
        enc = col.dictionary_encode()
        idx = enc.indices
        vals = enc.dictionary.to_pylist()
        if idx.null_count:
            null_code = len(vals)
            codes = (idx.fill_null(null_code)
                     .to_numpy(zero_copy_only=False).astype(np.int64, copy=False))
            vals = vals + [None]
        else:
            codes = idx.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        per_col.append((codes, vals))
    codes, vals = per_col[0]
    keys = [(v,) for v in vals]
    for codes_i, vals_i in per_col[1:]:
        comp = codes * np.int64(len(vals_i)) + codes_i
        uniq, codes = np.unique(comp, return_inverse=True)
        card = len(vals_i)
        keys = [keys[int(u) // card] + (vals_i[int(u) % card],)
                for u in uniq.tolist()]
    return codes, keys


def list_flat_offsets(col, dtype=np.int64):
    """``(flat, offs)`` of an Arrow list column — the one list reader of the
    token kernels: values as ``dtype`` (``None`` keeps theirs) and int64
    offsets rebased to 0, so row ``i`` is ``flat[offs[i]:offs[i + 1]]``."""
    offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    offs -= offs[0]
    flat = col.flatten().to_numpy(zero_copy_only=False)
    if dtype is not None:
        flat = flat.astype(dtype, copy=False)
    return flat, offs


def append_columns(df: DataFrame, columns: list) -> DataFrame:
    """ALL columns of ``df`` plus one column per ``(name, type, make)``
    spec, in ONE passthrough ``mapInArrow`` shared by every spec: input
    columns ride along zero-copy, with no join back and no shuffle.
    ``make()`` runs once per task (per-task setup, e.g. a weight vector)
    and returns ``fn(batch)`` -> one value per row (Arrow or numpy)."""
    fields = [f"`{f.name}` {f.dataType.simpleString()}"
              for f in df.schema.fields]
    fields += [f"`{name}` {type_}" for name, type_, _ in columns]

    def gen(batches):
        import pyarrow as pa

        fns = [(name, make()) for name, _, make in columns]
        for batch in batches:
            if batch.num_rows == 0:
                continue
            out = batch
            for name, fn in fns:
                out = out.append_column(name, pa.array(fn(batch)))
            yield out

    return df.mapInArrow(gen, schema=", ".join(fields))


def _partial_schema(df: DataFrame, group_cols: list[str]) -> str:
    fields = [f"`{f.name}` {f.dataType.simpleString()}"
              for f in df.schema.fields if f.name in group_cols]
    fields += ["salt int", "state binary", "n_rows bigint", "n_values bigint",
               "partition_id int"]
    return ", ".join(fields)


def sketch_partials(df: DataFrame, group_cols: list[str], value_col: str,
                    spec: SketchSpec, n_salts: int = 16) -> DataFrame:
    """Stage 1: per-task partial sketches, one row per (task, group).

    The value column's Spark type picks the Arrow builder: an array column
    is a token sequence (``token_partials_arrow`` hashes each token with
    splitmix64); any other column feeds its values to the sketch as they
    are (``scalar_partials_arrow``)."""
    if isinstance(df.schema[value_col].dataType, ArrayType):
        return token_partials_arrow(df, group_cols, value_col, spec, n_salts)
    return scalar_partials_arrow(df, group_cols, value_col, spec, n_salts)


def _arrow_partials(df: DataFrame, group_cols: list[str], value_col: str,
                    spec: SketchSpec, n_salts: int, update) -> DataFrame:
    """The bookkeeping both Arrow builders share: per task, one state and
    one ``[n_rows, n_values]`` counter per group key, and the partial
    rows they become.  Each batch's groups are registered (and their rows
    counted) here; ``update(batch, codes, keys, states, counts)`` then
    folds the batch's values into ``states`` and adds them to
    ``counts[key][1]``.  Batches without groups never reach ``update``."""
    import pyarrow as pa
    from pyspark import TaskContext

    pruned = df.select(*group_cols, value_col)
    out_schema = _partial_schema(pruned, group_cols)

    def build(batches):
        pid = TaskContext.get().partitionId()
        states: dict = {}
        counts: dict = {}
        gtypes = None
        for batch in batches:
            if gtypes is None:
                gtypes = [batch.schema.field(c).type for c in group_cols]
            codes, keys = dict_encode_groups(batch, group_cols)
            row_counts = np.bincount(codes, minlength=len(keys))
            for g, key in enumerate(keys):
                if key not in states:
                    states[key] = spec.new()
                    counts[key] = [0, 0]
                counts[key][0] += int(row_counts[g])
            if keys:
                update(batch, codes, keys, states, counts)
        if not states:
            return
        keys = list(states)
        arrays, names = [], []
        for i, gcol in enumerate(group_cols):
            arrays.append(pa.array([k[i] for k in keys], type=gtypes[i]))
            names.append(gcol)
        arrays += [
            pa.array([pid % n_salts] * len(keys), pa.int32()),
            pa.array([spec.serialize(states[k]) for k in keys], pa.binary()),
            pa.array([counts[k][0] for k in keys], pa.int64()),
            pa.array([counts[k][1] for k in keys], pa.int64()),
            pa.array([pid] * len(keys), pa.int32()),
        ]
        names += ["salt", "state", "n_rows", "n_values", "partition_id"]
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    return pruned.mapInArrow(build, schema=out_schema)


def token_partials_arrow(df: DataFrame, group_cols: list[str], token_col: str,
                         spec: SketchSpec, n_salts: int = 16) -> DataFrame:
    """Stage 1 specialized for token-array columns, Arrow-native.

    ``mapInArrow`` skips the Arrow->pandas list-column conversion (which
    materializes one numpy object PER ROW) and flattens the ListArray
    zero-copy — 4-5x faster per core, within ~1.5x of the raw parquet scan.
    Group keys (any arity, NULLs included) go through ``dict_encode_groups``;
    the partial rows come from ``_arrow_partials``, as for every stage-1
    builder, so the same merge stages apply.
    """
    from python_hll_spark.functions.hashing import splitmix64
    from python_hll_spark.sketches.hll import (HLLSketch, HLLType,
                                               _rho_and_index, _scatter_max)

    CHUNK = 131072  # ~1MB int64 temps: L2/L3-resident hash+scatter pipeline
    #                 (measured optimum; 32 workers then scale on cores
    #                 instead of queueing on DRAM bandwidth)

    def update(batch, codes, keys, states, counts):
        tok = batch.column(token_col)
        flat = tok.flatten().to_numpy(zero_copy_only=False)
        lengths = np.diff(tok.offsets.to_numpy(zero_copy_only=False))
        n_groups = len(keys)
        if n_groups == 1:
            # single group in this batch (incl. ungrouped): no sort pass
            key, st = keys[0], states[keys[0]]
            for start in range(0, len(flat), CHUNK):
                hashed = splitmix64(flat[start:start + CHUNK].astype(np.int64))
                spec.update(st, hashed)
            counts[key][1] += len(flat)
            return
        value_groups = np.repeat(codes, lengths)
        sts = [states[k] for k in keys]
        if all(isinstance(s, HLLSketch) and s.type == HLLType.FULL
               for s in sts):
            # all-FULL fast path (every batch after the states promote,
            # i.e. the 100TB steady state): ONE fused rho/scatter-max
            # over the whole chunk into a stacked (group, register)
            # block via a combined index — the per-chunk stable argsort
            # separation (~35% of kernel time at 5 groups) disappears.
            # Scatter-max is order-independent, FULL states never
            # re-check promotion, and counts are exact, so the partial
            # rows are byte-identical to the sorted path's.
            m = sts[0].cfg.m
            stacked = np.empty((n_groups, m), dtype=np.uint8)
            for g, s in enumerate(sts):
                stacked[g] = s.regs
            stacked_flat = stacked.ravel()
            for start in range(0, len(flat), CHUNK):
                sl = slice(start, start + CHUNK)
                hashed = splitmix64(flat[sl].astype(np.int64))
                j, rho = _rho_and_index(sts[0].cfg, hashed)
                j += value_groups[sl] * m
                _scatter_max(stacked_flat, j, rho)
            vcnt = np.bincount(codes, weights=lengths,
                               minlength=n_groups).astype(np.int64)
            for g, (key, s) in enumerate(zip(keys, sts)):
                s.regs[:] = stacked[g]
                counts[key][1] += int(vcnt[g])
            return
        for start in range(0, len(flat), CHUNK):
            sl = slice(start, start + CHUNK)
            hashed = splitmix64(flat[sl].astype(np.int64))
            vg = value_groups[sl]
            # counting-sort separation: one stable argsort pass,
            # then each group's values are a contiguous view
            order = np.argsort(vg, kind="stable")
            hashed = hashed[order]
            bounds = np.zeros(n_groups + 1, dtype=np.int64)
            np.cumsum(np.bincount(vg, minlength=n_groups), out=bounds[1:])
            for g, key in enumerate(keys):
                vals = hashed[bounds[g]:bounds[g + 1]]
                if len(vals) == 0:
                    continue
                spec.update(states[key], vals)
                counts[key][1] += len(vals)

    return _arrow_partials(df, group_cols, token_col, spec, n_salts, update)


class SplitmixSpec:
    """Wrap any hashed-input spec so stage-1 updates splitmix-finalize raw
    int64 (e.g. xxhash64) values first — keeps Arrow builders and probe
    UDFs on the same hashed stream."""

    def __init__(self, inner: SketchSpec):
        self._inner = inner
        self.name = inner.name

    def new(self):
        return self._inner.new()

    def update(self, state, values: np.ndarray) -> None:
        from python_hll_spark.functions.hashing import splitmix64
        self._inner.update(state, splitmix64(values))

    def merge(self, state, other) -> None:
        self._inner.merge(state, other)

    def serialize(self, state) -> bytes:
        return self._inner.serialize(state)

    def deserialize(self, data: bytes):
        return self._inner.deserialize(data)


def scalar_partials_arrow(df: DataFrame, group_cols: list[str], value_col: str,
                          spec: SketchSpec, n_salts: int = 16) -> DataFrame:
    """Stage 1 for scalar value columns (pre-hashed int64 keys, or float64
    measures for quantile sketches), Arrow-native: skips the Arrow->pandas
    conversion entirely and groups via dictionary-encoded codes + counting
    sort.  Group keys of any arity (NULLs included) via dict_encode_groups.
    Floating-point columns reach the sketch as float64, all others as
    int64.

    NULL *values* are excluded from the sketch (countDistinct semantics)
    but their groups still emit a state row — a group whose values are all
    NULL reports an empty sketch, not a missing row.  The null mask is
    applied via ``fill_null(0)`` + boolean select so int64 hashes never
    round-trip through float64 (which would corrupt high bits)."""
    import pyarrow as pa

    def update(batch, codes, keys, states, counts):
        col = batch.column(value_col)
        dtype = np.float64 if pa.types.is_floating(col.type) else np.int64
        if col.null_count:
            vmask = col.is_valid().to_numpy(zero_copy_only=False)
            values = (col.fill_null(0).to_numpy(zero_copy_only=False)
                      .astype(dtype, copy=False))
        else:
            vmask = None
            values = col.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
        n_groups = len(keys)
        if vmask is not None:
            values = values[vmask]
            codes = codes[vmask]
        if n_groups == 1:
            key = keys[0]
            if len(values):
                spec.update(states[key], values)
                counts[key][1] += len(values)
            return
        order = np.argsort(codes, kind="stable")
        values = values[order]
        bounds = np.zeros(n_groups + 1, dtype=np.int64)
        np.cumsum(np.bincount(codes, minlength=n_groups), out=bounds[1:])
        for g, key in enumerate(keys):
            vals = values[bounds[g]:bounds[g + 1]]
            if len(vals) == 0:
                continue
            spec.update(states[key], vals)
            counts[key][1] += len(vals)

    return _arrow_partials(df, group_cols, value_col, spec, n_salts, update)


def merge_states(spec: SketchSpec, blobs) -> bytes:
    """Fold serialized states with the spec's monoid into one serialized
    state: the one merge loop behind ``merge_sketches`` and the SQL merge
    aggregates.  An empty fold is the spec's empty state."""
    it = iter(blobs)
    first = next(it, None)
    if first is None:
        return spec.serialize(spec.new())
    acc = spec.deserialize(bytes(first))
    for raw in it:
        spec.merge(acc, spec.deserialize(bytes(raw)))
    return spec.serialize(acc)


def _merge_level(df: DataFrame, keys: list[str], spec: SketchSpec,
                 out_schema: StructType) -> DataFrame:
    """One merge level: a JVM aggregate gathers each group's states into a
    ``list<binary>`` and sums its counters, then one ``mapInArrow`` pass
    folds every list of each Arrow batch.  ``n_partials`` is summed when
    the input carries it, else it counts the input rows."""
    n_partials = (F.sum("n_partials") if "n_partials" in df.columns
                  else F.count(F.lit(1)))
    names = out_schema.fieldNames()
    gathered = (df.groupBy(*keys)
                .agg(F.collect_list("state").alias("state"),
                     F.sum("n_rows").alias("n_rows"),
                     F.sum("n_values").alias("n_values"),
                     n_partials.alias("n_partials"))
                .select(*names))
    state_idx = names.index("state")

    def fold(batches):
        import pyarrow as pa

        for batch in batches:
            lists = batch.column(state_idx)
            bounds = lists.offsets.to_numpy().tolist()
            blobs = lists.values.to_pylist()
            merged = pa.array([merge_states(spec, blobs[a:b])
                               for a, b in zip(bounds[:-1], bounds[1:])],
                              pa.binary())
            yield batch.set_column(state_idx, "state", merged)

    return gathered.mapInArrow(fold, schema=out_schema)


def merge_sketches(partials: DataFrame, group_cols: list[str],
                   spec: SketchSpec, two_level: bool | str = "auto") -> DataFrame:
    """Stages 2+3: salted tree merge down to one state row per group.

    ``two_level="auto"`` (default) keeps the salt level only when the
    partial frame has enough upstream partitions for per-group fan-in to
    matter (> 64): a thousand-task 100 TB scan still tree-merges, while a
    small scan skips one shuffle + Python stage whose per-group input
    would have been a handful of rows anyway.  The decision reads the
    plan's partitioning, not the data — no extra job.

    ``group_cols=[]`` merges everything into one row, under a constant
    key that is dropped again: a keyless aggregate would emit a row for
    empty input, the keyed one emits none."""
    if not group_cols:
        return merge_sketches(partials.withColumn("__g", F.lit(0)), ["__g"],
                              spec, two_level).drop("__g")
    group_fields = [StructField(f.name, f.dataType)
                    for f in partials.schema.fields if f.name in group_cols]
    merged_schema = StructType(group_fields + [
        StructField("state", BinaryType()),
        StructField("n_rows", LongType()),
        StructField("n_values", LongType()),
        StructField("n_partials", LongType())])

    if two_level == "auto":
        try:
            two_level = partials.rdd.getNumPartitions() > 64
        except Exception:
            two_level = True
    lvl = partials
    if two_level and "salt" in partials.columns:
        lvl = _merge_level(partials, group_cols + ["salt"], spec, merged_schema)
    return _merge_level(lvl, group_cols, spec, merged_schema)

"""Sequence packing: variable-length tokenized docs -> fixed-length
training sequences.

The canonical LLM-training preprocessing step.  Packing is PER PARTITION
(standard practice — sequence composition does not need global order, and
per-partition packing keeps the operator shuffle-free: a pure mapInArrow
pass).  Lossless by construction: each partition's final partial sequence
is padded with ``pad_id``, so every input token appears in exactly one
output sequence — the conservation law the oracle query checks.

At 100 TB this is exactly the shape you want: the scan streams token
arrays through one Arrow stage per partition, emitting seq_len-sized rows;
nothing shuffles, nothing is driver-side, and memory is bounded by one
leftover buffer (< seq_len tokens) per task.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from python_hll_spark.operators.aggregate import list_flat_offsets


def pack_sequences(df: DataFrame, token_col: str = "tokens",
                   seq_len: int = 2048, pad_id: int = 0,
                   eod_id: int | None = None) -> DataFrame:
    """Returns (seq_id string, tokens array<bigint> of length seq_len,
    n_tokens int — non-pad count).  ``seq_id`` is deterministic given the
    input partitioning: ``<partition_id>-<counter>``.

    ``eod_id`` (standard pretraining practice) appends one end-of-document
    token after EVERY input row's tokens before packing, so a model can
    learn document boundaries inside a packed sequence.  Conservation law
    with eod: non-pad tokens out == tokens in + rows in."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")

    def pack(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        counter = 0
        leftover = np.empty(0, dtype=np.int64)

        def emit(mat: np.ndarray, n_tokens: np.ndarray):
            nonlocal counter
            n = len(mat)
            ids = [f"{pid}-{counter + i}" for i in range(n)]
            counter += n
            offsets = pa.array(np.arange(0, (n + 1) * seq_len,
                                         seq_len, dtype=np.int32))
            toks = pa.ListArray.from_arrays(offsets, pa.array(mat.ravel()))
            return pa.RecordBatch.from_arrays(
                [pa.array(ids), toks,
                 pa.array(n_tokens.astype(np.int32))],
                names=["seq_id", "tokens", "n_tokens"])

        for batch in batches:
            flat, offs = list_flat_offsets(batch.column(token_col))
            if eod_id is not None:
                # one insert point per doc end
                flat = np.insert(flat, offs[1:], np.int64(eod_id))
            flat = np.concatenate([leftover, flat])
            n_full = len(flat) // seq_len
            if n_full:
                mat = flat[:n_full * seq_len].reshape(n_full, seq_len)
                yield emit(mat, np.full(n_full, seq_len, dtype=np.int64))
            leftover = flat[n_full * seq_len:].copy()
        if len(leftover):
            mat = np.full((1, seq_len), pad_id, dtype=np.int64)
            mat[0, :len(leftover)] = leftover
            yield emit(mat, np.array([len(leftover)], dtype=np.int64))

    pruned = df.select(token_col)
    return pruned.mapInArrow(
        pack, schema="seq_id string, tokens array<bigint>, n_tokens int")

"""Vectorized MurmurHash3 x64_128 — the reference ecosystem's hash contract.

The reference library does no hashing itself: callers are instructed to feed
MurmurHash3 results (``/root/reference/README.rst:44-49``, reference
``hll.py:226-230``), and the java-hll / postgresql-hll ecosystem hashes keys
with murmur3 x64_128 (``mmh3.hash64`` in Python).  A sketch built from raw
strings can only be semantically UNIONED with a sketch from those systems if
both sides hashed the same strings to the same int64s — so this module gives
the engine an mmh3-compatible hash tier:

- ``murmur3_x64_128_scalar``: byte-for-byte transcription of the public
  algorithm (Austin Appleby, public domain) — the unit-test oracle;
- ``murmur3_64``: numpy-vectorized over an Arrow string/binary column's
  (offsets, data) buffers — processes 16-byte block *b* of every active
  string per iteration, so the Python-level loop count is
  ``max(len) // 16 + 1`` regardless of row count.  Returns the first 64-bit
  half as signed int64, exactly ``mmh3.hash64(key, signed=True)[0]``.

Use Spark-side via ``murmur3_64_udf`` (Arrow-batched pandas UDF) when
cross-system sketch interop is required; the default engine tier stays
JVM-side xxhash64 (faster: no Python in the hot path) for sketches that
never leave this engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401  (pandas_udf stringified hints resolve here)

_M = (1 << 64) - 1
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


# ----------------------------------------------------------- scalar oracle
def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M
    k ^= k >> 33
    return k


def murmur3_x64_128_scalar(data: bytes, seed: int = 0) -> tuple[int, int]:
    """Pure-Python MurmurHash3 x64_128; returns (h1, h2) as unsigned ints."""
    h1 = h2 = seed & _M
    length = len(data)
    nblocks = length // 16
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16:i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8:i * 16 + 16], "little")
        k1 = (k1 * _C1) & _M
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _M
        h1 ^= k1
        h1 = _rotl(h1, 27)
        h1 = (h1 + h2) & _M
        h1 = (h1 * 5 + 0x52DCE729) & _M
        k2 = (k2 * _C2) & _M
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _M
        h2 ^= k2
        h2 = _rotl(h2, 31)
        h2 = (h2 + h1) & _M
        h2 = (h2 * 5 + 0x38495AB5) & _M
    tail = data[nblocks * 16:]
    if len(tail) > 8:
        k2 = int.from_bytes(tail[8:], "little")
        k2 = (k2 * _C2) & _M
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _M
        h2 ^= k2
    if len(tail) > 0:
        k1 = int.from_bytes(tail[:8], "little")
        k1 = (k1 * _C1) & _M
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _M
        h1 ^= k1
    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _M
    h2 = (h2 + h1) & _M
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = (h1 + h2) & _M
    h2 = (h2 + h1) & _M
    return h1, h2


# ------------------------------------------------------- vectorized kernel
_U = np.uint64
_UC1 = _U(_C1)
_UC2 = _U(_C2)


def _vrotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _vfmix(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> _U(33))
    k = k * _U(0xFF51AFD7ED558CCD)
    k ^= k >> _U(33)
    k *= _U(0xC4CEB9FE1A85EC53)
    k ^= k >> _U(33)
    return k


def _mix_k1(k1: np.ndarray) -> np.ndarray:
    k1 = k1 * _UC1
    k1 = _vrotl(k1, 31)
    return k1 * _UC2


def _mix_k2(k2: np.ndarray) -> np.ndarray:
    k2 = k2 * _UC2
    k2 = _vrotl(k2, 33)
    return k2 * _UC1


def murmur3_x64_128_buffers(data: np.ndarray, offsets: np.ndarray,
                            seed: int = 0,
                            lengths: np.ndarray | None = None
                            ) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized murmur3 x64_128 over n variable-length byte strings laid
    out Arrow-style: ``data`` uint8 flat buffer, ``offsets`` int64 array of
    n+1 positions.  Returns (h1, h2) uint64 arrays of length n.

    With ``lengths`` given, ``offsets`` is instead an array of n string
    START positions and the strings may sit anywhere in ``data`` (they need
    not tile it) — the segment shape ``word_hash_segments`` hashes word
    extents straight out of a document buffer with the inter-word gaps
    left in place.

    Per 16-byte block index the kernel gathers that block for every string
    long enough to have it and advances all lanes at once; the zero-value
    tail mixes are XOR-identity, so no masking is needed in the tail step.
    """
    offsets = offsets.astype(np.int64, copy=False)
    if lengths is None:
        lengths = np.diff(offsets)
        offsets = offsets[:-1]
    else:
        lengths = lengths.astype(np.int64, copy=False)
    n = len(lengths)
    h1 = np.full(n, seed & _M, dtype=np.uint64)
    h2 = h1.copy()
    nblocks = lengths // 16
    max_blocks = int(nblocks.max()) if n else 0
    starts = offsets
    byte_idx8 = np.arange(8, dtype=np.int64)
    for b in range(max_blocks):
        active = np.nonzero(nblocks > b)[0]
        base = starts[active] + 16 * b
        g1 = data[base[:, None] + byte_idx8]          # (a, 8) uint8
        g2 = data[base[:, None] + (byte_idx8 + 8)]
        k1 = np.ascontiguousarray(g1).view(np.uint64).ravel()
        k2 = np.ascontiguousarray(g2).view(np.uint64).ravel()
        a1, a2 = h1[active], h2[active]
        a1 ^= _mix_k1(k1)
        a1 = _vrotl(a1, 27) + a2
        a1 = a1 * _U(5) + _U(0x52DCE729)
        a2 ^= _mix_k2(k2)
        a2 = _vrotl(a2, 31) + a1
        a2 = a2 * _U(5) + _U(0x38495AB5)
        h1[active] = a1
        h2[active] = a2
    # tail: gather up to 16 zero-padded bytes past the last full block
    tail_start = starts + 16 * nblocks
    tail_len = lengths - 16 * nblocks
    pos = np.arange(16, dtype=np.int64)
    if len(data):
        idx = tail_start[:, None] + pos[None, :]
        mask = pos[None, :] < tail_len[:, None]
        np.clip(idx, 0, len(data) - 1, out=idx)
        tail = np.where(mask, data[idx], 0).astype(np.uint8)
    else:  # every string empty -> all-zero tails (XOR-identity mixes)
        tail = np.zeros((n, 16), dtype=np.uint8)
    k1 = np.ascontiguousarray(tail[:, :8]).view(np.uint64).ravel()
    k2 = np.ascontiguousarray(tail[:, 8:]).view(np.uint64).ravel()
    h2 ^= _mix_k2(k2)   # zero k2 mixes to zero -> XOR no-op for short tails
    h1 ^= _mix_k1(k1)
    ulen = lengths.astype(np.uint64)
    h1 ^= ulen
    h2 ^= ulen
    h1 += h2
    h2 += h1
    h1 = _vfmix(h1)
    h2 = _vfmix(h2)
    h1 += h2
    h2 += h1
    return h1, h2


def murmur3_64(values, seed: int = 0) -> np.ndarray:
    """mmh3.hash64(v)[0]-compatible signed int64 hashes for a sequence of
    str/bytes values (or a pyarrow String/Binary/LargeString array)."""
    import pyarrow as pa

    if not isinstance(values, (pa.Array, pa.ChunkedArray)):
        values = pa.array([v.encode() if isinstance(v, str) else bytes(v)
                           for v in values], pa.binary())
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if pa.types.is_string(values.type) or pa.types.is_large_string(values.type):
        values = values.cast(pa.binary())
    if values.null_count:
        raise ValueError("murmur3_64: null values must be filtered first")
    buf_off = np.frombuffer(values.buffers()[1], dtype=np.int32,
                            count=len(values) + 1 + values.offset)
    offsets = buf_off[values.offset:].astype(np.int64)
    data_buf = values.buffers()[2]
    data = (np.frombuffer(data_buf, dtype=np.uint8)
            if data_buf is not None else np.empty(0, dtype=np.uint8))
    h1, _ = murmur3_x64_128_buffers(data, offsets, seed=seed)
    return h1.view(np.int64)


_ASCII_WS = np.zeros(256, dtype=bool)
_ASCII_WS[[9, 10, 11, 12, 13, 32]] = True


def word_hash_segments(txt, seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """(word hashes int64 flat array, per-doc word counts int64 array) for
    a pyarrow String/LargeString column: ASCII-lowercase, split on ASCII
    whitespace, murmur3-x64-128-h1 each word — entirely in numpy over the
    column's raw utf-8 buffer, then one segment-hash kernel call.

    This deliberately does NOT use ``pc.utf8_split_whitespace``: pyarrow
    16.1.0's splitter reads one byte past the logical end of the data
    buffer when classifying the final character, and when that byte looks
    like a UTF-8 continuation (e.g. ``0xff``) a trailing whitespace char
    is glued onto the last token.  Standalone repro: a StringArray built
    over a buffer slice of ``b"hello world " + b"\\xff"`` splits to
    ``['hello', 'world ']``.  Spark-delivered batch buffers have arbitrary
    bytes past their logical end, which made the last token's hash — and
    thus MinHash signatures near the dedup threshold — nondeterministic
    across partition layouts (the ``near_dedup_stream`` decontaminator
    flake).

    Semantics: whitespace is ASCII ``{\\t \\n \\v \\f \\r space}`` and
    lowering is ASCII-only (multi-byte UTF-8 passes through unchanged) —
    bytewise-deterministic, identical to the old kernel chain on ASCII
    corpora.  Null and empty docs yield zero words.
    """
    import pyarrow as pa

    n_docs = len(txt)
    empty = (np.empty(0, dtype=np.int64), np.zeros(n_docs, dtype=np.int64))
    if n_docs == 0:
        return empty
    odt = np.int64 if pa.types.is_large_string(txt.type) else np.int32
    raw_off = np.frombuffer(txt.buffers()[1], dtype=odt)
    offs = raw_off[txt.offset:txt.offset + n_docs + 1].astype(np.int64)
    data_buf = txt.buffers()[2]
    if data_buf is None or offs[-1] == offs[0]:
        return empty
    base = offs[0]
    d = np.frombuffer(data_buf, dtype=np.uint8)[base:offs[-1]].copy()
    offs = offs - base
    up = (d >= 65) & (d <= 90)
    d[up] += 32
    nonws = ~_ASCII_WS[d]
    # word starts: non-ws byte whose in-doc predecessor is ws or absent;
    # ends symmetric.  Doc boundaries break runs so words never span docs.
    prev = np.empty_like(nonws)
    prev[0] = False
    prev[1:] = nonws[:-1]
    nxt = np.empty_like(nonws)
    nxt[-1] = False
    nxt[:-1] = nonws[1:]
    doc_first = offs[:-1]
    prev[doc_first[doc_first < len(d)]] = False
    doc_last = offs[1:] - 1
    nonempty_doc = doc_last >= doc_first
    nxt[doc_last[nonempty_doc]] = False
    w_start = np.nonzero(nonws & ~prev)[0]
    w_len = (np.nonzero(nonws & ~nxt)[0] + 1) - w_start
    doc_idx = np.searchsorted(offs, w_start, side="right") - 1
    if txt.null_count:
        valid = txt.is_valid().to_numpy(zero_copy_only=False)
        keep = valid[doc_idx]
        w_start, w_len, doc_idx = w_start[keep], w_len[keep], doc_idx[keep]
    counts = np.bincount(doc_idx, minlength=n_docs).astype(np.int64)
    h1, _ = murmur3_x64_128_buffers(d, w_start, seed=seed, lengths=w_len)
    return h1.view(np.int64), counts


def murmur3_hash_frame(df, by: list[str], value_col: str,
                       out: str = "__h"):
    """(by..., out bigint) frame with mmh3-compatible hashes computed
    straight from the Arrow string buffers inside ``mapInArrow`` — the
    scan-speed interop path.  Unlike the pandas-UDF tier there is no
    pandas object-Series materialization and no per-row ``astype(str)``:
    the batch's flat utf-8 buffer feeds ``murmur3_x64_128_buffers``
    directly.  NULL values stay NULL (downstream Arrow builders mask them
    out, preserving countDistinct semantics)."""
    import pyarrow as pa

    # iterate `by` (not df.schema) so the declared field order always
    # matches the emitted column order even when the caller passes `by`
    # out of frame-column order
    fields = ", ".join(
        f"`{c}` {df.schema[c].dataType.simpleString()}" for c in by)
    schema = (fields + ", " if fields else "") + f"`{out}` bigint"

    def gen(batches):
        for batch in batches:
            v = batch.column(value_col)
            if v.null_count:
                valid = v.is_valid().to_numpy(zero_copy_only=False)
                vals = np.zeros(len(v), dtype=np.int64)
                if valid.any():
                    vals[valid] = murmur3_64(v.drop_null())
                arr = pa.array(vals, pa.int64(), mask=~valid)
            else:
                arr = pa.array(murmur3_64(v), pa.int64())
            cols = [batch.column(c) for c in by] + [arr]
            yield pa.RecordBatch.from_arrays(cols, names=by + [out])

    return df.mapInArrow(gen, schema=schema)


def murmur3_64_udf():
    """Arrow-batched pandas UDF: murmur3 x64_128 first half of a string
    column as signed int64 — the interop hash tier for sketches that must
    union with java-hll / postgresql-hll / mmh3-built sketches."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _udf(s: pd.Series) -> pd.Series:
        mask = s.notna().to_numpy()
        out = pd.array([None] * len(s), dtype="Int64")
        if mask.any():
            arr = pa.array(s[mask].astype(str))
            out[np.nonzero(mask)[0]] = murmur3_64(arr)
        return pd.Series(out, dtype="Int64")

    return _udf

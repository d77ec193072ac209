"""Vectorized 64-bit hashing for the Python side of sketch pipelines.

The reference library takes pre-hashed signed longs and does no hashing
itself (hll.py:226-230 instructs callers to hash).  Our engine hashes at
two tiers:

- strings / composite keys: Spark's built-in ``xxhash64`` (JVM-side,
  whole-stage codegen) BEFORE crossing into Python, so only an int64 column
  hits Arrow;
- token int32 arrays already inside a pandas batch: numpy splitmix64
  (public-domain finalizer from Steele et al., "Fast Splittable
  Pseudorandom Number Generators", also used as the murmur64 finalizer
  family) — one fused vector pass, no per-row Python.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64

_SM64_GAMMA = _U64(0x9E3779B97F4A7C15)
_SM64_MUL1 = _U64(0xBF58476D1CE4E5B9)
_SM64_MUL2 = _U64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray, seed: int = 0) -> np.ndarray:
    """SplitMix64 finalizer over a uint64/int64 array -> signed int64 hashes.

    In-place intermediate ops: one output allocation + one temp, so the
    per-Arrow-batch hashing stays memory-bandwidth-friendly."""
    gamma = _U64((0x9E3779B97F4A7C15 * ((seed & 0xFFFFFFFFFFFFFFFF) + 1)) & 0xFFFFFFFFFFFFFFFF)
    z = x.astype(np.int64, copy=False).view(_U64) + gamma
    t = z >> _U64(30)
    np.bitwise_xor(z, t, out=z)
    np.multiply(z, _SM64_MUL1, out=z)
    np.right_shift(z, _U64(27), out=t)
    np.bitwise_xor(z, t, out=z)
    np.multiply(z, _SM64_MUL2, out=z)
    np.right_shift(z, _U64(31), out=t)
    np.bitwise_xor(z, t, out=z)
    return z.view(np.int64)


_XXH_P1 = _U64(0x9E3779B185EBCA87)
_XXH_P2 = _U64(0xC2B2AE3D27D4EB4F)
_XXH_P3 = _U64(0x165667B19E3779F9)
_XXH_P4 = _U64(0x85EBCA77C2B2AE63)
_XXH_P5 = _U64(0x27D4EB2F165667C5)


def _xxh64_fmix(h: np.ndarray) -> np.ndarray:
    h ^= h >> _U64(33)
    h *= _XXH_P2
    h ^= h >> _U64(29)
    h *= _XXH_P3
    h ^= h >> _U64(32)
    return h


def xxhash64_int(values: np.ndarray, seed) -> np.ndarray:
    """Bit-exact vectorized Spark ``xxhash64`` over integral input: lets
    Arrow kernels reproduce JVM-side ``F.xxhash64(col)`` without a join or
    a Python boundary re-cross.  Like catalyst, 8-byte values hash as
    LongType (``XXH64.hashLong``) and narrower ones as IntegerType
    (``XXH64.hashInt``).  ``seed`` may be a scalar (expression seed,
    default 42) or a uint64 array (the multi-argument fold
    ``xxhash64(a, b)`` threads the running hash as the next element's
    seed).  Returns signed int64."""
    v = np.asarray(values)
    width = 8 if v.dtype.itemsize == 8 else 4
    if np.isscalar(seed) or np.ndim(seed) == 0:
        h = np.full(len(v), _U64(int(seed) & 0xFFFFFFFFFFFFFFFF)
                    + _XXH_P5 + _U64(width))
    else:
        h = seed + (_XXH_P5 + _U64(width))
    iv = v.astype(np.int64, copy=False).view(_U64)
    if width == 8:
        k = iv * _XXH_P2
        h ^= ((k << _U64(31)) | (k >> _U64(33))) * _XXH_P1
        h = ((h << _U64(27)) | (h >> _U64(37))) * _XXH_P1 + _XXH_P4
    else:
        h ^= (iv & _U64(0xFFFFFFFF)) * _XXH_P1  # (input & 0xFFFFFFFFL)
        h = ((h << _U64(23)) | (h >> _U64(41))) * _XXH_P2 + _XXH_P3
    return _xxh64_fmix(h).view(np.int64)

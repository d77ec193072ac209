"""t-digest (Dunning & Ertl, merging variant) — numpy kernel.

New capability per BASELINE.json north_rule.  Centroids (mean, weight) are
kept sorted by mean; ingest buffers raw points and merges them with the
centroid list in one sorted pass bounded by the k1 scale function
(asin-sqrt), which concentrates resolution at the tails.  Merge of two
digests = concatenate centroids + one compress pass (associative up to the
digest's accuracy guarantee).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

_MAGIC = b"TDG1"


@dataclass(frozen=True)
class TDigestConfig:
    compression: float = 100.0
    # flush every buffer_factor*compression points: each flush costs one
    # argsort + one O(compression) boundary scan, so a large buffer
    # amortizes it (~160KB of float64 at the default) without touching
    # the accuracy guarantee (merging-variant accuracy depends on the
    # scale function, not the buffer size)
    buffer_factor: int = 200


class TDigestSketch:
    __slots__ = ("cfg", "means", "weights", "buffer", "n", "min_v", "max_v")

    def __init__(self, cfg: TDigestConfig):
        self.cfg = cfg
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self.buffer: list[np.ndarray] = []
        self.n = 0
        self.min_v = np.inf
        self.max_v = -np.inf

    def _flush(self, force: bool = False) -> None:
        bufs = [b for b in self.buffer if len(b)]
        self.buffer = []
        if not force and not bufs and len(self.means) <= 2 * self.cfg.compression:
            return
        add = np.concatenate(bufs) if bufs else np.empty(0)
        means = np.concatenate([self.means, add])
        weights = np.concatenate([self.weights, np.ones(len(add))])
        if len(means) == 0:
            return
        order = np.argsort(means, kind="stable")
        means, weights = means[order], weights[order]
        total = float(weights.sum())
        d = self.cfg.compression
        # Greedy merge under the k1 size bound, one iteration per OUTPUT
        # centroid (<= ~2*compression) instead of per input point: k1 is
        # monotone, so "absorb points while k1(right_edge_q) <= k1(q0)+1"
        # is exactly "absorb points whose cumulative weight <= q_limit",
        # and the end of each centroid is a searchsorted on the prefix sums.
        cw = np.cumsum(weights)
        cmw = np.cumsum(weights * means)
        out_means, out_weights = [], []
        two_pi = 2.0 * math.pi
        i, n = 0, len(means)
        while i < n:
            w0 = cw[i - 1] if i else 0.0
            k_lim = (d / two_pi) * math.asin(
                max(-1.0, min(1.0, 2.0 * (w0 / total) - 1.0))) + 1.0
            if k_lim >= d / 4.0:
                j = n
            else:
                w_lim = total * (math.sin(two_pi * k_lim / d) + 1.0) / 2.0
                j = int(np.searchsorted(cw, w_lim, side="right"))
                j = max(j, i + 1)
            w_slice = cw[j - 1] - w0
            m0 = cmw[i - 1] if i else 0.0
            out_means.append((cmw[j - 1] - m0) / w_slice)
            out_weights.append(w_slice)
            i = j
        self.means = np.array(out_means)
        self.weights = np.array(out_weights)

    def update(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if len(values) == 0:
            return
        self.n += len(values)
        self.min_v = min(self.min_v, float(values.min()))
        self.max_v = max(self.max_v, float(values.max()))
        self.buffer.append(values)
        if sum(len(b) for b in self.buffer) >= self.cfg.buffer_factor * self.cfg.compression:
            self._flush()

    def merge(self, other: "TDigestSketch") -> None:
        if other.cfg != self.cfg:
            raise ValueError("t-digest merge with mismatched config")
        if other.n == 0:
            return
        o = other.copy()
        o._flush()
        self.means = np.concatenate([self.means, o.means])
        self.weights = np.concatenate([self.weights, o.weights])
        self.n += other.n
        self.min_v = min(self.min_v, other.min_v)
        self.max_v = max(self.max_v, other.max_v)
        # concatenation breaks the sorted-means invariant: force a compress
        self._flush(force=True)

    def copy(self) -> "TDigestSketch":
        out = TDigestSketch(self.cfg)
        out.means = self.means.copy()
        out.weights = self.weights.copy()
        out.buffer = [b.copy() for b in self.buffer]
        out.n, out.min_v, out.max_v = self.n, self.min_v, self.max_v
        return out

    def quantile(self, q) -> np.ndarray | float:
        scalar = np.isscalar(q)
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        self._flush()
        if len(self.means) == 0:
            out = np.full(len(qs), np.nan)
            return float(out[0]) if scalar else out
        w = self.weights
        total = w.sum()
        # centroid midpoints in cumulative-weight space
        cum = np.cumsum(w) - w / 2.0
        targets = np.clip(qs, 0.0, 1.0) * total
        out = np.interp(targets, cum, self.means,
                        left=self.min_v, right=self.max_v)
        out[qs <= 0.0] = self.min_v
        out[qs >= 1.0] = self.max_v
        return float(out[0]) if scalar else out

    def to_bytes(self) -> bytes:
        self._flush()
        head = _MAGIC + struct.pack("<dqidd", self.cfg.compression, self.n,
                                    len(self.means), self.min_v, self.max_v)
        return head + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigestSketch":
        assert data[:4] == _MAGIC, "not a TDG1 blob"
        compression, n, n_cent, min_v, max_v = struct.unpack("<dqidd", data[4:40])
        sk = cls(TDigestConfig(compression))
        sk.n, sk.min_v, sk.max_v = n, min_v, max_v
        pos = 40
        sk.means = np.frombuffer(data[pos:pos + 8 * n_cent], dtype=np.float64).copy()
        pos += 8 * n_cent
        sk.weights = np.frombuffer(data[pos:pos + 8 * n_cent], dtype=np.float64).copy()
        return sk

"""Merging t-digest — tail-accurate quantiles (Dunning & Ertl).

Centroid clustering uses the k1 scale function
k(q) = δ/(2π)·asin(2q−1); a merge pass assigns sorted points to
clusters by their quantized k-value, which is a fully-vectorized
approximation of the sequential merging algorithm (groupby-average via
np.add.at instead of a per-centroid loop).
"""

from __future__ import annotations

import math

import numpy as np

from .base import MergeableSketch


class TDigest(MergeableSketch):
    KIND, DTYPE = 7, np.float64  # sketchlib.serde

    def __init__(self, compression: float = 100.0):
        # NaN passes a plain ``< 20`` and later casts to int64 garbage;
        # inf never flushes the buffer
        if not (math.isfinite(compression) and compression >= 20):
            raise ValueError(f"compression must be finite and >= 20, got {compression}")
        self.compression = float(compression)
        self.means = np.empty(0, np.float64)
        self.weights = np.empty(0, np.float64)
        self._buf: list[np.ndarray] = []
        self._buf_size = 0

    # ------------------------------------------------------------ internals

    def _flush(self, force: bool = False) -> None:
        if not self._buf and not force:
            return
        parts_m = [self.means] + self._buf
        parts_w = [self.weights] + [np.ones(len(b)) for b in self._buf]
        m = np.concatenate(parts_m)
        w = np.concatenate(parts_w)
        self._buf, self._buf_size = [], 0
        if m.size == 0:
            return
        order = np.argsort(m, kind="stable")
        m, w = m[order], w[order]
        total = w.sum()
        # k1 scale: cluster id = floor(k(q_mid)); monotone in q, cluster
        # widths follow the sqrt(q(1-q)) tail-accuracy profile
        cum = np.cumsum(w) - w / 2.0
        q = np.clip(cum / total, 1e-12, 1 - 1e-12)
        kval = self.compression / (2 * np.pi) * np.arcsin(2 * q - 1)
        ids = np.floor(kval * 2.0).astype(np.int64)  # ~2δ/π ≈ 0.64δ clusters
        ids -= ids.min()
        ncl = int(ids.max()) + 1
        wsum = np.zeros(ncl)
        msum = np.zeros(ncl)
        np.add.at(wsum, ids, w)
        np.add.at(msum, ids, w * m)
        keep = wsum > 0
        self.means = msum[keep] / wsum[keep]
        self.weights = wsum[keep]

    # ------------------------------------------------------------ public

    def update(self, values) -> None:
        arr = np.asarray(values, np.float64)
        arr = arr[~np.isnan(arr)]
        if arr.size == 0:
            return
        self._buf.append(arr)
        self._buf_size += arr.size
        if self._buf_size >= 20 * self.compression:
            self._flush()

    def merge(self, other: "TDigest") -> "TDigest":
        if self.compression != other.compression:
            raise ValueError("tdigest compression mismatch")
        other._flush()
        if len(other.means):
            self.means = np.concatenate((self.means, other.means))
            self.weights = np.concatenate((self.weights, other.weights))
            self._flush(force=True)  # re-cluster the combined centroids
        else:
            self._flush()
        return self

    @property
    def total_weight(self) -> float:
        return float(self.weights.sum()) + self._buf_size

    def quantile(self, q) -> np.ndarray:
        self._flush()
        qs = np.atleast_1d(np.asarray(q, np.float64))
        if self.means.size == 0:
            return np.full(qs.shape, np.nan)
        if self.means.size == 1:
            return np.full(qs.shape, self.means[0])
        w = self.weights
        cum = np.cumsum(w) - w / 2.0
        targets = np.clip(qs, 0, 1) * w.sum()
        out = np.interp(targets, cum, self.means)
        return out

    def rank(self, x) -> np.ndarray:
        self._flush()
        xs = np.atleast_1d(np.asarray(x, np.float64))
        if self.means.size == 0:
            return np.zeros(xs.shape)
        cum = np.cumsum(self.weights) - self.weights / 2.0
        return np.interp(xs, self.means, cum, left=0.0, right=self.weights.sum())

    def state(self):
        self._flush()
        # the float compression travels as its float64 bit pattern
        return (int(np.float64(self.compression).view(np.int64)),), [self.means, self.weights]

    @classmethod
    def from_state(cls, words, arrays) -> "TDigest":
        (compression,) = words
        s = cls(float(np.int64(compression).view(np.float64)))
        s.means, s.weights = arrays
        if len(s.means) != len(s.weights):
            raise ValueError("tdigest blob has unequal means and weights")
        return s

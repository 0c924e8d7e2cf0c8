"""KLL quantile sketch — rank error ~ O(1/k)·N w.h.p.

Karnin, Lang & Liberty 2016 (and KLL± VLDB 2021, PAPERS.md) compactor
hierarchy: level h holds items of weight 2^h; a full level is sorted
and every other item (random parity, seeded) promotes to level h+1.
Batch updates append whole numpy arrays; compaction is sort + stride
slicing, so no per-item Python.
"""

from __future__ import annotations

import numpy as np

from .base import MergeableSketch

_C = 2.0 / 3.0
_M64 = (1 << 64) - 1


class KLLSketch(MergeableSketch):
    KIND, DTYPE = 5, np.float64  # sketchlib.serde

    def __init__(self, k: int = 200, seed: int = 42):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.seed = seed
        self.compactors: list[np.ndarray] = [np.empty(0, np.float64)]
        self.n = 0

    # ------------------------------------------------------------ internals

    def _capacity(self, h: int) -> int:
        height = len(self.compactors)
        return max(int(np.ceil(self.k * _C ** (height - h - 1))), 2)

    def _size(self) -> int:
        return sum(len(c) for c in self.compactors)

    def _max_size(self) -> int:
        return sum(self._capacity(h) for h in range(len(self.compactors)))

    def _coin(self, h: int, buf: np.ndarray) -> int:
        """Compaction-parity coin: splitmix64 over (seed, level, n,
        whole-buffer digest).

        Deterministic given the same data + merge order (reproducible
        builds), but DECORRELATED across sketch instances: the old
        per-instance RNG gave every partition's sketch the identical
        seed-42 parity sequence, so partition i's j-th compaction
        always promoted the same stride as partition k's j-th — rank
        errors added coherently (~P) under a P-way merge instead of
        cancelling (~sqrt(P)), and from_bytes additionally replayed
        the sequence from the start. Mixing in n and a data digest
        makes the coins data-dependent (different partitions see
        different data), the standard derandomization tradeoff:
        adversarially-crafted inputs could bias the coin, i.i.d.-ish
        real data cannot.

        The digest covers the WHOLE buffer as a wrap-around sum of the
        raw float64 bit patterns, for two reasons. Boundary values
        alone (an earlier shape) collapse on clamped/saturated data:
        length-capped page sizes with empty pages give every large
        buffer buf[0]=0, buf[-1]=cap, so uniform-sized partitions drew
        identical coins again — exactly the correlation this coin
        exists to break. And a sum, not an xor: clamped buffers are
        full of duplicate values, whose patterns cancel pairwise under
        xor (any even count digests to 0), while a sum is linear in
        the element counts, so different interiors keep different
        digests.

        Known limit (inherent to ANY deterministic data-dependent
        coin): partitions holding IDENTICAL value multisets draw
        identical sequences — indistinguishable inputs cannot be told
        apart. The accuracy cost vanishes exactly where the collision
        appears: coherent coins only add rank error where adjacent
        buffer strides differ, so it is bounded by the number of
        distinct-value boundaries per buffer — and buffers identical
        across partitions are value-poor by construction (the fully
        constant case has zero boundaries, hence zero added error).
        Breaking even this case would need per-instance entropy
        (e.g. partition-id-salted seeds), trading away the
        reproducible-build property this coin exists to keep."""
        x = (self.seed + 0x9E3779B97F4A7C15 * (h + 1)) & _M64
        x ^= (self.n * 0xBF58476D1CE4E5B9) & _M64
        x ^= (int(buf.view(np.uint64).sum(dtype=np.uint64)) * 0x94D049BB133111EB) & _M64
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
        return int((x ^ (x >> 31)) & 1)

    def _compress(self) -> None:
        while self._size() > self._max_size():
            for h in range(len(self.compactors)):
                if len(self.compactors[h]) > self._capacity(h):
                    if h + 1 == len(self.compactors):
                        self.compactors.append(np.empty(0, np.float64))
                    buf = np.sort(self.compactors[h])
                    offset = self._coin(h, buf)
                    promoted = buf[offset::2]
                    self.compactors[h + 1] = np.concatenate(
                        (self.compactors[h + 1], promoted)
                    )
                    self.compactors[h] = np.empty(0, np.float64)
                    break
            else:
                # unreachable by pigeonhole (total > Σcap ⇒ some level
                # exceeds its cap) — kept ONLY as a loop-termination
                # safety valve should the capacity rule ever change
                break

    # ------------------------------------------------------------ public

    def update(self, values) -> None:
        arr = np.asarray(values, np.float64)
        arr = arr[~np.isnan(arr)]
        if arr.size == 0:
            return
        self.compactors[0] = np.concatenate((self.compactors[0], arr))
        self.n += arr.size
        self._compress()

    def merge(self, other: "KLLSketch") -> "KLLSketch":
        if self.k != other.k:
            raise ValueError("kll k mismatch")
        while len(self.compactors) < len(other.compactors):
            self.compactors.append(np.empty(0, np.float64))
        for h, c in enumerate(other.compactors):
            if len(c):
                self.compactors[h] = np.concatenate((self.compactors[h], c))
        self.n += other.n
        self._compress()
        return self

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, weights = [], []
        for h, c in enumerate(self.compactors):
            if len(c):
                vals.append(c)
                weights.append(np.full(len(c), 1 << h, np.int64))
        if not vals:
            return np.empty(0), np.empty(0, np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(weights)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q) -> np.ndarray:
        """Approximate quantile(s) for q in [0,1]. Always returns an
        ndarray — shape (1,) for scalar q (callers index [0])."""
        qs = np.atleast_1d(np.asarray(q, np.float64))
        v, w = self._weighted_items()
        if v.size == 0:
            return np.full(qs.shape, np.nan)
        cum = np.cumsum(w) - w / 2.0
        targets = qs * w.sum()
        idx = np.searchsorted(cum, targets)
        idx = np.clip(idx, 0, len(v) - 1)
        return v[idx]

    def rank(self, x) -> np.ndarray:
        """Approximate rank (#items ≤ x)."""
        xs = np.atleast_1d(np.asarray(x, np.float64))
        v, w = self._weighted_items()
        if v.size == 0:
            return np.zeros(xs.shape)
        cum = np.concatenate(([0], np.cumsum(w)))
        return cum[np.searchsorted(v, xs, side="right")]

    def state(self):
        return (self.k, self.seed, self.n), self.compactors

    @classmethod
    def from_state(cls, words, arrays) -> "KLLSketch":
        k, seed, n = words
        if not arrays:
            raise ValueError("kll blob has no compactor level")
        s = cls(k=k, seed=seed)
        s.compactors = list(arrays)
        s.n = n
        return s

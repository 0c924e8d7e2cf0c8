"""Count-min sketch — frequency estimates, err ≤ e/w·N w.p. ≥ 1-e^{-d}.

Cormode & Muthukrishnan 2005. One-sided error: estimates never
undercount (tests assert est ≥ true for every key). Row hashes come
from double hashing of one 64-bit kernel hash; updates are per-row
``np.add.at`` scatter-adds; merge is elementwise addition.
"""

from __future__ import annotations

import math

import numpy as np

from .. import serde
from .base import MergeableSketch, hash_column, split_hash

U64 = np.uint64


class CountMinSketch(MergeableSketch):
    KIND, DTYPE = 3, np.int64  # sketchlib.serde

    def __init__(
        self,
        width: int | None = None,
        depth: int | None = None,
        epsilon: float = 1e-4,
        delta: float = 1e-3,
        hash_strategy: str = "xx",
    ):
        self.width = width or max(8, math.ceil(math.e / epsilon))
        self.depth = depth or max(1, math.ceil(math.log(1.0 / delta)))
        self.hash_strategy = hash_strategy
        self.counts = np.zeros((self.depth, self.width), np.int64)
        self.total = 0
        # exact Σ|weight| (Python int, unbounded): every bin is ≤ this,
        # so keeping it ≤ int64 max guarantees no bin ever wraps — the
        # silent-undercount mode that would break one-sided error
        self._abs_total = 0

    _I64_MAX = int(np.iinfo(np.int64).max)

    def _grow_abs_total(self, inc: int) -> None:
        if self._abs_total + inc > self._I64_MAX:
            raise OverflowError(
                "CMS aggregate |weight| total would exceed int64 "
                f"({self._abs_total} + {inc}); a bin could wrap and "
                "undercount — widen to multiple sketches or rescale weights"
            )
        self._abs_total += inc

    def _rows_cols(self, values) -> np.ndarray:
        h = hash_column(values, self.hash_strategy)
        lo, hi = split_hash(h)
        js = np.arange(self.depth, dtype=U64)[:, None]
        with np.errstate(over="ignore"):
            # row j uses h_j(x) = lo + (j+1)*hi  (j+1 so row 0 isn't just lo
            # when hi == 0), a standard 2-universal-ish family
            return ((lo[None, :] + (js + U64(1)) * hi[None, :]) % U64(self.width)).astype(np.int64)

    def update(self, values, weights=None) -> None:
        cols = self._rows_cols(values)
        if weights is None:
            self._grow_abs_total(int(cols.shape[1]))
            for j in range(self.depth):
                # bincount is O(n + width) sequential adds — ~10x faster
                # than np.add.at's scattered fetch-add on wide batches
                self.counts[j] += np.bincount(cols[j], minlength=self.width)
            self.total += int(cols.shape[1])
            return
        w = np.asarray(weights)
        # bincount sums in float64 — exact for integer weights while the
        # per-bin sums stay < 2^53; beyond that use exact int64
        # scatter-adds; fractional weights are ROUNDED, not truncated
        if np.issubdtype(w.dtype, np.integer) and float(np.abs(w.astype(np.float64)).sum()) >= 2**52:
            # exact-sum branch; int64 is the counts dtype, so weights
            # outside its range cannot be represented — refuse loudly
            # instead of wrapping (which would undercount and break the
            # one-sided-error contract)
            wmax = int(w.astype(object).max())
            wmin = int(w.astype(object).min())
            if wmax > np.iinfo(np.int64).max or wmin < np.iinfo(np.int64).min:
                raise ValueError("CMS weights must fit int64 (counts dtype)")
            self._grow_abs_total(int(np.abs(w.astype(object)).sum()))
            w64 = w.astype(np.int64)
            for j in range(self.depth):
                np.add.at(self.counts[j], cols[j], w64)
            self.total += int(w.astype(object).sum())  # exact, no int64 overflow
            return
        wf = w.astype(np.float64)
        self._grow_abs_total(int(np.ceil(float(np.abs(wf).sum()))))
        for j in range(self.depth):
            binned = np.bincount(cols[j], weights=wf, minlength=self.width)
            self.counts[j] += np.rint(binned).astype(np.int64)
        self.total += int(round(float(wf.sum())))

    def estimate(self, values) -> np.ndarray:
        cols = self._rows_cols(values)
        per_row = self.counts[np.arange(self.depth)[:, None], cols]
        return per_row.min(axis=0)

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.width, self.depth, self.hash_strategy) != (
            other.width,
            other.depth,
            other.hash_strategy,
        ):
            raise ValueError("cms geometry mismatch")
        self._grow_abs_total(other._abs_total)
        self.counts += other.counts
        self.total += other.total
        return self

    def error_bound(self) -> float:
        """Additive bound e/w · N holding w.p. ≥ 1 - e^{-d}."""
        return math.e / self.width * self.total

    def state(self):
        strategy = serde.STRATEGIES.index(self.hash_strategy)
        return (self.width, self.depth, strategy, self.total, self._abs_total), [self.counts]

    @classmethod
    def from_state(cls, words, arrays) -> "CountMinSketch":
        width, depth, strategy, total, abs_total = words
        s = cls(width=width, depth=depth, hash_strategy=serde.strategy_name(strategy))
        (counts,) = arrays
        s.counts = counts.reshape(s.depth, s.width)
        s.total, s._abs_total = total, abs_total
        return s

"""HyperLogLog — approximate distinct counts, rel. error ≈ 1.04/√m.

Standard Flajolet et al. 2007 estimator with linear-counting small-range
correction (the same family as Spark's native approx_count_distinct,
which tests use as a cross-check). Register extraction and the
leading-zero rank are fully vectorized; merge is elementwise max.
"""

from __future__ import annotations

import math

import numpy as np

from .. import serde
from .base import MergeableSketch, hash_column

U64 = np.uint64


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (6 binary-search steps)."""
    zero = x == 0
    n = np.zeros(x.shape, np.uint8)
    x = x.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = x < (U64(1) << U64(64 - shift))  # top `shift` bits all zero
        n[mask] += shift
        x[mask] <<= U64(shift)
    n[zero] = 64
    return n


class HyperLogLog(MergeableSketch):
    KIND, DTYPE = 4, np.uint8  # sketchlib.serde

    def __init__(self, precision: int = 14, hash_strategy: str = "xx"):
        if not (4 <= precision <= 18):
            raise ValueError("precision must be in [4, 18]")
        self.precision = precision
        self.m = 1 << precision
        self.hash_strategy = hash_strategy
        self.registers = np.zeros(self.m, np.uint8)

    def update(self, values) -> None:
        h = hash_column(values, self.hash_strategy)
        idx = (h >> U64(64 - self.precision)).astype(np.int64)
        w = h << U64(self.precision)  # remaining 64-p bits, left-aligned
        rho = np.minimum(_clz64(w) + 1, 64 - self.precision + 1).astype(np.uint8)
        np.maximum.at(self.registers, idx, rho)

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if (self.precision, self.hash_strategy) != (other.precision, other.hash_strategy):
            raise ValueError("hll geometry mismatch")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def estimate(self) -> float:
        m = self.m
        alpha = 0.7213 / (1.0 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
        raw = alpha * m * m / np.power(2.0, -self.registers.astype(np.float64)).sum()
        if raw <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros:
                return m * math.log(m / zeros)  # linear counting
        return float(raw)

    def std_error(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def state(self):
        return (self.precision, serde.STRATEGIES.index(self.hash_strategy)), [self.registers]

    @classmethod
    def from_state(cls, words, arrays) -> "HyperLogLog":
        precision, strategy = words
        s = cls(precision, serde.strategy_name(strategy))
        (registers,) = arrays
        s.registers = registers.reshape(s.m)
        return s


def estimate_set_ops(a: HyperLogLog, b: HyperLogLog) -> tuple[float, float]:
    """(|A∪B| estimate, |A∩B| estimate) from two mergeable HLLs
    WITHOUT touching the inputs: union is the register-max merge of
    copies (the property that makes HLL distributable); intersection
    is inclusion–exclusion |A| + |B| − |A∪B| (Flajolet et al. 2007).
    The intersection's additive error compounds the three estimates'
    errors, so its usable bound is ~3σ·(|A| + |B| + |A∪B|) — tight
    enough for overlap ratios, not for tiny intersections of huge
    sets (a Theta/KMV sketch is the right tool there; documented
    trade-off)."""
    u = HyperLogLog.from_bytes(a.to_bytes())
    u.merge(b)
    est_union = u.estimate()
    est_inter = a.estimate() + b.estimate() - est_union
    return est_union, max(est_inter, 0.0)

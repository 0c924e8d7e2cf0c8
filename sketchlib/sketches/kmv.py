"""KMV (bottom-k / k-minimum-values) distinct sketch with native set
algebra.

Bar-Yossef et al. 2002 ("Counting distinct elements in a data
stream"); Beyer et al., SIGMOD 2007 ("On synopses for distinct-value
estimation under multiset operations") — the estimator and the
multiset-operation analysis used here.

State: the k smallest distinct 64-bit hashes of the value set, kept
sorted. Properties that earn KMV its place next to HLL:

* merge = set-union of the two bottom-k sets re-trimmed to k —
  associative, commutative, AND idempotent (duplicate hashes collapse),
  like every sketch in this package;
* |D| estimator: exact count while the sketch is unsaturated (< k
  values seen); once full, (k-1)/u where u = kth-smallest-hash / 2^64
  — unbiased with relative error ~1/√(k-2);
* INTERSECTION/JACCARD: bottom-k of A∪B is computable from the two
  sketches (merge), and each of its members can be tested for
  membership in A's and B's value sets exactly — so
  J ≈ |K(A∪B) ∩ A ∩ B| / k estimates Jaccard with multiplicative
  error O(1/√k) (Beyer et al. §4), and |A∩B| = J · |A∪B|-estimate.
  HLL can only do inclusion–exclusion, whose intersection error is
  ADDITIVE in the union size — useless for small overlaps of large
  sets; KMV is the right sketch there.
"""

from __future__ import annotations

import numpy as np

from .. import serde
from .base import MergeableSketch, hash_column

_U64_SPAN = float(1 << 64)


class KMVSketch(MergeableSketch):
    KIND, DTYPE = 6, np.uint64  # sketchlib.serde

    def __init__(self, k: int = 1024, hash_strategy: str = "xx"):
        if k < 3:
            # k=2 would make std_error() = 1/sqrt(k-2) divide by zero,
            # and the estimator variance is unbounded below k=3 anyway
            raise ValueError("KMV needs k >= 3")
        self.k = k
        self.hash_strategy = hash_strategy
        self.values = np.empty(0, np.uint64)  # sorted, distinct, ≤ k

    def _absorb(self, h: np.ndarray) -> None:
        self.values = np.unique(np.concatenate([self.values, h]))[: self.k]

    def update(self, values) -> None:
        self._absorb(hash_column(values, self.hash_strategy))

    def merge(self, other: "KMVSketch") -> "KMVSketch":
        if (self.k, self.hash_strategy) != (other.k, other.hash_strategy):
            raise ValueError("kmv geometry mismatch")
        self._absorb(other.values)
        return self

    def estimate(self) -> float:
        if len(self.values) < self.k:
            return float(len(self.values))  # unsaturated: exact
        u = float(self.values[self.k - 1]) / _U64_SPAN
        return (self.k - 1) / u

    def std_error(self) -> float:
        """Relative standard error of the saturated estimator."""
        import math

        return 1.0 / math.sqrt(self.k - 2)

    def state(self):
        return (self.k, serde.STRATEGIES.index(self.hash_strategy)), [self.values]

    @classmethod
    def from_state(cls, words, arrays) -> "KMVSketch":
        k, strategy = words
        s = cls(k, serde.strategy_name(strategy))
        (s.values,) = arrays
        if len(s.values) > k:
            raise ValueError(f"kmv blob keeps {len(s.values)} hashes, k is {k}")
        return s


def kmv_set_ops(a: KMVSketch, b: KMVSketch) -> tuple[float, float, float]:
    """(|A∪B|, |A∩B|, Jaccard) estimates from two KMV sketches,
    inputs untouched. K(A∪B) = bottom-k of the merged hash sets; each
    member is tested for presence in BOTH operands' kept sets (exact
    membership — kept hashes are the ground truth for their values),
    giving the Beyer et al. unbiased Jaccard estimator |K∩A∩B|/|K|."""
    u = KMVSketch(a.k, a.hash_strategy)
    u.merge(a).merge(b)
    union_est = u.estimate()
    if len(u.values) == 0:
        return 0.0, 0.0, 0.0
    in_a = np.isin(u.values, a.values, assume_unique=True)
    in_b = np.isin(u.values, b.values, assume_unique=True)
    j = float((in_a & in_b).sum()) / float(len(u.values))
    return union_est, j * union_est, j

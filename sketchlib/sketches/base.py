"""Shared sketch protocol: update / merge / estimate / serde.

Every sketch in this package is an associative, commutative monoid
state (north-rule requirement: merge associativity is property-tested
in tests/test_sketches.py). States are fixed-size-ish numpy arrays so
they serialize into BinaryType columns for Spark shuffle + checkpoint.

Serialization is ``sketchlib.serde``'s checksummed frame of int64 words
and raw arrays (no pickle — blobs cross the JVM boundary and must be
safe to load from untrusted shuffle files).
"""

from __future__ import annotations

import numpy as np

from .. import serde
from ..hashing import kernels

U64 = np.uint64


def hash_column(values, strategy: str = "xx") -> np.ndarray:
    """Column of str/bytes → uint64 hashes via the vectorized kernels."""
    return kernels.hash64_batch(values, strategy)


def split_hash(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two 32-bit halves for double hashing (Kirsch-Mitzenmacher)."""
    return h & U64(0xFFFFFFFF), h >> U64(32)


class MergeableSketch:
    """Interface contract (duck-typed; see subclasses)."""

    # blob kind code, unique across sketchlib, and dtype of the state
    # arrays; with ``state`` and ``from_state``, see sketchlib.serde
    KIND: int
    DTYPE: type

    def update(self, values) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def merge(self, other):  # pragma: no cover - interface
        raise NotImplementedError

    def to_bytes(self) -> bytes:
        return serde.dumps(self)

    @classmethod
    def from_bytes(cls, blob: bytes):
        return serde.loads(blob, cls)

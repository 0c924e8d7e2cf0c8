"""Bloom filter — membership without delete, ε = (1 - e^{-kn/m})^k.

Not present in the reference repo; added per the north rule
(BASELINE.json: "HLL, count-min, t-digest, KLL, Bloom ... as mergeable
UDAFs"). k index derivations use Kirsch-Mitzenmacher double hashing on
one 64-bit kernel hash, so the whole update is numpy.
"""

from __future__ import annotations

import math

import numpy as np

from .. import serde
from .base import MergeableSketch, hash_column, split_hash

U64 = np.uint64


class BloomFilter(MergeableSketch):
    KIND, DTYPE = 2, np.uint8  # sketchlib.serde

    def __init__(
        self,
        capacity: int,
        fp_rate: float = 0.01,
        hash_strategy: str = "xx",
        num_bits: int | None = None,
        num_hashes: int | None = None,
    ):
        if capacity <= 0:
            raise ValueError("capacity must be > 0")
        if num_bits is None:
            num_bits = max(8, int(-capacity * math.log(fp_rate) / (math.log(2) ** 2)))
        if num_hashes is None:
            num_hashes = max(1, round(num_bits / capacity * math.log(2)))
        self.capacity = capacity
        self.num_bits = ((num_bits + 63) // 64) * 64
        self.num_hashes = num_hashes
        self.hash_strategy = hash_strategy
        self.bits = np.zeros(self.num_bits // 8, np.uint8)
        self.num_items = 0  # items observed (not distinct)

    def _positions(self, h: np.ndarray) -> np.ndarray:
        """[num_hashes, n] bit positions of 64-bit item hashes."""
        lo, hi = split_hash(h)
        ks = np.arange(self.num_hashes, dtype=U64)[:, None]
        with np.errstate(over="ignore"):
            return (lo[None, :] + ks * hi[None, :]) % U64(self.num_bits)

    def update(self, values) -> None:
        pos = self._positions(hash_column(values, self.hash_strategy)).ravel()
        np.bitwise_or.at(self.bits, pos >> U64(3), np.uint8(1) << (pos & U64(7)).astype(np.uint8))
        self.num_items += pos.size // self.num_hashes

    def contains(self, values) -> np.ndarray:
        return self.contains_hashes(hash_column(values, self.hash_strategy))

    def contains_hashes(self, h: np.ndarray) -> np.ndarray:
        """``contains`` of items whose ``hash64_batch`` under
        ``hash_strategy`` is ``h``."""
        pos = self._positions(h)
        set_ = (self.bits[(pos >> U64(3)).astype(np.int64)] >> (pos & U64(7)).astype(np.uint8)) & 1
        return set_.all(axis=0).astype(bool)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (self.num_bits, self.num_hashes, self.hash_strategy) != (
            other.num_bits,
            other.num_hashes,
            other.hash_strategy,
        ):
            raise ValueError("bloom geometry mismatch")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.num_items += other.num_items
        return self

    @property
    def fill_ratio(self) -> float:
        return float(np.unpackbits(self.bits).mean())

    def expected_fpr(self) -> float:
        """(1 - e^{-kn/m})^k with n = items observed."""
        return (1.0 - math.exp(-self.num_hashes * self.num_items / self.num_bits)) ** self.num_hashes

    def state(self):
        strategy = serde.STRATEGIES.index(self.hash_strategy)
        return (self.capacity, self.num_bits, self.num_hashes, strategy, self.num_items), [self.bits]

    @classmethod
    def from_state(cls, words, arrays) -> "BloomFilter":
        capacity, num_bits, num_hashes, strategy, num_items = words
        strategy = serde.strategy_name(strategy)
        f = cls(capacity, hash_strategy=strategy, num_bits=num_bits, num_hashes=num_hashes)
        (bits,) = arrays
        f.bits = bits.reshape(f.bits.shape)
        f.num_items = num_items
        return f

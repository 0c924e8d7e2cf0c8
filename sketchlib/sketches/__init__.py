"""Mergeable sketches (north-rule additions, SURVEY.md §2.3).

Each sketch is a monoid: ``update(batch)`` folds an Arrow-sized numpy
batch into fixed-size state, ``merge(other)`` is associative and
commutative (property-tested), ``to_bytes``/``from_bytes`` round-trip
through BinaryType columns as ``sketchlib.serde`` frames. The cuckoo
filter (sketchlib.cuckoo) shares the same contract and base class.
"""

from .bloom import BloomFilter
from .cms import CountMinSketch
from .hll import HyperLogLog
from .kll import KLLSketch
from .kmv import KMVSketch
from .tdigest import TDigest

__all__ = [
    "BloomFilter",
    "CountMinSketch",
    "HyperLogLog",
    "KLLSketch",
    "KMVSketch",
    "TDigest",
]

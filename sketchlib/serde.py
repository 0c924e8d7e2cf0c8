"""The one sketch blob format. Every sketch crosses Arrow columns,
shuffles, broadcasts, checkpoints and streaming epochs as this
little-endian frame::

    magic "SKLB" | crc32 (u32) of all later bytes | version (u8)
    | kind (u8) | W (u16) | A (u16) | 2 zero bytes | payload length (u64)
    | W words (i64) | A array byte lengths (u64) | the arrays' raw bytes

A sketch class declares ``KIND``, its arrays' ``DTYPE``, ``state() ->
(words, arrays)`` and ``from_state(words, arrays)``, which raises
ValueError when they do not describe a valid sketch. A truncated or
extended blob, a checksum mismatch, an unknown version or kind, or
state that does not fit its kind raises ``CorruptBlobError``. zlib's
crc32, not ``sketchlib.hashing``'s CRC32C: that one's scalar form is a
per-byte Python loop, hundreds of times slower.
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np

from .errors import CorruptBlobError

MAGIC = b"SKLB"
VERSION = 1
_HEAD = struct.Struct("<4sI")  # magic, crc32 of every later byte
_META = struct.Struct("<BBHH2xQ")  # version, kind, W, A, payload length
_FIXED = _HEAD.size + _META.size
STRATEGIES = ("fnv", "crc32c", "xx")  # a hash-strategy word is its index here


def strategy_name(word: int) -> str:
    if not 0 <= word < len(STRATEGIES):
        raise ValueError(f"unknown hash-strategy code {word}")
    return STRATEGIES[word]


@functools.cache
def _kinds() -> dict[int, type]:
    from .cuckoo import CuckooFilter  # here, not on top: the sketch modules import serde
    from .sketches import BloomFilter, CountMinSketch, HyperLogLog, KLLSketch, KMVSketch, TDigest

    kinds = (CuckooFilter, BloomFilter, CountMinSketch, HyperLogLog, KLLSketch, KMVSketch, TDigest)
    return {cls.KIND: cls for cls in kinds}


def dumps(sketch) -> bytes:
    words, arrays = sketch.state()
    arrays = [np.ascontiguousarray(a, np.dtype(sketch.DTYPE).newbyteorder("<")) for a in arrays]
    sizes = [a.nbytes for a in arrays]
    meta = _META.pack(VERSION, sketch.KIND, len(words), len(arrays), sum(sizes))
    body = meta + struct.pack(f"<{len(words)}q{len(sizes)}Q", *words, *sizes)
    crc = zlib.crc32(body)
    for a in arrays:
        crc = zlib.crc32(a, crc)
    return b"".join([_HEAD.pack(MAGIC, crc), body, *arrays])


def loads(blob, cls: type | None = None):
    """The sketch in ``blob``; with ``cls``, the blob must hold one."""
    blob = bytes(blob)
    if len(blob) < _FIXED:
        raise CorruptBlobError(f"{len(blob)}-byte blob is shorter than a frame head")
    magic, crc = _HEAD.unpack_from(blob)
    version, kind, n_words, n_arrays, payload = _META.unpack_from(blob, _HEAD.size)
    if magic != MAGIC:
        raise CorruptBlobError(f"not a sketchlib blob: magic {magic!r}")
    if version != VERSION:
        raise CorruptBlobError(f"unknown blob format version {version}; this build reads {VERSION}")
    start = _FIXED + 8 * (n_words + n_arrays)
    if len(blob) != start + payload:
        raise CorruptBlobError(f"{len(blob)}-byte blob, its frame says {start + payload} bytes")
    if zlib.crc32(memoryview(blob)[_HEAD.size :]) != crc:
        raise CorruptBlobError("blob checksum mismatch")
    kind_cls = _kinds().get(kind)
    if kind_cls is None or cls not in (None, kind_cls):
        want = "a known sketch kind" if cls is None else f"a {cls.__name__}"
        raise CorruptBlobError(f"blob kind {kind} ({getattr(kind_cls, '__name__', '?')}) is not {want}")
    fields = struct.unpack_from(f"<{n_words}q{n_arrays}Q", blob, _FIXED)
    words, sizes = fields[:n_words], fields[n_words:]
    dtype = np.dtype(kind_cls.DTYPE)
    if sum(sizes) != payload or any(size % dtype.itemsize for size in sizes):
        raise CorruptBlobError(f"array lengths {sizes} do not split a {payload}-byte payload")
    le, arrays, offset = dtype.newbyteorder("<"), [], start
    for size in sizes:
        arrays.append(np.frombuffer(blob, le, size // dtype.itemsize, offset).astype(dtype))
        offset += size
    try:
        return kind_cls.from_state(words, arrays)
    except ValueError as e:
        raise CorruptBlobError(f"{kind_cls.__name__} blob does not describe a valid sketch: {e}") from e

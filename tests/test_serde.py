"""Blob-format tests (sketchlib.serde): every mutation of a blob —
truncation, bit flips, splices, appended bytes, unknown kinds and
versions, lengths that do not fit — raises CorruptBlobError and never
returns a sketch, for all seven kinds.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import assume, given, settings, strategies as st

from sketchlib import CuckooConfig, CuckooFilter, serde
from sketchlib.errors import CorruptBlobError
from sketchlib.serde import loads
from sketchlib.sketches import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    KMVSketch,
    TDigest,
)

_FACTORIES = {
    "cuckoo": lambda: CuckooFilter(CuckooConfig(capacity=256, fingerprint_bits=12, seed=3)),
    "bloom": lambda: BloomFilter(capacity=400, fp_rate=0.05),
    "cms": lambda: CountMinSketch(width=64, depth=3),
    "hll": lambda: HyperLogLog(precision=8),
    "kll": lambda: KLLSketch(k=16),
    "kmv": lambda: KMVSketch(k=32),
    "tdigest": lambda: TDigest(20.0),
}
KINDS = sorted(_FACTORIES)


def _blob(kind: str, n: int, offset: int) -> bytes:
    sk = _FACTORIES[kind]()
    if kind in ("kll", "tdigest"):
        sk.update(np.random.default_rng(offset).lognormal(2, 1, n))
    else:
        sk.update([f"v-{offset + i}" for i in range(n)])
    return sk.to_bytes()


# two differently filled blobs per kind
BLOBS = {kind: (_blob(kind, 150, 0), _blob(kind, 90, 1000)) for kind in KINDS}
VALID = {b for pair in BLOBS.values() for b in pair}


def _rejected(blob: bytes, match: str | None = None) -> None:
    with pytest.raises(CorruptBlobError, match=match):
        loads(blob)


def _reframe(blob: bytes, offset: int, raw: bytes) -> bytes:
    """``blob`` with ``raw`` written at ``offset`` and its checksum
    recomputed, so the check under test is not the checksum's."""
    body = blob[8:offset] + raw + blob[offset + len(raw) :]
    return blob[:4] + struct.pack("<I", zlib.crc32(body)) + body


def test_every_kind_round_trips_and_kind_codes_are_unique():
    assert sorted(cls.KIND for cls in serde._kinds().values()) == list(range(1, 8))
    for kind, (a, b) in BLOBS.items():
        for blob in (a, b):
            sk = loads(blob)
            assert type(sk) is type(_FACTORIES[kind]())
            assert sk.to_bytes() == blob


@settings(max_examples=150, deadline=None)
@given(kind=st.sampled_from(KINDS), which=st.integers(0, 1), data=st.data())
def test_truncated_blob_rejected(kind, which, data):
    blob = BLOBS[kind][which]
    _rejected(blob[: data.draw(st.integers(0, len(blob) - 1))])


@settings(max_examples=150, deadline=None)
@given(kind=st.sampled_from(KINDS), which=st.integers(0, 1), data=st.data())
def test_bit_flips_rejected(kind, which, data):
    blob = bytearray(BLOBS[kind][which])
    bits = data.draw(st.sets(st.integers(0, 8 * len(blob) - 1), min_size=1, max_size=8))
    for bit in bits:
        blob[bit // 8] ^= 1 << (bit % 8)
    _rejected(bytes(blob))


@settings(max_examples=150, deadline=None)
@given(
    heads=st.tuples(st.sampled_from(KINDS), st.integers(0, 1)),
    tails=st.tuples(st.sampled_from(KINDS), st.integers(0, 1)),
    data=st.data(),
)
def test_spliced_blobs_rejected(heads, tails, data):
    a, b = BLOBS[heads[0]][heads[1]], BLOBS[tails[0]][tails[1]]
    spliced = a[: data.draw(st.integers(0, len(a)))] + b[data.draw(st.integers(0, len(b))) :]
    assume(spliced not in VALID)
    _rejected(spliced)


@settings(max_examples=60, deadline=None)
@given(kind=st.sampled_from(KINDS), extra=st.binary(min_size=1, max_size=9))
def test_appended_bytes_rejected(kind, extra):
    _rejected(BLOBS[kind][0] + extra)


@settings(max_examples=60, deadline=None)
@given(kind=st.sampled_from(KINDS), version=st.integers(0, 255), code=st.integers(0, 255))
def test_unknown_version_or_kind_rejected(kind, version, code):
    blob = BLOBS[kind][0]
    if version != serde.VERSION:
        _rejected(_reframe(blob, 8, bytes([version])), match="version")
    if code not in serde._kinds():
        _rejected(_reframe(blob, 9, bytes([code])), match="kind")


def test_every_single_bit_flip_and_truncation_rejected():
    for kind in KINDS:
        blob = BLOBS[kind][0]
        for n in range(len(blob)):
            _rejected(blob[:n])
        mutable = bytearray(blob)
        for bit in range(8 * len(blob)):
            mutable[bit // 8] ^= 1 << (bit % 8)
            _rejected(bytes(mutable))
            mutable[bit // 8] ^= 1 << (bit % 8)


def test_lengths_that_do_not_fit_rejected():
    """Checksum-valid frames whose lengths or words disagree with the
    payload or the kind's geometry."""
    hll = BLOBS["hll"][0]  # words: precision, strategy; one array
    _rejected(_reframe(hll, 24, struct.pack("<q", 9)), match="valid sketch")  # precision 8 → 9
    _rejected(_reframe(hll, 32, struct.pack("<q", 7)), match="valid sketch")  # strategy code
    _rejected(_reframe(hll, 40, struct.pack("<Q", 255)), match="payload")  # array length
    _rejected(_reframe(hll, 16, struct.pack("<Q", 255)), match="frame says")  # payload length
    tdigest = BLOBS["tdigest"][0]  # one word, arrays means + weights
    n_means = struct.unpack_from("<Q", tdigest, 32)[0]
    uneven = struct.pack("<QQ", n_means - 8, struct.unpack_from("<Q", tdigest, 40)[0] + 8)
    _rejected(_reframe(tdigest, 32, uneven), match="unequal")
    for bad in (float("nan"), float("inf")):  # the compression word's float64 bits
        _rejected(_reframe(tdigest, 24, struct.pack("<d", bad)), match="compression")


def test_from_bytes_rejects_another_kind():
    with pytest.raises(CorruptBlobError, match="CountMinSketch"):
        HyperLogLog.from_bytes(BLOBS["cms"][0])
    with pytest.raises(CorruptBlobError, match="HyperLogLog"):
        CuckooFilter.from_bytes(BLOBS["hll"][0])


def test_cuckoo_eight_flips_never_load_with_false_negatives():
    """Eight bit flips in stored fingerprints of a 15,000-key filter:
    the blob must be refused, not loaded as a filter that answers
    absent for inserted keys (no-false-negative contract)."""
    keys = [f"key-{i}" for i in range(15000)]
    f = CuckooFilter(CuckooConfig(capacity=16384, fingerprint_bits=16, hash_strategy="xx"))
    f.insert_batch(keys)
    blob = bytearray(f.to_bytes())
    table_bits = (len(blob) - f.table.nbytes) * 8  # the table ends the blob
    rng = np.random.default_rng(8)
    slots = rng.choice(np.flatnonzero(f.table), 8, replace=False)
    for slot, bit in zip(slots, rng.integers(0, 16, 8)):
        pos = table_bits + int(slot) * 16 + int(bit)
        blob[pos // 8] ^= 1 << (pos % 8)
    _rejected(bytes(blob))

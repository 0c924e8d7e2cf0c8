"""Hash subsystem tests: scalar oracles, batch==scalar differential,
properties (fp != 0, alt-index self-inverse, distribution bounds).

The differential batch-vs-scalar gate is the reference repo's own
signature test pattern (xxhash/batch_test.go:14-203, hash_test.go:87-142)
and a named north-star gate. Fixture vectors per FIXTURES.md §3.
"""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from sketchlib.hashing import kernels, scalar

STRATEGIES = ("fnv", "crc32c", "xx")

# reference-derived hash inputs (FIXTURES.md §3)
HASH_INPUTS = [
    b"",
    b"a",
    b"ab",
    b"abc",
    b"abcd",
    b"abcde",
    b"abcdef",
    b"abcdefg",
    b"abcdefgh",
    b"abcdefghi",
    b"abcdefghij",
    b"hello",
    b"the quick brown fox jumps over the lazy dog",
    b"0123456789",
    b"!@#$%^&*()",
    "héllo wörld".encode(),
    b"\x00" * 5,
    bytes([255, 254, 253, 252, 251]),
    bytes([0xAA, 0x55] * 4),
    bytes(100),
    bytes(1000),
    bytes(10000),
    bytes(i % 256 for i in range(1024)),
]


# ------------------------------------------------------------- scalar oracles


def test_fnv1a64_known_vectors():
    # canonical FNV-1a 64 constants: empty -> offset basis; "a" -> known
    assert scalar.fnv1a64(b"") == 0xCBF29CE484222325
    assert scalar.fnv1a64(b"a") == 0xAF63DC4C8601EC8C
    assert scalar.fnv1a64(b"foobar") == 0x85944171F73967E8


def test_crc32c_known_vectors():
    # CRC-32/ISCSI check value for "123456789" is 0xE3069283
    assert scalar.crc32c(b"123456789") == 0xE3069283
    assert scalar.crc32c(b"") == 0


def test_crc32_differs_from_zlib_ieee():
    # Castagnoli, not IEEE — must NOT equal zlib.crc32
    assert scalar.crc32c(b"hello") != zlib.crc32(b"hello")


def test_xxvariant_is_not_canonical_xxh64():
    # the reference's simplified variant (xxhash_safe.go:4-37) deliberately
    # differs from canonical XXH64 once the input reaches the 4-lane
    # stripe size (>=32 bytes); below that the two algorithms coincide
    # at seed 0. Canonical XXH64("the quick brown fox jumps over the
    # lazy dog") = 0x0B242D361FDA71BC; the variant must differ.
    assert scalar.xxvariant64(b"the quick brown fox jumps over the lazy dog") != 0x0B242D361FDA71BC
    # and coincides below 32 bytes (documents why we still must NOT use
    # an xxhash library wholesale: long keys — urls, texts — diverge)
    assert scalar.xxvariant64(b"a") == 0xD24EC4F1A98C6E5B


def test_xxvariant_deterministic():
    a = scalar.xxvariant64(b"hello world")
    assert a == scalar.xxvariant64(b"hello world")
    assert a != scalar.xxvariant64(b"hello worle")


# ------------------------------------------------------- batch == scalar


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_batch_equals_scalar_fixture_vectors(strategy):
    got = kernels.hash64_batch(HASH_INPUTS, strategy)
    want = [scalar.hash64(v, strategy) for v in HASH_INPUTS]
    assert [int(x) for x in got] == want


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("size", list(range(1, 17)))
def test_batch_equals_scalar_all_sizes(strategy, size):
    # batch sizes 1-16 exhaustive (xxhash/batch_test.go:14-203)
    items = [f"item-{i}".encode() for i in range(size)]
    got = kernels.hash64_batch(items, strategy)
    want = [scalar.hash64(v, strategy) for v in items]
    assert [int(x) for x in got] == want


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_batch_equals_scalar_1024_stress(strategy):
    # 1024-item stress with lengths 1-100 (batch_test.go:143-203)
    rng = np.random.Generator(np.random.PCG64(7))
    items = [
        bytes(rng.integers(0, 256, int(rng.integers(1, 101)), dtype=np.uint8))
        for _ in range(1024)
    ]
    got = kernels.hash64_batch(items, strategy)
    want = [scalar.hash64(v, strategy) for v in items]
    assert [int(x) for x in got] == want


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("size", [10_000, 20_000])
def test_batch_equals_scalar_one_long_row(strategy, size):
    """A lone long value (routed to the scalar reference) and the same
    value through its chunk kernel both give the scalar hash."""
    from sketchlib.hashing.bytesview import padded_matrix

    rng = np.random.Generator(np.random.PCG64(size))
    item = bytes(rng.integers(0, 256, size, dtype=np.uint8))
    want = scalar.hash64(item, strategy)
    assert [int(x) for x in kernels.hash64_batch([item], strategy)] == [want]
    kernel, pad = kernels._CHUNK_KERNELS[strategy]
    lens = np.array([size])
    mat, _ = padded_matrix(lens, np.frombuffer(item, np.uint8), pad_to=pad)
    assert int(kernel(mat, lens)[0]) == want


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_batch_chunking_preserves_order(strategy):
    # force multiple internal chunks via a tiny max_cells
    items = [b"x" * (i % 50 + 1) for i in range(500)]
    got = kernels.hash64_batch(items, strategy, max_cells=256)
    want = [scalar.hash64(v, strategy) for v in items]
    assert [int(x) for x in got] == want


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("bits", [1, 4, 8, 12, 16])
def test_indices_batch_equals_scalar(strategy, bits):
    n = 1024  # power of 2 (required)
    items = [f"key-{i}".encode() for i in range(300)] + HASH_INPUTS
    i1, i2, fp = kernels.indices_batch(items, n, strategy, bits)
    for j, item in enumerate(items):
        s1, s2, sfp = scalar.get_indices(item, n, strategy, bits)
        assert (int(i1[j]), int(i2[j]), int(fp[j])) == (s1, s2, sfp), item


# ------------------------------------------------------------- properties


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("bits", [1, 2, 4, 8, 12, 16])
def test_fingerprint_never_zero(strategy, bits):
    # all-zero-ish hash sources must map fp 0 -> 1 (xxhash_test.go:84-137)
    h = np.array(
        [0, (1 << 64) - 1, 0xFFFFFFFFFFFFFF00, 1 << bits, 256, 16, 1, 2],
        dtype=np.uint64,
    )
    fp = kernels.fingerprint_batch(h, bits, strategy)
    assert (fp != 0).all()
    assert (fp < (1 << bits) + (1 if bits == 0 else 0) + (1 << bits)).all()
    # scalar twin
    for hv in [0, 1, 255, (1 << 64) - 1]:
        assert scalar.fingerprint(hv, bits) != 0


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("bits", [8, 16])
def test_alt_index_self_inverse(strategy, bits):
    # alt(alt(i, fp)) == i — the property the power-of-2 XOR trick gives
    # (xxhash/altindex_test.go:91-128, hash_test.go:71-75)
    n = 2048
    cases_i = np.array([0, 1, 100, 500, 1000, 2047], dtype=np.uint64)
    cases_fp = np.array([1, 1, 42, 128, 255, 17], dtype=np.uint16)
    i2 = kernels.alt_index_batch(cases_i, cases_fp, n, strategy, bits)
    i1_back = kernels.alt_index_batch(i2, cases_fp, n, strategy, bits)
    assert (i1_back == cases_i).all()
    # scalar twin agrees
    for i, fp in zip(cases_i, cases_fp):
        a = scalar.alt_index(int(i), int(fp), n, strategy, bits)
        b = scalar.alt_index(a, int(fp), n, strategy, bits)
        assert b == int(i)


def test_alt_index_xx_rule_golden():
    # the xx strategy's documented rule: (i ^ ((fp*0x5bd1e995)|1)) & (n-1)
    n = 2048
    for i, fp in [(0, 1), (100, 42), (2047, 17)]:
        expected = (i ^ ((fp * 0x5BD1E995) | 1)) % n
        got = kernels.alt_index_batch(
            np.array([i], np.uint64), np.array([fp], np.uint16), n, "xx", 8
        )
        assert int(got[0]) == expected


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_hash_distribution_bounds(strategy):
    # 10k 8-byte LE counter keys over 1024 buckets: <=5% empty buckets,
    # <=5% buckets >3x expected load (hash_test.go:144-219)
    n_items, n_buckets = 10_000, 1024
    items = [int(i).to_bytes(8, "little") for i in range(n_items)]
    h = kernels.hash64_batch(items, strategy)
    i1 = (h & np.uint64(n_buckets - 1)).astype(np.int64)
    counts = np.bincount(i1, minlength=n_buckets)
    expected = n_items / n_buckets
    assert (counts == 0).mean() <= 0.05
    assert (counts > 3 * expected).mean() <= 0.05


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_fp_independent_of_primary_index(strategy):
    # the documented divergence (scalar.fp_source): fp comes from the top
    # bits so the Fan et al. FPR bound holds. Check fp is not a function
    # of i1 over a large key set at small num_buckets.
    n = 256
    items = [f"k{i}".encode() for i in range(20000)]
    i1, _, fp = kernels.indices_batch(items, n, strategy, 16)
    # group by i1: if fp were determined by i1, each bucket would hold 1
    # distinct fp; expect many distinct fps per bucket instead
    distinct_per_bucket = [
        len(np.unique(fp[i1 == b])) for b in range(8)
    ]
    assert min(distinct_per_bucket) > 10


def test_null_and_str_inputs():
    # pandas/arrow string inputs and None hash like b"" (bytesview contract)
    import pandas as pd

    got = kernels.hash64_batch(pd.Series(["abc", None, ""]), "xx")
    assert int(got[1]) == scalar.hash64(b"", "xx")
    assert int(got[0]) == scalar.hash64(b"abc", "xx")
    assert int(got[2]) == scalar.hash64(b"", "xx")


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_batch_geometric_chunking_long_outliers(strategy):
    """One 10 kB outlier among thousands of short rows: the geometric
    width/2 chunk split must keep batch == scalar while the outlier
    gets its own narrow chunk (web text routinely has 10 kB
    minified-JS 'tokens'; pre-split, the outlier dragged every short
    row into its padded width — 20x the cells). Chunks of a few long
    rows go to the scalar reference."""
    rng = np.random.Generator(np.random.PCG64(11))
    items = [
        bytes(rng.integers(0, 256, int(rng.integers(1, 12)), dtype=np.uint8))
        for _ in range(2000)
    ]
    # outliers at several length scales, including ties at a power of 2
    for ln in (20_000, 10_000, 5_000, 4_096, 4_096, 300, 65, 64):
        items.insert(int(rng.integers(0, len(items))), bytes(rng.integers(0, 256, ln, dtype=np.uint8)))
    got = kernels.hash64_batch(items, strategy)
    want = [scalar.hash64(v, strategy) for v in items]
    assert [int(x) for x in got] == want

"""Vectorized numpy hash kernels — the engine's "SIMD".

Each kernel is the column-at-a-time re-expression of the reference's
batch hash processors (SURVEY.md §2.1 #16-22): where the reference
chunks a batch across goroutines and (mostly disabled) SIMD assembly,
we hash the whole Arrow batch as numpy vector ops. Rows are processed
in length-sorted order so the per-byte/per-word "active rows" set is a
prefix slice, not a mask.

Contract (tested differentially in tests/test_hash_batch_vs_scalar.py):
``indices_batch(items, n, strategy, bits)`` returns exactly the same
(i1, i2, fp) triples, in input order, as the scalar references in
``sketchlib.hashing.scalar`` — the reference repo's own batch==scalar
gate (e.g. /root/reference/internal/hash/xxhash/batch_test.go:14-203).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import scalar
from .bytesview import as_binary_array, padded_matrix, to_offsets

U64 = np.uint64
_MASKING = {"over": "ignore"}

_FNV_OFFSET = U64(scalar.FNV_OFFSET64)
_FNV_PRIME = U64(scalar.FNV_PRIME64)
_P1, _P2, _P3, _P4, _P5 = (U64(p) for p in (scalar.P1, scalar.P2, scalar.P3, scalar.P4, scalar.P5))

_CRC_TABLE = np.array(scalar._CRC32C_TABLE, dtype=np.uint32)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << U64(r)) | (x >> U64(64 - r))


def _active_counts(sorted_lens: np.ndarray, width: int) -> np.ndarray:
    """counts[j] = number of rows (len-descending order) with len > j."""
    n = len(sorted_lens)
    asc = np.sort(sorted_lens)
    return n - np.searchsorted(asc, np.arange(width), side="right")


# ---------------------------------------------------------------- FNV-1a


def _fnv1a64_chunk(mat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    n, width = mat.shape
    h = np.full(n, _FNV_OFFSET, U64)
    counts = _active_counts(lens, width)
    with np.errstate(**_MASKING):
        for j in range(width):
            a = counts[j]
            if a == 0:
                break
            h[:a] = (h[:a] ^ mat[:a, j].astype(U64)) * _FNV_PRIME
    return h


# ---------------------------------------------------------------- CRC32C


def _crc32c_chunk(mat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    n, width = mat.shape
    crc = np.full(n, 0xFFFFFFFF, np.uint32)
    counts = _active_counts(lens, width)
    for j in range(width):
        a = counts[j]
        if a == 0:
            break
        idx = (crc[:a] ^ mat[:a, j]) & np.uint32(0xFF)
        crc[:a] = _CRC_TABLE[idx] ^ (crc[:a] >> np.uint32(8))
    return (crc ^ np.uint32(0xFFFFFFFF)).astype(U64)


# ---------------------------------------------------------------- xx variant


def _xxvariant64_chunk(mat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Vectorized form of the simplified-XXH64 variant (xxhash_safe.go:4-37).

    8-byte LE words get the (P2, rot31, P1) mix + (rot27·P1+P4) fold;
    tail bytes get the (P5, rot11, P1) mix; then the standard avalanche.

    ``lens`` MUST be non-increasing (hash64_batch sorts). That makes
    every data-dependent step a PREFIX slice: the per-word active set,
    the equal-word-count groups (contiguous runs), and — within a
    group — the per-tail-byte active set (tail lengths are descending
    there too). No boolean masks, no fancy gathers.
    """
    n, width = mat.shape
    words = mat.view("<u8").reshape(n, width // 8)
    nwords = (lens // 8).astype(np.int64)  # non-increasing
    h = _P5 + lens.astype(U64)
    word_counts = n - np.searchsorted(np.sort(nwords), np.arange(words.shape[1]), side="right")
    scratch = np.empty(n, U64)
    tmp = np.empty(n, U64)
    with np.errstate(**_MASKING):
        for w in range(words.shape[1]):
            a = word_counts[w]
            if a == 0:
                break
            # fused k = rotl(word*P2, 31) * P1 using preallocated scratch
            # (every avoided temporary is a full pass of memory traffic —
            # this loop is bandwidth-bound when 32 workers run at once)
            k = scratch[:a]
            t = tmp[:a]
            np.multiply(words[:a, w], _P2, out=k)
            np.left_shift(k, U64(31), out=t)
            np.right_shift(k, U64(33), out=k)
            np.bitwise_or(k, t, out=k)
            np.multiply(k, _P1, out=k)
            hh = h[:a]
            np.bitwise_xor(hh, k, out=hh)
            # h = rotl(h, 27) * P1 + P4
            np.left_shift(hh, U64(27), out=t)
            np.right_shift(hh, U64(37), out=hh)
            np.bitwise_or(hh, t, out=hh)
            np.multiply(hh, _P1, out=hh)
            np.add(hh, _P4, out=hh)
        # tail: group rows by word count (contiguous runs); tail bytes of
        # a group live in columns nw*8 .. nw*8+7 of the padded matrix
        neg = -nwords
        group_vals = np.unique(neg)
        for gv in group_vals:
            a = int(np.searchsorted(neg, gv, side="left"))
            b = int(np.searchsorted(neg, gv, side="right"))
            nw = int(-gv)
            tl = lens[a:b] - nw * 8  # descending within the run
            max_t = int(tl[0]) if b > a else 0
            for t in range(max_t):
                c = int(np.searchsorted(-tl, -(t + 1), side="right"))
                if c == 0:
                    break
                sl = slice(a, a + c)
                byte = mat[sl, nw * 8 + t].astype(U64)
                h[sl] ^= byte * _P5
                h[sl] = _rotl(h[sl], 11) * _P1
        # avalanche, fused in place
        np.right_shift(h, U64(33), out=scratch)
        np.bitwise_xor(h, scratch, out=h)
        np.multiply(h, _P2, out=h)
        np.right_shift(h, U64(29), out=scratch)
        np.bitwise_xor(h, scratch, out=h)
        np.multiply(h, _P3, out=h)
        np.right_shift(h, U64(32), out=scratch)
        np.bitwise_xor(h, scratch, out=h)
    return h


_CHUNK_KERNELS = {
    "fnv": (_fnv1a64_chunk, 1),
    "crc32c": (_crc32c_chunk, 1),
    "xx": (_xxvariant64_chunk, 8),
}

# a chunk of rows wider than 64 bytes and fewer than this many rows is
# hashed row by row with the scalar reference instead of a kernel
_SCALAR_ROWS = 8


def hash64_batch(values, strategy: str, max_cells: int = 1 << 26) -> np.ndarray:
    """Hash a column of str/bytes → uint64 vector, in input order.

    Rows are length-sorted with an Arrow-side ``take`` (one C++ copy) so
    each chunk's bytes are a contiguous data-buffer slice — no Python
    gathers — and the per-byte/per-word active-row set inside a kernel
    is a prefix slice of the chunk matrix. A chunk of fewer than
    ``_SCALAR_ROWS`` rows wider than 64 bytes is hashed by the scalar
    reference instead.
    """
    kernel, pad = _CHUNK_KERNELS[strategy]
    arr = as_binary_array(values)
    n = len(arr)
    if n == 0:
        return np.empty(0, U64)
    lens0 = np.diff(
        np.frombuffer(arr.buffers()[1], np.int64)[arr.offset : arr.offset + n + 1]
    )
    # descending-length order; uint16 keys hit numpy's 2-pass radix sort
    # (~4x faster than int64) whenever the length range allows
    maxv = int(lens0.max()) if n else 0
    if maxv < (1 << 16):
        order = np.argsort((maxv - lens0).astype(np.uint16), kind="stable")
    else:
        order = np.argsort(-lens0, kind="stable")
    sorted_arr = arr.take(pa.array(order))
    lens, data = to_offsets(sorted_arr)
    starts = np.concatenate(([0], np.cumsum(lens)))
    out = np.empty(n, U64)
    pos = 0
    while pos < n:
        width = max(int(lens[pos]), 1)
        rows = min(max(int(max_cells // width), 1), n - pos)
        if width > 64:
            # geometric chunking: keep only rows ≥ width/2 in this
            # chunk, so padded cells ≤ 2× the chunk's real bytes. The
            # cell cap alone lets ONE long outlier (a 10 kB minified-JS
            # "token" is routine on web text) drag thousands of short
            # rows into its padded width — measured 102 ms → ~5 ms on a
            # 60k-token batch whose max length was 10 kB. Skipped for
            # short widths where padding waste is ≤ 64 B/row and the
            # split would degenerate to row-at-a-time chunks on ties.
            cut = int(np.searchsorted(-lens, -((width + 1) // 2), side="right"))
            rows = min(rows, max(cut - pos, 1))
            if rows < _SCALAR_ROWS:
                # a few long rows: a kernel loops over every 8-byte
                # word (xx) or byte (fnv, crc32c) with several numpy
                # calls each, so a lone 10 kB value costs 27 ms in the
                # xx kernel and 2.9 ms in the scalar reference
                for i in range(pos, pos + rows):
                    out[order[i]] = scalar.hash64(data[starts[i] : starts[i + 1]].tobytes(), strategy)
                pos += rows
                continue
        chunk_lens = lens[pos : pos + rows]
        flat = data[starts[pos] : starts[pos + rows]]
        mat, _ = padded_matrix(chunk_lens, flat, pad_to=pad)
        out[order[pos : pos + rows]] = kernel(mat, chunk_lens)
        pos += rows
    return out


# ---------------------------------------------------------------- derivations


def fingerprint_batch(h: np.ndarray, bits: int, strategy: str = "fnv") -> np.ndarray:
    """Fingerprint from the high hash bits, 0→1, as uint16.

    See scalar.fp_source for why the source bits are the TOP of the
    hash (deliberate divergence from the reference, restoring the
    Fan-et-al. FPR bound the north rule gates on).
    """
    src = h >> U64(16 if strategy == "crc32c" else 48)
    fp = (src & U64((1 << bits) - 1)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _fp_lo_hi(fp: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    f = fp.astype(U64)
    return f & U64(0xFF), f >> U64(8)


def alt_index_batch(
    index: np.ndarray, fp: np.ndarray, num_buckets: int, strategy: str, bits: int
) -> np.ndarray:
    """Vectorized self-inverse alternate index (SURVEY.md §2.1 #15)."""
    assert num_buckets & (num_buckets - 1) == 0, "num_buckets must be a power of 2"
    nmask = U64(num_buckets - 1)
    idx = index.astype(U64)
    with np.errstate(**_MASKING):
        if strategy == "xx":
            h = fp.astype(U64) * U64(0x5BD1E995)
            if num_buckets > 1:
                h |= U64(1)
            return (idx ^ h) & nmask
        lo, hi = _fp_lo_hi(fp)
        if strategy == "fnv":
            h = (_FNV_OFFSET ^ lo) * _FNV_PRIME
            if bits > 8:
                h = (h ^ hi) * _FNV_PRIME
            return (idx ^ h) & nmask
        if strategy == "crc32c":
            crc = np.full(len(fp), 0xFFFFFFFF, np.uint32)
            crc = _CRC_TABLE[(crc ^ lo.astype(np.uint32)) & np.uint32(0xFF)] ^ (
                crc >> np.uint32(8)
            )
            if bits > 8:
                crc = _CRC_TABLE[(crc ^ hi.astype(np.uint32)) & np.uint32(0xFF)] ^ (
                    crc >> np.uint32(8)
                )
            crc ^= np.uint32(0xFFFFFFFF)
            return (idx ^ crc.astype(U64)) & nmask
    raise ValueError(strategy)


def indices_batch(
    values, num_buckets: int, strategy: str, bits: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(i1, i2, fp) vectors for a column — the batch GetIndices.

    Identical, element for element, to the scalar path
    (scalar.get_indices) — the reference's batch==scalar contract.
    """
    return indices_from_hashes(hash64_batch(values, strategy), num_buckets, strategy, bits)


def indices_from_hashes(
    h: np.ndarray, num_buckets: int, strategy: str, bits: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(i1, i2, fp) of ``hash64_batch`` outputs: ``indices_batch`` after
    its hash step, for a caller that hashed the batch already."""
    fp = fingerprint_batch(h, bits, strategy)
    i1 = h & U64(num_buckets - 1)
    i2 = alt_index_batch(i1, fp, num_buckets, strategy, bits)
    return i1, i2, fp

"""webbuild's token fold, driver side: the tokenizer contract (Arrow's
splitters against ``str.split()``), the vocabulary path against the
per-slice Unicode-splitter path it replaced, invalid UTF-8, and the
once-per-partition hashing of the merged vocabulary.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings, strategies as st

from sketchlib.sketches import CountMinSketch, HyperLogLog
from sketchlib.spark import webbuild

WIDTH = 1 << 10
# whitespace the ASCII splitter does not cut at and the Unicode one does
NON_ASCII_SPLIT = [*range(0x1C, 0x20), 0x85, 0xA0, 0x1680, *range(0x2000, 0x200B)]
NON_ASCII_SPLIT += [0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
SPACES = [chr(c) for c in range(0x110000) if chr(c).isspace()]
LONG_TOKEN = "z" * 10_000


def _cms() -> CountMinSketch:
    return CountMinSketch(width=WIDTH, depth=4)


def _strings(data: bytes, lens: np.ndarray) -> pa.Array:
    """A string array over raw bytes (no UTF-8 validation)."""
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    return pa.Array.from_buffers(pa.string(), len(lens), [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def _batches(docs: list, cuts: tuple[int, ...] = ()) -> list[pa.RecordBatch]:
    texts = docs if isinstance(docs, pa.Array) else pa.array(docs, pa.string())
    urls = pa.array([f"u{i}" for i in range(len(texts))])
    bounds = [0, *sorted(min(c, len(texts)) for c in cuts), len(texts)]
    return [
        pa.RecordBatch.from_arrays([urls[a:b], texts[a:b]], ["url", "text"])
        for a, b in zip(bounds, bounds[1:])
    ]


def _fold(batches, sketch) -> object:
    webbuild._web_update(("cms",), ())({"cms": sketch}, iter(batches))
    return sketch


def _unicode_path_cms(batches, slice_docs: int) -> bytes:
    """The fold before the vocabulary path: every slice tokenized by
    Arrow's Unicode splitter, value-counted and hashed on its own."""
    cms = _cms()
    for rb in batches:
        texts = rb.column(1)
        for off in range(0, len(texts), slice_docs):
            flat = pc.list_flatten(pc.utf8_split_whitespace(texts.slice(off, slice_docs)))
            vc = flat.filter(pc.not_equal(flat, "")).value_counts()
            cms.update(vc.field("values"), weights=vc.field("counts").to_numpy(zero_copy_only=False))
    return cms.to_bytes()


def _split_cms(docs) -> bytes:
    counts = Counter(t for d in docs if d for t in d.split())
    cms = _cms()
    cms.update(list(counts), weights=np.array(list(counts.values()), np.int64))
    return cms.to_bytes()


def test_arrow_unicode_whitespace_is_str_isspace():
    """``utf8_split_whitespace`` cuts exactly at ``str.isspace()``, and
    ``ascii_split_whitespace`` at its ASCII part, over every
    non-surrogate code point — the premise of the vocabulary path."""
    cps = np.arange(0x110000, dtype=np.uint32)
    cps = cps[(cps < 0xD800) | (cps > 0xDFFF)]
    triples = np.stack([np.full_like(cps, ord("a")), cps, np.full_like(cps, ord("b"))], axis=1)
    data = triples.astype("<u4").tobytes().decode("utf-32-le").encode("utf-8")
    width = 1 + (cps >= 0x80) + (cps >= 0x800) + (cps >= 0x10000)
    arr = _strings(data, 2 + width)
    unicode = pc.list_value_length(pc.utf8_split_whitespace(arr)).to_numpy() == 2
    ascii_ = pc.list_value_length(pc.ascii_split_whitespace(arr)).to_numpy() == 2
    assert cps[unicode].tolist() == [ord(c) for c in SPACES]
    assert cps[ascii_].tolist() == [9, 10, 11, 12, 13, 32]
    assert cps[unicode & ~ascii_].tolist() == NON_ASCII_SPLIT


DOC_CHARS = SPACES + list("abé中ß\u200b")
DOCS = st.one_of(
    st.none(),
    st.just(""),
    st.text(alphabet=st.sampled_from(DOC_CHARS), max_size=40),
    st.just(f"x {LONG_TOKEN}\u3000y"),
)


@settings(max_examples=60, deadline=None)
@given(
    docs=st.lists(DOCS, max_size=30),
    cuts=st.lists(st.integers(0, 30), max_size=2),
    slice_docs=st.sampled_from([1, 2, 7, 2500]),
)
def test_vocabulary_fold_equals_str_split_and_unicode_path(docs, cuts, slice_docs):
    """Documents over every whitespace code point, 0x1C-0x1F, non-ASCII
    letters, empty strings, nulls and a 10 kB token: the fold's CMS is
    byte-identical to a ``Counter(str.split())`` build and to the
    per-slice Unicode-splitter path, for any batching and slicing."""
    batches = _batches(docs, tuple(cuts))
    saved = webbuild.TOKEN_SLICE
    webbuild.TOKEN_SLICE = slice_docs
    try:
        got = _fold(batches, _cms()).to_bytes()
    finally:
        webbuild.TOKEN_SLICE = saved
    assert got == _split_cms(docs)
    assert got == _unicode_path_cms(batches, slice_docs)


@pytest.mark.parametrize("slice_docs", [1, 2, 2500])
def test_invalid_utf8_slices_keep_the_unicode_path(monkeypatch, slice_docs):
    """The Unicode splitter stops splitting at a document's first
    invalid UTF-8 byte; the fold gives its exact answer on such slices
    and the vocabulary path's on the valid ones."""
    raw = [b"a b \xff c d", b"ok fine", b"\xc3 \xa9 x", b"tail\xe2\x80 y\xa0z", b"a\xc2\xa0b c"]
    assert pc.list_value_length(pc.utf8_split_whitespace(_strings(raw[0], np.array([len(raw[0])])))).to_pylist() == [2]
    texts = _strings(b"".join(raw), np.array([len(r) for r in raw]))
    batches = _batches(texts, (3,))
    monkeypatch.setattr(webbuild, "TOKEN_SLICE", slice_docs)
    assert _fold(batches, _cms()).to_bytes() == _unicode_path_cms(batches, slice_docs)


class _CountingCMS(CountMinSketch):
    """Records the row count of every update."""

    def __init__(self):
        super().__init__(width=WIDTH, depth=4)
        self.calls = []

    def update(self, values, weights=None):
        self.calls.append(len(values))
        super().update(values, weights)


def test_fold_hashes_the_partition_vocabulary_once(monkeypatch):
    """3 Arrow batches × 4 slices of a small vocabulary: the merged
    vocabulary is hashed once, and the state is the per-slice one."""
    rng = np.random.Generator(np.random.PCG64(5))
    vocab = [f"w{i}" for i in range(100)] + ["n\xa0b", "\x1cq"]
    docs = [" ".join(rng.choice(vocab, 400)) for _ in range(600)]
    batches = _batches(docs, (200, 400))
    monkeypatch.setattr(webbuild, "TOKEN_SLICE", 50)
    cms = _fold(batches, _CountingCMS())
    assert len(cms.calls) == 1 and cms.calls[0] <= 103
    assert cms.to_bytes() == _unicode_path_cms(batches, 50) == _split_cms(docs)


def test_fold_flushes_a_vocabulary_that_outgrows_a_slice(monkeypatch):
    """Every token distinct: each slice's vocabulary outweighs its text,
    so it is hashed as soon as it is counted instead of being held."""
    docs = [" ".join(f"t{i:05d}x{j}" for j in range(30)) for i in range(300)]
    batches = _batches(docs, (100, 200))
    monkeypatch.setattr(webbuild, "TOKEN_SLICE", 25)
    cms = _fold(batches, _CountingCMS())
    assert cms.calls == [25 * 30] * 12
    assert cms.to_bytes() == _unicode_path_cms(batches, 25)


def test_unweighted_token_sketch_gets_every_token(monkeypatch):
    """A token sketch without ``weights`` is updated with the slice's
    tokens, once per slice."""
    docs = ["a b\xa0c", None, "", "d\u3000a e"] * 5
    monkeypatch.setattr(webbuild, "TOKEN_SLICE", 3)
    seen = []

    class Tokens(HyperLogLog):
        def update(self, values):
            seen.append(values.to_pylist())
            super().update(values)

    step = webbuild._web_update(("cms", "hll"), ())
    step({"cms": _cms(), "hll": Tokens(10)}, iter(_batches(docs, (8,))))
    assert len(seen) == 7
    assert Counter(t for s in seen for t in s) == Counter(t for d in docs if d for t in d.split())


def test_weighted_update_errors_propagate():
    """A TypeError inside a weighted update is raised, not taken as a
    sketch without weights."""

    class Broken(CountMinSketch):
        def update(self, values, weights=None):
            if weights is not None:
                raise TypeError("broken weights")
            super().update(values)

    with pytest.raises(TypeError, match="broken weights"):
        _fold(_batches(["a b"]), Broken(width=WIDTH, depth=4))

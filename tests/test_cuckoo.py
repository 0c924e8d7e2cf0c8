"""CuckooFilter semantics tests — the reference's API/property suite
re-expressed (SURVEY.md §5): insert/lookup/delete/count/load/reset,
FPR <= published epsilon, load-factor >=0.95 before failure, relocation
recall, batch==sequential equivalence, merge, serde.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from sketchlib import CuckooConfig, CuckooFilter
from sketchlib.hashing import kernels, scalar

STRATEGIES = ("fnv", "crc32c", "xx")


def mk(capacity=1000, **kw) -> CuckooFilter:
    return CuckooFilter(CuckooConfig(capacity=capacity, **kw))


# ------------------------------------------------------------------ API


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_insert_lookup_roundtrip(strategy):
    f = mk(hash_strategy=strategy, fingerprint_bits=16)
    items = [f"item-{i}" for i in range(500)]
    ok = f.insert_batch(items)
    assert ok.all()
    assert f.count() == 500
    # no false negatives — the filter's core contract (filter.go:110-114)
    assert f.lookup_batch(items).all()


def test_empty_and_large_items():
    # empty item (filter_test.go:218-230), 1 KB item (:233-249), 10 KB
    f = mk(fingerprint_bits=16)
    items = [b"", b"x" * 1024, b"y" * 10240, "héllo wörld".encode()]
    assert f.insert_batch(items).all()
    assert f.lookup_batch(items).all()


def test_absent_lookup_mostly_false():
    f = mk(capacity=10000, fingerprint_bits=16)
    f.insert_batch([f"in-{i}" for i in range(1000)])
    absent = f.lookup_batch([f"out-{i}" for i in range(1000)])
    assert absent.mean() < 0.01  # 16-bit fp: eps = 2*4/65536 ~ 0.012%


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_delete_correctness(strategy):
    # delete exactly the deleted keys; others keep answering true
    f = mk(capacity=2000, hash_strategy=strategy, fingerprint_bits=16)
    keep = [f"keep-{i}" for i in range(500)]
    drop = [f"drop-{i}" for i in range(500)]
    assert f.insert_batch(keep + drop).all()
    assert f.delete_batch(drop).all()
    assert f.count() == 500
    assert f.lookup_batch(keep).all()
    # deleted keys may false-positive at eps but not systematically
    assert f.lookup_batch(drop).mean() < 0.01


def test_delete_one_occurrence_only():
    # duplicates stored separately; one delete removes one copy
    # (bucket.Remove zeroes first match only, bucket_simd_inline.go:55-63)
    f = mk(fingerprint_bits=16)
    f.insert_batch(["dup", "dup", "dup"])
    assert f.count() == 3
    assert f.delete("dup")
    assert f.count() == 2
    assert f.lookup("dup")
    assert f.delete("dup") and f.delete("dup")
    assert not f.lookup("dup")
    assert f.count() == 0


def test_delete_nonexistent_returns_false():
    f = mk(fingerprint_bits=16)
    f.insert_batch(["a", "b"])
    assert not f.delete("never-inserted-xyz")
    assert f.count() == 2


def test_reset():
    f = mk()
    f.insert_batch([f"i{i}" for i in range(100)])
    f.reset()
    assert f.count() == 0
    assert f.load_factor() == 0.0
    assert not f.lookup_batch([f"i{i}" for i in range(100)]).any()
    assert (f.table == 0).all()


def test_count_and_load_factor():
    f = mk(capacity=1000, bucket_size=4)
    f.insert_batch([f"i{i}" for i in range(300)])
    assert f.count() == 300
    assert f.load_factor() == pytest.approx(300 / f.capacity())
    assert f.capacity() == f.config.num_buckets * 4 >= 1000


def test_duplicate_fingerprints_in_one_batch():
    # batch insert of identical items must occupy distinct slots like a
    # sequential loop (SURVEY.md §7 hard bits: rank-within-bucket)
    f = mk(fingerprint_bits=16)
    ok = f.insert_batch(["same"] * 4)  # bucket_size=4: fits in i1+i2
    assert ok.all()
    assert f.count() == 4
    # all 4 copies stored: delete 4 times succeeds
    for _ in range(4):
        assert f.delete("same")
    assert not f.lookup("same")


def test_batch_matches_sequential_inserts():
    # one batch insert == N single inserts (same membership + count)
    items = [f"it-{i}" for i in range(400)]
    fb = mk(capacity=1000, fingerprint_bits=16, hash_strategy="xx")
    fs = mk(capacity=1000, fingerprint_bits=16, hash_strategy="xx")
    fb.insert_batch(items)
    for it in items:
        fs.insert(it)
    assert fb.count() == fs.count()
    probes = items + [f"abs-{i}" for i in range(200)]
    # membership answers agree on inserted items (both all-true)
    assert fb.lookup_batch(items).all() and fs.lookup_batch(items).all()


# ------------------------------------------------------------------ gates


def test_fpr_within_published_epsilon():
    # FPR harness (examples/custom_config/main.go:29-64): capacity 10k,
    # 8-bit fp, bucket 32 -> eps = 2*32/256 = 25%?? No: the reference
    # example uses eps ~ 1/2^8 with b=32... we gate on Fan et al.:
    # eps <= 2b/2^f for our default b=4: 8-bit -> 3.125%, 16-bit -> 0.012%.
    for bits, b in ((8, 4), (16, 4), (12, 8)):
        eps = 2 * b / (1 << bits)
        f = mk(capacity=10000, bucket_size=b, fingerprint_bits=bits, hash_strategy="xx")
        f.insert_batch([f"item-{i}" for i in range(5000)])
        probes = [f"item-{i}" for i in range(5000, 15000)]
        fpr = f.lookup_batch(probes).mean()
        assert fpr <= max(eps * 1.5, 3 / 10000), (bits, b, fpr, eps)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_load_factor_095_before_failure(strategy):
    # north-rule gate: b=4 geometry reaches >=0.95 load before the first
    # insert failure (Fan et al. §4; BASELINE.md)
    cfg = CuckooConfig(
        capacity=4096, bucket_size=4, fingerprint_bits=16, hash_strategy=strategy
    )
    f = CuckooFilter(cfg)
    cap = cfg.slot_capacity
    target = -(-cap * 95 // 100)  # ceil(0.95 * cap)
    ok = f.insert_batch([f"x-{i}" for i in range(target)])
    assert ok.all(), f"first failure at load {ok.argmin() / cap:.3f}"
    assert f.load_factor() >= 0.95
    assert f.insert_failures == 0


def test_relocation_recall_near_capacity():
    # capacity 50, insert 40 -> >=80% findable (filter_test.go:178-207)
    f = mk(capacity=50, fingerprint_bits=8)
    items = [f"r-{i}" for i in range(40)]
    f.insert_batch(items)
    assert f.lookup_batch(items).mean() >= 0.8


def test_silent_capacity_exhaustion():
    # over-filling fails silently: success=False per item, and failures
    # are counted explicitly (our addition; the reference only returns
    # false, filter.go:107)
    f = mk(capacity=64, bucket_size=4, fingerprint_bits=16)
    ok = f.insert_batch([f"o-{i}" for i in range(200)])
    assert not ok.all()
    assert f.count() == int(ok.sum())
    assert f.insert_failures == int((~ok).sum())
    # Reference-parity caveat: each FAILED kick chain drops the last
    # evicted fingerprint, which belonged to a previously-inserted item
    # (filter.go:73-108 has the same behavior — overflow can induce
    # false negatives for earlier items). Bound: <= one lost stored
    # fingerprint per failed insert.
    succ = [f"o-{i}" for i in np.nonzero(ok)[0]]
    found = f.lookup_batch(succ)
    lost = int((~found).sum())
    assert lost <= f.insert_failures


def test_no_false_negatives_below_capacity_is_absolute():
    # the flip side of the overflow caveat: with zero insert failures,
    # lookup of every inserted item is true — exact, not probabilistic
    f = mk(capacity=4096, bucket_size=4, fingerprint_bits=16)
    items = [f"n-{i}" for i in range(3800)]
    ok = f.insert_batch(items)
    assert ok.all() and f.insert_failures == 0
    assert f.lookup_batch(items).all()


def test_deterministic_build():
    # same config + same items -> byte-identical state (seeded RNG;
    # intentional divergence from the reference's entropy seeding)
    items = [f"d-{i}" for i in range(3000)]
    a = mk(capacity=3000, fingerprint_bits=16)
    b = mk(capacity=3000, fingerprint_bits=16)
    a.insert_batch(items)
    b.insert_batch(items)
    assert a.to_bytes() == b.to_bytes()


# ------------------------------------------------------------------ merge


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_merge_equals_single_build_membership(strategy):
    cfg = CuckooConfig(capacity=4000, fingerprint_bits=16, hash_strategy=strategy)
    items = [f"m-{i}" for i in range(2000)]
    whole = CuckooFilter(cfg)
    whole.insert_batch(items)
    parts = [CuckooFilter(cfg) for _ in range(4)]
    for j, p in enumerate(parts):
        p.insert_batch(items[j::4])
    merged = parts[0]
    for p in parts[1:]:
        merged.merge(p)
    assert merged.count() == whole.count() == 2000
    assert merged.lookup_batch(items).all()
    assert merged.insert_failures == 0


def test_batched_merge_equals_sequential_membership():
    """merge(*others) places every other filter's entries in one batch;
    the union holds the same items as one merge per filter, including
    past the kick loop (parts near the merged filter's load limit)."""
    cfg = CuckooConfig(capacity=2000, fingerprint_bits=16, hash_strategy="xx")
    items = [f"b-{i}" for i in range(1900)]

    def parts():
        out = [CuckooFilter(cfg) for _ in range(8)]
        for j, p in enumerate(out):
            p.insert_batch(items[j::8])
        return out

    seq = parts()
    for p in seq[1:]:
        seq[0].merge(p)
    batched = parts()
    batched[0].merge(*batched[1:])
    for f in (seq[0], batched[0]):
        assert f.count() == 1900 and f.insert_failures == 0
        assert f.lookup_batch(items).all()


def test_merge_associative_commutative():
    cfg = CuckooConfig(capacity=2000, fingerprint_bits=16, hash_strategy="xx")
    items = [f"a-{i}" for i in range(900)]

    def build(sl):
        f = CuckooFilter(cfg)
        f.insert_batch(sl)
        return f

    a, b, c = build(items[0::3]), build(items[1::3]), build(items[2::3])
    ab_c = build(items[0::3]).merge(build(items[1::3])).merge(build(items[2::3]))
    a_bc = build(items[1::3]).merge(build(items[2::3])).merge(build(items[0::3]))
    assert ab_c.count() == a_bc.count() == 900
    assert ab_c.lookup_batch(items).all()
    assert a_bc.lookup_batch(items).all()


def test_merge_geometry_mismatch():
    from sketchlib.errors import GeometryMismatchError

    a = mk(capacity=1000)
    b = mk(capacity=5000)
    with pytest.raises(GeometryMismatchError):
        a.merge(b)
    # a mismatch anywhere in a batched merge leaves the target untouched
    ok = mk(capacity=1000)
    ok.insert_batch([f"g-{i}" for i in range(100)])
    before = a.to_bytes()
    with pytest.raises(GeometryMismatchError):
        a.merge(ok, b)
    assert a.to_bytes() == before


# ------------------------------------------------------------------ serde


def test_serde_roundtrip():
    f = mk(capacity=1000, fingerprint_bits=16, hash_strategy="crc32c")
    items = [f"s-{i}" for i in range(700)]
    f.insert_batch(items)
    g = CuckooFilter.from_bytes(f.to_bytes())
    assert g.count() == f.count()
    assert g.config.geometry_key() == f.config.geometry_key()
    assert (g.table == f.table).all()
    assert g.lookup_batch(items).all()
    # deserialized filter keeps working
    g.insert("new-item")
    assert g.lookup("new-item")


def test_decoded_filter_kicks_as_its_writer():
    """The kick stream depends only on the filter's state, so a filter
    resumed from its blob (checkpoint, epoch fold, driver accumulator)
    lays out the same table as an uninterrupted build once kicks run."""
    f = mk(capacity=4096, fingerprint_bits=8, seed=7)
    f.insert_batch([f"k{i}" for i in range(3600)])
    g = CuckooFilter.from_bytes(f.to_bytes())
    more = [f"m{i}" for i in range(400)]
    f.insert_batch(more)
    g.insert_batch(more)
    assert f.insert_failures > 0  # the kick loop ran and ran out of room
    assert (g.num_items, g.insert_failures) == (f.num_items, f.insert_failures)
    assert (g.table == f.table).all()


def test_decoded_filter_counts_fill_only_when_written():
    """A decoded filter that is only probed never counts its per-bucket
    fill; its first write counts the writer's fill, deletes included,
    and its blob stays byte-identical to the writer's."""
    f = mk(capacity=2048, fingerprint_bits=12, seed=3)
    f.insert_batch([f"k{i}" for i in range(1500)])
    f.delete_batch([f"k{i}" for i in range(0, 1500, 7)])
    g = CuckooFilter.from_bytes(f.to_bytes())
    assert g.to_bytes() == f.to_bytes()
    assert g.lookup_batch([f"k{i}" for i in range(1, 1500, 7)]).all()
    assert "fill" not in vars(g)
    g.insert("new")
    f.insert("new")
    assert g.to_bytes() == f.to_bytes()
    assert (g.fill == f.fill).all()


def test_decoded_filter_deletes_then_inserts_as_its_writer():
    """A decoded filter's first write may be a delete: it counts fill
    from the table as it was before the delete, so the emptied slots
    are refilled and no kept fingerprint is overwritten."""
    keys = [f"k{i}" for i in range(1500)]
    f = mk(capacity=2048, fingerprint_bits=12, seed=3)
    f.insert_batch(keys)
    blob = f.to_bytes()
    # fast path (distinct buckets), then the slow path (one key twice)
    for gone in (keys[::5], ["k1", "k1", "k2"]):
        g = CuckooFilter.from_bytes(blob)
        w = CuckooFilter.from_bytes(blob)
        w.fill  # the writer counts fill before its delete
        assert (g.delete_batch(gone) == w.delete_batch(gone)).all()
        assert (g.fill == w.fill).all()
        assert (g.fill >= 0).all()
        again = [f"x{i}" for i in range(300)] + gone
        placed = g.insert_batch(again)
        assert placed.all()
        assert (placed == w.insert_batch(again)).all()
        assert g.to_bytes() == w.to_bytes()
        kept = sorted(set(keys) - set(gone))
        assert g.lookup_batch(kept + again).all()


def test_serde_rejects_garbage():
    from sketchlib.errors import CorruptBlobError

    with pytest.raises(CorruptBlobError):
        CuckooFilter.from_bytes(b"garbage-not-a-filter-blob----")


# ------------------------------------------------------------ hash once

# empty, null, non-ASCII and 10 kB values: one probe batch may hold all
PROBE_VALUES = st.lists(
    st.one_of(
        st.none(),
        st.just(""),
        st.text(max_size=12),
        st.builds(lambda c, n: c * n, st.sampled_from("aé€"), st.integers(10_000, 10_240)),
    ),
    max_size=40,
)


@pytest.mark.parametrize("bits", (8, 12, 16))
@pytest.mark.parametrize("strategy", STRATEGIES)
@settings(max_examples=25, deadline=None)
@given(values=PROBE_VALUES, inserted=st.integers(0, 40))
def test_contains_equals_contains_hashes(strategy, bits, values, inserted):
    """One lookup path: ``contains`` answers exactly what
    ``contains_hashes`` answers from the batch's ``hash64_batch``, and
    both match the scalar reference's (i1, i2, fp) looked up in the
    table. Nulls hash as the empty string. 200 fixed keys fill the
    table to ~0.8 load, so many entries live in their second bucket."""
    fill = [f"fill-{i}" for i in range(200)]
    f = mk(capacity=256, hash_strategy=strategy, fingerprint_bits=bits)
    f.insert_batch(fill + values[:inserted])
    probes = values + fill
    got = f.contains(probes)
    assert f.hash_strategy == strategy
    assert got.tolist() == f.contains_hashes(kernels.hash64_batch(probes, strategy)).tolist()
    want = []
    for v in probes:
        i1, i2, fp = scalar.get_indices((v or "").encode(), f.config.num_buckets, strategy, bits)
        want.append(bool(fp in f.table[i1] or fp in f.table[i2]))
    assert got.tolist() == want
    if not f.insert_failures:  # a failed kick chain may drop a stored item
        assert got[: min(inserted, len(values))].all() and got[len(values) :].all()


@pytest.mark.parametrize("bits", (8, 16))
@pytest.mark.parametrize("strategy", STRATEGIES)
def test_insert_hashes_equals_insert_batch(strategy, bits):
    """One insert path: ``insert_hashes(hash64_batch(x))`` leaves the
    table, counters and blob that ``insert_batch(x)`` leaves, over
    batches that fill the filter past its kick limit (so kicks and
    failures happen) and hold nulls, empty and 10 kB values."""
    keys = [f"k{i}" for i in range(330)] + [None, "", "é" * 10_000, "k7"]
    by_items = mk(capacity=256, hash_strategy=strategy, fingerprint_bits=bits)
    by_hashes = mk(capacity=256, hash_strategy=strategy, fingerprint_bits=bits)
    for lo in range(0, len(keys), 97):
        batch = keys[lo : lo + 97]
        want = by_items.insert_batch(batch)
        got = by_hashes.insert_hashes(kernels.hash64_batch(batch, strategy))
        assert got.tolist() == want.tolist()
    assert by_items.insert_failures > 0
    assert (by_hashes.table == by_items.table).all()
    assert (by_hashes.fill == by_items.fill).all()
    assert by_hashes.to_bytes() == by_items.to_bytes()

"""Mergeable-sketch tests: published error bounds + merge
associativity/commutativity properties + serde (SURVEY.md §2.3 table;
north-rule gate "merge associativity").
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from sketchlib import CuckooConfig, CuckooFilter
from sketchlib.hashing import kernels, scalar
from sketchlib.sketches import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    KMVSketch,
    TDigest,
)
from sketchlib.serde import loads


def keys(n, prefix="k"):
    return [f"{prefix}-{i}" for i in range(n)]


# ------------------------------------------------------------------ bloom


def test_bloom_no_false_negatives_and_fpr():
    f = BloomFilter(capacity=10000, fp_rate=0.01)
    ins = keys(10000, "in")
    f.update(ins)
    assert f.contains(ins).all()
    fpr = f.contains(keys(20000, "out")).mean()
    # eps = (1-e^{-kn/m})^k at design point ~0.01; allow 2x slack
    assert fpr <= 0.02, fpr
    assert abs(f.expected_fpr() - 0.01) < 0.01


def test_bloom_merge_is_union():
    a = BloomFilter(capacity=5000, fp_rate=0.01)
    b = BloomFilter(capacity=5000, fp_rate=0.01)
    a.update(keys(1000, "a"))
    b.update(keys(1000, "b"))
    a.merge(b)
    assert a.contains(keys(1000, "a")).all()
    assert a.contains(keys(1000, "b")).all()


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


@pytest.mark.parametrize("strategy", ("fnv", "crc32c", "xx"))
@settings(max_examples=25, deadline=None)
@given(values=PROBE_VALUES, inserted=st.integers(0, 40))
def test_bloom_contains_equals_contains_hashes(strategy, values, inserted):
    """One lookup path: Bloom ``contains`` answers exactly what
    ``contains_hashes`` answers from the batch's ``hash64_batch``, and
    both match the k double-hashed bits of the scalar reference hash.
    Nulls hash as the empty string. 20 fixed keys set ~40% of the bits,
    so an absent probe often finds some of its bits set, not all."""
    f = BloomFilter(capacity=64, hash_strategy=strategy, num_bits=128, num_hashes=3)
    f.update([f"fill-{i}" for i in range(20)] + values[:inserted])
    probes = values + [f"probe-{i}" for i in range(40)]
    got = f.contains(probes)
    assert got.tolist() == f.contains_hashes(kernels.hash64_batch(probes, strategy)).tolist()
    want = []
    for v in probes:
        h = scalar.hash64((v or "").encode(), strategy)
        lo, hi = h & 0xFFFFFFFF, h >> 32
        pos = [(lo + k * hi) % (1 << 64) % f.num_bits for k in range(f.num_hashes)]
        want.append(all(f.bits[p >> 3] >> (p & 7) & 1 for p in pos))
    assert got.tolist() == want
    assert got[: min(inserted, len(values))].all()  # no false negatives


# ------------------------------------------------------------------ hll


def test_hll_error_bound():
    for n in (100, 10_000, 200_000):
        h = HyperLogLog(precision=14)
        h.update(keys(n))
        rel = abs(h.estimate() - n) / n
        assert rel <= 3 * h.std_error(), (n, rel)


def test_hll_duplicates_dont_count():
    h = HyperLogLog(precision=12)
    h.update(keys(1000) * 5)
    rel = abs(h.estimate() - 1000) / 1000
    assert rel <= 3 * h.std_error()


def test_hll_small_range_linear_counting():
    h = HyperLogLog(precision=14)
    h.update(keys(10))
    assert abs(h.estimate() - 10) < 2


# ------------------------------------------------------------------ cms


def test_cms_one_sided_and_bound():
    ev = []
    true = {}
    rng = np.random.Generator(np.random.PCG64(3))
    for i in range(50):
        c = int(rng.integers(1, 500))
        true[f"t-{i}"] = c
        ev.extend([f"t-{i}"] * c)
    rng.shuffle(ev)
    s = CountMinSketch(width=2048, depth=5)
    s.update(ev)
    est = s.estimate(list(true))
    exact = np.array([true[k] for k in true])
    assert (est >= exact).all()  # never undercounts
    assert (est - exact <= s.error_bound()).all()


def test_cms_weighted_update():
    s = CountMinSketch(width=1024, depth=4)
    s.update(["a", "b"], weights=[10, 5])
    assert s.estimate(["a"])[0] >= 10
    assert s.total == 15


def test_cms_giant_int_weights_exact_and_range_checked():
    s = CountMinSketch(width=64, depth=3)
    s.update(["a"], weights=np.array([2**60 + 3], dtype=np.uint64))
    assert int(s.estimate(["a"])[0]) >= 2**60 + 3  # exact, not float-truncated
    assert s.total == 2**60 + 3
    # weights beyond the int64 counts dtype must refuse loudly, never
    # wrap negative (which would undercount — one-sided-error contract)
    import pytest

    with pytest.raises(ValueError, match="int64"):
        CountMinSketch(width=64, depth=3).update(
            ["x"], weights=np.array([2**63], dtype=np.uint64)
        )


# ------------------------------------------------------------------ kll / tdigest


def quantile_rank_err(sketch, data, qs):
    # tie-aware: an estimate equal to a repeated value spans the rank
    # interval [rank_left, rank_right]; error is distance from q to that
    # interval (zero when q falls inside it)
    data = np.sort(data)
    errs = []
    for q in qs:
        est = float(np.atleast_1d(sketch.quantile(q))[0])
        lo = np.searchsorted(data, est, side="left") / len(data)
        hi = np.searchsorted(data, est, side="right") / len(data)
        errs.append(max(lo - q, q - hi, 0.0))
    return max(errs)


@pytest.mark.parametrize("dist", ["uniform", "lognormal", "constant"])
def test_kll_rank_error(dist):
    rng = np.random.Generator(np.random.PCG64(5))
    n = 100_000
    data = {
        "uniform": rng.uniform(0, 1, n),
        "lognormal": rng.lognormal(5, 1, n),
        "constant": np.full(n, 3.0),
    }[dist]
    k = KLLSketch(k=200)
    for chunk in np.array_split(data, 10):
        k.update(chunk)
    assert k.n == n
    assert quantile_rank_err(k, data, [0.01, 0.1, 0.5, 0.9, 0.99]) <= 0.03


def test_tdigest_rank_error_and_tails():
    rng = np.random.Generator(np.random.PCG64(6))
    data = rng.lognormal(5, 1, 100_000)
    t = TDigest(100.0)
    for chunk in np.array_split(data, 10):
        t.update(chunk)
    assert quantile_rank_err(t, data, [0.5]) <= 0.02
    # tail accuracy is the t-digest selling point
    assert quantile_rank_err(t, data, [0.001, 0.999]) <= 0.005


@pytest.mark.parametrize("compression", (float("nan"), float("inf"), float("-inf"), 19.9))
def test_tdigest_rejects_nonfinite_or_small_compression(compression):
    # NaN slipped past a plain ``< 20`` and inf never flushed its buffer
    with pytest.raises(ValueError, match="compression"):
        TDigest(compression)


def test_kll_nan_filtered():
    k = KLLSketch()
    k.update([1.0, float("nan"), 2.0])
    assert k.n == 2


def test_kll_coins_decorrelated_on_clamped_data():
    """Length-capped page sizes with empty pages give every large
    sorted buffer buf[0]=0 and buf[-1]=cap; a boundary-only coin digest
    collapses to one shared parity sequence across uniform-sized
    partitions (the exact ~P coherent-error correlation the data-mixed
    coin exists to break), and an XOR whole-buffer digest cancels the
    duplicate values clamped data is made of. The wrap-around SUM of
    bit patterns is linear in element counts, so partitions with the
    same boundaries but different zero/cap mixes must draw different
    parity sequences."""
    cap = 100.0
    seqs = []
    for part in range(8):
        # deterministic mix: partition p holds (1000 + 250p) zeros and
        # the rest cap — same n, same boundaries, different interiors
        n_zero = 1000 + 250 * part
        data = np.concatenate([np.zeros(n_zero), np.full(4000 - n_zero, cap)])
        # interleave so every update chunk spans both values (keeps
        # buf[0]=0, buf[-1]=cap in every compaction buffer)
        rng_free_order = np.empty_like(data)
        rng_free_order[0::2] = data[: 2000]
        rng_free_order[1::2] = data[2000:]

        sk = KLLSketch(128)
        seq = []
        orig = sk._coin

        def spy(h, buf, _orig=orig, _seq=seq):
            c = _orig(h, buf)
            _seq.append(c)
            return c

        sk._coin = spy
        for chunk in np.split(rng_free_order, 40):
            sk.update(chunk)
        seqs.append(seq)

    k = min(len(s) for s in seqs)
    assert k > 10  # compactions actually happened
    prefixes = {tuple(s[:k]) for s in seqs}
    assert len(prefixes) >= 6, (
        "clamped-data partitions share parity sequences: boundary-collapse "
        f"regression ({len(prefixes)} distinct of 8)"
    )


# ------------------------------------------------- merge properties (all)


def _factories():
    return {
        "bloom": lambda: BloomFilter(capacity=20000, fp_rate=0.01),
        "cms": lambda: CountMinSketch(width=1024, depth=4),
        "hll": lambda: HyperLogLog(precision=12),
        "kll": lambda: KLLSketch(k=200),
        "tdigest": lambda: TDigest(100.0),
        "kmv": lambda: KMVSketch(k=256),
        # every field of a non-default config must survive serde: a
        # merge into a reloaded filter kicks with its own seed
        "cuckoo": lambda: CuckooFilter(
            CuckooConfig(capacity=4096, bucket_size=8, fingerprint_bits=12, max_kicks=77,
                         hash_strategy="crc32c", batch_size=1024, seed=7)
        ),
    }


def _data(kind, n=6000):
    if kind in ("kll", "tdigest"):
        rng = np.random.Generator(np.random.PCG64(9))
        return rng.lognormal(3, 1, n)
    return keys(n)


def _estimate(sk, kind, probe):
    if kind == "bloom":
        return sk.contains(probe).tolist()
    if kind == "cms":
        return sk.estimate(probe).tolist()
    if kind == "hll":
        return round(sk.estimate(), 6)
    return np.round(np.atleast_1d(sk.quantile([0.1, 0.5, 0.9])), 9).tolist()


def _three_way_parts(kind, fac, data, rng):
    assign = rng.integers(0, 3, len(data))
    parts = []
    for j in range(3):
        sk = fac()
        sel = (
            [d for d, a in zip(data, assign) if a == j]
            if kind in ("bloom", "cms")
            else np.asarray(data)[assign == j]
        )
        sk.update(sel)
        parts.append(sk.to_bytes())
    return parts


@pytest.mark.parametrize("kind", ["bloom", "cms", "hll"])
def test_merge_associative_commutative_exact(kind):
    """Bitwise-state sketches: every merge order gives identical
    estimates — (a+b)+c == (b+c)+a == (c+a)+b."""
    fac = _factories()[kind]
    data = _data(kind)
    probe = data[:50] if kind in ("bloom", "cms") else None
    rng = np.random.Generator(np.random.PCG64(11))
    for trial in range(3):
        parts = _three_way_parts(kind, fac, data, rng)

        def run(order):
            sks = [loads(parts[i]) for i in order]
            m = sks[0].merge(sks[1]).merge(sks[2])
            return _estimate(m, kind, probe)

        r1, r2, r3 = run([0, 1, 2]), run([1, 2, 0]), run([2, 0, 1])
        assert r1 == r2 == r3, (kind, trial)


@pytest.mark.parametrize("kind", ["kll", "tdigest"])
def test_merge_order_within_error_bound(kind):
    """Randomized quantile sketches are associative in the error-bound
    sense (KLL compaction is randomized, so merge orders are not
    bit-identical): every merge order's quantiles stay within rank-eps
    of the exact data."""
    fac = _factories()[kind]
    data = _data(kind)
    rng = np.random.Generator(np.random.PCG64(11))
    for trial in range(3):
        parts = _three_way_parts(kind, fac, data, rng)
        for order in ([0, 1, 2], [1, 2, 0], [2, 0, 1]):
            sks = [loads(parts[i]) for i in order]
            m = sks[0].merge(sks[1]).merge(sks[2])
            assert quantile_rank_err(m, data, [0.1, 0.5, 0.9]) <= 0.03, (
                kind,
                trial,
                order,
            )


@pytest.mark.parametrize("kind", ["bloom", "cms", "hll"])
def test_merged_equals_single_build_exact_state(kind):
    # bitwise-state sketches: merge of splits == single build, exactly
    fac = _factories()[kind]
    data = _data(kind)
    whole = fac()
    whole.update(data)
    a, b = fac(), fac()
    a.update(data[0::2])
    b.update(data[1::2])
    a.merge(b)
    assert a.to_bytes() == whole.to_bytes()


@pytest.mark.parametrize("kind", ["bloom", "cms", "hll", "kll", "tdigest", "kmv", "cuckoo"])
def test_sketch_serde_roundtrip(kind):
    fac = _factories()[kind]
    sk = fac()
    sk.update(_data(kind, 2000))
    blob = sk.to_bytes()
    back = loads(blob)
    assert type(back) is type(sk)
    assert back.to_bytes() == blob
    (words, arrays), (back_words, back_arrays) = sk.state(), back.state()
    assert back_words == words
    assert len(back_arrays) == len(arrays)
    for a, b in zip(arrays, back_arrays):
        assert b.dtype == a.dtype and b.shape == a.shape and (b == a).all()
    assert getattr(back, "config", None) == getattr(sk, "config", None)


@pytest.mark.parametrize("kind", ["bloom", "cms", "hll", "kll", "tdigest", "kmv"])
def test_reloaded_sketch_updates_like_original(kind):
    """A reloaded sketch carries all the state its next update reads:
    KLL's compaction coins (seed, n, buffer contents) and the t-digest
    buffer, which to_bytes flushes on both sides."""
    data = _data(kind, 9000)
    sk = _factories()[kind]()
    sk.update(data[:1500])  # below the t-digest flush threshold
    back = loads(sk.to_bytes())
    for chunk in (data[1500:4000], data[4000:]):
        sk.update(chunk)
        back.update(chunk)
    assert back.to_bytes() == sk.to_bytes()


@pytest.mark.parametrize("kind", ["bloom", "cms", "hll", "kll", "tdigest"])
def test_merge_geometry_mismatch_raises(kind):
    mism = {
        "bloom": lambda: BloomFilter(capacity=999, fp_rate=0.1),
        "cms": lambda: CountMinSketch(width=512, depth=4),
        "hll": lambda: HyperLogLog(precision=10),
        "kll": lambda: KLLSketch(k=100),
        "tdigest": lambda: TDigest(50.0),
    }[kind]
    with pytest.raises(ValueError):
        _factories()[kind]().merge(mism())

"""Round-3 regression tests: Manku SimHash blocking, dedup_exact_hash
single-shuffle shape, CMS int64 headroom, connected-components
wrap-proof fixpoint."""

import numpy as np
import pytest
from pyspark.sql import functions as F


# ----------------------------------------------------------- simhash (Manku)


def test_simhash_manku_equals_bruteforce(spark):
    """The multi-block combination join must find EXACTLY the pairs a
    brute-force Hamming scan finds — pigeonholing is lossless for
    d ≤ max_hamming (Manku et al. 2007): with 6 blocks and ≤3 flipped
    bits, ≥3 blocks are untouched, so some block-triple key matches."""
    from sketchlib.spark.dedup import simhash_near_dup_pairs, simhash_udf

    texts = [
        (i, f"alpha beta gamma delta epsilon zeta token{i % 17} word{i % 5}")
        for i in range(120)
    ]
    # exact copies → Hamming 0; near copies via small edits
    texts += [(1000 + i, texts[i][1]) for i in range(0, 40, 3)]
    df = spark.createDataFrame(texts, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup_pairs(df, max_hamming=3).collect()
    }
    sigs = df.select("doc_id", simhash_udf()(F.col("text")).alias("s")).collect()
    want = set()
    for i, a in enumerate(sigs):
        for b in sigs[i + 1 :]:
            h = bin((a.s ^ b.s) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                lo, hi = sorted((a.doc_id, b.doc_id))
                want.add((lo, hi, h))
    assert got == want
    assert len(want) > 0  # non-vacuous: injected copies exist


def test_simhash_blocking_sign_straddling_signatures(spark):
    """Signatures with bit 63 set are NEGATIVE int64 in Spark; block
    extraction must be sign-safe (bitwiseAND mask, not %, whose Spark
    semantics follow the dividend's sign). Regression for a confirmed
    silent false negative: a Hamming-3 pair straddling the sign bit
    returned zero candidates."""
    from sketchlib.spark.dedup import simhash_candidate_pairs

    as_i64 = lambda u: u - (1 << 64) if u >= (1 << 63) else u  # noqa: E731
    sig_a = as_i64((1 << 63) | (1 << 20) | 5)  # negative int64
    sig_b = as_i64((1 << 40) | 5)  # positive; Hamming(a,b) = 3
    rows = [(1, sig_a), (2, sig_b), (3, as_i64((1 << 62) | 7))]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_candidate_pairs(df, max_hamming=3).collect()
    }
    assert (1, 2, 3) in got
    # brute-force equality over the crafted set
    want = set()
    for i, (ia, sa) in enumerate(rows):
        for ib, sb in rows[i + 1 :]:
            h = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                want.add((ia, ib, h))
    assert got == want


def test_simhash_blocking_param_validation(spark):
    from sketchlib.spark.dedup import simhash_near_dup_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_near_dup_pairs(df, max_hamming=5, n_blocks=4)


# ------------------------------------------------------- dedup_exact_hash


def test_dedup_exact_hash_no_text_joinback(spark):
    """The 100 TB shape: one digest-keyed shuffle, ids out, and the
    physical plan must contain NO join (the round-2 version joined the
    winners back to the corpus — a second data-scale text shuffle)."""
    from sketchlib.spark.dedup import dedup_exact, dedup_exact_hash

    rows = [(i, f"text {i % 37}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup_exact_hash(df)
    assert set(got.columns) == {"doc_id", "text_digest"}
    ids = {r.doc_id for r in got.collect()}
    exact = {r.doc_id for r in dedup_exact(df).collect()}
    assert ids == exact
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # AQE repeats the plan under "== Initial Plan =="; count the final only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1  # exactly the digest shuffle


# ----------------------------------------------------------------- sampling


def test_hash_sample_plan_determinism_nesting(spark):
    """Bottom-k-by-md5 sample: TakeOrderedAndProject plan (per-partition
    heap, no global sort), identical output under any repartitioning,
    and k=20 is a prefix of k=50 (nested samples)."""
    from sketchlib.spark.sampling import hash_sample

    df = spark.range(5000).select(F.col("id").alias("doc_id"), F.lit("x").alias("text"))
    s1 = hash_sample(df, 50)
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    r1 = [r.doc_id for r in s1.collect()]
    r2 = [r.doc_id for r in hash_sample(df.repartition(7), 50).collect()]
    assert r1 == r2
    r3 = [r.doc_id for r in hash_sample(df, 20).collect()]
    assert r1[:20] == r3


def test_stratified_hash_sample_exact_k_per_group(spark):
    from sketchlib.spark.sampling import stratified_hash_sample

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "doc_id long, source string"
    )
    out = stratified_hash_sample(df, 7, "source")
    counts = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    assert counts == {"s0": 7, "s1": 7, "s2": 7}


# ------------------------------------------------------------------- KMV


def test_kmv_rejects_degenerate_k():
    from sketchlib.sketches import KMVSketch

    with pytest.raises(ValueError):
        KMVSketch(k=2)  # std_error() would divide by zero


def test_kmv_estimate_unsaturated_exact_and_saturated_bound():
    from sketchlib.sketches import KMVSketch

    s = KMVSketch(k=256)
    s.update([f"v{i}" for i in range(100)])
    assert s.estimate() == 100.0  # below k: exact
    s.update([f"v{i}" for i in range(20000)])
    assert abs(s.estimate() - 20000) <= 4 * s.std_error() * 20000


def test_kmv_merge_associative_commutative_idempotent():
    from sketchlib.sketches import KMVSketch

    def mk(lo, hi):
        s = KMVSketch(k=128)
        s.update([f"v{i}" for i in range(lo, hi)])
        return s

    ab_c = mk(0, 500).merge(mk(250, 750)).merge(mk(500, 1000))
    a_bc = mk(0, 500).merge(mk(250, 750).merge(mk(500, 1000)))
    assert np.array_equal(ab_c.values, a_bc.values)
    ba = mk(250, 750).merge(mk(0, 500))
    ab = mk(0, 500).merge(mk(250, 750))
    assert np.array_equal(ab.values, ba.values)
    twice = mk(0, 500).merge(mk(0, 500))  # idempotent: same value set
    assert np.array_equal(twice.values, mk(0, 500).values)


def test_kmv_serde_roundtrip_via_kind_registry():
    from sketchlib.serde import loads
    from sketchlib.sketches import KMVSketch

    s = KMVSketch(k=64)
    s.update([f"v{i}" for i in range(1000)])
    r = loads(s.to_bytes())
    assert isinstance(r, KMVSketch)
    assert np.array_equal(r.values, s.values) and r.k == s.k


def test_kmv_set_ops_beats_inclusion_exclusion_regime():
    """Small overlap of large sets — the regime where HLL inclusion-
    exclusion drowns (error additive in |union|) and KMV's
    multiplicative O(1/sqrt k) Jaccard survives."""
    from sketchlib.sketches import KMVSketch
    from sketchlib.sketches.kmv import kmv_set_ops

    a, b = KMVSketch(k=2048), KMVSketch(k=2048)
    a.update([f"a{i}" for i in range(50000)] + [f"c{i}" for i in range(2500)])
    b.update([f"b{i}" for i in range(50000)] + [f"c{i}" for i in range(2500)])
    union_est, inter_est, j = kmv_set_ops(a, b)
    exact_union, exact_inter = 102500, 2500
    assert abs(union_est - exact_union) <= 4 * a.std_error() * exact_union
    # intersection: multiplicative-ish via jaccard, gate vs union scale
    assert abs(inter_est - exact_inter) <= 4 * a.std_error() * exact_union
    assert abs(j - exact_inter / exact_union) <= 4 * a.std_error()
    # operands untouched by the set-op computation
    assert abs(a.estimate() - 52500) <= 4 * a.std_error() * 52500


# ------------------------------------------------------------- hll set ops


def test_hll_set_ops_estimates_within_bound():
    from sketchlib.sketches import HyperLogLog
    from sketchlib.sketches.hll import estimate_set_ops

    a, b = HyperLogLog(14), HyperLogLog(14)
    a.update([f"k{i}" for i in range(20000)])
    b.update([f"k{i}" for i in range(10000, 30000)])
    sig = 3 * a.std_error()
    u, inter = estimate_set_ops(a, b)
    assert abs(u - 30000) <= sig * 30000 + 1
    assert abs(inter - 10000) <= sig * (20000 + 20000 + 30000) + 1
    # inputs must be untouched (copy-merge)
    assert abs(a.estimate() - 20000) <= sig * 20000 + 1
    assert abs(b.estimate() - 20000) <= sig * 20000 + 1


# ---------------------------------------------------------------------- CMS


def test_cms_abs_total_overflow_raises():
    """Accumulated |weights| crossing int64 must raise, not wrap a bin
    into undercounting (one-sided-error contract)."""
    from sketchlib.sketches import CountMinSketch

    s = CountMinSketch(width=8, depth=2)
    big = np.array([2**61], dtype=np.int64)
    s.update(["x"], weights=big)
    s.update(["y"], weights=big)
    s.update(["z"], weights=big)  # 3·2^61 < int64 max: fine
    with pytest.raises(OverflowError):
        s.update(["w"], weights=big)  # 2^63 would exceed it


def test_cms_abs_total_merge_guard_and_serde_roundtrip():
    from sketchlib.sketches import CountMinSketch

    a = CountMinSketch(width=8, depth=2)
    a.update(["x"], weights=np.array([2**61], dtype=np.int64))
    blob = a.to_bytes()
    b = CountMinSketch.from_bytes(blob)
    assert b._abs_total == a._abs_total
    c = CountMinSketch.from_bytes(blob)
    b.merge(c)
    b.merge(CountMinSketch.from_bytes(blob))
    with pytest.raises(OverflowError):
        b.merge(CountMinSketch.from_bytes(blob))


# ------------------------------------------------------ connected components


def test_connected_components_changed_count_fixpoint(spark):
    """Chain + clique + singletons still converge to min-label
    components under the wrap-proof changed-row-count fixpoint."""
    from sketchlib.spark.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    verts = spark.createDataFrame(
        [(v,) for v in [1, 2, 3, 4, 10, 11, 12, 99]], "doc_id long"
    )
    comp = {r.doc_id: r.component for r in connected_components(pairs, verts).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}

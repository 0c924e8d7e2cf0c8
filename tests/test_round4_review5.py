"""Round-4 fifth pass: adaptive merge depth.

The blob merges (merge.tree_merge, merge.merge_sketches) skip
their executor level when the blob frame has ≤ direct_partitions
partitions: at bench scale (65 blob rows) the level-1 RDD
route+partitionBy+fold pair costs ~1.1-1.7 s of pure task/python-
shuffle overhead vs a 0.6 s collect-fold, while its memory bound only
matters at 10^5+ scan partitions. These tests pin (a) both paths give
byte-identical merges, (b) the direct path never launches the RDD
level, (c) the tree path still engages past the threshold.
"""

from __future__ import annotations


def _hll_cms_factories():
    from sketchlib.sketches import CountMinSketch, HyperLogLog

    return {
        "hll": lambda: HyperLogLog(12),
        "cms": lambda: CountMinSketch(width=1 << 12, depth=4),
    }


def test_tree_merge_direct_equals_tree(spark):
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark import build_sketches, tree_merge

    urls = spark.createDataFrame(
        [(f"https://e{i}.com",) for i in range(3000)], "key string"
    ).repartition(16)
    sk = build_sketches(urls, "key", lambda: HyperLogLog(12)).persist()
    try:
        direct = tree_merge(sk)  # 16 ≤ default threshold → direct
        tree = tree_merge(sk, fanout=4, direct_partitions=0)
        assert direct.to_bytes() == tree.to_bytes()
    finally:
        sk.unpersist()


def test_tree_merge_direct_skips_executor_level(spark, monkeypatch):
    """≤ threshold: fold_groups_rdd must not run at all."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark import build_sketches, tree_merge
    from sketchlib.spark import merge as merge_mod

    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("executor level ran below direct_partitions")

    monkeypatch.setattr(merge_mod, "fold_groups_rdd", boom)
    urls = spark.createDataFrame(
        [(f"https://d{i}.com",) for i in range(500)], "key string"
    ).repartition(8)
    merged = tree_merge(build_sketches(urls, "key", lambda: HyperLogLog(12)))
    assert abs(merged.estimate() - 500) / 500 < 0.2


def test_tree_merge_tree_engages_past_threshold(spark, monkeypatch):
    """> threshold: the executor level must run (spied via wrapper)."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark import build_sketches, tree_merge
    from sketchlib.spark import merge as merge_mod

    calls = []
    real = merge_mod.fold_groups_rdd

    def spy(rdd, k, fold):
        calls.append(k)
        return real(rdd, k, fold)

    monkeypatch.setattr(merge_mod, "fold_groups_rdd", spy)
    urls = spark.createDataFrame(
        [(f"https://t{i}.com",) for i in range(400)], "key string"
    ).repartition(8)
    merged = tree_merge(
        build_sketches(urls, "key", lambda: HyperLogLog(12)),
        fanout=4,
        direct_partitions=7,
    )
    assert calls == [4]
    assert abs(merged.estimate() - 400) / 400 < 0.2


def test_merge_web_sketches_direct_equals_tree(spark, docs_df):
    from sketchlib.spark.merge import merge_sketches
    from sketchlib.spark.webbuild import build_web_sketches

    partials = build_web_sketches(docs_df.repartition(8), _hll_cms_factories()).persist()
    try:
        direct = merge_sketches(partials)  # 8 ≤ threshold → direct
        tree = merge_sketches(partials, fanout=3, direct_partitions=0)
        assert set(direct) == set(tree) == {"hll", "cms"}
        for name in direct:
            assert direct[name].to_bytes() == tree[name].to_bytes()
    finally:
        partials.unpersist()


def test_merge_web_sketches_direct_skips_executor_level(spark, docs_df, monkeypatch):
    from sketchlib.spark import merge as merge_mod
    from sketchlib.spark import webbuild
    from sketchlib.spark.merge import merge_sketches
    from sketchlib.spark.webbuild import build_web_sketches

    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("executor level ran below direct_partitions")

    # merge_sketches looks fold_groups_rdd up in .merge at call time
    monkeypatch.setattr(merge_mod, "fold_groups_rdd", boom)
    assert webbuild  # module present; import-at-call means merge_mod patch suffices
    partials = build_web_sketches(docs_df.repartition(4), _hll_cms_factories())
    merged = merge_sketches(partials)
    assert set(merged) == {"hll", "cms"}


def test_tree_merge_direct_empty_frame(spark):
    """Empty blob frame → None on the direct path too."""
    from sketchlib.spark.build import SKETCH_SCHEMA
    from sketchlib.spark.merge import tree_merge

    empty = spark.createDataFrame([], SKETCH_SCHEMA)
    assert tree_merge(empty) is None


def test_tree_merge_direct_lineage_total_failures(spark):
    """The direct fold must absorb per-part insert_failures exactly the
    way the executor fold does (lineage-total accounting contract)."""
    from sketchlib import CuckooFilter
    from sketchlib.config import CuckooConfig
    from sketchlib.spark import build_sketches, tree_merge

    cfg = CuckooConfig(capacity=64, bucket_size=4, fingerprint_bits=16)
    # 9 copies of one key: only 2×4 storable, 1+ insert failure total
    rows = [("dup",)] * 9
    df = spark.createDataFrame(rows, "key string").repartition(2)
    sk_df = build_sketches(df, "key", lambda: CuckooFilter(cfg)).persist()
    try:
        direct = tree_merge(sk_df)
        tree = tree_merge(sk_df, direct_partitions=0)
        assert direct.insert_failures == tree.insert_failures
        assert direct.count() + direct.insert_failures == 9
    finally:
        sk_df.unpersist()


def test_tree_merge_direct_order_sensitive_sketches_valid(spark):
    """KLL/t-digest merges are associative in DISTRIBUTION, not in
    bytes — grouping order changes buffers, so direct-vs-tree byte
    equality (pinned above for HLL/CMS) does NOT apply to them. Pin
    instead what both paths must satisfy: the merged quantile estimate
    lands within the sketch's rank-error bound of the exact value, on
    the same frame, via BOTH depths."""
    import numpy as np

    from sketchlib.sketches import KLLSketch, TDigest
    from sketchlib.spark import build_sketches, tree_merge

    n = 20_000
    vals = spark.createDataFrame(
        [(float(i),) for i in range(n)], "v double"
    ).repartition(8)
    for factory in (lambda: KLLSketch(200), lambda: TDigest(100)):
        sk_df = build_sketches(vals, "v", factory, numeric=True).persist()
        try:
            for sk in (tree_merge(sk_df), tree_merge(sk_df, fanout=3, direct_partitions=0)):
                q = sk.quantile(0.5)
                med = float(np.asarray(q).reshape(-1)[0])
                # exact median of 0..n-1 is (n-1)/2; 2% rank tolerance
                assert abs(med - (n - 1) / 2) <= 0.02 * n, (type(sk).__name__, med)
        finally:
            sk_df.unpersist()

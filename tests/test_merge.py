"""merge.py: the adaptive two-level merge of state rows.

One gate (``merge._direct_merge``) picks the depth: a frame with ≤
``direct_partitions`` partitions whose state fits in ``DIRECT_BYTES``
is collected and folded on the driver; past it the executor level
(``tree_merge_df``, ``fold_groups_rdd``) streams the rows through ≤
``FANOUT`` groups. The byte half reads one partition's state size from
the metadata that ``build.fold_partitions`` stamps on the ``state``
field. These tests pin:

* both depths give the same merged sketches (byte-identical for HLL,
  CMS and cuckoo; within the rank bound for KLL/t-digest);
* the direct path never launches the executor level, and the executor
  level runs past the gate with ≤ FANOUT groups;
* the executor folds stream one blob at a time;
* the stamped size survives what a caller does to a frame, and every
  gated caller (``tree_merge``, ``merge_sketches``,
  ``cms_heavy_hitters``, and ``build_web_pipeline`` in
  test_spark_build.py) routes by it.
"""

from __future__ import annotations

import pytest

from sketchlib.sketches import CountMinSketch, HyperLogLog, KLLSketch
from sketchlib.spark import merge as merge_mod
from sketchlib.spark.build import STATE_BYTES, build_sketches, state_bytes_hint
from sketchlib.spark.merge import merge_sketches, tree_merge, tree_merge_df
from sketchlib.spark.webbuild import build_web_sketches


def _hll_cms_factories():
    return {
        "hll": lambda: HyperLogLog(12),
        "cms": lambda: CountMinSketch(width=1 << 12, depth=4),
    }


def _keys(spark, prefix: str, n: int, parts: int):
    rows = [(f"https://{prefix}{i}.com",) for i in range(n)]
    return spark.createDataFrame(rows, "key string").repartition(parts)


def _stamped(frame) -> int | None:
    return frame.schema["state"].metadata.get(STATE_BYTES)


@pytest.fixture
def direct_calls(monkeypatch):
    """Counts the direct path's collects (``merge._direct_collect``)."""
    calls = []
    real = merge_mod._direct_collect

    def spy(frame):
        calls.append(frame)
        return real(frame)

    monkeypatch.setattr(merge_mod, "_direct_collect", spy)
    return calls


@pytest.fixture
def executor_groups(monkeypatch):
    """The group count of each executor-level run (``fold_groups_rdd``)."""
    groups = []
    real = merge_mod.fold_groups_rdd

    def spy(rdd, fold):
        out = real(rdd, fold)
        groups.append(out.getNumPartitions())
        return out

    monkeypatch.setattr(merge_mod, "fold_groups_rdd", spy)
    return groups


# ------------------------------------------------ direct vs executor level


def test_tree_merge_direct_equals_tree(spark, monkeypatch):
    sk = build_sketches(_keys(spark, "e", 3000, 16), "key", lambda: HyperLogLog(12)).persist()
    try:
        direct = tree_merge(sk)  # 16 ≤ default threshold → direct
        monkeypatch.setattr(merge_mod, "FANOUT", 4)
        tree = tree_merge(sk, direct_partitions=0)
        assert direct.to_bytes() == tree.to_bytes()
    finally:
        sk.unpersist()


def test_tree_merge_direct_skips_executor_level(spark, executor_groups):
    """≤ threshold: fold_groups_rdd must not run at all."""
    merged = tree_merge(build_sketches(_keys(spark, "d", 500, 8), "key", lambda: HyperLogLog(12)))
    assert executor_groups == []
    assert abs(merged.estimate() - 500) / 500 < 0.2


def test_tree_merge_tree_engages_past_threshold(spark, monkeypatch, executor_groups):
    """> threshold: the executor level runs, with FANOUT groups."""
    monkeypatch.setattr(merge_mod, "FANOUT", 4)
    merged = tree_merge(
        build_sketches(_keys(spark, "t", 400, 8), "key", lambda: HyperLogLog(12)),
        direct_partitions=7,
    )
    assert executor_groups == [4]
    assert abs(merged.estimate() - 400) / 400 < 0.2


def test_tree_merge_df_fanout(spark, docs_df, monkeypatch):
    monkeypatch.setattr(merge_mod, "FANOUT", 4)
    urls = docs_df.selectExpr("url AS key").repartition(8)
    level1 = tree_merge_df(build_sketches(urls, "key", lambda: HyperLogLog(12)))
    rows = level1.collect()
    assert 0 < len(rows) <= 4
    assert sum(r.n_rows for r in rows) == 1000


def test_merge_web_sketches_direct_equals_tree(spark, docs_df, monkeypatch):
    partials = build_web_sketches(docs_df.repartition(8), _hll_cms_factories()).persist()
    try:
        direct = merge_sketches(partials)  # 8 ≤ threshold → direct
        monkeypatch.setattr(merge_mod, "FANOUT", 3)
        tree = merge_sketches(partials, direct_partitions=0)
        assert set(direct) == set(tree) == {"hll", "cms"}
        for name in direct:
            assert direct[name].to_bytes() == tree[name].to_bytes()
    finally:
        partials.unpersist()


def test_merge_web_sketches_direct_skips_executor_level(spark, docs_df, executor_groups):
    partials = build_web_sketches(docs_df.repartition(4), _hll_cms_factories())
    merged = merge_sketches(partials)
    assert executor_groups == []
    assert set(merged) == {"hll", "cms"}


def test_merge_web_sketches_bounded_fanout(spark, docs_df, monkeypatch):
    """The executor level with a tiny FANOUT gives the same merged
    sketches as a driver-side fold of every partial — the old
    groupBy('sketch') shape funneled ALL P partition blobs of a name
    into ONE fully materialized pandas group (~TBs at 100 TB / 128 MB
    partitions)."""
    from sketchlib.serde import loads

    partials = build_web_sketches(docs_df.repartition(16), _hll_cms_factories()).persist()
    try:
        monkeypatch.setattr(merge_mod, "FANOUT", 3)
        merged = merge_sketches(partials, direct_partitions=0)
        oracle = {}
        for r in partials.collect():
            sk = loads(r.state)
            if r.sketch in oracle:
                oracle[r.sketch].merge(sk)
            else:
                oracle[r.sketch] = sk
        assert set(merged) == {"hll", "cms"}
        # HLL register-max and CMS counter-add are order-independent,
        # so bytes must match exactly regardless of fold grouping
        assert merged["hll"].to_bytes() == oracle["hll"].to_bytes()
        assert merged["cms"].to_bytes() == oracle["cms"].to_bytes()
    finally:
        partials.unpersist()


def test_tree_merge_direct_empty_frame(spark):
    """Empty blob frame → None on the direct path too."""
    from sketchlib.spark.build import SKETCH_SCHEMA

    assert tree_merge(spark.createDataFrame([], SKETCH_SCHEMA)) is None


def test_tree_merge_direct_lineage_total_failures(spark):
    """The direct fold must absorb per-part insert_failures exactly the
    way the executor fold does (lineage-total accounting contract)."""
    from sketchlib import CuckooFilter
    from sketchlib.config import CuckooConfig

    cfg = CuckooConfig(capacity=64, bucket_size=4, fingerprint_bits=16)
    # 9 copies of one key: only 2×4 storable, 1+ insert failure total
    df = spark.createDataFrame([("dup",)] * 9, "key string").repartition(2)
    sk_df = build_sketches(df, "key", lambda: CuckooFilter(cfg)).persist()
    try:
        direct = tree_merge(sk_df)
        tree = tree_merge(sk_df, direct_partitions=0)
        assert direct.insert_failures == tree.insert_failures
        assert direct.count() + direct.insert_failures == 9
    finally:
        sk_df.unpersist()


def test_tree_merge_direct_order_sensitive_sketches_valid(spark, monkeypatch):
    """KLL/t-digest merges are associative in DISTRIBUTION, not in
    bytes — grouping order changes buffers, so direct-vs-tree byte
    equality does NOT apply to them. Pin instead what both depths must
    satisfy on the same frame: the merged median lands within 2% rank
    of the exact value."""
    import numpy as np

    from sketchlib.sketches import TDigest

    monkeypatch.setattr(merge_mod, "FANOUT", 3)
    n = 20_000
    vals = spark.createDataFrame([(float(i),) for i in range(n)], "v double").repartition(8)
    for factory in (lambda: KLLSketch(200), lambda: TDigest(100)):
        sk_df = build_sketches(vals, "v", factory, numeric=True).persist()
        try:
            for sk in (tree_merge(sk_df), tree_merge(sk_df, direct_partitions=0)):
                med = float(np.asarray(sk.quantile(0.5)).reshape(-1)[0])
                # exact median of 0..n-1 is (n-1)/2
                assert abs(med - (n - 1) / 2) <= 0.02 * n, (type(sk).__name__, med)
        finally:
            sk_df.unpersist()


# ------------------------------------------------ streaming blob folds


class _Blob:
    """Blob stand-in whose liveness is observable via weakref (bytes
    itself refuses weak references). The folds only ever call
    ``bytes(blob)``, so ``__bytes__`` is the whole contract."""

    def __init__(self, payload: bytes):
        self.payload = payload

    def __bytes__(self) -> bytes:
        return self.payload


def _liveness_rows(name: str, n_rows_total: int, n_items: int, alive: list):
    """``(name, part, n_items, blob)`` rows of HLL(10) blobs that ASSERT
    streaming: before handing out blob i+1, at most ONE earlier blob may
    still be referenced (the fold's current loop variable). An eager
    fold that materializes the group (e.g. a reverted ``rows =
    list(rows)``, a pandas frame, or a multi-row arrow batch) keeps
    every wrapper alive and trips the assert on the second pull —
    CPython refcounting frees the dropped ones immediately (no cycles),
    so no gc is needed."""
    import weakref

    for i in range(n_rows_total):
        n_alive = sum(1 for w in alive if w() is not None)
        assert n_alive <= 1, (
            f"{n_alive} prior blobs alive before pull {i} — the fold "
            "materializes its group instead of streaming per-row"
        )
        sk = HyperLogLog(10)
        sk.update([f"u{i}-{j}" for j in range(n_items)])
        b = _Blob(sk.to_bytes())
        alive.append(weakref.ref(b))
        yield (name, i, n_items, b)


def test_tree_merge_streams_one_blob_at_a_time(spark, monkeypatch):
    """The executor level of tree_merge/tree_merge_df hands blobs to
    the fold ONE AT A TIME (RDD iterator), never as a materialized
    multi-blob batch: groupBy().applyInPandas builds the whole merge
    group as one pandas frame and mapInArrow materializes 10k-row
    arrow batches — both are tens-of-GB per task at MB-scale CMS
    states and 100 TB / 128 MB scan-partition counts."""
    from sketchlib.spark.merge import fold_states

    alive = []
    out = fold_states(_liveness_rows("key", 64, 10, alive))
    assert list(out) == ["key"]
    assert out["key"][2] == 640  # n_rows summed
    assert len(alive) == 64  # generator fully consumed

    # end-to-end: direct_partitions=0 forces the executor level, where
    # the streaming property lives (≤ threshold skips it entirely)
    monkeypatch.setattr(merge_mod, "FANOUT", 4)
    merged = tree_merge(
        build_sketches(_keys(spark, "e", 2000, 16), "key", lambda: HyperLogLog(12)),
        direct_partitions=0,
    )
    assert abs(merged.estimate() - 2000) / 2000 < 0.1


def test_merge_web_sketches_fold_is_per_row(spark, docs_df, monkeypatch):
    """merge_sketches' executor fold streams its rows per-ROW, and the
    merged bytes still match a driver-side fold for order-independent
    sketches."""
    from sketchlib.serde import loads
    from sketchlib.spark.merge import fold_states

    alive = []
    out = fold_states(_liveness_rows("hll", 8, 5, alive))
    assert list(out) == ["hll"] and out["hll"][2] == 40
    assert len(alive) == 8

    partials = build_web_sketches(docs_df.repartition(8), {"hll": lambda: HyperLogLog(12)}).persist()
    try:
        monkeypatch.setattr(merge_mod, "FANOUT", 3)
        merged = merge_sketches(partials, direct_partitions=0)
        oracle = None
        for r in partials.collect():
            sk = loads(r.state)
            oracle = sk if oracle is None else oracle.merge(sk)
        assert merged["hll"].to_bytes() == oracle.to_bytes()
    finally:
        partials.unpersist()


# ------------------------------------------------ the byte gate


def test_tree_merge_byte_gate_forces_executor_fold(spark, monkeypatch, direct_calls):
    """Wide per-partition states route to the bounded executor fold
    even at LOW partition counts: the partition gate alone turns a 2 MB
    CMS at the threshold into a ~0.5 GB silent driver pull."""
    df = spark.createDataFrame([(f"k{i}",) for i in range(2000)], "key string").repartition(4)
    fac = lambda: CountMinSketch(width=1 << 12, depth=4)  # noqa: E731
    hint = state_bytes_hint(fac)
    assert hint >= (1 << 12) * 4 * 4  # config-sized, not empty-tiny

    # byte cap below p × state: executor fold despite p=4 ≤ 256
    monkeypatch.setattr(merge_mod, "DIRECT_BYTES", 2 * hint)
    sk_fold = tree_merge(build_sketches(df, "key", fac))
    assert direct_calls == []
    # roomy cap: the direct path
    monkeypatch.setattr(merge_mod, "DIRECT_BYTES", 4 * hint)
    sk_direct = tree_merge(build_sketches(df, "key", fac))
    assert len(direct_calls) == 1
    # CMS merge is order-insensitive: both paths byte-identical
    assert sk_fold.to_bytes() == sk_direct.to_bytes()


def test_merge_web_sketches_byte_gate(spark, monkeypatch, direct_calls):
    docs = spark.createDataFrame(
        [(f"https://h/{i}", f"tok{i} body text") for i in range(500)],
        "url string, text string",
    ).repartition(4)
    factories = _hll_cms_factories()
    hint = state_bytes_hint(*factories.values())

    monkeypatch.setattr(merge_mod, "DIRECT_BYTES", 2 * hint)
    forced = merge_sketches(build_web_sketches(docs, factories, size_sketches=()))
    assert direct_calls == []
    monkeypatch.setattr(merge_mod, "DIRECT_BYTES", 4 * hint)
    direct = merge_sketches(build_web_sketches(docs, factories, size_sketches=()))
    assert len(direct_calls) == 1
    assert forced["hll"].to_bytes() == direct["hll"].to_bytes()
    assert forced["cms"].to_bytes() == direct["cms"].to_bytes()


def test_hintless_tree_merge_takes_executor_fold_past_direct_bytes(
    spark, monkeypatch, direct_calls, executor_groups
):
    """A caller that passes nothing but the built frame still gets the
    byte gate: p × one partition's CMS state > DIRECT_BYTES routes
    ``tree_merge(build_sketches(...))`` to the executor fold."""
    cms_fac = lambda: CountMinSketch(width=1 << 12, depth=4)  # noqa: E731
    df = spark.createDataFrame([(f"k{i}",) for i in range(1000)], "key string").repartition(4)
    monkeypatch.setattr(merge_mod, "DIRECT_BYTES", 4 * state_bytes_hint(cms_fac) - 1)
    merged = tree_merge(build_sketches(df, "key", cms_fac))
    assert direct_calls == [] and executor_groups == [4]
    assert merged.total == 1000


def test_state_bytes_survives_what_callers_do_to_a_frame(spark, tmp_path):
    """The stamped size survives select, selectExpr, repartition,
    persist and a parquet round-trip; a union keeps its first child's."""
    fac = lambda: CountMinSketch(width=1 << 10, depth=4)  # noqa: E731
    hint = state_bytes_hint(fac)
    built = build_sketches(_keys(spark, "s", 100, 2), "key", fac)
    assert _stamped(built) == hint
    assert _stamped(built.select("sketch", "state")) == hint
    assert _stamped(built.selectExpr("state", "n_rows")) == hint
    assert _stamped(built.repartition(3)) == hint
    cached = built.persist()
    try:
        assert _stamped(cached) == hint
        path = str(tmp_path / "states")
        cached.write.parquet(path)
        assert _stamped(spark.read.parquet(path)) == hint
    finally:
        cached.unpersist()
    other = build_sketches(_keys(spark, "u", 10, 1), "key", lambda: HyperLogLog(10))
    assert _stamped(built.union(other)) == hint
    assert _stamped(other.union(built)) == state_bytes_hint(lambda: HyperLogLog(10))


def test_state_bytes_hint_builds_each_distinct_factory_once():
    built = []

    def fac():
        built.append(1)
        return HyperLogLog(10)

    assert state_bytes_hint(fac, fac, fac) == 3 * len(HyperLogLog(10).to_bytes())
    assert len(built) == 1


def test_hinted_call_sites_gate_on_the_same_size(spark, docs_df):
    """Every caller that passed ``state_bytes=`` by hand gets the same
    size from its frame — the sum of one empty instance per factory —
    so the gate takes the same branch it took with the hand-passed
    hint: the flagship query's and the job's fused builds, the job's
    checkpointed per-sketch builds, and the single pass (fixed sketches
    plus one empty filter per shard)."""
    from sketchlib import CuckooConfig, CuckooFilter
    from sketchlib.sketches import BloomFilter
    from sketchlib.spark.shard import shard_factory
    from sketchlib.spark.webbuild import _single_pass

    def by_hand(*facs):
        return sum(len(f().to_bytes()) for f in facs)

    cfg = CuckooConfig(capacity=2048, fingerprint_bits=16, hash_strategy="xx")
    query = {
        "cuckoo": lambda: CuckooFilter(cfg),
        "bloom": lambda: BloomFilter(capacity=1000, fp_rate=0.001),
        "hll": lambda: HyperLogLog(precision=14),
        "cms": lambda: CountMinSketch(width=1 << 14, depth=4),
        "kll": lambda: KLLSketch(200),
    }
    job = {
        "hll": lambda: HyperLogLog(14),
        "cms": lambda: CountMinSketch(width=1 << 16, depth=4),
        "kll": lambda: KLLSketch(200),
    }
    assert _stamped(build_web_sketches(docs_df, query, url_col="text")) == by_hand(*query.values())
    assert _stamped(build_web_sketches(docs_df, job)) == by_hand(*job.values())
    for fac in job.values():
        assert _stamped(build_sketches(docs_df, "url", fac)) == by_hand(fac)
    shard_fac = shard_factory(16, cfg)
    single = _single_pass(docs_df, job, 16, shard_fac)
    assert _stamped(single) == by_hand(*job.values()) + 16 * by_hand(shard_fac)


def test_cms_heavy_hitters_routes_by_the_gate(spark, monkeypatch, direct_calls, executor_groups):
    """The heavy-hitter partials carry the CMS state size: a byte cap
    below partitions × state sends them to the executor fold, a roomy
    one to the direct collect, with the same answer."""
    from sketchlib.spark.udfs import cms_heavy_hitters

    rows = [(f"hot{i % 3}",) for i in range(600)] + [(f"cold{i}",) for i in range(400)]
    df = spark.createDataFrame(rows, "key string").repartition(4)
    cms = state_bytes_hint(lambda: CountMinSketch(width=1 << 10, depth=4))

    monkeypatch.setattr(merge_mod, "DIRECT_BYTES", 4 * cms - 1)
    folded = cms_heavy_hitters(df, "key", k=3, width=1 << 10)
    assert direct_calls == [] and executor_groups == [4]
    monkeypatch.setattr(merge_mod, "DIRECT_BYTES", 4 * cms)
    direct = cms_heavy_hitters(df, "key", k=3, width=1 << 10)
    assert len(direct_calls) == 1 and executor_groups == [4]
    assert folded == direct
    assert [k for k, _ in direct] == ["hot0", "hot1", "hot2"]

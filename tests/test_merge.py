"""merge.py: the adaptive two-level merge of state rows.

One gate (``merge._direct_merge``) picks the depth: a frame with ≤
``direct_partitions`` partitions whose state fits in ``DIRECT_BYTES``
is collected and folded on the driver; past it the executor level
(``tree_merge_df`` over ``fold_groups``) routes the rows to ≤
``FANOUT`` groups in the JVM and streams each group through one
``mapInArrow`` fold. The byte half reads one partition's state size
from the metadata that ``build.fold_partitions`` stamps on the
``state`` field. These tests pin:

* both depths give the same merged sketches (byte-identical for HLL,
  CMS and cuckoo; within the rank bound for KLL/t-digest);
* the direct path never launches the executor level, and the executor
  level runs past the gate with ≤ FANOUT groups;
* every executor merge (``tree_merge_df``, ``merge_keyed``,
  ``cms_heavy_hitters``) is one JVM exchange and one Arrow fold, with
  no RDD scan, and survives task retries of the stage that feeds it;
* the executor folds pull one row at a time out of each Arrow batch;
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
    """The group count of each executor-level run (``fold_groups``)."""
    groups = []
    real = merge_mod.fold_groups

    def spy(df, fold, schema):
        out = real(df, fold, schema)
        groups.append(out.rdd.getNumPartitions())
        return out

    monkeypatch.setattr(merge_mod, "fold_groups", spy)
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
    """≤ threshold: fold_groups must not run at all."""
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


def _one_at_a_time(rows, alive: list):
    """Pass ``(…, blob)`` rows through, ASSERTING streaming: before
    handing out row i+1, at most ONE earlier blob may still be
    referenced (the fold's current loop variable). A fold or row source
    that materializes the group (e.g. a reverted ``rows = list(rows)``,
    a pandas frame, or ``to_pylist`` of an Arrow batch) keeps every
    blob alive and trips the assert on the second pull — CPython
    refcounting frees the dropped ones immediately (no cycles), so no
    gc is needed."""
    import weakref

    for i, row in enumerate(rows):
        n_alive = sum(1 for w in alive if w() is not None)
        assert n_alive <= 1, (
            f"{n_alive} prior blobs alive before pull {i} — the fold "
            "materializes its group instead of streaming per-row"
        )
        alive.append(weakref.ref(row[-1]))
        yield row


def _hll_blob(i: int, n_items: int) -> bytes:
    sk = HyperLogLog(10)
    sk.update([f"u{i}-{j}" for j in range(n_items)])
    return sk.to_bytes()


def _liveness_rows(name: str, n_rows_total: int, n_items: int, alive: list):
    """``(name, part, n_items, blob)`` rows of HLL(10) blobs, made one
    at a time and handed out by ``_one_at_a_time``."""
    rows = ((name, i, n_items, _Blob(_hll_blob(i, n_items))) for i in range(n_rows_total))
    return _one_at_a_time(rows, alive)


def test_tree_merge_streams_one_blob_at_a_time(spark, monkeypatch):
    """The executor level of tree_merge/tree_merge_df hands blobs to
    the fold ONE AT A TIME, never as a materialized group:
    groupBy().applyInPandas builds the whole merge group as one pandas
    frame, tens of GB per task at MB-scale CMS states and 100 TB /
    128 MB scan-partition counts. Its mapInArrow task holds one Arrow
    input batch (``test_arrow_rows_hand_over_one_blob_at_a_time``)."""
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


def test_arrow_rows_hand_over_one_blob_at_a_time():
    """``merge.arrow_rows``, the row source of every executor merge,
    pulls the rows out of a multi-row Arrow batch one at a time: each
    state is a view into the batch that ``fold_states`` drops once
    merged. Materializing the batch's rows trips the check."""
    import pyarrow as pa

    from sketchlib.serde import loads
    from sketchlib.spark.merge import arrow_rows, fold_states

    blobs = [_hll_blob(i, 10) for i in range(64)]
    batch = pa.RecordBatch.from_pydict(
        {"sketch": ["key"] * 64, "part_id": list(range(64)), "n_rows": [10] * 64, "state": blobs}
    )
    alive = []
    out = fold_states(_one_at_a_time(arrow_rows([batch, batch.slice(0, 8)]), alive))
    assert len(alive) == 72
    sk, part, n = out["key"]
    assert (part, n) == (0, 720)
    oracle = loads(blobs[0])
    for b in blobs[1:]:
        oracle.merge(loads(b))
    assert sk.to_bytes() == oracle.to_bytes()
    with pytest.raises(AssertionError, match="prior blobs alive"):
        fold_states(_one_at_a_time(iter(list(arrow_rows([batch]))), []))


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


# ------------------------------------------------ executor merge plans


def _exchanges(frame) -> int:
    # a fresh Dataset: an executed one prints its final and initial plans
    return frame.select("*")._jdf.queryExecution().executedPlan().toString().count("Exchange ")


def test_executor_merges_are_one_exchange_and_one_arrow_fold(spark, monkeypatch):
    """``tree_merge_df``, ``merge_keyed`` and ``cms_heavy_hitters`` past
    the gate each add ONE JVM exchange and fold over it with
    ``mapInArrow``: no rows come back through an RDD, whose
    ``createDataFrame(rdd)`` would show as an ExistingRDD scan."""
    from sketchlib.config import CuckooConfig
    from sketchlib.spark.merge import merge_keyed
    from sketchlib.spark.shard import build_sharded
    from sketchlib.spark.udfs import cms_heavy_hitters

    keys = spark.range(2000).selectExpr("concat('k', id % 500) AS key").repartition(8)
    built = build_sketches(keys, "key", lambda: HyperLogLog(12))
    cfg = CuckooConfig(capacity=4096, fingerprint_bits=16, hash_strategy="xx")
    shards = build_sharded(keys, "key", 4, cfg=cfg)
    shards = shards.unionByName(shards)

    def one_exchange_one_fold(before, after):
        plan = after.select("*")._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "MapInArrow" in plan, plan
        assert _exchanges(after) == _exchanges(before) + 1, plan

    one_exchange_one_fold(built, tree_merge_df(built))
    one_exchange_one_fold(shards, merge_keyed(shards, "shard_id"))
    levels = []
    real = merge_mod.fold_groups

    def spy(df, fold, schema):
        levels.append((df, real(df, fold, schema)))
        return levels[-1][1]

    monkeypatch.setattr(merge_mod, "fold_groups", spy)
    monkeypatch.setattr(merge_mod, "DIRECT_BYTES", 0)
    assert len(cms_heavy_hitters(keys, "key", k=3, width=1 << 10)) == 3
    (level,) = levels
    one_exchange_one_fold(*level)


# ------------------------------------------------ task retries

_RETRY_JOB = r"""
import json, os, sys

from pyspark import TaskContext
from pyspark.sql import SparkSession

from sketchlib.config import CuckooConfig
from sketchlib.cuckoo import CuckooFilter
from sketchlib.sketches import HyperLogLog
from sketchlib.spark.grouped import build_grouped_sketches, grouped_estimates
from sketchlib.spark.shard import build_sharded, merge_sharded, probe_sharded

faults = sys.argv[1]
cfg = CuckooConfig(capacity=4096, fingerprint_bits=16, hash_strategy="xx")


class FaultyHLL(HyperLogLog):
    # a task's first attempt fails after folding a batch; the fault
    # leaves a marker per (stage, partition)
    def update(self, values):
        super().update(values)
        ctx = TaskContext.get()
        if ctx.attemptNumber() == 0:
            open(os.path.join(faults, f"hll-{ctx.stageId()}-{ctx.partitionId()}"), "w").close()
            raise RuntimeError("injected fault")


class FaultyCuckoo(CuckooFilter):
    def update(self, values):
        super().update(values)
        ctx = TaskContext.get()
        if ctx.attemptNumber() == 0:
            open(os.path.join(faults, f"cuckoo-{ctx.stageId()}-{ctx.partitionId()}"), "w").close()
            raise RuntimeError("injected fault")


spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "1g")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
    .getOrCreate()
)
rows = spark.range(3000).selectExpr("concat('h', id % 23) AS host", "concat('u', id % 2000) AS url")
a = spark.range(400).selectExpr("concat('a', id) AS key")
b = spark.range(400).selectExpr("concat('b', id) AS key")


def grouped(hll):
    g = build_grouped_sketches(rows, "host", "url", hll, salt_buckets=3)
    return sorted((r.group_key, r.n_rows, r.state.hex()) for r in g.collect()), sorted(
        tuple(r) for r in grouped_estimates(g).collect()
    )


def sharded(cuckoo):
    m = merge_sharded(
        build_sharded(a, "key", 4, factory=cuckoo).unionByName(build_sharded(b, "key", 4, factory=cuckoo))
    )
    m = spark.createDataFrame(m.collect(), m.schema)
    hits = probe_sharded(a.unionByName(b), "key", m, 4).where("member").count()
    return sorted((r.shard_id, r.n_rows, r.item_count) for r in m.collect()), hits


clean_g, clean_s = grouped(lambda: HyperLogLog(12)), sharded(lambda: CuckooFilter(cfg))
retried_g, retried_s = grouped(lambda: FaultyHLL(12)), sharded(lambda: FaultyCuckoo(cfg))
print("RETRY_RESULT " + json.dumps({
    "grouped_same": clean_g == retried_g,
    "groups": len(clean_g[1]),
    "shards_same": clean_s[0] == retried_s[0],
    "shards": clean_s[0],
    "hits": [clean_s[1], retried_s[1]],
}))
spark.stop()
"""


def test_executor_merges_survive_task_retries(tmp_path):
    """Under ``local[2,2]`` (one retry per task) every first attempt of
    a stage-1 ``fold_keyed`` task fails after folding a batch: the
    grouped build's states and HLL ``grouped_estimates`` are
    byte-identical to a fault-free run, and ``merge_sharded`` of two
    ``build_sharded`` tables keeps each shard's rows and items and
    answers every key."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    faults = tmp_path / "faults"
    faults.mkdir()
    env = {**os.environ, "PYTHONPATH": repo, "PYSPARK_PYTHON": sys.executable}
    out = subprocess.run(
        [sys.executable, "-c", _RETRY_JOB, str(faults)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("RETRY_RESULT "))
    res = json.loads(line.removeprefix("RETRY_RESULT "))
    # in every stage that ran a faulty fold, each task failed once: 4
    # shuffle partitions or shards, 8 where the union of two sharded
    # builds runs as one stage
    stages: dict = {}
    for m in os.listdir(faults):
        kind, stage, part = m.split("-")
        stages.setdefault((kind, stage), set()).add(int(part))
    assert {kind for kind, _ in stages} == {"hll", "cuckoo"}
    assert all(parts in ({0, 1, 2, 3}, set(range(8))) for parts in stages.values()), stages
    assert res["grouped_same"] and res["groups"] == 23
    assert res["shards_same"] and sum(n for _, n, _ in res["shards"]) == 800
    assert res["hits"] == [800, 800]

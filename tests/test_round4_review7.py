"""Round-4 seventh-pass regressions (review of __spark_entry__, shard,
streaming incremental/stateful): one-shard-per-task routing, lazy filter
construction, worker-level probe deser cache, real timeout eviction,
required value_col."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------- shard routing


def test_build_sharded_one_shard_per_task(spark):
    """The build exchange must land EXACTLY one shard per partition,
    and partition i must hold shard i: shard_id = pmod(hash(key), n) is
    Spark's own HashPartitioning expression, so repartition(n, key)
    needs no route-key discovery. NULL keys route like any other."""
    from sketchlib.spark.shard import _shard_exchange

    keys = spark.range(20000).select(
        F.concat(F.lit("https://u"), F.col("id"), F.lit(".com/")).alias("url")
    ).unionByName(spark.createDataFrame([(None,)], "url string"))
    for n in (1, 7, 16, 64):
        layout = (
            _shard_exchange(keys, "url", n)
            .rdd.mapPartitionsWithIndex(lambda i, it: [(i, sorted({r.shard_id for r in it}))])
            .collect()
        )
        assert len(layout) == n
        assert all(ids == [i] for i, ids in layout), (n, layout)  # 1:1, none empty


def test_build_sharded_end_to_end_unchanged(spark):
    """Routing is an internal layout change: the shard TABLE (ids,
    counts, membership) must be identical to the hash of the keys."""
    from sketchlib.config import CuckooConfig
    from sketchlib.spark.shard import build_sharded, probe_sharded

    cfg = CuckooConfig(capacity=4096, fingerprint_bits=16, hash_strategy="xx")
    keys = spark.range(1500).select(F.concat(F.lit("u"), F.col("id")).alias("key"))
    shards = build_sharded(keys, "key", 8, cfg=cfg)
    rows = shards.collect()
    assert sum(r.n_rows for r in rows) == 1500
    assert sum(r.fail_count for r in rows) == 0
    probed = probe_sharded(keys, "key", shards.sparkSession.createDataFrame(rows), 8)
    assert probed.where("member").count() == 1500


# ------------------------------------------------- stateful timeout/fold


class _FakeState:
    def __init__(self, stored=None, timed_out=False):
        self._stored = stored
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None
        self.timeout_set = None

    @property
    def exists(self):
        return self._stored is not None

    @property
    def get(self):
        return self._stored

    def update(self, v):
        self.updated = v
        self._stored = v

    def remove(self):
        self.removed = True
        self._stored = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_stateful_value_col_required(spark):
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import hll_distinct_by_key

    df = spark.createDataFrame([("a", "x")], "k string, v string")
    with pytest.raises(ValueError, match="value_col"):
        hll_distinct_by_key(df.groupBy("k"), lambda: HyperLogLog(10))


def test_stateful_timeout_validation(spark):
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import hll_distinct_by_key

    df = spark.createDataFrame([("a", "x")], "k string, v string")
    g = df.groupBy("k")
    with pytest.raises(ValueError, match="timeout_duration_ms"):
        hll_distinct_by_key(g, lambda: HyperLogLog(10), timeout="ProcessingTimeTimeout", value_col="v")
    with pytest.raises(NotImplementedError, match="EventTimeTimeout"):
        hll_distinct_by_key(g, lambda: HyperLogLog(10), timeout="EventTimeTimeout", value_col="v")
    with pytest.raises(ValueError, match="unknown timeout"):
        hll_distinct_by_key(g, lambda: HyperLogLog(10), timeout="Bogus", value_col="v")


def test_stateful_fold_timed_out_evicts_not_resurrects():
    """A timed-out invocation must emit the final snapshot and REMOVE
    the state — update() would resurrect it and re-emit stale rows on
    every later timeout."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import _make_fold

    sk = HyperLogLog(10)
    sk.update(["a", "b", "c"])
    st = _FakeState(stored=(sk.to_bytes(), 3), timed_out=True)
    fold = _make_fold(lambda: HyperLogLog(10), "v", "ProcessingTimeTimeout", 60_000)
    out = list(fold(("k1",), iter([]), st))
    assert len(out) == 1 and out[0]["n_rows"].iloc[0] == 3
    assert st.removed and st.updated is None
    assert st.timeout_set is None  # no re-arm after eviction


def test_stateful_fold_arms_timeout_every_batch():
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import _make_fold

    st = _FakeState()
    fold = _make_fold(lambda: HyperLogLog(10), "v", "ProcessingTimeTimeout", 60_000)
    pdf = pd.DataFrame({"k": ["k1"] * 4, "v": ["a", "b", "a", "c"]})
    out = list(fold(("k1",), iter([pdf]), st))
    assert out[0]["n_rows"].iloc[0] == 4
    assert st.timeout_set == 60_000
    assert st.updated is not None

"""shard.py: the sharded state-row table — one cuckoo (or any
membership sketch) per shard, routed by Spark's own hash partitioner.
These tests pin:

* the build exchange lands exactly shard i in partition i, and the
  table answers every key it was built from;
* ``merge_sharded`` folds a union of builds into one row per shard;
* a ``ShardedProbeIndex`` is reused across probes, and the shard layer
  takes any membership factory;
* probes and deletes refuse a table with two state rows for a shard.

More shard tests live with the build/probe/delete paths in
test_spark_build.py and with the checkpointed build in
test_checkpoint.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sketchlib.config import CuckooConfig


def _cfg(capacity=4096):
    return CuckooConfig(capacity=capacity, fingerprint_bits=16, hash_strategy="xx")


# ------------------------------------------------------------ build and merge


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
    from sketchlib.spark.shard import build_sharded, probe_sharded

    keys = spark.range(1500).select(F.concat(F.lit("u"), F.col("id")).alias("key"))
    shards = build_sharded(keys, "key", 8, cfg=_cfg())
    rows = shards.collect()
    assert sum(r.n_rows for r in rows) == 1500
    assert sum(r.fail_count for r in rows) == 0
    probed = probe_sharded(keys, "key", shards.sparkSession.createDataFrame(rows), 8)
    assert probed.where("member").count() == 1500

def test_merge_sharded_union_of_builds(spark):
    """Two incremental sharded builds union + merge_sharded into one
    row per shard whose filter answers BOTH key sets."""
    from sketchlib.spark.shard import build_sharded, merge_sharded, probe_sharded

    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "key string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], "key string")
    sa = build_sharded(a, "key", num_shards=4, cfg=_cfg())
    sb = build_sharded(b, "key", num_shards=4, cfg=_cfg())
    merged = merge_sharded(sa.unionByName(sb)).persist()
    per_shard = merged.groupBy("shard_id").count().where("count > 1").count()
    assert per_shard == 0
    both = a.unionByName(b)
    hits = probe_sharded(both, "key", merged, num_shards=4).where("member").count()
    assert hits == 600  # no false negatives across the merge
    merged.unpersist()

def test_build_sharded_generic_factory_bloom(spark):
    """The shard layer is sketch-generic: a Bloom factory builds and
    probes through the same routed layout (update/contains protocol)."""
    from sketchlib.sketches import BloomFilter
    from sketchlib.spark.shard import build_sharded, probe_sharded

    keys = spark.createDataFrame([(f"k{i}",) for i in range(400)], "key string")
    shards = build_sharded(
        keys, "key", num_shards=4, factory=lambda: BloomFilter(capacity=4096, fp_rate=0.001)
    ).persist()
    hits = probe_sharded(keys, "key", shards, num_shards=4).where("member").count()
    assert hits == 400
    absent = spark.createDataFrame([(f"zz{i}",) for i in range(1000)], "key string")
    fp = probe_sharded(absent, "key", shards, num_shards=4).where("member").count()
    assert fp <= 10  # fp_rate 1e-3 at n=400 per 4096-cap shards
    shards.unpersist()

# ------------------------------------------------------------ probe index


def test_sharded_probe_index_reuse(spark):
    """A prebuilt ShardedProbeIndex answers repeated probe calls with
    ONE broadcast (no per-call collect) and identical results to the
    direct path; destroy() releases it."""
    from sketchlib.spark.shard import ShardedProbeIndex, build_sharded, probe_sharded

    keys = spark.createDataFrame([(f"k{i}",) for i in range(500)], "key string")
    shards = build_sharded(keys, "key", num_shards=4, cfg=_cfg()).persist()
    idx = ShardedProbeIndex.from_shards(shards)
    assert idx.state_bytes > 0
    for _ in range(3):  # loop probing: reuses the one broadcast
        hits = probe_sharded(keys, "key", num_shards=4, index=idx).where("member").count()
        assert hits == 500
    absent = spark.createDataFrame([(f"zz{i}",) for i in range(500)], "key string")
    fp = probe_sharded(absent, "key", num_shards=4, index=idx).where("member").count()
    assert fp <= 5  # FPR bound at 16-bit fingerprints
    idx.destroy()
    shards.unpersist()

# ------------------------------------------------------ duplicate state rows


def test_delete_sharded_rejects_duplicate_state_rows(spark):
    """A malformed shard table (two state rows for one shard) must fail
    loudly instead of silently dropping the extra rows' state."""
    from sketchlib.spark.shard import build_sharded, delete_sharded

    keys = spark.createDataFrame([(f"k{i}",) for i in range(200)], "key string")
    shards = build_sharded(keys, "key", num_shards=2, cfg=_cfg())
    doubled = shards.unionByName(shards)
    dels = spark.createDataFrame([("k1",)], "key string")
    with pytest.raises(Exception, match="state\\s+rows|state rows"):
        delete_sharded(doubled, dels, "key", num_shards=2).collect()

def test_probe_sharded_rejects_duplicate_state_rows_broadcast(spark):
    """Mirror of delete_sharded's guard on the broadcast probe path: a
    unioned/unmerged shard table (two state rows per shard) probed via
    ShardedProbeIndex.from_shards would silently answer from PARTIAL
    state (false negatives) — it must fail loudly instead, pointing at
    merge_sharded."""
    from sketchlib.spark.shard import ShardedProbeIndex, build_sharded, probe_sharded

    keys = spark.createDataFrame([(f"k{i}",) for i in range(200)], "key string")
    shards = build_sharded(keys, "key", num_shards=2, cfg=_cfg())
    doubled = shards.unionByName(shards)
    with pytest.raises(Exception, match="merge_sharded"):
        probe_sharded(keys, "key", doubled, num_shards=2).collect()
    with pytest.raises(Exception, match="merge_sharded"):
        ShardedProbeIndex.from_shards(doubled)

def test_probe_sharded_rejects_duplicate_state_rows_cogroup(spark):
    """Same guard on the cogroup (large-state) path — forced by a zero
    broadcast threshold."""
    from sketchlib.spark.shard import build_sharded, probe_sharded

    keys = spark.createDataFrame([(f"k{i}",) for i in range(200)], "key string")
    shards = build_sharded(keys, "key", num_shards=2, cfg=_cfg())
    doubled = shards.unionByName(shards)
    with pytest.raises(Exception, match="merge_sharded"):
        probe_sharded(
            keys, "key", doubled, num_shards=2, broadcast_threshold_bytes=0
        ).collect()

"""Round-4 seventh-pass regressions (review of __spark_entry__ and
shard): one-shard-per-task routing."""

from __future__ import annotations

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

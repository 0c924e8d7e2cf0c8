#!/usr/bin/env python
"""Multi-JVM execution harness: runs the flagship build+merge and the
sharded build/probe pipeline under an arbitrary --master and writes a
JSON result file the test compares across masters.

Why this exists: every other test runs ``local[n]`` — ONE JVM, one
Python-worker pool, one filesystem lifecycle. The cluster-shaped code
(taskfs pyarrow.fs task-side checkpoint writes, the broadcast
worker-level probe cache keyed by JVM broadcast id, the executor
merge's JVM exchange and mapInArrow folds) exists for MULTI-JVM clusters, and
``local-cluster[W,C,MB]`` is Spark's in-box way to run real separate
executor JVMs without a cluster manager. tests/test_local_cluster.py
runs this script at local[4] and local-cluster[2,2,1024] and asserts
the results agree (byte-identical for order-insensitive sketches,
semantically identical elsewhere).

Modes:
  flagship  — build_web_pipeline (HLL/CMS/KLL + sharded cuckoo), merge
              through BOTH the adaptive direct path and the forced
              executor path (merge.fold_groups), probe every url through
              the broadcast index, record the shard exchange's
              partition → shard layout. Emits digests/counts.
  sharded   — build_sharded with optional --checkpoint (taskfs path)
              and optional --slow-ms (per-batch insert delay so the
              parent test can SIGKILL mid-build), then probe. Emits
              per-shard counts + probe verdicts.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import time


def _session(master: str, repo: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(master)
        .appName(f"lc-job-{master.split('[')[0]}")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", repo)
        # identical scan split at every master: partition layout must
        # not depend on scheduler defaults for the comparison to hold
        .config("spark.sql.files.maxPartitionBytes", str(4 << 20))
        .getOrCreate()
    )


def _digest(blob: bytes) -> str:
    return hashlib.sha256(blob).hexdigest()


def _executor_count(spark) -> int:
    # driver + one entry per executor JVM (local[n] -> 1)
    return spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()


def run_flagship(spark, docs_path: str) -> dict:
    from pyspark.sql import functions as F

    from sketchlib.spark.merge import merge_sketches
    from sketchlib.spark.shard import ShardedProbeIndex, _shard_exchange, probe_sharded
    from sketchlib.spark.webbuild import build_web_pipeline, build_web_sketches
    from sketchlib.sketches import CountMinSketch, HyperLogLog, KLLSketch

    docs = spark.read.parquet(docs_path)
    n = docs.count()
    num_shards = 8
    fixed, shard_rows = build_web_pipeline(
        docs, n, num_shards=num_shards, cms_width=1 << 12, capacity_slack=1.5
    )

    # same sketches merged through the FORCED executor fold path
    # (direct_partitions=0): on local-cluster the JVM exchange routes
    # the state rows to merge.fold_groups' mapInArrow tasks in separate
    # executor JVMs — routing the single-JVM suite never exercises
    # across processes
    factories = {
        "hll": lambda: HyperLogLog(14),
        "cms": lambda: CountMinSketch(width=1 << 12, depth=4),
        "kll": lambda: KLLSketch(200),
    }
    exec_fixed = merge_sketches(
        build_web_sketches(docs, factories), direct_partitions=0
    )

    # broadcast probe of every inserted url — crosses executor JVMs and
    # exercises the worker-level deser cache (keyed by JVM broadcast id)
    idx = ShardedProbeIndex(
        spark, {int(r.shard_id): bytes(r.state) for r in shard_rows}
    )
    present = docs.select(F.col("url").alias("key"))
    hits = (
        probe_sharded(present, "key", num_shards=num_shards, index=idx)
        .where("member")
        .count()
    )
    absent = spark.range(20000).select(
        F.concat(F.lit("https://lc-absent-"), F.col("id"), F.lit(".net/")).alias("key")
    )
    fp = (
        probe_sharded(absent, "key", num_shards=num_shards, index=idx)
        .where("member")
        .count()
    )
    idx.destroy()

    # the build's shard exchange: which shard ids each partition holds
    layout = (
        _shard_exchange(docs, "url", num_shards)
        .rdd.mapPartitionsWithIndex(lambda i, it: [(i, sorted({r.shard_id for r in it}))])
        .collect()
    )

    kll = fixed["kll"]
    return {
        "n": n,
        "executors_plus_driver": _executor_count(spark),
        "hll_digest": _digest(fixed["hll"].to_bytes()),
        "cms_digest": _digest(fixed["cms"].to_bytes()),
        "hll_digest_exec": _digest(exec_fixed["hll"].to_bytes()),
        "cms_digest_exec": _digest(exec_fixed["cms"].to_bytes()),
        "hll_estimate": fixed["hll"].estimate(),
        "kll_n": int(kll.n),
        "kll_quantiles": [float(kll.quantile(q)) for q in (0.1, 0.5, 0.9)],
        "kll_n_exec": int(exec_fixed["kll"].n),
        "shards": {
            str(int(r.shard_id)): [int(r.n_rows), int(r.item_count), int(r.fail_count)]
            for r in shard_rows
        },
        "probe_hits": hits,
        "probe_false_pos": fp,
        "shard_layout": layout,
    }


def run_sharded(
    spark, docs_path: str, checkpoint: str | None, slow_ms: int, num_shards: int
) -> dict:
    from pyspark.sql import functions as F

    from sketchlib.config import CuckooConfig
    from sketchlib.cuckoo import CuckooFilter
    from sketchlib.spark.shard import ShardedProbeIndex, build_sharded, probe_sharded

    docs = spark.read.parquet(docs_path)
    n = docs.count()
    shard_cfg = CuckooConfig(
        capacity=max(int(n * 1.5) // num_shards, 64),
        fingerprint_bits=16,
        hash_strategy="xx",
    )

    def factory():
        f = CuckooFilter(shard_cfg)
        if slow_ms:
            # instance-level wrap: type(f).__name__ stays CuckooFilter,
            # so the checkpoint fingerprint matches a plain resume run
            orig = f.insert_batch

            def slow_insert(keys):
                time.sleep(slow_ms / 1000.0)
                return orig(keys)

            f.insert_batch = slow_insert
        return f

    shard_df = build_sharded(
        docs.select("url"), "url", num_shards, factory=factory,
        checkpoint_dir=checkpoint,
    )
    rows = shard_df.collect()

    idx = ShardedProbeIndex(spark, {int(r.shard_id): bytes(r.state) for r in rows})
    present = docs.select(F.col("url").alias("key"))
    hits = (
        probe_sharded(present, "key", num_shards=num_shards, index=idx)
        .where("member")
        .count()
    )
    idx.destroy()
    return {
        "n": n,
        "executors_plus_driver": _executor_count(spark),
        "shards": {
            str(int(r.shard_id)): [int(r.n_rows), int(r.item_count), int(r.fail_count)]
            for r in rows
        },
        "state_digests": {
            str(int(r.shard_id)): _digest(bytes(r.state)) for r in rows
        },
        "probe_hits": hits,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", required=True)
    ap.add_argument("--mode", choices=("flagship", "sharded"), required=True)
    ap.add_argument("--docs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--repo", default=None)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--slow-ms", type=int, default=0)
    ap.add_argument("--num-shards", type=int, default=8)
    args = ap.parse_args()

    import os
    import sys

    repo = args.repo or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    spark = _session(args.master, repo)
    try:
        if args.mode == "flagship":
            res = run_flagship(spark, args.docs)
        else:
            res = run_sharded(
                spark, args.docs, args.checkpoint, args.slow_ms, args.num_shards
            )
    finally:
        spark.stop()
    tmp = args.out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(res, fh)
    os.replace(tmp, args.out)
    print("LC_JOB_DONE")


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Micro-A/B of blob-merge shapes on a cached sketch frame."""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import ensure_bench_docs, make_session  # noqa: E402


def main() -> None:
    docs_path = ensure_bench_docs()
    spark = make_session(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from sketchlib.serde import loads
    from sketchlib.sketches import CountMinSketch, HyperLogLog, KLLSketch
    from sketchlib.spark.merge import merge_sketches
    from sketchlib.spark.webbuild import build_web_sketches

    sz = os.path.getsize(docs_path)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(sz // 64, 1 << 20)))
    docs = spark.read.parquet(docs_path)
    docs.select(F.count("*")).collect()

    sk = build_web_sketches(
        docs,
        {
            "hll": lambda: HyperLogLog(14),
            "cms": lambda: CountMinSketch(width=1 << 14, depth=4),
            "kll": lambda: KLLSketch(200),
        },
    ).persist(StorageLevel.MEMORY_AND_DISK)
    print("rows:", sk.count(), "parts:", sk.rdd.getNumPartitions(), flush=True)

    def timed(label, fn, trials=4):
        ts = []
        for _ in range(trials):
            t0 = time.perf_counter()
            fn()
            ts.append(round(time.perf_counter() - t0, 3))
        print(f"{label:32s} {ts} best={min(ts)}", flush=True)

    def driver_fold():
        out = {}
        for row in sk.select("sketch", "state").toLocalIterator(prefetchPartitions=True):
            o = loads(bytes(row.state))
            if row.sketch in out:
                out[row.sketch].merge(o)
            else:
                out[row.sketch] = o
        return out

    def driver_collect():
        out = {}
        for row in sk.select("sketch", "state").collect():
            o = loads(bytes(row.state))
            if row.sketch in out:
                out[row.sketch].merge(o)
            else:
                out[row.sketch] = o
        return out

    timed("current fold_groups_rdd", lambda: merge_sketches(sk))
    timed("driver toLocalIterator", driver_fold)
    timed("driver collect+fold", driver_collect)
    timed("current fold_groups_rdd k=8", lambda: merge_sketches(sk, fanout=8))
    spark.stop()


if __name__ == "__main__":
    main()

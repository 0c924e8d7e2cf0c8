#!/usr/bin/env python
"""Component-level A/B profile of the flagship build pipeline.

Times job A (scan-partition sketch build + blob merge) and job B
(sharded cuckoo build) separately, then splits job A into its build
and merge halves via a persisted intermediate, so a wall-clock
regression can be attributed to ONE component instead of guessed at.
Diagnostic tool only — not part of the driver surface.
"""

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

    from sketchlib.config import CuckooConfig
    from sketchlib.sketches import CountMinSketch, HyperLogLog, KLLSketch
    from sketchlib.spark.shard import build_sharded
    from sketchlib.spark.merge import merge_sketches
    from sketchlib.spark.webbuild import build_web_pipeline, build_web_sketches

    sz = os.path.getsize(docs_path)
    partitions = 64
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(max(sz // partitions, 1 << 20))
    )
    docs = spark.read.parquet(docs_path)
    n = docs.count()
    factories = {
        "hll": lambda: HyperLogLog(14),
        "cms": lambda: CountMinSketch(width=1 << 14, depth=4),
        "kll": lambda: KLLSketch(200),
    }
    cfg = CuckooConfig(capacity=int(n * 1.1), fingerprint_bits=16, hash_strategy="xx")

    def timed(label, fn, trials=3):
        ts = []
        for _ in range(trials):
            t0 = time.perf_counter()
            fn()
            ts.append(round(time.perf_counter() - t0, 3))
        print(f"{label:28s} {ts} best={min(ts)}", flush=True)
        return min(ts)

    # warm python workers / page cache
    docs.select(F.count("*")).collect()
    spark.range(10000).repartition(32).mapInArrow(lambda it: it, "id long").count()

    timed("jobA build+merge", lambda: merge_sketches(build_web_sketches(docs, factories)))
    timed("jobB sharded cuckoo", lambda: build_sharded(docs.select("url"), "url", 64, cfg=cfg).collect())

    # split job A: persist the blob frame, time build and merge apart
    def split_a():
        sk = build_web_sketches(docs, factories).persist(StorageLevel.MEMORY_AND_DISK)
        t0 = time.perf_counter()
        sk.count()
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        merge_sketches(sk)
        t_merge = time.perf_counter() - t0
        sk.unpersist()
        print(f"    split: build={t_build:.3f} merge={t_merge:.3f}", flush=True)

    for _ in range(3):
        split_a()

    timed("full pipeline (concurrent)", lambda: build_web_pipeline(docs, n, num_shards=64))
    spark.stop()


if __name__ == "__main__":
    main()

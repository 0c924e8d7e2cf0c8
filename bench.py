#!/usr/bin/env python
"""Headline benchmark — prints ONE JSON line for the driver.

Runs the flagship queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the north-rule
sketch-build throughput over a cached deterministic web-page table
(FIXTURES.md §1 shape; generated once into .bench/).

Usage:
  python bench.py                 # driver mode: one JSON line to stdout
  python bench.py --scaling      # extra: same job at local[2]/[8]/[32]
                                  # -> N vs 4N throughput + efficiency
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
os.environ.setdefault("PYTHONPATH", REPO)
if REPO not in os.environ["PYTHONPATH"].split(os.pathsep):
    os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ["PYTHONPATH"]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
BENCH_DOCS = int(os.environ.get("BENCH_DOCS", "800000"))
# 4000-row groups: ~8 MB each, so a 64-way split still sees ~3 groups
# per partition (balanced), while the per-group decode overhead that
# 1000-row groups paid is gone — measured JVM scan 1.76 s -> 1.03 s on
# the 800k corpus, same values. The layout is part of the cache KEY:
# a stale pre-change file would silently keep measuring the old layout.
ROW_GROUP_ROWS = 4000
DOCS_PARQUET = os.path.join(
    REPO, ".bench", f"docs_{BENCH_DOCS}_rg{ROW_GROUP_ROWS}.parquet"
)


def ensure_bench_docs() -> str:
    if not os.path.exists(DOCS_PARQUET):
        os.makedirs(os.path.dirname(DOCS_PARQUET), exist_ok=True)
        from sketchlib.datagen import write_documents_parquet

        tmp = DOCS_PARQUET + ".tmp"
        write_documents_parquet(tmp, BENCH_DOCS, seed=7, row_group_rows=ROW_GROUP_ROWS)
        os.replace(tmp, DOCS_PARQUET)
    return DOCS_PARQUET


def make_session(cpus: str):
    from sketchlib.spark.session import get_spark

    return get_spark(app=f"sketchlib-bench-{cpus}", master=f"local[{cpus}]",
                     shuffle_partitions=int(cpus))


def make_lc_session(workers: int, cores: int, mem_mb: int):
    """Multi-JVM session: local-cluster[W,C,MB] runs W separate executor
    JVMs (the deployment shape of a real cluster) with no cluster
    manager. Slots = W×C, comparable to local[W×C]."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local-cluster[{workers},{cores},{mem_mb}]")
        .appName(f"sketchlib-bench-lc{workers}x{cores}")
        .config("spark.sql.shuffle.partitions", str(workers * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .getOrCreate()
    )


def local_cluster_report(docs_path: str) -> dict:
    """BENCH.md multi-JVM row: the SAME flagship build at equal slot
    counts, single-JVM local[8] vs 4-executor-JVM local-cluster[4,2,3072]
    — quantifies what crossing JVM/process boundaries (broadcast per
    executor, python workers per executor, shuffle over netty instead of
    in-process) costs the build, on one box."""
    results = {}
    spark = make_session("8")
    try:
        results["local8"] = build_throughput(spark, docs_path, 32, trials=2)
    finally:
        spark.stop()
    spark = make_lc_session(4, 2, 3072)
    try:
        results["local_cluster_4x2"] = build_throughput(spark, docs_path, 32, trials=2)
    finally:
        spark.stop()
    results["cluster_vs_single_jvm"] = round(
        results["local_cluster_4x2"]["build_sec_best"]
        / results["local8"]["build_sec_best"],
        3,
    )
    return results


def lc_scaling_report(docs_path: str, rounds: int = 2) -> dict:
    """Executor-COUNT scaling, the literal north-rule shape: the same
    flagship build at N=1 vs 4N=4 executors, each a separate JVM with
    2 cores (``local-cluster[1,2,3072]`` vs ``local-cluster[4,2,3072]``)
    — unlike --scaling's local[2]/local[8] thread pairs, every added
    unit here brings its own JVM, Python-worker pool, broadcast copy,
    and netty shuffle endpoint, exactly what adding an executor to a
    real cluster does (minus the per-node DRAM, which a single box
    can't grant). Same input, same 32-way partitioning, warm-up + 2
    measured trials per leg inside build_throughput."""
    out = {"rounds": [], "protocol": (
        "flagship build at local-cluster[1,2,3072] (N executors) vs "
        "local-cluster[4,2,3072] (4N executors), 2 cores each, same "
        "cached corpus, same 32-way partitioning; per leg: untimed "
        "warm-up + 2 measured trials; legs alternate within a round"
    )}
    for _ in range(rounds):
        rnd = {}
        for key, workers in (("lc_1x2", 1), ("lc_4x2", 4)):
            spark = make_lc_session(workers, 2, 3072)
            try:
                rnd[key] = build_throughput(spark, docs_path, 32, trials=2)
            finally:
                spark.stop()
        t1 = rnd["lc_1x2"]["build_sec_best"]
        t4 = rnd["lc_4x2"]["build_sec_best"]
        rnd["speedup_1_to_4_executors"] = round(t1 / t4, 3)
        rnd["scaling_efficiency_N_to_4N_executors"] = round((t1 / t4) / 4.0, 3)
        out["rounds"].append(rnd)
    out["eff_median"] = round(
        statistics.median(
            r["scaling_efficiency_N_to_4N_executors"] for r in out["rounds"]
        ),
        3,
    )
    return out


def build_throughput(spark, docs_path: str, partitions: int, trials: int = 3) -> dict:
    """Flagship pipeline (webbuild.build_web_pipeline): fixed-size
    sketches (HLL/CMS/KLL) and sharded cuckoo membership folded in one
    zero-shuffle pass over the scan partitions while their state fits
    the merge's byte gate, else two jobs (the shards over a url-only
    shuffle). No heavy column is ever shuffled.
    One UNTIMED warm-up build runs first (page cache, Python workers,
    route-key cache — costs a long-lived cluster job amortizes in its
    first seconds), then ``trials`` measured builds; reports best AND
    median so one contended trial can't whipsaw the round-over-round
    record (r4 driver trials spread 5x: [19.5, 8.7, 3.9] s)."""
    from pyspark.sql import functions as F

    from sketchlib.spark.webbuild import build_web_pipeline

    sz = os.path.getsize(docs_path)
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(max(sz // partitions, 1 << 20))
    )
    docs = spark.read.parquet(docs_path)
    n = docs.count()  # warms the footer read; not part of the timed section
    num_shards = 64
    fixed, shard_rows = build_web_pipeline(docs, n, num_shards=num_shards)  # warm-up
    times = []
    for _ in range(trials):
        t0 = time.perf_counter()
        fixed, shard_rows = build_web_pipeline(docs, n, num_shards=num_shards)
        times.append(time.perf_counter() - t0)
    best = min(times)
    # true median (even trial counts average the middle two — taking
    # sorted[n//2] would record the WORST of 2 trials under the name
    # "median" in the trials=2 --scaling/--local-cluster legs)
    median = statistics.median(times)

    # accuracy gates on the build outputs (BASELINE.md targets)
    from sketchlib.spark.shard import ShardedProbeIndex, probe_sharded

    total_items = sum(r.item_count for r in shard_rows)
    fails = sum(r.fail_count for r in shard_rows)
    state_bytes = sum(len(r.state) for r in shard_rows)
    # the blobs are already driver-side: build the reusable probe-index
    # handle directly (ONE broadcast serving both probe jobs — the
    # long-lived-service shape; round-2 review: per-call broadcasts leak)
    idx = ShardedProbeIndex(spark, {int(r.shard_id): bytes(r.state) for r in shard_rows})
    # probe throughput: every inserted url, routed + vectorized lookup.
    # Probes run BEFORE the FPR job so trial 1 is genuinely cold (the
    # per-worker deser cache in shard.py is keyed by broadcast id, so
    # any earlier probe of the same index pre-warms it). Cold and warm
    # are reported SEPARATELY: warm is the long-lived-service steady
    # state, cold the first-query latency — conflating them (best-of-2)
    # made cross-round comparisons dishonest (ADVICE r4).
    present = spark.read.parquet(docs_path).select(F.col("url").alias("key"))
    probe_times = []
    for _ in range(3):
        t0 = time.perf_counter()
        n_member = (
            probe_sharded(present, "key", num_shards=num_shards, index=idx)
            .where("member")
            .count()
        )
        probe_times.append(time.perf_counter() - t0)
        assert n_member == n, "no-false-negative contract violated"
    probe_cold, probe_warm = probe_times[0], min(probe_times[1:])
    n_probe = 100_000
    absent = spark.range(n_probe).select(
        F.concat(F.lit("https://absent-"), F.col("id"), F.lit(".example.net/x")).alias("key")
    )
    hits = (
        probe_sharded(absent, "key", num_shards=num_shards, index=idx)
        .where("member")
        .count()
    )
    idx.destroy()
    return {
        "rows": n,
        "pipeline": "hll+cms+kll scan-partitioned / cuckoo sharded x" + str(num_shards),
        "build_sec_best": round(best, 3),
        "build_sec_median": round(median, 3),
        "build_sec_all": [round(t, 3) for t in times],
        "docs_per_sec": round(n / best),
        "docs_per_sec_median": round(n / median),
        "cuckoo_count": int(total_items),
        "cuckoo_fail": int(fails),
        "measured_fpr": round(hits / n_probe, 6),
        "fpr_bound": round(2 * 4 / (1 << 16), 6),
        "probe_sec_cold": round(probe_cold, 3),
        "probe_sec": round(probe_warm, 3),  # warm steady state (see above)
        "probes_per_sec_cold": round(n / probe_cold),
        "probes_per_sec": round(n / probe_warm),
        "hll_rel_err": round(abs(fixed["hll"].estimate() - n) / n, 5),
    }


def box_calibration(trials: int = 3) -> dict:
    """Fixed deterministic numpy workload (sort 4M floats + 600x600
    matmul), best of N, measured single-threaded AND fanned across 32
    GIL-releasing threads. Same-code full-bench totals drift
    11.9-26.2 s across one day on this host (neighbor contention — see
    BENCH.md round 4), so every bench artifact carries this probe:
    compare calib across rounds before reading query times as code
    regressions. t1 catches a throttled core; t32/t1 (this box measured
    t1 0.11-0.13 s, t32/t1 ~8 when otherwise idle — the shared-DRAM
    ceiling plus any neighbor load) catches exactly the contention that
    inflates the 32-slot Spark legs while leaving single-thread probes
    clean."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    rng = np.random.default_rng(12345)
    x = rng.normal(size=4_000_000)
    m = rng.normal(size=(600, 600))

    def work(_=None):
        np.sort(x)
        (m @ m).sum()
        np.sort(x)

    t1 = t32 = float("inf")
    with ThreadPoolExecutor(max_workers=32) as ex:
        for _ in range(trials):
            t0 = time.perf_counter()
            work()
            t1 = min(t1, time.perf_counter() - t0)
            t0 = time.perf_counter()
            list(ex.map(work, range(32)))
            t32 = min(t32, time.perf_counter() - t0)
    return {"t1": round(t1, 3), "t32": round(t32, 3),
            "parallel_degradation": round(t32 / t1, 2)}


HEADLINE = [
    "cuckoo_membership",
    "sharded_membership",
    "hll_distinct_check",
    "cms_frequency_check",
    "quantile_sketches_check",
    "pricing_summary",
    "top_revenue_orders",
    "events_window_counts",
    "sessionization",
    "dedup_exact_hash",
    "minhash_identical",
    "token_count",
    "quality_score",
    "top_tokens",
    "ann_cosine_topk",
]


def warmup(spark) -> None:
    """Spin up Python workers + page-cache the input once: steady-state
    query latency is what a long-lived cluster session sees."""
    from pyspark.sql import functions as F

    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        df.select(F.count("*")).collect()
    spark.range(10000).repartition(int(CPUS)).mapInArrow(
        lambda it: it, "id long"
    ).count()


def run_headline(spark, repeats: int = 3) -> dict:
    """Best-of-N per query: single runs at sf0.1 are noise-bound ±20%
    for the sub-second queries — and the BOX itself drifts (same-code
    full-suite totals measured 11.9-26.2 s across one day, see
    BENCH.md round 4) — which hides regressions round-over-round; the
    best of three runs is the stable point estimate of capability."""
    import __spark_entry__ as entry_mod

    warmup(spark)
    qs = entry_mod.queries()
    out = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            # noop sink forces EVERY column (count(*) would let Catalyst
            # prune expensive projection columns out of the plan)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    return out


def scaling_report(docs_path: str) -> dict:
    """North-rule two-cluster-size evidence, in-sandbox form: the SAME
    job on the SAME input at parallelism levels 2, 8, 32 with identical
    64-way partitioning — only the executor-slot count changes (the
    N vs 4N analogue). Primary pair: N=2 -> 4N=8, which stays under the
    single box's shared-DRAM/socket ceiling (on a real cluster each
    added executor brings its own memory bandwidth, so 8->32 there
    tracks the 2->8 regime; see BENCH.md analysis)."""
    results = {}
    for cpus in ("2", "8", "32"):
        spark = make_session(cpus)
        try:
            results[cpus] = build_throughput(spark, docs_path, 64, trials=2)
        finally:
            spark.stop()
    t2 = results["2"]["build_sec_best"]
    t8 = results["8"]["build_sec_best"]
    t32 = results["32"]["build_sec_best"]
    return {
        "local2": results["2"],
        "local8": results["8"],
        "local32": results["32"],
        "speedup_2_to_8": round(t2 / t8, 3),
        "scaling_efficiency_N_to_4N": round((t2 / t8) / 4.0, 3),
        "speedup_8_to_32": round(t8 / t32, 3),
        "scaling_efficiency_8_to_32_single_box": round((t8 / t32) / 4.0, 3),
    }


def main() -> None:
    docs_path = ensure_bench_docs()

    if "--scaling" in sys.argv:
        print(json.dumps(scaling_report(docs_path), indent=2))
        return

    if "--local-cluster" in sys.argv:
        print(json.dumps(local_cluster_report(docs_path), indent=2))
        return

    if "--lc-scaling" in sys.argv:
        print(json.dumps(lc_scaling_report(docs_path), indent=2))
        return

    # Bracket the measured window: neighbor contention on this host can
    # appear/vanish within minutes (BENCH.md round 4: same-code headline
    # drifted 11.9-26.2 s in one day), so a single endpoint probe can
    # sample an idle box even when the queries ran under load.
    calib_pre = box_calibration()
    spark = make_session(CPUS)
    try:
        queries = run_headline(spark)
        thr = build_throughput(spark, docs_path, int(CPUS) * 2)
    finally:
        spark.stop()
    total = round(sum(queries.values()), 3)
    sf = 0.1 if "sf0.1" in SF_DIR else (0.01 if "sf0.01" in SF_DIR else SF_DIR)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "throughput": thr,
                "box_calib_sec": {"pre": calib_pre, "post": box_calibration()},
            }
        )
    )


if __name__ == "__main__":
    main()

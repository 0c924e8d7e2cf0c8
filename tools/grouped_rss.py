"""Peak Python-worker memory of a grouped build.

Builds ``grouped.build_grouped_sketches`` (HLL(14) per host) over
``--rows`` rows spread round-robin over ``--hosts`` hosts (default
one hot host), salted into ``--salt`` buckets, and prints one JSON
line: the largest peak resident set (``VmHWM``) of any Python worker
forked under this driver's JVM, the number of groups, their summed
row count and, for one host, its HLL estimate. Many hosts measure
memory per group count: their states are counted in the JVM, never
collected. Linux only (reads /proc).
Usage: python tools/grouped_rss.py [--rows 4000000] [--hosts 1] [--salt 2] [--master local[2]]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _worker_peaks_mb(root: int) -> list[float]:
    """VmHWM of every pyspark worker/daemon process below ``root``."""
    kids, todo, peaks = _children(), [root], []
    while todo:
        for pid in kids.get(todo.pop(), []):
            todo.append(pid)
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark" not in f.read():
                        continue
                with open(f"/proc/{pid}/status") as f:
                    hwm = [ln for ln in f if ln.startswith("VmHWM:")]
            except OSError:
                continue
            if hwm:
                peaks.append(int(hwm[0].split()[1]) / 1024)
    return peaks


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--hosts", type=int, default=1)
    ap.add_argument("--salt", type=int, default=2)
    ap.add_argument("--master", default="local[2]")
    args = ap.parse_args()

    from sketchlib.serde import loads
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark.grouped import build_grouped_sketches
    from sketchlib.spark.session import get_spark

    spark = get_spark(app="grouped-rss", master=args.master, shuffle_partitions=4)
    jvm = spark.sparkContext._gateway.proc.pid
    peak = [0.0]
    done = threading.Event()

    def sample() -> None:
        while not done.wait(0.2):
            peak[0] = max([peak[0], *_worker_peaks_mb(jvm)])

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    df = spark.range(args.rows).selectExpr(
        f"concat('h', id % {args.hosts}, '.example') AS host",
        "concat('https://example/p', id) AS url",
    )
    grouped = build_grouped_sketches(
        df, "host", "url", lambda: HyperLogLog(14), salt_buckets=args.salt
    )
    if args.hosts == 1:
        (row,) = grouped.collect()
        groups, n_rows, estimate = 1, int(row.n_rows), float(loads(row.state).estimate())
    else:
        agg = grouped.selectExpr("count(*) AS g", "sum(n_rows) AS n").first()
        groups, n_rows, estimate = int(agg.g), int(agg.n), None
    done.set()
    sampler.join(timeout=5)
    peak[0] = max([peak[0], *_worker_peaks_mb(jvm)])
    print(
        json.dumps(
            {
                "rows": args.rows,
                "hosts": args.hosts,
                "salt_buckets": args.salt,
                "groups": groups,
                "n_rows": n_rows,
                "estimate": None if estimate is None else round(estimate, 1),
                "peak_worker_rss_mb": round(peak[0], 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""Fixed cost of a Python task: what a trivial task costs in slot time.

Runs a trivial 16-task ``mapInArrow`` job (20k rows, each task passes
its batches through) and the same 16 tasks as a JVM-only job, and
prints one JSON line:

* ``python_job_s``: median wall time of the Python job whose tasks do
  not import sketchlib (PySpark's own per-task cost);
* ``sketchlib_job_s``: the same job, each task importing
  ``sketchlib.spark`` (which stops the re-read of the Spark install's
  archives, see ``sketchlib/spark/workerinit.py``);
* ``jvm_job_s``: the JVM-only job;
* ``setup_spark_files_ms`` / ``sketchlib_setup_spark_files_ms``: the
  median time, inside the workers, of one call to PySpark's per-task
  ``worker_util.setup_spark_files`` (which ends in
  ``importlib.invalidate_caches()``), without and with sketchlib.

The plain jobs run first: a worker that has imported sketchlib keeps
its patch for the rest of its life, and workers are reused.

With ``--fold CORPUS`` (a parquet of ``url``, ``text`` pages, such as
perfbench's ``.perfbench/data/web_n20000_s701.parquet``) it instead
runs the flagship's single-pass fold (``webbuild._single_pass``, the
fold ``build_web_pipeline`` runs under its gate, with perfbench
web_build's 16 shards and 2^14-wide CMS) over the corpus's
scan partitions and prints one JSON line with, per task (scan
partition):

* ``rows``, ``batches``, ``rows_min``/``rows_median``/``rows_max``
  per batch and ``batch_mb_max``: the Arrow batches the task received;
* ``first_wait_ms``: the wait for the first batch (the JVM scans and
  encodes it while the task waits), ``wait_ms``: for all of them;
* ``fold_ms``: the task's Python time outside those waits (the fold's
  sketch updates);
* ``hash64_calls``: calls to ``kernels.hash64_batch`` in the task, by
  the calling module (``webbuild.py``: the shard keys; ``base.py``:
  the url and token sketches (HLL, CMS); ``cuckoo.py``: filters
  hashing their own input).

Times are medians over ``--runs`` runs after a warm-up.
``--batch-bytes`` overrides the session's
``spark.sql.execution.arrow.maxBytesPerBatch`` (a value of at least
the task's bytes sends each task one batch per 10,000 rows).
Usage: python tools/task_cost.py [--runs 5] [--master local[2]] [--tasks 16]
       python tools/task_cost.py --fold CORPUS [--batch-bytes N] [--runs 5]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _passthrough(batches):
    yield from batches


def _passthrough_sketchlib(batches):
    import sketchlib.spark  # noqa: F401

    yield from batches


def _setup_ms(with_sketchlib: bool):
    """mapInArrow function: one row per task, the ms of one call to the
    worker's ``setup_spark_files`` with the task's own files directory
    and no includes (``sys.path`` does not change)."""

    def run(batches):
        import io

        import pyarrow as pa
        from pyspark import worker_util
        from pyspark.core.files import SparkFiles
        from pyspark.serializers import write_int, write_with_length

        if with_sketchlib:
            import sketchlib.spark  # noqa: F401
        for _ in batches:
            pass
        buf = io.BytesIO()
        write_with_length(SparkFiles.getRootDirectory().encode(), buf)
        write_int(0, buf)
        buf.seek(0)
        t = time.perf_counter()
        worker_util.setup_spark_files(buf)
        yield pa.RecordBatch.from_pydict({"ms": [1e3 * (time.perf_counter() - t)]})

    return run


def _timed_fold(factories: dict, step):
    """mapInArrow function: run the fold ``step`` over the task's
    batches with fresh sketches, timing each wait for a batch, and
    yield one row of the task's batch shapes and times."""

    def run(batches):
        import collections

        import pyarrow as pa
        from pyspark import TaskContext

        from sketchlib.hashing import kernels

        sizes, waits = [], []

        def timed():
            while True:
                t = time.perf_counter()
                rb = next(batches, None)
                waits.append(time.perf_counter() - t)
                if rb is None:
                    return
                sizes.append((rb.num_rows, rb.nbytes))
                yield rb

        calls = collections.Counter()
        hash64 = kernels.hash64_batch

        def counted(*a, **k):
            calls[os.path.basename(sys._getframe(1).f_code.co_filename)] += 1
            return hash64(*a, **k)

        kernels.hash64_batch = counted
        t0 = time.perf_counter()
        try:
            step({name: fac() for name, fac in factories.items()}, timed())
        finally:
            kernels.hash64_batch = hash64
        total = time.perf_counter() - t0
        rows = [n for n, _ in sizes] or [0]
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "part": TaskContext.get().partitionId(),
                    "rows": sum(rows),
                    "batches": len(sizes),
                    "rows_min": min(rows),
                    "rows_median": float(statistics.median(rows)),
                    "rows_max": max(rows),
                    "batch_mb_max": max((b for _, b in sizes), default=0) / 1e6,
                    "first_wait_ms": 1e3 * waits[0],
                    "wait_ms": 1e3 * sum(waits),
                    "fold_ms": 1e3 * (total - sum(waits)),
                    "hash64_calls": json.dumps(dict(sorted(calls.items()))),
                }
            ]
        )

    return run


_FOLD_SCHEMA = (
    "part long, rows long, batches long, rows_min long, rows_median double, rows_max long, "
    "batch_mb_max double, first_wait_ms double, wait_ms double, fold_ms double, hash64_calls string"
)


def fold_cost(spark, corpus: str, runs: int, shards: int = 16, cms_width: int = 1 << 14) -> list[dict]:
    """Per task of the flagship single pass over ``corpus``: batch
    shapes and the medians over ``runs`` of its wait and fold times."""
    from sketchlib.config import CuckooConfig
    from sketchlib.sketches import CountMinSketch, HyperLogLog, KLLSketch
    from sketchlib.spark import webbuild
    from sketchlib.spark.shard import shard_factory

    docs = spark.read.parquet(corpus)
    n_docs = docs.count()
    # build_web_pipeline's sketches and shard geometry
    cfg = CuckooConfig(capacity=max(int(n_docs * 1.1), 1024), fingerprint_bits=16, hash_strategy="xx")
    factories = {
        "hll": lambda: HyperLogLog(14),
        "cms": lambda: CountMinSketch(width=cms_width, depth=4),
        "kll": lambda: KLLSketch(200),
    }
    # _single_pass hands its frame, sketches and step to fold_partitions:
    # take them, and run the step in a timed fold instead
    real, webbuild.fold_partitions = webbuild.fold_partitions, lambda *a: a
    try:
        frame, sketches, step = webbuild._single_pass(docs, factories, shards, shard_factory(shards, cfg))
    finally:
        webbuild.fold_partitions = real
    job = frame.mapInArrow(_timed_fold(sketches, step), _FOLD_SCHEMA)
    job.collect()  # warm-up: starts the workers
    per_run = [sorted((r.asDict() for r in job.collect()), key=lambda r: r["part"]) for _ in range(runs)]
    out = []
    for task in zip(*per_run):
        row = dict(task[0])
        for k in ("first_wait_ms", "wait_ms", "fold_ms"):
            row[k] = round(statistics.median(r[k] for r in task), 1)
        row["batch_mb_max"] = round(row["batch_mb_max"], 2)
        row["hash64_calls"] = json.loads(row["hash64_calls"])
        out.append(row)
    return out


def _median_s(job, runs: int) -> float:
    job()  # warm-up: starts the workers
    times = []
    for _ in range(runs):
        t = time.perf_counter()
        job()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--master", default="local[2]")
    ap.add_argument("--tasks", type=int, default=16)
    ap.add_argument("--fold", metavar="CORPUS", help="time the flagship fold's tasks over this parquet")
    ap.add_argument("--batch-bytes", type=int, help="spark.sql.execution.arrow.maxBytesPerBatch for --fold")
    a = ap.parse_args()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

    from sketchlib.spark.session import get_spark

    spark = get_spark(app="task_cost", master=a.master, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if a.fold:
            if a.batch_bytes is not None:
                spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", str(a.batch_bytes))
            out = {
                "master": a.master,
                "corpus": os.path.basename(a.fold),
                "batch_bytes": spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch"),
                "runs": a.runs,
                "tasks": fold_cost(spark, a.fold, a.runs),
            }
            print(json.dumps(out))
            return
        rows = spark.range(0, 20_000, 1, a.tasks)

        def python_job(fn):
            return lambda: rows.mapInArrow(fn, "id long").count()

        def setup_ms(with_sketchlib: bool) -> float:
            got = rows.mapInArrow(_setup_ms(with_sketchlib), "ms double").collect()
            return statistics.median(r.ms for r in got)

        out = {"master": a.master, "tasks": a.tasks, "runs": a.runs}
        out["python_job_s"] = _median_s(python_job(_passthrough), a.runs)
        out["setup_spark_files_ms"] = setup_ms(False)
        out["sketchlib_job_s"] = _median_s(python_job(_passthrough_sketchlib), a.runs)
        out["sketchlib_setup_spark_files_ms"] = setup_ms(True)
        out["jvm_job_s"] = _median_s(lambda: rows.selectExpr("id + 1 AS id").where("id > 0").count(), a.runs)
        print(json.dumps({k: round(v, 4) if isinstance(v, float) else v for k, v in out.items()}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

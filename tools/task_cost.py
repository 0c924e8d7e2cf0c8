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
Usage: python tools/task_cost.py [--runs 5] [--master local[2]] [--tasks 16]
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
    a = ap.parse_args()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

    from sketchlib.spark.session import get_spark

    spark = get_spark(app="task_cost", master=a.master, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    try:
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

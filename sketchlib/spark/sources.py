"""Web-page table sources: format-agnostic readers.

The north rule targets an Iceberg table of web pages; the sandbox's
driver testdata is parquet. Both ride the same DataFrame reader API —
the difference is a format string and a name-vs-path, never
architecture (SURVEY.md §7 "Iceberg in-sandbox"). At 100 TB the Iceberg
path additionally gives snapshot isolation for checkpoint/resume
(re-reading the SAME snapshot id keeps the per-partition lineage valid)
and partition pruning on `warc_ts`/host if the table is so partitioned.

VERIFICATION SCOPE: the parquet path is exercised by the whole suite;
the Iceberg branch is covered only by ``tests/test_iceberg_optional.py``,
which SKIPS unless an ``iceberg-spark-runtime`` jar is on the Spark
classpath (this sandbox has none and cannot download one). Treat the
Iceberg branch as format-string-ready, not sandbox-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_pages(
    spark: SparkSession,
    source: str,
    fmt: str = "parquet",
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read the web-pages table from parquet path or Iceberg table name.

    fmt="iceberg": ``source`` is a catalog table name; ``snapshot_id``
    pins the read for resumable builds. fmt="parquet": a path.
    """
    if fmt == "iceberg":
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(source)
    if snapshot_id is not None:
        # silently dropping the pin would hand resume code an UNPINNED
        # read: checkpointed partitions could cover different rows
        raise ValueError("snapshot_id requires fmt='iceberg'")
    return spark.read.format(fmt).load(source)


def write_pages(df: DataFrame, target: str, fmt: str = "parquet") -> None:
    """Write pages; Iceberg targets a table name, parquet a path."""
    if fmt == "iceberg":
        df.writeTo(target).using("iceberg").createOrReplace()
    else:
        df.write.format(fmt).mode("overwrite").save(target)

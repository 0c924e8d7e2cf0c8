"""SparkSession helper tuned for sketch builds.

Settings rationale (scale notes, SURVEY.md §3.4):
* AQE on — runtime coalescing + skew-join splitting for the relational
  queries (it does NOT fix applyInPandas group skew; that's what
  sketchlib.spark.salt is for).
* Arrow batches of at most 10k rows AND about 4 MiB, whichever cap a
  batch reaches first (the byte cap can be passed by one row). Narrow
  rows (probe keys, ~45 B) keep the 10k-row batch the numpy kernels
  vectorize over (the reference's SIMD-era batch of 32,
  filter.go:184-186, is wrong for Arrow; SURVEY.md §2.1 #13). Wide
  rows (web text) are cut by bytes: a whole 10k-row batch of pages is
  tens of MB, which the JVM must encode, and both it and the Python
  worker hold, before the task's fold starts on it. Spark 4.1 applies
  ``maxBytesPerBatch`` to ``mapInArrow``/``mapInPandas`` and the
  scalar Arrow/pandas UDFs; not to ``createDataFrame``, nor to grouped
  ``applyInArrow``/``applyInPandas``, which get whole groups. A
  session not built here should set it too (its Spark default is
  64 MiB, which web pages never reach). Measured on a 4-core host
  (perfbench web_build: 20k docs, two scan tasks at local[2]): 4 MiB
  gives ~1,850-row batches, cuts a task's wait for its first batch
  from 207-257 ms to 56-96 ms and the build's peak RSS from 577 to
  530 MB (medians of 11 pairs). On three seeds 2 MiB peaked at
  ~509 MB with about the same build time; 8 MiB built ~10% faster
  but peaked at ~564 MB.
* shuffle partitions default to cores (local) — on a real cluster set
  spark.sql.shuffle.partitions ≈ 2-3× total cores and rely on AQE
  coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the byte cap of an Arrow batch sent to Python (see the module notes)
ARROW_BATCH_BYTES = 4 << 20


def get_spark(
    app: str = "sketchlib",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # parens matter: without them Python parses this as
    # `(shuffle_partitions or int(cpus)) if cpus.isdigit() else 32`,
    # silently discarding an explicit shuffle_partitions whenever
    # SPARK_GRAFT_CPUS is non-numeric (e.g. '*')
    shuffle = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)
    return (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

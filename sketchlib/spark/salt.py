"""Explicit skew handling for sketch builds (north-rule requirement).

Web-page tables are host-skewed (the fixture's Zipf(1.3) hosts put
~25-35% of rows on the top host). AQE's skew-join splitting does not
split the partitions of a keyed exchange feeding ``mapInArrow`` or an
RDD fold (SURVEY.md §4.2), so builds that key by a skewed column must
salt explicitly:

* ``salted_repartition`` — spread rows uniformly by a row-level hash
  (url), regardless of the skewed column. Correct whenever the sketch
  is global (cuckoo/HLL/CMS/... merges don't care which partition saw
  which row).
* ``salt_grouped`` — for per-key grouped builds (one sketch per host,
  sketchlib.spark.grouped): hot keys split into ``k`` salted
  subgroups, each folded into a partial sketch from streamed Arrow
  batches, then a second associative merge per key streams the
  partial blobs. Neither stage uses ``applyInPandas``, which would
  load a whole group into one pandas frame.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def salted_repartition(df, num_partitions: int, row_key: str = "url"):
    """Uniform row spread: repartition on xxhash64(row_key).

    For global (non-grouped) sketch builds this removes key skew
    entirely: partition sizes are n/num_partitions ± noise.
    """
    return df.repartition(num_partitions, F.xxhash64(F.col(row_key)))


def salt_grouped(df, group_key: str, salt_buckets: int, row_key: str = "url"):
    """Add a bounded salt column for grouped builds on a skewed key.

    Keying by (group_key, _salt) bounds any single group's rows to
    ~rows(key)/salt_buckets; merge partial sketches per key afterwards.
    """
    return df.withColumn(
        "_salt", (F.pmod(F.xxhash64(F.col(row_key)), F.lit(salt_buckets))).cast("int")
    )


def _count_projection(df):
    """The frame ``partition_sizes`` actually counts: every payload
    column dropped, so only 4-byte rows are pickled into the Python
    workers (MB-scale text/html never crosses just to be counted)."""
    return df.select(F.lit(1).alias("one"))


def partition_sizes(df) -> list[int]:
    """Diagnostic: rows per partition, INCLUDING empty ones (used by
    skew tests/bench). A groupBy on spark_partition_id only ever sees
    non-empty partitions, which under-reports exactly the skew this
    diagnostic exists to catch (4 hot + 12 empty partitions would look
    uniform) — so count per partition on the RDD of a constant-only
    projection instead (see ``_count_projection``).

    AQE caveat: the narrow projection is pushed below any shuffle, so
    its map outputs are ~4 bytes/row — on an AQE-coalescible frame
    (``repartition(col)`` with no explicit count) AQE would coalesce
    the tiny post-shuffle partitions far more aggressively than the
    full-width frame the caller actually consumes, and the diagnostic
    would report a partitioning the real frame never has. Partition
    coalescing is therefore disabled for the measurement job: the
    report is the DECLARED, pre-coalescing partitioning — the raw hash
    distribution, which is the right view for skew diagnosis.

    Isolation: the override is applied in a CLONED session
    (JVM ``cloneSession()`` shares the SparkContext and copies the
    caller's runtime SQLConf, so planning confs like
    ``spark.sql.shuffle.partitions`` resolve identically; the frame is
    re-bound to the clone from its analyzed plan), so queries planned
    concurrently in the caller's session never see the flipped conf.
    The rebind goes through ``org.apache.spark.sql.classic.Dataset``,
    which exists only on Spark 4, so this isolation is Spark 4-only. On
    Spark 3.x, and wherever else the plan transfer is unavailable (e.g.
    Connect), it falls back to a save/restore flip of the caller's
    session conf — only then is the diagnostic unsafe to run
    concurrently with latency-sensitive queries."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    ones = _count_projection(df)
    count_parts = lambda d: d.rdd.mapPartitions(  # noqa: E731
        lambda it: [sum(1 for _ in it)]
    ).collect()
    try:
        from pyspark.sql import DataFrame, SparkSession

        # cloneSession (JVM) COPIES the caller's runtime SQLConf —
        # newSession would start from the context defaults, so a
        # caller-set spark.sql.shuffle.partitions (or any planning
        # conf) would resolve differently in the clone and the
        # diagnostic would measure a partitioning the real frame
        # never has
        jclone = spark._jsparkSession.cloneSession()
        jclone.conf().set(key, "false")
        clone = SparkSession(spark.sparkContext, jclone)
        jplan = ones._jdf.queryExecution().analyzed()
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(jclone, jplan)
        return count_parts(DataFrame(jdf, clone))
    except Exception:
        pass  # non-classic backend (e.g. Connect): fall through
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "false")
    try:
        return count_parts(ones)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

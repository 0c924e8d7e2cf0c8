"""Per-key grouped sketch builds with explicit salting (north rule).

One sketch PER GROUP (per host, per source, per language...) differs
from the global builds in webbuild/build: the shuffle key is the group
column, and web-host-like keys are Zipf-skewed — the top key can carry
30%+ of all rows, so a plain exchange on the group puts 30% of the
corpus in one task. AQE's skew handling does not split a keyed
exchange's partitions outside joins (SURVEY.md §4.2), so salting is
explicit:

  stage 1: repartition(key, salt), sorted by key within each task —
           each hot key splits into ``salt_buckets`` bounded
           subgroups; the keyed fold (``build.fold_keyed``) streams
           each task's Arrow batches into one partial sketch per key,
           one key at a time;
  stage 2: ``merge.merge_keyed`` on the key — streams the
           ``salt_buckets``-many KB-sized partial states per key one
           blob at a time; the shuffle carries states, not rows.

Both stages stream (Arrow batches, then blobs) rather than using
``groupBy().applyInPandas``, which loads a whole group into one pandas
frame — a hot group's rows, or every partial of a group, in memory at
once. Each task holds one live sketch whatever its number of groups.
Both stages are associative-merge applications, so results are
identical to an unsalted build (property-tested).
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa  # module scope: the arrow_udf type hints below resolve here
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType

from ..serde import loads
from .build import fold_keyed
from .merge import merge_keyed
from .salt import salt_grouped


def build_grouped_sketches(
    df: DataFrame,
    group_col: str,
    key_col: str,
    factory: Callable[[], object],
    salt_buckets: int = 8,
    row_key: str | None = None,
) -> DataFrame:
    """→ one state row per group (``group_key``, then the metric tail
    ``n_rows, item_count, fail_count, load_factor, state``) via the
    salted two-stage build. ``row_key`` feeds the salt hash (defaults
    to ``key_col``).

    Pass a distinct ``row_key`` (e.g. the url column) when ``key_col``
    values repeat heavily inside a hot group: salting on the value
    column sends every copy of a hot value to the SAME salt bucket,
    defeating the salt — a row-unique column spreads them. The column
    is projected through for the salt hash and dropped after."""
    proj = [
        F.col(group_col).cast("string").alias("group_key"),
        F.col(key_col).alias("key"),
    ]
    if row_key is not None and row_key != key_col:
        # row_key must survive the projection or salt_grouped's
        # xxhash64(row_key) hits a dropped column (AnalysisException)
        proj.append(F.col(row_key).alias("_salt_row_key"))
        salt_col = "_salt_row_key"
    else:
        salt_col = "key"
    salted = salt_grouped(df.select(*proj), "group_key", salt_buckets, row_key=salt_col)
    # the salt only picks the partition: the stage-1 shuffle carries
    # (group_key, key, _salt), never the row-key column (urls would
    # roughly double its volume) — the docstring's "dropped after"
    # happens HERE; the sort hands fold_keyed each group as one run
    keyed = (
        salted.select("group_key", "key", "_salt")
        .repartition("group_key", "_salt")
        .sortWithinPartitions("group_key")
        .select("group_key", "key")
    )
    return merge_keyed(fold_keyed(keyed, "group_key", factory), "group_key")


def grouped_estimates(grouped_df: DataFrame) -> DataFrame:
    """(group_key, n_rows, estimate) for estimate-bearing sketches
    (HLL distinct, KMV). One scalar Arrow UDF over the tiny ``state``
    column, executor-side; Spark keeps the other two columns."""

    @F.arrow_udf(DoubleType())
    def estimate(states: pa.Array) -> pa.Array:
        return pa.array([float(loads(b).estimate()) for b in states.to_pylist()], pa.float64())

    return grouped_df.select("group_key", "n_rows", estimate("state").alias("estimate"))

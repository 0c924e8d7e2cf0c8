"""Adaptive two-level associative merge of state rows.

The Spark analogue of ``treeAggregate`` (SURVEY.md §3.4 step 5):
level 1 routes partition rows round-robin to ≤``FANOUT`` groups and
STREAMS each group through a running merge executor-side; level 2
merges the ≤``FANOUT`` survivors on the driver. Merge order within a
group is whatever the shuffle delivers — safe because every sketch's
merge is associative + commutative (property-tested, north-rule gate).

Depth is picked by ONE gate, ``_direct_merge``, over the Dataset to be
collected: level 1 is skipped — one collect, folded driver-side —
while the frame has ≤ ``direct_partitions`` partitions AND partitions ×
one partition's state size ≤ ``DIRECT_BYTES``. The size rides on the
frame: ``build.fold_partitions`` stamps ``state_bytes_hint`` of its
factories into the ``state`` field's metadata (``build.STATE_BYTES``),
so no caller passes it. A frame without it (``tree_merge_df`` output, a
``createDataFrame(…, SKETCH_SCHEMA)`` table) is gated on partitions
only.

Level 1 is a deliberate RDD ``mapPartitions`` — one of the rare spots
where the imperative per-partition escape hatch is the *correct* tool:
the rows are KB–MB sketch blobs (never data rows), and an RDD iterator
hands them over ONE AT A TIME, so task memory is exactly
running_state + one incoming blob no matter how many scan partitions
fed the group. Both dataframe-native shapes materialize multi-blob
batches the UDF can't refuse: ``groupBy().applyInPandas`` builds the
whole group as one pandas frame (~P/FANOUT blobs), and ``mapInArrow``
materializes up to ``spark.sql.execution.arrow.maxRecordsPerBatch``
rows (10k) per input batch. Spark 4.1 also cuts a ``mapInArrow`` batch
at ``spark.sql.execution.arrow.maxBytesPerBatch`` (``get_spark`` sets
4 MiB), but only after the row that crosses it: a batch still holds
at least one whole blob, and the cap is a session-wide conf that every
other Arrow stage of the job shares, so a merge cannot pick its own.

Shuffle volume: FANOUT × state_size — KBs–MBs, never data-scale.
"""

from __future__ import annotations

from itertools import groupby
from operator import itemgetter

from ..serde import loads
from .build import SKETCH_SCHEMA, STATE_BYTES, keyed_schema, state_row

_FOLD_COLS = ("sketch", "part_id", "n_rows", "state")

# merge groups of the executor level
FANOUT = 16
# most partitions the direct path collects (merge_sketches' default)
DIRECT_PARTITIONS = 256
# most state bytes (partitions × one partition's state) it collects
DIRECT_BYTES = 256 << 20


def fold_states(rows) -> dict:
    """Streaming fold of ``(name, part, n_rows, state)`` rows →
    ``{name: (merged sketch, min part, summed n_rows)}``.

    One running sketch per name; each incoming blob is merged, then
    dropped. Fed by an iterator that hands rows over one at a time
    (an RDD partition, a collected list), memory is n_names ×
    state_size + ONE blob no matter how many rows it yields. The same
    fold runs on the driver (direct merge) and inside level-1 tasks."""
    acc: dict = {}
    for name, part, n, blob in rows:
        sk = loads(bytes(blob))
        cur = acc.get(name)
        if cur is None:
            acc[name] = (sk, int(part), int(n))
        else:
            cur[0].merge(sk)
            acc[name] = (cur[0], min(cur[1], int(part)), cur[2] + int(n))
    return acc


def fold_groups_rdd(rdd, fold):
    """Round-robin routing of an RDD's rows to ``k`` = min(FANOUT,
    partitions) merge groups + streaming per-group ``fold`` (shared by
    tree_merge_df and udfs.cms_heavy_hitters — keep the routing in ONE
    place).

    Keyed by ``(source_partition_index + row_index) % k`` — balanced
    for ANY input, independent of the part_id column's diversity. A
    ``part_id % k`` key (an earlier shape) collapses whenever part_id
    is constant or low-cardinality — e.g. re-merging a frame that
    already went through level 1 (its part_id is each group's minimum:
    ≤k distinct values), or unioned/synthesized rows sharing part_id=0
    — routing everything to a few tasks while the rest idle. The
    grouping itself is arbitrary: every fold is associative +
    commutative, so only balance matters. Keys are 0..k-1 ints and
    ``partitionBy``'s portable_hash is the identity on small
    non-negative ints, so group j lands in partition j — exactly one
    group per task."""
    k = min(FANOUT, max(rdd.getNumPartitions(), 1))

    def route(idx, it):
        for i, row in enumerate(it):
            yield ((idx + i) % k, row)

    return rdd.mapPartitionsWithIndex(route).partitionBy(k).values().mapPartitions(fold)


def _direct_collect(frame):
    """Collect a blob frame for a direct (driver-side) fold, turning a
    ``spark.driver.maxResultSize`` rejection into actionable guidance.

    The direct gate counts PARTITIONS × one partition's state — exact
    for partition-build outputs (one row per partition per sketch) but
    not for a blob table re-read from storage or coalesced after a
    union, where few partitions can hold many MB-scale rows.
    maxResultSize (default 1g) is the loud backstop for that shape; the
    remedy is the executor-level path."""
    try:
        return frame.collect()
    except Exception as e:  # pragma: no cover - env-sized threshold
        if "maxResultSize" in str(e):
            raise RuntimeError(
                "direct merge collect exceeded spark.driver.maxResultSize — "
                "this blob frame packs many rows per partition (re-read or "
                "coalesced blob table?); pass direct_partitions=0 to use the "
                "bounded executor-level merge instead"
            ) from e
        raise


def tree_merge_df(sketch_df):
    """Level-1 merge: p partition rows → ≤FANOUT rows per sketch name,
    executor-side."""

    def fold(rows):
        for name, (sk, part, n) in fold_states(rows).items():
            yield tuple(state_row(sk, n, sketch=name, part_id=part).to_pylist()[0].values())

    rdd = fold_groups_rdd(sketch_df.select(*_FOLD_COLS).rdd, fold)
    return sketch_df.sparkSession.createDataFrame(rdd, SKETCH_SCHEMA)


def merge_keyed(df, key: str):
    """ONE state row per ``key`` value from a keyed state-row table
    holding duplicates (per-task partials, unioned incremental builds):
    per key the states merge associatively and the row counts add.
    Rows are hash-partitioned by ``key``, sorted within each task and
    streamed through ``fold_states`` one key at a time — per-task
    memory is ONE running state plus ONE incoming blob however many
    keys the task holds, never a materialized group."""

    def fold(rows):
        for _, run in groupby(rows, itemgetter(0)):
            for k, (sk, _, n) in fold_states(run).items():
                yield tuple(state_row(sk, n, **{key: k}).to_pylist()[0].values())

    # fold_states' min-part column means nothing for keyed tables
    rows = df.repartition(key).sortWithinPartitions(key)
    rows = rows.selectExpr(key, "0 AS part", "n_rows", "state")
    return df.sparkSession.createDataFrame(rows.rdd.mapPartitions(fold), keyed_schema(key))


def _direct_merge(frame, direct_partitions: int = DIRECT_PARTITIONS) -> bool:
    """The adaptive-depth gate: may ``frame`` be folded on the driver in
    one collect? Yes when it has ≤ ``direct_partitions`` partitions
    and, where its ``state`` field carries ``STATE_BYTES``, partitions ×
    that size ≤ ``DIRECT_BYTES``. Pass the Dataset that is collected:
    then the gate and the collect share one plan."""
    p = frame.rdd.getNumPartitions()
    state_bytes = frame.schema["state"].metadata.get(STATE_BYTES)
    return p <= direct_partitions and (state_bytes is None or p * state_bytes <= DIRECT_BYTES)


def merge_sketches(sketch_df, direct_partitions: int = DIRECT_PARTITIONS) -> dict[str, object]:
    """Bounded-memory merge of a SKETCH_SCHEMA frame → {name: merged
    sketch object} on the driver.

    Adaptive depth (``_direct_merge``): while the frame has ≤
    ``direct_partitions`` partitions and their state fits in
    ``DIRECT_BYTES`` (256 MB of driver transient), the executor level
    is SKIPPED — one ``collect`` of the state rows, folded driver-side
    one blob at a time. The build stage keeps its full scan parallelism
    because ``collect`` is a plain job over the existing partitions.
    Measured on the 800k-doc bench corpus (65 blob rows): the level-1
    RDD route+partitionBy+fold costs 1.1-1.7 s of pure task/python-
    shuffle overhead where the direct collect-fold costs 0.6 s — two
    extra stages buy nothing until the blob count is large enough that
    a single driver pull would be GBs.

    Past the gate (100 TB ⇒ ~10^5-10^6 scan partitions, or a 2 MB-wide
    CMS at a few hundred partitions, which would otherwise be a silent
    ~0.5 GB driver pull) level 1 (``tree_merge_df``) routes the rows
    round-robin to ≤``FANOUT`` streaming folds executor-side, so the
    driver never pulls more than FANOUT rows per name.

    The byte half of the gate needs no argument: the state size rides
    on the frame's ``state`` field (see the module docstring). The gate
    counts PARTITIONS, not rows: a blob table re-read from storage can
    pack many rows per partition; pass ``direct_partitions=0`` for it.
    For giant membership state use ``shard.build_sharded`` instead
    (total state 2 B/key across ALL shards, nothing merges
    globally)."""
    rows_df = sketch_df.select(*_FOLD_COLS)
    if _direct_merge(rows_df, direct_partitions):
        rows = _direct_collect(rows_df)
    else:
        rows = tree_merge_df(rows_df).select(*_FOLD_COLS).collect()
    return {name: sk for name, (sk, _, _) in fold_states(rows).items()}


def tree_merge(sketch_df, direct_partitions: int = DIRECT_PARTITIONS):
    """Full merge of a one-sketch frame (``build_sketches`` output) →
    the merged sketch, or None for an empty frame. See
    ``merge_sketches``."""
    merged = merge_sketches(sketch_df, direct_partitions)
    if len(merged) > 1:
        raise ValueError(
            f"tree_merge got state rows of {sorted(merged)}; "
            "use merge_sketches for multi-sketch frames"
        )
    return next(iter(merged.values()), None)

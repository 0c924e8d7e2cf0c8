"""Adaptive two-level associative merge of state rows.

The Spark analogue of ``treeAggregate`` (SURVEY.md §3.4 step 5):
level 1 routes partition rows round-robin to ≤fanout groups and
STREAMS each group through a running merge executor-side; level 2
merges the ≤fanout survivors on the driver. Merge order within a
group is whatever the shuffle delivers — safe because every sketch's
merge is associative + commutative (property-tested, north-rule gate).

Level 1 is a deliberate RDD ``mapPartitions`` — one of the rare spots
where the imperative per-partition escape hatch is the *correct* tool:
the rows are KB–MB sketch blobs (never data rows), and an RDD iterator
hands them over ONE AT A TIME, so task memory is exactly
running_state + one incoming blob no matter how many scan partitions
fed the group. Both dataframe-native shapes materialize multi-blob
batches the UDF can't refuse: ``groupBy().applyInPandas`` builds the
whole group as one pandas frame (~P/fanout blobs), and ``mapInArrow``
materializes up to ``spark.sql.execution.arrow.maxRecordsPerBatch``
rows (10k) per input batch. Spark 4.1 also cuts a ``mapInArrow`` batch
at ``spark.sql.execution.arrow.maxBytesPerBatch`` (``get_spark`` sets
4 MiB), but only after the row that crosses it: a batch still holds
at least one whole blob, and the cap is a session-wide conf that every
other Arrow stage of the job shares, so a merge cannot pick its own.

Shuffle volume: fanout × state_size — KBs–MBs, never data-scale.
"""

from __future__ import annotations

from itertools import groupby
from operator import itemgetter

from ..serde import loads
from .build import SKETCH_SCHEMA, keyed_schema, state_row

_FOLD_COLS = ("sketch", "part_id", "n_rows", "state")

# the merge knobs' defaults (see merge_sketches)
FANOUT = 16
DIRECT_PARTITIONS = 256
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


def fold_groups_rdd(rdd, k: int, fold):
    """Round-robin routing of an RDD's rows to ``k`` merge groups +
    streaming per-group ``fold`` (shared by tree_merge_df and
    udfs.cms_heavy_hitters — keep the routing in ONE place).

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

    def route(idx, it):
        for i, row in enumerate(it):
            yield ((idx + i) % k, row)

    return rdd.mapPartitionsWithIndex(route).partitionBy(k).values().mapPartitions(fold)


def _direct_collect(frame):
    """Collect a blob frame for a direct (driver-side) fold, turning a
    ``spark.driver.maxResultSize`` rejection into actionable guidance.

    The direct path gates on PARTITION count — a fine proxy for
    partition-build outputs (a handful of rows per partition) but not
    for a blob table re-read from storage or coalesced after a union,
    where few partitions can hold many MB-scale rows. maxResultSize
    (default 1g) is the loud backstop for that shape; the remedy is
    the executor-level path."""
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


def tree_merge_df(sketch_df, fanout: int = FANOUT):
    """Level-1 merge: p partition rows → ≤fanout rows per sketch name,
    executor-side."""

    def fold(rows):
        for name, (sk, part, n) in fold_states(rows).items():
            yield tuple(state_row(sk, n, sketch=name, part_id=part).to_pylist()[0].values())

    rdd = fold_groups_rdd(sketch_df.select(*_FOLD_COLS).rdd, fanout, fold)
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


def state_bytes_hint(*factories) -> int:
    """Driver-side estimate of ONE partition row group's serialized
    state size: serialize one empty instance of each factory. Costs ~ms
    and no Spark job. Exact for array-backed sketches (CMS, HLL,
    cuckoo, Bloom — their state arrays are config-sized, identical
    empty or full); an UNDER-estimate for growing sketches (KLL,
    t-digest), which are KB-scale where the array-backed ones are the
    MB-scale states the byte gate exists for."""
    return sum(len(fac().to_bytes()) for fac in factories)


def direct_merge(
    p: int,
    state_bytes: int | None = None,
    direct_partitions: int = DIRECT_PARTITIONS,
    direct_bytes: int = DIRECT_BYTES,
) -> bool:
    """The adaptive-depth gate: may a frame of ``p`` partitions, each
    holding ``state_bytes`` of state rows, be folded on the driver in
    one collect? See ``merge_sketches``."""
    return p <= direct_partitions and (state_bytes is None or p * state_bytes <= direct_bytes)


def merge_sketches(
    sketch_df,
    fanout: int = FANOUT,
    direct_partitions: int = DIRECT_PARTITIONS,
    state_bytes: int | None = None,
    direct_bytes: int = DIRECT_BYTES,
) -> dict[str, object]:
    """Bounded-memory merge of a SKETCH_SCHEMA frame → {name: merged
    sketch object} on the driver.

    Adaptive depth: when the frame has ≤ ``direct_partitions``
    partitions the executor level is SKIPPED — one ``collect`` of the
    state rows, folded driver-side one blob at a time. The driver
    transient is p × state_size per name (≤ 256 × ~0.5 MB ≈ 128 MB at
    the flagship's CMS geometry), and the build stage keeps its full
    scan parallelism because ``collect`` is a plain job over the
    existing partitions. Measured on the 800k-doc bench corpus (65
    blob rows): the level-1 RDD route+partitionBy+fold costs 1.1-1.7 s
    of pure task/python-shuffle overhead where the direct collect-fold
    costs 0.6 s — two extra stages buy nothing until the blob count is
    large enough that a single driver pull would be GBs.

    Past the threshold (100 TB ⇒ ~10^5-10^6 scan partitions) level 1
    (``tree_merge_df``) routes the rows round-robin to ≤fanout
    streaming folds executor-side, so the driver never pulls more than
    fanout rows per name.

    ``state_bytes`` makes the gate BYTE-aware: pass
    ``state_bytes_hint(*factories)`` (the summed empty-state size of
    one partition's row group — exact for array-backed sketches, no
    Spark job) and the direct path additionally requires
    p × state_bytes ≤ ``direct_bytes`` (default 256 MB of driver
    transient). Without it the gate counts partitions only, which a
    2 MB-wide CMS at the threshold turns into a silent ~0.5 GB driver
    pull — maxResultSize is the loud backstop, but the byte cap avoids
    tripping it at all. The gate also counts PARTITIONS, not rows: a
    blob table re-read from storage can pack many rows per partition;
    pass ``direct_partitions=0`` for it. For giant membership state
    use ``shard.build_sharded`` instead (total state 2 B/key across
    ALL shards, nothing merges globally)."""
    # the gate reads the partitions of the Dataset it collects, so the
    # direct path plans once
    rows_df = sketch_df.select(*_FOLD_COLS)
    p = rows_df.rdd.getNumPartitions()
    if direct_merge(p, state_bytes, direct_partitions, direct_bytes):
        rows = _direct_collect(rows_df)
    else:
        rows = tree_merge_df(sketch_df, min(fanout, max(p, 1))).select(*_FOLD_COLS).collect()
    return {name: sk for name, (sk, _, _) in fold_states(rows).items()}


def tree_merge(sketch_df, **knobs):
    """Full merge of a one-sketch frame (``build_sketches`` output) →
    the merged sketch, or None for an empty frame. ``knobs`` are
    ``merge_sketches``'."""
    merged = merge_sketches(sketch_df, **knobs)
    if len(merged) > 1:
        raise ValueError(
            f"tree_merge got state rows of {sorted(merged)}; "
            "use merge_sketches for multi-sketch frames"
        )
    return next(iter(merged.values()), None)

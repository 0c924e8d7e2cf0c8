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

Every executor-level merge (``tree_merge_df``, ``merge_keyed`` and
``udfs.cms_heavy_hitters``) has one shape: the JVM does the exchange,
then one ``mapInArrow`` task pulls the rows out of each Arrow batch one
at a time (``arrow_rows``) and streams them through a running fold.
A task's memory is its running states plus ONE Arrow input batch; a
batch ends after the row that crosses
``spark.sql.execution.arrow.maxBytesPerBatch``, so it holds at most
that cap plus one whole blob: 4 MiB under ``get_spark``, 64 MiB at
Spark's default.

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
    (``arrow_rows`` of a task's batches, a collected list), memory is
    n_names × state_size + ONE blob no matter how many rows it yields.
    The same fold runs on the driver (direct merge) and inside level-1
    tasks."""
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


def arrow_rows(batches):
    """The rows of a ``mapInArrow`` task's batches as tuples, ONE row at
    a time. The last column (the state) comes out as a zero-copy
    ``pa.Buffer`` view into its batch, so a fold that drops each blob
    after merging it holds one batch and the blob it is merging."""
    for rb in batches:
        *keys, state = rb.columns
        for i in range(rb.num_rows):
            yield (*(c[i].as_py() for c in keys), state[i].as_buffer())


def fold_groups(df, fold, schema):
    """Round-robin routing of ``df``'s rows to ``k`` = min(FANOUT,
    partitions) merge groups, then ``fold`` over each group's rows
    (``arrow_rows``; ``fold`` yields Arrow batches of ``schema``).
    Shared by tree_merge_df and udfs.cms_heavy_hitters — keep the
    routing in ONE place.

    The group of a row is ``(source partition + row index) % k``,
    computed in the JVM (``monotonically_increasing_id`` carries the
    row index in its low 33 bits), and ``repartitionById`` sends group
    j to task j: one group per task, balanced for ANY input. A key on
    ``part_id`` collapses when part_id is constant or low-cardinality
    (a re-merged level-1 output, unioned part_id=0 rows); hashing the k
    group ids puts several groups on one task and none on others; the
    bare id modulo 16 sends every one-row partition to group 0 (2^33 ≡
    0 mod 16). Every fold is associative + commutative, so only
    balance matters."""
    k = min(FANOUT, max(df.rdd.getNumPartitions(), 1))
    g = f"pmod(spark_partition_id() + (monotonically_increasing_id() & {(1 << 33) - 1}), {k})"
    routed = df.selectExpr("*", f"CAST({g} AS INT) AS _g").repartitionById(k, "_g").drop("_g")
    return routed.mapInArrow(lambda batches: fold(arrow_rows(batches)), schema)


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
            yield state_row(sk, n, sketch=name, part_id=part)

    # merge_sketches passes the frame its gate read: selecting again
    # would drop its cached RDD, and under AQE re-run upstream shuffles
    # to count partitions
    rows = sketch_df if tuple(sketch_df.columns) == _FOLD_COLS else sketch_df.select(*_FOLD_COLS)
    return fold_groups(rows, fold, SKETCH_SCHEMA)


def merge_keyed(df, key: str):
    """ONE state row per ``key`` value from a keyed state-row table
    holding duplicates (per-task partials, unioned incremental builds):
    per key the states merge associatively and the row counts add.
    Rows are hash-partitioned by ``key``, sorted within each task and
    streamed through ``fold_states`` one key at a time — per-task
    memory is ONE running state plus one Arrow input batch however
    many keys the task holds, never a materialized group."""

    def fold(batches):
        for _, run in groupby(arrow_rows(batches), itemgetter(0)):
            for k, (sk, _, n) in fold_states(run).items():
                yield state_row(sk, n, **{key: k})

    # fold_states' min-part column means nothing for keyed tables
    rows = df.repartition(key).sortWithinPartitions(key)
    rows = rows.selectExpr(key, "0 AS part", "n_rows", "state")
    return rows.mapInArrow(fold, keyed_schema(key))


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
    Measured on the 800k-doc bench corpus (65 blob rows), when level 1
    was an RDD shuffle and fold: it cost 1.1-1.7 s of pure task/python-
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

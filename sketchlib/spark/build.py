"""Distributed sketch build: per-partition fold + metrics, zero shuffle.

The Spark-first shape (SURVEY.md §3.4): ``df.mapInArrow`` folds each
input partition's Arrow batches into one sketch per name via the
vectorized numpy kernels, emitting one state row per (partition,
sketch) — no groupBy, no shuffle, no per-row Python. The merge
(sketchlib.spark.merge) then combines the per-partition states.

Every table this layer produces — partition builds, merge levels,
shard tables (sketchlib.spark.shard) and per-group tables
(sketchlib.spark.grouped) — is a *state row* table: a key (``sketch,
part_id``, ``shard_id`` or ``group_key``) followed by the metric tail
``n_rows, item_count, fail_count, load_factor, state``, emitted by the
single ``state_row``. Keyed tables (shards, groups) are built by the
one keyed fold ``fold_keyed``, which routes each batch's rows with
``split_by_key``.

Scale notes (100 TB / 10^12 docs):
* HLL/CMS/KLL/t-digest/Bloom states are KBs–MBs regardless of input
  size, so per-partition build + tree merge is the whole story.
* A *merged* cuckoo filter must carry global geometry in every
  partition (2 bytes/slot), so the merged strategy is for capacities
  up to ~10^8-10^9; beyond that use ``sharded`` builds
  (sketchlib.spark.shard): repartition by key-hash, one
  capacity/num_shards filter per shard, probes routed by the same
  partitioner — no cross-shard merge needed, memory per task constant.
* Checkpoint/resume is per-partition (north-rule lineage): each task
  writes its finished sketch rows to ``checkpoint_dir/part-{pid}``;
  a resumed run re-emits stored rows instead of recomputing, once
  ``fold_partitions`` has matched the dir's fingerprint.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import BinaryType, StructField, StructType

# the metric tail every state row carries, after its key columns
_TAIL = [
    ("n_rows", pa.int64()),
    ("item_count", pa.int64()),
    ("fail_count", pa.int64()),
    ("load_factor", pa.float64()),
    ("state", pa.binary()),
]
_KEY_TYPES = {
    "sketch": pa.string(),
    "part_id": pa.int32(),
    "shard_id": pa.int32(),
    "group_key": pa.string(),
}


def _state_schema(*key: str) -> pa.Schema:
    return pa.schema([(k, _KEY_TYPES[k]) for k in key] + _TAIL)


def keyed_schema(key: str):
    """Spark schema of a keyed state-row table (one row per ``key``)."""
    return from_arrow_schema(_state_schema(key))


# Spark schemas of the two fixed state-row tables: partition builds and
# merge levels (one row per partition per sketch name), and shard
# tables (one row per shard, sketchlib.spark.shard)
SKETCH_SCHEMA = from_arrow_schema(_state_schema("sketch", "part_id"))
SHARD_SCHEMA = keyed_schema("shard_id")

# metadata key of the ``state`` field of a frame fold_partitions makes:
# one partition's serialized state size (``state_bytes_hint``), which
# the merge's byte gate reads (sketchlib.spark.merge). Spark keeps it
# through select, repartition, persist and parquet; a union keeps the
# first child's
STATE_BYTES = "state_bytes"

# Version of the state-row layout, pinned in checkpoint fingerprints:
# rows published under an older layout must not be re-emitted. 3 is the
# first whose state blobs are sketchlib.serde's checksummed frame.
ROW_FORMAT = 3


def state_row(sk, n_rows: int, **key) -> pa.RecordBatch:
    """One state row: the ``key`` columns (``sketch=…, part_id=…`` or
    ``shard_id=…``), then ``n_rows`` and ``sk``'s metrics and state —
    the same for every sketch kind."""
    items = getattr(sk, "num_items", None)
    if items is None:
        items = getattr(sk, "n", None)
    if items is None:
        items = getattr(sk, "total", 0) or getattr(sk, "total_weight", 0)
    row = dict(key, n_rows=n_rows, item_count=int(items))
    row["fail_count"] = int(getattr(sk, "insert_failures", 0))
    row["load_factor"] = float(sk.load_factor()) if hasattr(sk, "load_factor") else 0.0
    row["state"] = sk.to_bytes()
    return pa.RecordBatch.from_pylist([row], schema=_state_schema(*key))


def _empty_states(factories: dict[str, Callable[[], object]]) -> tuple[int, dict]:
    """One empty instance of each DISTINCT factory (the flagship's shard
    filters share one), serialized and dropped at once. Returns ONE
    partition's state size (every name's empty state) and each name's
    ``Kind:digest`` of that state, which pins the geometry (HLL
    precision, CMS width × depth, KLL k, cuckoo capacity and
    fingerprint bits, ...)."""
    empty = {}
    for fac in set(factories.values()):
        blob = (sk := fac()).to_bytes()
        empty[fac] = len(blob), f"{type(sk).__name__}:{hashlib.sha256(blob).hexdigest()[:16]}"
    size = sum(empty[fac][0] for fac in factories.values())
    return size, {name: empty[fac][1] for name, fac in factories.items()}


def state_bytes_hint(*factories) -> int:
    """Driver-side estimate of ONE partition row group's serialized
    state size (``_empty_states``). Costs ~ms and no Spark job. Exact
    for array-backed sketches (CMS, HLL, cuckoo, Bloom — their state
    arrays are config-sized, identical empty or full); an
    UNDER-estimate for growing sketches (KLL, t-digest), which are
    KB-scale where the array-backed ones are the MB-scale states the
    byte gate exists for."""
    return _empty_states(dict(enumerate(factories)))[0]


def sketch_fingerprint(factories: dict[str, Callable[[], object]]) -> dict:
    """The checkpoint fingerprint of each named factory: its sketch
    kind and a digest of its serialized empty state (``_empty_states``).
    A resume under another geometry would re-emit states of the old
    one; ``ensure_checkpoint_meta`` raises instead."""
    return _empty_states(factories)[1]


def state_field(state_bytes: int) -> StructField:
    """The binary ``state`` field of a frame whose partitions each hold
    ``state_bytes`` of state (``state_bytes_hint``), carrying it as its
    ``STATE_BYTES`` metadata."""
    return StructField("state", BinaryType(), True, {STATE_BYTES: state_bytes})


def fold_partitions(
    df,
    factories: dict[str, Callable[[], object]],
    step: Callable[[dict, Iterator[pa.RecordBatch]], None],
    checkpoint_dir: str | None = None,
    step_meta: dict | None = None,
):
    """``df`` → one SKETCH_SCHEMA row per (partition, factory name),
    its ``state`` field stamped with the factories' ``state_bytes_hint``.

    Each task builds one sketch per factory and hands ``step(sketches,
    batches)`` its partition's Arrow batch iterator, so a step can carry
    work across batches and finish it when the partition ends. With
    ``checkpoint_dir`` each task atomically publishes its rows as
    ``part-{pid}.arrow`` and a rerun re-emits published rows instead of
    folding (sketchlib/spark/taskfs.py).

    Resume is only valid against the SAME build, so the dir is
    fingerprinted here, once per call (``ensure_checkpoint_meta``): the
    row layout (``ROW_FORMAT``), ``df``'s columns, each sketch's kind
    and geometry (``sketch_fingerprint``), ``step_meta`` (what ``step``
    does with the columns) and the partition count — partition ids are
    the lineage key, so a changed ``maxPartitionBytes`` would remap rows
    to ids and double-count or drop them on resume. A mismatch raises
    ``CheckpointMismatchError``. The empty sketches the fingerprint
    reads are the ones the state size is taken from."""
    state_bytes, sketches = _empty_states(factories)
    if checkpoint_dir:
        from .checkpoint import ensure_checkpoint_meta

        meta = {
            "format": ROW_FORMAT,
            "columns": list(df.columns),
            "sketches": sketches,
            **(step_meta or {}),
            "partitions": df.rdd.getNumPartitions(),
        }
        ensure_checkpoint_meta(df.sparkSession, checkpoint_dir, meta)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        from . import taskfs

        pid = TaskContext.get().partitionId()

        def build() -> list[pa.RecordBatch]:
            sks = {name: fac() for name, fac in factories.items()}
            n = 0

            def counted():
                nonlocal n
                for rb in batches:
                    n += rb.num_rows
                    yield rb

            step(sks, counted())
            return [state_row(sk, n, sketch=name, part_id=pid) for name, sk in sks.items()]

        yield from taskfs.checkpointed(checkpoint_dir, f"part-{pid:05d}", build)

    state = state_field(state_bytes)
    return df.mapInArrow(fold, StructType([*SKETCH_SCHEMA.fields[:-1], state]))


def split_by_key(keys: pa.Array, values: pa.Array):
    """Route one batch: → ``(key, values of that key)`` per distinct
    key, nulls forming one key. One dictionary encode and one stable
    argsort, so each key's values keep their batch order; a batch
    holding a single key is yielded whole, without a take."""
    enc = pc.dictionary_encode(keys, null_encoding="encode")
    uniq = enc.dictionary.to_pylist()
    if len(uniq) == 1:
        yield uniq[0], values
        return
    codes = enc.indices.to_numpy(zero_copy_only=False)
    order = np.argsort(codes, kind="stable")
    bounds = np.searchsorted(codes[order], np.arange(len(uniq) + 1))
    values = values.take(pa.array(order))
    for i, key in enumerate(uniq):
        yield key, values.slice(bounds[i], bounds[i + 1] - bounds[i])


def fold_keyed(df, key: str, factory: Callable[[], object], checkpoint_dir: str | None = None):
    """``(key, value)`` rows → one state row per ``key`` value present
    in a task (``keyed_schema(key)``). ``df`` holds the ``key`` column
    and one value column, behind the exchange that co-locates each
    key's rows, and each task must see a key's rows as one run: a
    shard exchange puts one shard in each partition (a task that AQE
    coalesced reads whole partitions in order), the grouped build
    sorts within partitions. The task keeps ONE live sketch, folded
    from its key's values batch by batch and emitted when the next key
    starts, so its memory is one sketch and one Arrow batch however
    many keys or rows it holds. A key that came back after its run
    ended would be emitted twice (sharded probes reject duplicate
    shard rows; grouped partials are merged anyway).

    With ``checkpoint_dir`` (integer keys: shard ids) each key's row is
    published as ``shard-{key:06d}.arrow`` and a rerun re-emits it
    instead of folding (sketchlib/spark/taskfs.py)."""
    (value,) = [c for c in df.columns if c != key]

    def ckpt_name(k) -> str:
        return f"shard-{k:06d}" if checkpoint_dir else ""

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from . import taskfs

        def emit(k, sk, n):
            return taskfs.checkpointed(
                checkpoint_dir, ckpt_name(k), lambda: [state_row(sk, n, **{key: k})]
            )

        # run = [key, sketch (None when already published), rows]
        run = None
        for rb in batches:
            for k, vals in split_by_key(rb.column(key), rb.column(value)):
                if run is None or run[0] != k:
                    if run is not None:
                        yield from emit(*run)
                    done = taskfs.published(checkpoint_dir, ckpt_name(k))
                    run = [k, None if done else factory(), 0]
                if run[1] is not None:
                    run[1].update(vals)
                    run[2] += len(vals)
        if run is not None:
            yield from emit(*run)

    return df.mapInArrow(fold, keyed_schema(key))


def column_update(numeric: bool) -> Callable[[dict, Iterator[pa.RecordBatch]], None]:
    """Fold step for single-column builds: every sketch takes each
    batch's first column, as float64 when ``numeric`` (KLL/t-digest)."""

    def step(sks: dict, batches: Iterator[pa.RecordBatch]) -> None:
        for rb in batches:
            col = rb.column(0)
            vals = col.to_numpy(zero_copy_only=False).astype(np.float64) if numeric else col
            for sk in sks.values():
                sk.update(vals)

    return step


def build_sketches(
    df,
    key_col: str,
    factory: Callable[[], object],
    checkpoint_dir: str | None = None,
    numeric: bool = False,
):
    """``df`` → one SKETCH_SCHEMA row per partition, named ``key_col``.

    ``factory`` runs once per task on the executor and must be a
    picklable zero-arg callable returning a fresh sketch — in
    particular it must NOT close over DataFrames or the SparkSession
    (hoist e.g. ``capacity=df.count()`` into a local first, or the
    closure capture fails with CONTEXT_ONLY_VALID_ON_DRIVER).
    ``numeric`` converts the key column to float64 (KLL/t-digest
    inputs). ``checkpoint_dir``: per-partition resume, fingerprinted by
    ``fold_partitions``; this step adds its ``key_col`` and ``numeric``.
    """
    step_meta = {"key_col": key_col, "numeric": bool(numeric)}
    return fold_partitions(
        df.select(key_col), {key_col: factory}, column_update(numeric), checkpoint_dir, step_meta
    )

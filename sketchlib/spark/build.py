"""Distributed sketch build: per-partition fold + metrics, zero shuffle.

The Spark-first shape (SURVEY.md §3.4): ``df.mapInArrow`` folds each
input partition's Arrow batches into one sketch per name via the
vectorized numpy kernels, emitting one state row per (partition,
sketch) — no groupBy, no shuffle, no per-row Python. The merge
(sketchlib.spark.merge) then combines the per-partition states.

Every table this layer produces — partition builds, merge levels and
shard tables (sketchlib.spark.shard) — is a *state row* table: a key
(``sketch, part_id`` or ``shard_id``) followed by the metric tail
``n_rows, item_count, fail_count, load_factor, state``, emitted by the
single ``state_row``.

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
  writes its finished sketch row to ``checkpoint_dir/part-{pid}``;
  a resumed run re-emits stored rows instead of recomputing.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_schema

# the metric tail every state row carries, after its key columns
_TAIL = [
    ("n_rows", pa.int64()),
    ("item_count", pa.int64()),
    ("fail_count", pa.int64()),
    ("load_factor", pa.float64()),
    ("state", pa.binary()),
]
_KEY_TYPES = {"sketch": pa.string(), "part_id": pa.int32(), "shard_id": pa.int32()}


def _state_schema(*key: str) -> pa.Schema:
    return pa.schema([(k, _KEY_TYPES[k]) for k in key] + _TAIL)


# Spark schemas of the two state-row tables: partition builds and
# merge levels (one row per partition per sketch name), and shard
# tables (one row per shard, sketchlib.spark.shard)
SKETCH_SCHEMA = from_arrow_schema(_state_schema("sketch", "part_id"))
SHARD_SCHEMA = from_arrow_schema(_state_schema("shard_id"))

# Version of the state-row layout, pinned in checkpoint fingerprints:
# rows published under an older layout must not be re-emitted.
ROW_FORMAT = 2


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


def fold_partitions(
    df,
    factories: dict[str, Callable[[], object]],
    update: Callable[[dict, pa.RecordBatch], None],
    checkpoint_dir: str | None = None,
):
    """``df`` → one SKETCH_SCHEMA row per (partition, factory name).

    Each task builds one sketch per factory and hands every Arrow batch
    of its partition to ``update(sketches, batch)``. With
    ``checkpoint_dir`` each task atomically publishes its rows as
    ``part-{pid}.arrow`` and a rerun re-emits published rows instead of
    folding (sketchlib/spark/taskfs.py)."""

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        from . import taskfs

        pid = TaskContext.get().partitionId()

        def build() -> list[pa.RecordBatch]:
            sks = {name: fac() for name, fac in factories.items()}
            n = 0
            for rb in batches:
                update(sks, rb)
                n += rb.num_rows
            return [state_row(sk, n, sketch=name, part_id=pid) for name, sk in sks.items()]

        yield from taskfs.checkpointed(checkpoint_dir, f"part-{pid:05d}", build)

    return df.mapInArrow(fold, SKETCH_SCHEMA)


def column_update(numeric: bool) -> Callable[[dict, pa.RecordBatch], None]:
    """Fold step for single-column builds: every sketch takes the
    batch's first column, as float64 when ``numeric`` (KLL/t-digest)."""

    def update(sks: dict, rb: pa.RecordBatch) -> None:
        col = rb.column(0)
        vals = col.to_numpy(zero_copy_only=False).astype(np.float64) if numeric else col
        for sk in sks.values():
            sk.update(vals)

    return update


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
    inputs).
    """
    sel = df.select(key_col)
    if checkpoint_dir:
        # resume is only valid against the SAME build: row layout,
        # sketch kind, key column, value dtype AND partition count
        # (partition ids are the lineage key — a changed
        # maxPartitionBytes remaps rows to ids, silently
        # double-counting/dropping on resume). Fingerprint the dir
        # once, loudly reject mismatches.
        from .checkpoint import ensure_checkpoint_meta

        ensure_checkpoint_meta(
            df.sparkSession,
            checkpoint_dir,
            {
                "op": "build_sketches",
                "format": ROW_FORMAT,
                "kind": type(factory()).__name__,
                "key_col": key_col,
                "numeric": bool(numeric),
                "partitions": sel.rdd.getNumPartitions(),
            },
        )
    return fold_partitions(sel, {key_col: factory}, column_update(numeric), checkpoint_dir)

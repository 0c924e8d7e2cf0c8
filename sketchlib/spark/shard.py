"""Sharded cuckoo filters — the 10^12-key scale path.

A single merged filter needs global geometry in every task (2 bytes ×
total slots), which stops scaling around 10^9 capacity. Sharding keeps
per-task memory constant at any scale:

* build: ``shard_id = pmod(hash(key), num_shards)`` is exactly the
  partition expression of Spark's own ``HashPartitioning`` (murmur3),
  so ``repartition(num_shards, key)`` lands shard i in partition i —
  one task per shard. Each shard builds ONE filter of
  capacity/num_shards (``build.fold_keyed``); the result table
  (build.SHARD_SCHEMA state rows) is the filter.
* probe: zero-shuffle broadcast lookup while total state fits the
  broadcast budget — blobs broadcast once per executor, and one scalar
  Arrow UDF answers each probe batch on its scan partition: it takes
  the key and shard_id columns, hashes the batch ONCE, groups rows by
  shard with one stable argsort, lets each present shard answer from
  the shared hashes (``contains_hashes``) and returns only the boolean
  column. Above the budget, a cogroup on shard_id — probes shuffle
  once (key bytes only), each shard's state moves exactly once. State
  bytes are NEVER attached per probe row (a join would shuffle
  |probes| × |shard state| bytes).
* delete: the same cogroup. Both are one cogrouped ``applyInArrow``
  (``_per_shard``): Arrow in and out, each shard's sketch decoded once.

No cross-shard merge exists or is needed — the shard table is the
distributed filter, and per-shard merge (same geometry) still works
for combining incremental builds.
"""

from __future__ import annotations

import functools
from dataclasses import replace

import numpy as np
import pyarrow as pa  # module scope: the arrow_udf type hints below resolve here
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..config import CuckooConfig
from ..cuckoo import CuckooFilter
from ..hashing import kernels
from ..serde import loads
from .build import ROW_FORMAT, SHARD_SCHEMA, fold_keyed, sketch_fingerprint, state_row
from .merge import merge_keyed
from .udfs import _sketch_from


def shard_expr(key: str, num_shards) -> str:
    """The key → shard assignment as a SQL expression over column
    ``key`` (for ``selectExpr``; quote non-identifier names with
    backticks). ``_shard_col`` is this expression as a Column."""
    return f"pmod(hash({key}), {num_shards})"


# key → shard assignment, pinned in checkpoint/state fingerprints: a
# table built under another routing (the earlier pmod(xxhash64(key), n))
# would be probed against the wrong shards — silent false negatives
SHARD_ROUTING = shard_expr("key", "num_shards")


def _shard_col(key_col: str, num_shards: int):
    quoted = key_col.replace("`", "``")
    return F.expr(shard_expr(f"`{quoted}`", num_shards))


def _shard_exchange(df: DataFrame, key_col: str, num_shards: int) -> DataFrame:
    """(key, shard_id) rows after one shuffle through Spark's hash
    partitioner: partition i holds exactly the rows of shard i (for
    the one exception see build.fold_keyed)."""
    return (
        df.select(F.col(key_col).alias("key"))
        .withColumn("shard_id", _shard_col("key", num_shards))
        .repartition(num_shards, "key")
    )


def shard_fingerprint(op: str, key_col: str, num_shards: int, factory) -> dict:
    """The ``ensure_checkpoint_meta`` fingerprint of a shard table's
    lineage: row layout, routing, the shard sketch's kind and geometry
    (``build.sketch_fingerprint``), key and shard count."""
    return {
        "op": op,
        "format": ROW_FORMAT,
        "routing": SHARD_ROUTING,
        "sketches": sketch_fingerprint({"shard": factory}),
        "key_col": key_col,
        "num_shards": int(num_shards),
    }


def shard_factory(num_shards: int, cfg: CuckooConfig | None = None, factory=None):
    """The per-shard sketch factory: ``factory`` when given, else a
    CuckooFilter with capacity/num_shards geometry."""
    if factory is not None:
        return factory
    if cfg is None:
        raise ValueError("need cfg or factory")
    shard_cfg = replace(cfg, capacity=max(cfg.capacity // num_shards, 64))
    return lambda: CuckooFilter(shard_cfg)


def build_sharded(
    df: DataFrame,
    key_col: str,
    num_shards: int,
    cfg: CuckooConfig | None = None,
    factory=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ one row per non-empty shard (SHARD_SCHEMA), one task per
    shard (see module docstring).

    ``factory``: optional zero-arg callable building the per-shard
    sketch (any membership sketch with update/contains);
    default builds a CuckooFilter with capacity/num_shards geometry —
    total state across shards stays ~capacity × 2 bytes regardless of
    shard count, the property that makes this the 10^12-key path.

    ``checkpoint_dir``: per-shard resume lineage (north rule), same
    contract as build_sketches — each task atomically publishes its
    finished shard row (``shard-{id}.arrow``); a resumed run re-emits
    published rows instead of re-folding those shards. Valid because
    the shard→rows assignment is the key hash (stable for a given key
    set and num_shards, unlike scan-partition ids), so the fingerprint
    (``shard_fingerprint``) pins routing, the shard sketch's kind and
    geometry, shard count and key but NOT input partition count."""
    factory = shard_factory(num_shards, cfg, factory)
    if checkpoint_dir:
        from .checkpoint import ensure_checkpoint_meta

        ensure_checkpoint_meta(
            df.sparkSession,
            checkpoint_dir,
            shard_fingerprint("build_sharded", key_col, num_shards, factory),
        )

    keyed = _shard_exchange(df, key_col, num_shards)
    return fold_keyed(keyed, "shard_id", factory, checkpoint_dir)


def _per_shard(keyed: DataFrame, shard_df: DataFrame, op: str, answer, schema) -> DataFrame:
    """One cogrouped ``applyInArrow`` on shard_id: each task gets one
    shard's keys (``keyed`` rows) and its state rows as Arrow tables and
    returns ``answer(keys, state, sketch)``. ``sketch`` is the shard's
    decoded sketch, or None when the shard has no state row (nothing
    was inserted there) or no keys. A well-formed shard table has
    exactly one row per shard; duplicates (unioned or unmerged shard
    tables, a double-emitting build) fail loudly — using only one of
    them would silently drop the others' filter state (false negatives
    after a probe or delete)."""

    def run(keys: pa.Table, state: pa.Table) -> pa.Table:
        if state.num_rows > 1:
            raise ValueError(
                f"shard {state['shard_id'][0].as_py()} has {state.num_rows} state rows; "
                f"merge duplicate shard rows (merge_sharded) before {op}"
            )
        sketch = loads(state["state"][0].as_py()) if state.num_rows and keys.num_rows else None
        return answer(keys, state, sketch)

    return (
        keyed.groupBy("shard_id")
        .cogroup(shard_df.groupBy("shard_id"))
        .applyInArrow(run, schema)
    )


def delete_sharded(
    shard_df: DataFrame, deletes: DataFrame, key_col: str, num_shards: int
) -> DataFrame:
    """Distributed delete against a sharded filter, fully executor-side.

    Deletes route to their shard by the build's hash; a COGROUP on
    shard_id (``_per_shard``, Arrow in and out) hands each task exactly
    (that shard's delete keys, that shard's single state row) — one
    co-partitioned shuffle, no driver collection of keys OR states,
    per-task memory = one shard. Untouched shards pass through
    undecoded (empty delete group); delete keys routed to a
    shard that never emitted a row (key was never inserted) are dropped —
    there is nothing to delete in a nonexistent shard.

    Matches the reference delete contract (``internal/filter/
    filter.go:116-133``) at any delete-set and filter size.

    Returns the updated shard table (same SHARD_SCHEMA)."""
    keyed = deletes.select(F.col(key_col).alias("key")).withColumn(
        "shard_id", _shard_col("key", num_shards)
    )

    def delete(keys: pa.Table, state: pa.Table, f) -> pa.Table:
        if f is None:
            return state.select(SHARD_SCHEMA.names)
        f.delete_batch(keys["key"])
        n_rows, sid = state["n_rows"][0].as_py(), state["shard_id"][0].as_py()
        return pa.Table.from_batches([state_row(f, n_rows, shard_id=sid)])

    return _per_shard(keyed, shard_df, "delete", delete, SHARD_SCHEMA)


def merge_sharded(shard_df: DataFrame) -> DataFrame:
    """ONE row per shard from a union of same-geometry shard tables
    (incremental builds, streaming micro-batches): ``merge.merge_keyed``
    on shard_id."""
    return merge_keyed(shard_df, "shard_id")


class ShardedProbeIndex:
    """Reusable broadcast handle for probing in a loop: the shard blobs
    are collected and broadcast ONCE, and the member UDF is built (and
    pickled) once, on the first probe; every ``probe_sharded`` call that
    passes the handle reuses both — no per-call collect, no state-size
    re-measure aggregation, no new UDF, no leaked broadcasts. Call
    ``destroy()`` when the probing loop is done (after materializing
    the last probe result)."""

    def __init__(self, spark, blobs: dict[int, bytes]):
        self._blobs = blobs  # held until hash_strategy has read them
        self.state_bytes = sum(len(b) for b in blobs.values())
        self.broadcast = spark.sparkContext.broadcast(blobs)

    @functools.cached_property
    def hash_strategy(self) -> str | None:
        """The one strategy every shard hashes with (None for no
        shards), read on the first probe. A probe batch is hashed once
        for all its shards, so shards that disagree raise ValueError."""
        strategies = {sid: loads(b).hash_strategy for sid, b in self._blobs.items()}
        if len(set(strategies.values())) > 1:
            raise ValueError(f"shards disagree on hash_strategy: {strategies}")
        self._blobs = None
        return next(iter(strategies.values()), None)

    @functools.cached_property
    def member_udf(self):
        """The broadcast probe: a scalar Arrow UDF (key, shard_id) →
        member. Each batch is hashed once with the index's strategy;
        rows are grouped by shard with one stable argsort, and each
        shard present in the batch answers its rows from the shared
        hashes. A shard with no state row answers False."""
        bc, strategy = self.broadcast, self.hash_strategy
        # driver-side JVM broadcast id: the worker-level deser cache key
        # (udfs._sketch_from; id(bc) would alias after GC address reuse)
        bid = bc._jbroadcast.id()

        @F.arrow_udf(BooleanType())
        def member(keys: pa.Array, shard_ids: pa.Array) -> pa.Array:
            n = len(keys)
            out = np.zeros(n, bool)
            if n and strategy is not None:
                h = kernels.hash64_batch(keys, strategy)
                sids = shard_ids.to_numpy(zero_copy_only=False)
                order = np.argsort(sids, kind="stable")
                cuts = np.flatnonzero(np.diff(sids[order])) + 1
                for rows in np.split(order, cuts):
                    f = _sketch_from(bid, bc, int(sids[rows[0]]))
                    if f is not None:
                        out[rows] = f.contains_hashes(h[rows])
            return pa.array(out)

        # deterministic, but marked otherwise so the optimizer treats the
        # UDF as a barrier: a filter on ``member`` would otherwise be
        # pushed below the projection with a copy of the UDF — two
        # Python passes
        return member.asNondeterministic()

    @classmethod
    def from_shards(cls, shard_df: DataFrame) -> "ShardedProbeIndex":
        rows = shard_df.select("shard_id", "state").collect()
        blobs: dict[int, bytes] = {}
        for r in rows:
            sid = int(r.shard_id)
            if sid in blobs:
                # a well-formed shard table has exactly one row per
                # shard; silently keeping one of the duplicates (a
                # unioned/unmerged table) would probe against partial
                # state — false negatives with no error
                raise ValueError(
                    f"shard {sid} has duplicate state rows; merge duplicate "
                    "shard rows (merge_sharded) before probing"
                )
            blobs[sid] = bytes(r.state)
        return cls(shard_df.sparkSession, blobs)

    def destroy(self) -> None:
        self.broadcast.destroy()


def probe_sharded(
    probes: DataFrame,
    key_col: str,
    shard_df: DataFrame | None = None,
    num_shards: int = 0,
    broadcast_threshold_bytes: int = 64 << 20,
    index: ShardedProbeIndex | None = None,
) -> DataFrame:
    """→ probes + ``shard_id`` + boolean ``member`` column.

    Two plans, picked by total filter size (measured with one tiny
    aggregation — persist the shard table, it is the filter):

    * ≤ ``broadcast_threshold_bytes``: ZERO-SHUFFLE — the shard blobs
      broadcast once per executor (each worker deserializes a shard at
      most once per broadcast; the cache is bounded by the broadcast
      budget), probes stay on their scan partitions, and one scalar
      Arrow UDF over (key, shard_id) answers each batch in place: the
      batch is hashed once, each shard in it answers its rows from
      those hashes, and only the boolean column returns from Python —
      Spark keeps the rest of the row. Never attaches state to probe
      rows: attaching via join would shuffle |probes| × |shard state|
      bytes — data-scale × state-scale. The broadcast lives as long as
      the returned DataFrame (callers probing in a loop should
      materialize promptly).
    * larger (the 10^12-key regime): COGROUP on shard_id
      (``_per_shard``) — probes shuffle once (key bytes only), each
      shard's state moves exactly once to meet its probe group and is
      decoded once, its probe group is hashed once by ``contains``,
      and the group's Arrow table comes back with ``member`` appended;
      per-task memory = one shard.

    Probes hashing to a shard with no state row (nothing was inserted
    there) come back ``member = false`` — never dropped. Shards that
    disagree on ``hash_strategy`` raise ValueError on the broadcast
    path (see ``ShardedProbeIndex``).

    ``index``: a prebuilt ``ShardedProbeIndex`` — ALWAYS takes the
    broadcast path, skipping both the per-call collect+broadcast and
    the state-size measuring aggregation, and reuses the index's UDF.
    The recommended handle for probe loops (one broadcast and one UDF
    for the whole loop, explicitly destroyable); without it each call
    creates a broadcast that lives until the returned DataFrame is
    garbage-collected."""
    if index is None and shard_df is None:
        raise ValueError("need shard_df or a prebuilt ShardedProbeIndex")
    if num_shards <= 0:
        raise ValueError("num_shards must match the build's shard count")
    if index is None:
        state_bytes = (
            shard_df.select(F.sum(F.length("state")).alias("b")).first().b or 0
        )
    shard = _shard_col(key_col, num_shards)

    if index is not None or state_bytes <= broadcast_threshold_bytes:
        index = index or ShardedProbeIndex.from_shards(shard_df)
        quoted = key_col.replace("`", "``")
        # one projection, one analysis: the UDF takes the shard
        # expression itself rather than the column it defines
        member = index.member_udf(F.col(f"`{quoted}`"), shard)
        return probes.withColumns({"shard_id": shard, "member": member})

    def member(keys: pa.Table, state: pa.Table, f) -> pa.Table:
        hits = np.zeros(keys.num_rows, bool) if f is None else f.contains(keys[key_col])
        return keys.append_column("member", pa.array(hits, pa.bool_()))

    keyed = probes.withColumn("shard_id", shard)
    # a new StructType: keyed.schema.add(...) would mutate the
    # DataFrame's cached schema, after which ``member`` fails to resolve
    schema = StructType([*keyed.schema.fields, StructField("member", BooleanType())])
    return _per_shard(keyed, shard_df, "probing", member, schema)

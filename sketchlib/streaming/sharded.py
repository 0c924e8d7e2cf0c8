"""Structured-Streaming SHARDED filter build — streaming ingestion for
the 10^12-key path.

``IncrementalSketchBuilder`` merges one GLOBAL sketch per batch, which
caps out where a single merged filter does (~10^9 keys of state on one
machine). This sink routes every micro-batch through the same
hash-sharded layout as ``spark.shard.build_sharded`` and folds the
batch's delta shard table into the running shard table PER SHARD
(``merge_sharded`` — same-geometry associative merge), so streaming
state scales exactly like the batch path: per-task memory = one shard,
total state = the on-disk shard table, never a driver-held blob.

Each epoch under ``state_dir`` is a shard-table parquet dir (layout,
commit markers, replay guard and pruning: ``streaming.epochs``). The
merge is deterministic, so the replay of a batch whose epoch was
written but not committed rewrites the same table; the steady-state
footprint is 2× the filter (current epoch + its predecessor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import CuckooConfig
from ..spark.shard import build_sharded, merge_sharded, shard_factory, shard_fingerprint
from .epochs import EpochSink


class ShardedStreamBuilder(EpochSink):
    """foreachBatch sink: shard_table(t+1) = merge_sharded(
    shard_table(t) ∪ build_sharded(batch))."""

    def __init__(
        self,
        key_col: str,
        num_shards: int,
        state_dir: str,
        cfg: CuckooConfig | None = None,
        factory=None,
    ):
        self.key_col = key_col
        self.num_shards = num_shards
        self.factory = shard_factory(num_shards, cfg, factory)
        meta = shard_fingerprint("sharded_stream", key_col, num_shards, self.factory)
        super().__init__(state_dir, meta)

    def current_shards(self, spark) -> DataFrame | None:
        """The shard table after the last applied batch (None before
        the first batch). This IS the filter — probe it with
        ``spark.shard.probe_sharded``."""
        path = self._head_path(spark)
        return None if path is None else spark.read.parquet(path)

    def _write_epoch(self, batch_df, prev, path) -> None:
        merged = build_sharded(batch_df, self.key_col, self.num_shards, factory=self.factory)
        if prev is not None:
            merged = merge_sharded(merged.unionByName(batch_df.sparkSession.read.parquet(prev)))
        merged.write.mode("overwrite").parquet(path)

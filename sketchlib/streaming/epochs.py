"""The one epoch store behind both streaming sinks.

``IncrementalSketchBuilder`` (one global sketch blob) and
``ShardedStreamBuilder`` (a parquet shard table) differ only in how
they compute the next state from the previous one and a micro-batch;
persistence, the replay guard and pruning live here. State layout
under ``state_dir`` (any Hadoop-visible filesystem — ``hdfs://``,
``s3a://``, ``file://`` or a local path; all I/O goes through the
session's Hadoop FileSystem)::

    _meta.json           fingerprint (sink kind, key, ...,
                         ``layout``) — a dir written by another build
                         or an older layout raises
                         CheckpointMismatchError instead of being read
    epoch-{seq}          state after one applied batch: a sketch blob
                         file (incremental) or a shard-table parquet
                         dir (sharded); ``seq`` is the store's own
                         counter, not the batch id
    epoch-{seq}.commit   commit marker ``{"batch_id", "lineage"}``,
                         written LAST (tmp + rename): an epoch without
                         one is an interrupted write and is ignored

The state is the newest committed epoch, found by one listing of the
dir. A batch writes epoch ``head + 1`` from epoch ``head`` and then
its marker; a crash before the marker leaves the head unchanged, so
the engine's replay of that batch recomputes the same epoch. After a
commit every entry older than the predecessor is deleted: the dir
holds the current epoch, its predecessor and at most one interrupted
write.

Exactly-once: foreachBatch is at-least-once and sketch merges are not
idempotent (CMS counts and KLL n would double, a cuckoo filter would
double-insert), so a batch whose id is ≤ the head's is skipped. Batch
ids are only monotonic within one streaming checkpoint, so the guard
is scoped by LINEAGE, a hash of the checkpoint location that
``attach`` stamps: under a new checkpoint numbering restarts at 0 and
the batch folds into the accumulated state. Direct ``process_batch``
calls have lineage 0 and skip any id ≤ the head's. A brand-new
checkpoint re-reads whatever its source options say, so pair a
state-preserving re-attach with a source position that does not
re-deliver already-folded data.
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import NamedTuple

from pyspark.sql import SparkSession

from ..spark.checkpoint import ensure_checkpoint_meta
from ..spark.fsio import _fs_path, read_bytes, write_text

# state_dir layout version, pinned in the fingerprint; 1 was the
# pointer-file (sharded) and header-in-blob (incremental) layouts, 2
# held npz and cuckoo-header blobs instead of sketchlib.serde frames
EPOCH_LAYOUT = 3

_ENTRY = re.compile(r"epoch-(\d+)(\.commit)?(\.tmp)?")


class Epoch(NamedTuple):
    seq: int
    batch_id: int
    lineage: int


_NONE = Epoch(-1, -1, 0)  # the head before the first commit


def _lineage_hash(checkpoint_dir: str) -> int:
    h = hashlib.sha256(checkpoint_dir.encode()).digest()
    return int.from_bytes(h[:8], "little", signed=False) or 1


class EpochSink:
    """foreachBatch sink: epoch(t+1) = ``_write_epoch(batch, epoch(t))``
    with the replay guard, commit and pruning of the module docstring."""

    def __init__(self, state_dir: str, meta: dict):
        self.state_dir = state_dir.rstrip("/")
        self._meta = {**meta, "layout": EPOCH_LAYOUT}
        self._lineage = 0  # 0 = unknown (direct process_batch calls)
        self._checked = False

    def _write_epoch(self, batch_df, prev: str | None, path: str) -> None:
        """Write the state after ``batch_df`` to ``path``, folding the
        previous epoch at ``prev`` (None before the first batch)."""
        raise NotImplementedError

    def _path(self, seq: int) -> str:
        return f"{self.state_dir}/epoch-{seq}"

    def _scan(self, spark):
        """→ (newest committed Epoch, [(seq, hadoop Path)] of every
        epoch entry), from one listing of state_dir."""
        if not self._checked:
            ensure_checkpoint_meta(spark, self.state_dir, self._meta)
            self._checked = True
        fs, base = _fs_path(spark, self.state_dir)
        entries, committed = [], []
        for st in fs.listStatus(base):
            path = st.getPath()
            m = _ENTRY.fullmatch(path.getName())
            if m:
                entries.append((int(m[1]), path))
                if m[2] and not m[3]:
                    committed.append(int(m[1]))
        if not committed:
            return _NONE, entries
        seq = max(committed)
        rec = json.loads(read_bytes(spark, f"{self._path(seq)}.commit"))
        return Epoch(seq, rec["batch_id"], rec["lineage"]), entries

    def _head_path(self, spark) -> str | None:
        head = self._scan(spark)[0]
        return None if head is _NONE else self._path(head.seq)

    def last_batch_id(self, spark=None) -> int:
        """Batch id of the newest committed epoch (−1 before the first)."""
        return self._scan(spark or SparkSession.active())[0].batch_id

    def process_batch(self, batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        head, entries = self._scan(spark)
        if batch_id <= head.batch_id and self._lineage in (0, head.lineage):
            return  # replayed micro-batch: already folded into state
        prev = None if head is _NONE else self._path(head.seq)
        marker = f"{self._path(head.seq + 1)}.commit"
        # even an empty batch commits an epoch, so the advanced batch id
        # keeps a later replay of THIS batch a no-op
        self._write_epoch(batch_df, prev, self._path(head.seq + 1))
        lineage = self._lineage or head.lineage
        write_text(spark, f"{marker}.tmp", json.dumps({"batch_id": batch_id, "lineage": lineage}))
        fs, tmp = _fs_path(spark, f"{marker}.tmp")
        if not fs.rename(tmp, _fs_path(spark, marker)[1]):
            raise OSError(f"commit rename failed: {marker}.tmp -> {marker}")
        for seq, path in entries:
            if seq < head.seq:
                fs.delete(path, True)

    def attach(self, stream_df, checkpoint_dir: str, trigger_once: bool = True):
        # scope the replay guard to THIS checkpoint's batch numbering
        self._lineage = _lineage_hash(checkpoint_dir)
        writer = (
            stream_df.writeStream.outputMode("update")
            .foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

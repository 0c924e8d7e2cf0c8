"""Structured-Streaming SHARDED filter build — streaming ingestion for
the 10^12-key path.

``IncrementalSketchBuilder`` merges one GLOBAL sketch per batch, which
caps out where a single merged filter does (~10^9 keys of state on one
machine). This module routes every micro-batch through the same
hash-sharded layout as ``spark.shard.build_sharded`` and folds the
batch's delta shard table into the running shard table PER SHARD
(``merge_sharded`` — same-geometry associative merge), so streaming
state scales exactly like the batch path: per-task memory = one shard,
total state = the on-disk shard table, never a driver-held blob.

State layout under ``state_dir`` (any Hadoop-visible filesystem —
``hdfs://``, ``s3a://``, or a local path; ALL state I/O, including the
pointer file, goes through the Hadoop FileSystem API of the session,
never the driver's local ``os`` module, so the layout works wherever
the executors' parquet writes land)::

    _meta.json          fingerprint (row layout, shard routing, sketch
                        kind, key, shard count) — a state_dir written
                        by another build or an older routing raises
                        CheckpointMismatchError instead of being merged
    epoch-{batch_id}/   shard table (SHARD_SCHEMA parquet) AFTER batch
    CURRENT             pointer file: "{batch_id}" of the last applied
                        batch (written to a temp name + atomic rename)

Exactly-once across failures rides foreachBatch's epoch replay: a
replayed batch_id ≤ CURRENT is skipped (its merge already published),
and a crash between the epoch write and the pointer swap just
recomputes the epoch from the previous pointer — the merge is
deterministic, so the overwrite is byte-stable. This is the standard
idempotent-foreachBatch recipe from the Structured Streaming guide.

Disk ceiling: each batch writes a full new shard-table copy (merge
output), so after the pointer swap every epoch older than the
PREVIOUS one is deleted — steady-state footprint is 2× the filter
(current + one predecessor for crash recovery), not batches × filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import CuckooConfig
from ..spark.checkpoint import ensure_checkpoint_meta
from ..spark.shard import build_sharded, merge_sharded, shard_factory, shard_fingerprint


class ShardedStreamBuilder:
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
        self.state_dir = state_dir.rstrip("/")
        self.factory = shard_factory(num_shards, cfg, factory)
        self._fingerprinted = False

    # ---------------------------------------------------- hadoop fs helpers

    def _fs(self, spark):
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(self.state_dir)
        return jvm, path.getFileSystem(conf)

    def _newest_complete_epoch(self, jvm, fs) -> int | None:
        """Max epoch id carrying Spark's _SUCCESS marker (partial
        writes lack it). The epoch write always finishes before the
        pointer swap starts, so this IS the last published state."""
        best = None
        base = jvm.org.apache.hadoop.fs.Path(self.state_dir)
        if fs.exists(base):
            for status in fs.listStatus(base):
                name = status.getPath().getName()
                if name.startswith("epoch-"):
                    try:
                        eid = int(name.removeprefix("epoch-"))
                    except ValueError:
                        continue
                    ok = jvm.org.apache.hadoop.fs.Path(
                        f"{self.state_dir}/{name}/_SUCCESS"
                    )
                    if fs.exists(ok) and (best is None or eid > best):
                        best = eid
        return best

    def _pointer(self, spark) -> int | None:
        jvm, fs = self._fs(spark)
        p = jvm.org.apache.hadoop.fs.Path(f"{self.state_dir}/CURRENT")
        if not fs.exists(p):
            # CURRENT can be missing mid-swap (the delete+rename pair in
            # _publish_pointer is not atomic on every FS): recover from
            # the newest complete epoch.
            best = self._newest_complete_epoch(jvm, fs)
            if best is not None:
                # heal the pointer file now: otherwise EVERY subsequent
                # _pointer call (current_shards, replay skips, probes)
                # repeats the full epoch listing + _SUCCESS scan —
                # O(listing) per call on object stores — until the next
                # new batch happens to publish. BEST-EFFORT and
                # CREATE-ONLY (overwrite=False): a healer must never
                # replace an existing CURRENT — a stalled healer holding
                # best=N could otherwise overwrite a writer's fresher
                # N+1 and move the pointer BACKWARD. Losing the race, a
                # writer mid-publish, or a read-only consumer all
                # degrade to "list again next call", never to an error.
                try:
                    self._publish_pointer(spark, best, overwrite=False)
                except Exception:
                    pass
            return best
        stream = fs.open(p)
        try:
            # byte-at-a-time read: the pointer is < 20 bytes and this
            # avoids a classpath dependency for bulk reads via py4j
            data = bytearray()
            b = stream.read()
            while b != -1:
                data.append(b)
                b = stream.read()
        finally:
            stream.close()
        val = int(bytes(data).decode().strip())
        # STALENESS GUARD: foreachBatch batch ids are consecutive, so a
        # complete epoch-(val+1) proves this pointer predates a newer
        # publish (possible only through a crash/heal interleaving).
        # One extra exists() per read buys the forward-only guarantee AT
        # THE CONSUMER: no merge can ever base itself on a stale epoch,
        # whatever the pointer file says. CURRENT is left for the next
        # writer publish to fix (a reader overwriting it would reopen
        # the backward-race this guard closes).
        nxt = jvm.org.apache.hadoop.fs.Path(
            f"{self.state_dir}/epoch-{val + 1}/_SUCCESS"
        )
        if fs.exists(nxt):
            return self._newest_complete_epoch(jvm, fs)
        return val

    def _publish_pointer(self, spark, batch_id: int, overwrite: bool = True) -> None:
        """Write CURRENT = batch_id via unique-tmp + rename.

        ``overwrite=True`` is the WRITER path (process_batch): the
        single stream's batch ids are strictly increasing, so replacing
        dst is always forward. ``overwrite=False`` is the reader-side
        HEAL path: create-only — if CURRENT exists (or appears mid-
        race), the heal is unnecessary and becomes a no-op; a healer
        must never delete/replace dst, because its value may be stale
        (see _pointer). Tmp files are cleaned up on every non-success
        path so lost races don't litter state_dir."""
        import uuid

        jvm, fs = self._fs(spark)
        Path = jvm.org.apache.hadoop.fs.Path
        dst = Path(f"{self.state_dir}/CURRENT")
        if not overwrite and fs.exists(dst):
            return  # someone already published: nothing to heal
        # unique tmp name: concurrent healers (or healer vs writer)
        # with a shared tmp name would rename each other's file away
        tmp = Path(f"{self.state_dir}/.CURRENT.tmp-{batch_id}-{uuid.uuid4().hex}")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(str(batch_id).encode()))
        finally:
            out.close()
        try:
            if overwrite and fs.exists(dst):
                fs.delete(dst, False)
            # the delete+rename pair is NOT one atomic step (and on
            # object stores rename is copy+delete) — a crash in the gap
            # is healed by _pointer()'s newest-complete-epoch recovery,
            # so the window can lose the pointer FILE but never
            # published STATE.
            if not fs.rename(tmp, dst):
                if not overwrite:
                    return  # dst appeared mid-race: heal already done
                # writer retry: dst can only have been re-created by a
                # healer, whose value is ≤ the epochs on disk ≤ this
                # batch_id — replacing it is forward-only
                if fs.exists(dst):
                    fs.delete(dst, False)
                if not fs.rename(tmp, dst):
                    raise OSError(f"pointer rename failed: {tmp} -> {dst}")
        finally:
            if fs.exists(tmp):
                fs.delete(tmp, False)

    def _prune_epochs(self, spark, keep_from: int) -> None:
        """Delete epoch dirs older than ``keep_from`` (the predecessor
        of CURRENT stays for crash recovery)."""
        jvm, fs = self._fs(spark)
        Path = jvm.org.apache.hadoop.fs.Path
        base = Path(self.state_dir)
        if not fs.exists(base):
            return
        for status in fs.listStatus(base):
            name = status.getPath().getName()
            if name.startswith("epoch-"):
                try:
                    eid = int(name.removeprefix("epoch-"))
                except ValueError:
                    continue
                if eid < keep_from:
                    fs.delete(status.getPath(), True)

    # ------------------------------------------------------------ state io

    def _ensure_format(self, spark) -> None:
        """Fingerprint state_dir once per builder: shard tables written
        under another layout or routing must never be merged or
        probed (sketchlib.spark.checkpoint.ensure_checkpoint_meta)."""
        if not self._fingerprinted:
            ensure_checkpoint_meta(
                spark,
                self.state_dir,
                shard_fingerprint("sharded_stream", self.key_col, self.num_shards, self.factory),
            )
            self._fingerprinted = True

    def current_shards(self, spark) -> DataFrame | None:
        """The shard table after the last applied batch (None before
        the first batch). This IS the filter — probe it with
        ``spark.shard.probe_sharded``."""
        self._ensure_format(spark)
        cur = self._pointer(spark)
        if cur is None:
            return None
        return spark.read.parquet(f"{self.state_dir}/epoch-{cur}")

    # ------------------------------------------------------------- folding

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._ensure_format(spark)
        cur = self._pointer(spark)
        if cur is not None and batch_id <= cur:
            return  # replayed epoch: merge already published, skip
        delta = build_sharded(batch_df, self.key_col, self.num_shards, factory=self.factory)
        prev = self.current_shards(spark)
        merged = merge_sharded(delta.unionByName(prev)) if prev is not None else delta
        merged.write.mode("overwrite").parquet(f"{self.state_dir}/epoch-{batch_id}")
        self._publish_pointer(spark, batch_id)
        if cur is not None:
            self._prune_epochs(spark, keep_from=cur)

    def attach(self, stream_df, checkpoint_dir: str, trigger_once: bool = True):
        writer = (
            stream_df.writeStream.outputMode("update")
            .foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

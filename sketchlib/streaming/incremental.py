"""Structured-Streaming incremental sketch builds.

The reference is batch-only; this is the streaming surface the events
table backs (SURVEY.md §2.4): a ``foreachBatch`` loop folds each
micro-batch into the running sketches via the same vectorized build
path, checkpointing merged state per batch — an incremental,
resumable filter build. Watermarked windowed distinct counts ride on
the same HLL merge.
"""

from __future__ import annotations

import os

from ..serde import loads
from ..spark.build import build_sketches
from ..spark.merge import tree_merge


class IncrementalSketchBuilder:
    """foreachBatch sink: state(t+1) = merge(state(t), build(batch)).

    Replay-idempotent: foreachBatch is at-least-once (a crash between
    the state write and Spark committing the batch's offsets replays
    the batch on restart), and sketch merges are NOT idempotent under
    re-application (CMS counts and KLL n would double, a cuckoo filter
    would double-insert every fingerprint). The last applied batch_id
    is therefore persisted in the same atomic write as the state, and
    a replayed (<= last) batch id is a no-op — same recipe as the
    sharded streaming sink's epoch check.

    The guard is LINEAGE-SCOPED: batch ids are only monotonic within
    one streaming checkpoint, so the state file also records a hash of
    the checkpoint location (stamped by ``attach``). Re-attaching the
    same state_path under a NEW checkpoint restarts batch numbering at
    0 — an unscoped ``batch_id <= last`` guard would silently DISCARD
    the new query's first ``last+1`` batches of fresh data. On a
    lineage change the accumulated sketch is kept and numbering resets;
    note a brand-new checkpoint re-reads whatever its source options
    say, so pair a state-preserving re-attach with a source position
    that doesn't re-deliver already-folded data."""

    _MAGIC = b"ISB1"  # legacy header: magic + 8-byte last batch id
    _MAGIC2 = b"ISB2"  # magic + 8-byte batch id + 8-byte lineage hash

    def __init__(self, factory, key_col: str, state_path: str):
        self.factory = factory
        self.key_col = key_col
        self.state_path = state_path
        self._lineage = 0  # 0 = unknown (manual process_batch calls)
        # how a LEGACY (ISB1/headerless, lineage 0) state file relates
        # to the attached checkpoint — resolved by attach() from the
        # checkpoint dir itself; True = same numbering (guard armed)
        self._legacy_same_lineage = False

    @staticmethod
    def _lineage_hash(checkpoint_dir: str) -> int:
        import hashlib

        h = hashlib.sha256(checkpoint_dir.encode()).digest()
        return int.from_bytes(h[:8], "little", signed=False) or 1

    def _read_raw(self):
        """→ (last_applied_batch_id, lineage_hash, state_blob | None).
        Header-only callers never pay sketch deserialization. Legacy
        headerless files load as batch −1 / lineage 0."""
        if os.path.exists(self.state_path):
            with open(self.state_path, "rb") as fh:
                raw = fh.read()
            if raw[:4] == self._MAGIC2:
                bid = int.from_bytes(raw[4:12], "little", signed=True)
                lin = int.from_bytes(raw[12:20], "little", signed=False)
                return bid, lin, raw[20:]
            if raw[:4] == self._MAGIC:
                bid = int.from_bytes(raw[4:12], "little", signed=True)
                return bid, 0, raw[12:]
            return -1, 0, raw
        return -1, 0, None

    def current(self):
        blob = self._read_raw()[2]
        return loads(blob) if blob is not None else self.factory()

    def last_batch_id(self) -> int:
        return self._read_raw()[0]

    def process_batch(self, batch_df, batch_id: int) -> None:
        last, stored_lineage, blob = self._read_raw()
        # legacy files (stored_lineage == 0, ISB1/headerless) carry no
        # lineage, so a raw hash compare can't tell "re-attached to the
        # ORIGINAL checkpoint" (ids continue — guard must stay armed or
        # a replayed batch double-folds) from "re-pointed at a FRESH
        # checkpoint" (ids restart at 0 — guard must yield or the first
        # last+1 batches are silently discarded). attach() resolves the
        # ambiguity from the checkpoint dir itself (_legacy_same_lineage:
        # prior commits ⇒ original numbering); the first fold stamps the
        # real lineage either way, so this branch runs at most once.
        same_lineage = (
            self._lineage == 0
            or stored_lineage == self._lineage
            or (stored_lineage == 0 and self._legacy_same_lineage)
        )
        if same_lineage and batch_id <= last:
            return  # replayed micro-batch: already folded into state
        state = loads(blob) if blob is not None else self.factory()
        delta = tree_merge(build_sketches(batch_df, self.key_col, self.factory))
        if delta is not None:
            state = state.merge(delta)
        # even for an empty delta, persist the advanced batch id so a
        # replay of THIS batch after a later crash stays a no-op
        lineage = self._lineage or stored_lineage
        tmp = f"{self.state_path}.tmp-{batch_id}"
        with open(tmp, "wb") as fh:
            fh.write(
                self._MAGIC2
                + batch_id.to_bytes(8, "little", signed=True)
                + lineage.to_bytes(8, "little", signed=False)
                + state.to_bytes()
            )
        os.replace(tmp, self.state_path)  # atomic per-batch checkpoint

    @staticmethod
    def _checkpoint_has_batches(checkpoint_dir: str, spark=None) -> bool:
        """True iff the streaming checkpoint has ever ASSIGNED a batch
        id — i.e. batch numbering will CONTINUE rather than restart at
        0. The signal is the ``offsets`` dir, not ``commits``: Spark
        writes ``offsets/N`` BEFORE processing batch N and ``commits/N``
        after, so a checkpoint that crashed mid-first-batch (state
        written, commit not) still shows its numbering here — checking
        commits would disarm the replay guard in exactly the
        at-least-once crash window it exists for. URI checkpoints are
        inspected through the session's Hadoop FS when a session is
        available; without one they return False (fresh-dir side). A
        FAILED inspection returns True — the guard stays armed: an
        unreadable checkpoint must not be taken for a fresh one, which
        would let a replayed batch double-fold."""
        base = checkpoint_dir
        if base.startswith("file:"):
            base = base[len("file:") :] or "/"
        elif "://" in base:
            if spark is None:
                return False
            try:
                from ..spark.fsio import _fs_path

                fs, _ = _fs_path(spark, checkpoint_dir)
                jvm = spark.sparkContext._jvm
                off = jvm.org.apache.hadoop.fs.Path(
                    checkpoint_dir.rstrip("/") + "/offsets"
                )
                if not fs.exists(off):
                    return False
                for st in fs.listStatus(off):
                    if not st.getPath().getName().startswith("."):
                        return True
            except Exception:
                return True
            return False
        offsets = os.path.join(base, "offsets")
        try:
            return any(not e.startswith(".") for e in os.listdir(offsets))
        except OSError:
            return False

    def attach(self, stream_df, checkpoint_dir: str, trigger_once: bool = True):
        # stamp the lineage so the replay guard is scoped to THIS
        # checkpoint's batch numbering (see class docstring)
        self._lineage = self._lineage_hash(checkpoint_dir)
        # resolve the legacy-file ambiguity ONCE per attach: if this
        # checkpoint ever assigned batch ids, an unstamped (legacy)
        # state file's numbering belongs to it — keep the replay guard
        # armed so the in-place upgrade path can't double-fold a
        # replayed batch. A fresh checkpoint restarts at 0 → changed.
        self._legacy_same_lineage = self._checkpoint_has_batches(
            checkpoint_dir, getattr(stream_df, "sparkSession", None)
        )
        writer = (
            stream_df.writeStream.outputMode("update")
            .foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def windowed_distinct_stream(stream_df, ts_col: str, key_col: str, window: str = "1 hour",
                             watermark: str = "2 hours", rsd: float = 0.05):
    """Watermarked tumbling-window approx distinct (native HLL++ path:
    approx_count_distinct is Spark's own HLL — the built-in we
    cross-check our HLL against). ``rsd``: relative standard deviation
    target; smaller = more registers per window's state."""
    from pyspark.sql import functions as F

    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(F.approx_count_distinct(key_col, rsd).alias("approx_distinct"))
    )

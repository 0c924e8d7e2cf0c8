"""Checkpoint-resumable build lineage (north-rule requirement).

build_sketches / build_web_sketches / build_sharded(checkpoint_dir=...):
each task atomically publishes its finished sketch rows as
``part-{pid}.arrow`` (``build.fold_partitions``) or
``shard-{id}.arrow`` (``build.fold_keyed``); a rerun re-emits stored
rows instead of recomputing (the anti-join on completed lineage happens
implicitly by file existence, with identical input partitioning
guaranteed by deterministic parquet splits under fixed
maxPartitionBytes, which the fingerprint's partition count checks). The
streaming sinks' state dirs (``streaming.epochs``) share the
fingerprint below; each sketch in it is ``build.sketch_fingerprint``.

Paths may be URIs (hdfs://, s3a://): every driver-side helper routes
through the session's Hadoop FileSystem; the executor-side
partition/shard files use pyarrow.fs (taskfs.py) because tasks have no
JVM.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from .fsio import _fs_path, read_bytes, write_text


def _delete_fs_path(session, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API
    (hdfs://-capable, exists-guarded no-op)."""
    fs, p = _fs_path(session, path)
    if fs.exists(p):
        fs.delete(p, True)


def ensure_checkpoint_meta(session, checkpoint_dir: str, meta: dict) -> None:
    """Fingerprint a checkpoint dir against the build that writes it.

    Resume-by-file-existence is only sound for the SAME build: a dir
    left by a different sketch kind / key column / partitioning / row
    layout / shard routing would silently re-emit foreign rows (HLL
    states merged as CMS, rows double-counted under a changed partition
    map, keys probed in the wrong shard). First use of an empty or
    missing dir writes ``_meta.json``; later uses validate it and raise
    ``CheckpointMismatchError`` on ANY mismatch, as does a dir that
    already holds state but no fingerprint (written before its format
    was fingerprinted) — pass a fresh dir (or delete the stale one) to
    rebuild."""
    from ..errors import CheckpointMismatchError

    path = f"{checkpoint_dir.rstrip('/')}/_meta.json"
    fs, p = _fs_path(session, path)
    if fs.exists(p):
        stored = json.loads(read_bytes(session, path).decode())
        if stored != meta:
            raise CheckpointMismatchError(
                f"checkpoint dir {checkpoint_dir} was written by a different "
                f"build: stored {stored}, current {meta}; resume would merge "
                "mismatched states — use a fresh dir or delete the stale one"
            )
        return
    d = p.getParent()
    if fs.exists(d) and any(
        not st.getPath().getName().startswith(".") for st in fs.listStatus(d)
    ):
        raise CheckpointMismatchError(
            f"checkpoint dir {checkpoint_dir} holds state written by a different "
            f"build (no fingerprint; current {meta}) — use a fresh dir or "
            "delete the stale one"
        )
    write_text(session, path, json.dumps(meta, sort_keys=True))


def materialize(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Eagerly materialize an intermediate result, truncating lineage.

    ``checkpoint_dir=None`` → ``localCheckpoint(eager=True)``: blocks
    live in executor storage — fast (no FS round-trip), auto-released
    when the frame is garbage-collected, but on a real cluster an
    executor loss AFTER this point is unrecoverable mid-query (the
    truncated lineage cannot recompute lost blocks). Right default for
    single-box runs and short-lived intermediates.

    ``checkpoint_dir=<path>`` → a parquet round-trip into a unique
    ``mat-*`` subdirectory of that (HDFS / object-store) path: survives
    executor loss at the cost of one distributed write + read.
    Deliberately NOT ``df.checkpoint()``: that would require mutating
    the SparkContext-GLOBAL checkpoint directory, so two concurrent
    jobs with different ``checkpoint_dir``s would silently write into
    each other's directory (and clobber any application-configured
    one). The written path is recorded on the returned frame as
    ``_materialize_path``; callers that fully consume the result should
    pass it to ``drop_materialized`` — nothing is auto-deleted, because
    the files ARE the frame's storage.

    Tradeoff vs ``df.checkpoint``: the frame must be parquet-writable —
    no ``NullType`` columns (e.g. a bare ``F.lit(None)``) or
    parquet-illegal column names — and the round-trip reads back with
    all columns nullable. Every frame this library materializes is
    concrete-typed pair/label output, so this never binds internally;
    cast ``lit(None)`` placeholders before passing external frames.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    import uuid

    path = f"{checkpoint_dir.rstrip('/')}/mat-{uuid.uuid4().hex}"
    try:
        df.write.mode("error").parquet(path)
    except BaseException:
        # failed/aborted write: remove the partial dir (the caller gets
        # no handle to it through the exception); best-effort — cleanup
        # failure must not mask the original error
        try:
            _delete_fs_path(df.sparkSession, path)
        except Exception:
            pass
        raise
    out = df.sparkSession.read.parquet(path)
    out._materialize_path = path
    return out


def propagate_materialized(src: DataFrame, dst: DataFrame) -> DataFrame:
    """Carry ``_materialize_path`` from a materialized frame onto a
    frame DERIVED from it (select/filter/join wrappers), so the public
    return value of an operator remains drop_materialized-able. The
    derived frame reads the same parquet files — drop only after fully
    consuming it."""
    dst._materialize_path = getattr(src, "_materialize_path", None)
    return dst


def drop_materialized(df: DataFrame) -> None:
    """Delete the parquet files behind a frame returned by
    ``materialize(..., checkpoint_dir=...)`` (no-op for the
    localCheckpoint flavor). Call only when the frame — and everything
    lazily derived from it — is fully consumed."""
    path = getattr(df, "_materialize_path", None)
    if path is None:
        return
    _delete_fs_path(df.sparkSession, path)

"""Executor-side checkpoint IO — pyarrow.fs, because tasks have no JVM.

The per-partition / per-shard checkpoint files are written INSIDE
mapInArrow tasks, where the Hadoop FileSystem API (fsio.py, driver-only
— it needs the py4j gateway) does not exist. ``os.path``/``open`` are
wrong there for the same reason fsio documents: on ``hdfs://`` or
``s3a://`` checkpoint dirs they silently write executor-LOCAL files
(a literal ``s3a:`` directory), so resume never finds anything and the
"checkpointed" job recomputes from scratch while exiting 0.

``pyarrow.fs.FileSystem.from_uri`` speaks ``file://``, ``s3://``,
``gs://`` natively and ``hdfs://`` through libhdfs (present wherever
HADOOP_HOME is configured — i.e. the clusters whose hdfs:// paths you
would pass). Plain paths map to the local filesystem, which on a
multi-executor cluster must be a SHARED mount to be a meaningful
checkpoint target — prefer a URI.

``s3a://`` is normalized to ``s3://`` (same store; pyarrow registers
only the ``s3`` scheme). Atomicity note: ``move`` is an atomic rename
on file:// and hdfs://; on object stores it is copy+delete — fine
here, because every attempt writes identical bytes and last-writer
wins, but the attempt-unique tmp name is what prevents interleaved
partial writes either way.
"""

from __future__ import annotations

import pyarrow as pa
from pyarrow import fs as pafs


def task_fs(path: str):
    """→ (FileSystem, normalized_path) for a checkpoint dir or file."""
    if "://" in path:
        if path.startswith("s3a://"):
            path = "s3://" + path[len("s3a://") :]
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def exists(fs, path: str) -> bool:
    return fs.get_file_info(path).type != pafs.FileType.NotFound


def read_ipc_table(fs, path: str) -> pa.Table:
    with fs.open_input_file(path) as f:
        return pa.ipc.open_file(f).read_all()


def publish_ipc_batch(fs, base: str, tmp_name: str, final_name: str, schema, batch) -> None:
    """Atomically publish an Arrow-IPC record batch or table: write an
    attempt-unique tmp, move it over the final name, then best-effort
    GC any orphaned tmp siblings of the same final name (failed/killed
    attempts otherwise leak one tmp file each, forever, in a dir that
    lives across reruns)."""
    fs.create_dir(base, recursive=True)
    tmp = f"{base.rstrip('/')}/{tmp_name}"
    final = f"{base.rstrip('/')}/{final_name}"
    with fs.open_output_stream(tmp) as sink:
        with pa.ipc.new_file(sink, schema) as w:
            w.write(batch)
    fs.move(tmp, final)
    # orphan GC: any remaining tmp for this final name belongs to a
    # dead attempt (ours just won). A racing live attempt whose tmp we
    # delete fails its write and retries/no-ops — the final file is
    # already published, so correctness is unaffected.
    prefix = tmp_name.rsplit("tmp-", 1)[0]
    try:
        for fi in fs.get_file_info(pafs.FileSelector(base.rstrip("/"))):
            name = fi.path.rsplit("/", 1)[-1]
            if name.startswith(prefix) and "tmp-" in name:
                try:
                    fs.delete_file(fi.path)
                except Exception:
                    pass
    except Exception:
        pass


def published(checkpoint_dir: str | None, name: str) -> bool:
    """Whether ``{name}.arrow`` is published under ``checkpoint_dir``."""
    if not checkpoint_dir:
        return False
    fs, base = task_fs(checkpoint_dir)
    return exists(fs, f"{base.rstrip('/')}/{name}.arrow")


def checkpointed(checkpoint_dir: str | None, name: str, build) -> list[pa.RecordBatch]:
    """A task's output batches under checkpoint lineage: re-read
    ``{name}.arrow`` when a previous attempt or run published it, else
    ``build()`` them and publish them atomically (attempt-unique tmp +
    move; every attempt writes identical bytes, so last-writer-wins is
    safe). Nothing is published for an empty output; without a
    ``checkpoint_dir`` this is just ``build()``."""
    if not checkpoint_dir:
        return build()
    fs, base = task_fs(checkpoint_dir)
    done = f"{base.rstrip('/')}/{name}.arrow"
    if exists(fs, done):
        return read_ipc_table(fs, done).to_batches()
    out = build()
    if out:
        import uuid

        publish_ipc_batch(
            fs,
            base,
            f".{name}.tmp-{uuid.uuid4().hex[:8]}",
            f"{name}.arrow",
            out[0].schema,
            pa.Table.from_batches(out),
        )
    return out

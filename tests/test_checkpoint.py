"""Checkpoint/resume lineage: per-partition (``build.fold_partitions``,
so ``build_sketches`` and ``build_web_sketches``) and per-shard
(``shard.build_sharded``) resume, the ``_meta.json`` fingerprint that
pins each dir to the build that wrote it, task-side IO through
pyarrow.fs (``taskfs``), and a checkpointed build under task retries."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from sketchlib import CuckooConfig
from sketchlib.errors import CheckpointMismatchError
from sketchlib.sketches import CountMinSketch, HyperLogLog
from sketchlib.spark import build_sketches, tree_merge
from sketchlib.spark.shard import build_sharded
from sketchlib.spark.webbuild import build_web_sketches

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the two partition builds, each folding ``df``'s url column into one
# sketch named "url"
BUILDERS = {
    "build_sketches": lambda df, fac, ck: build_sketches(df, "url", fac, checkpoint_dir=ck),
    "build_web_sketches": lambda df, fac, ck: build_web_sketches(df, {"url": fac}, checkpoint_dir=ck),
}


@pytest.fixture(params=sorted(BUILDERS))
def build(request):
    return BUILDERS[request.param]


def _pages(spark, n: int = 200):
    return spark.createDataFrame([(f"u{i}", f"page {i}") for i in range(n)], "url string, text string")


def _cfg(capacity=8192, fingerprint_bits=16):
    return CuckooConfig(capacity=capacity, fingerprint_bits=fingerprint_bits, hash_strategy="xx")


def _states(df) -> list[bytes]:
    return sorted(bytes(r.state) for r in df.collect())


# ------------------------------------------------------ partition resume


def test_checkpoint_resume(spark, docs_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    urls = docs_df.select(F.col("url").alias("key")).repartition(4)
    df1 = build_sketches(urls, "key", lambda: HyperLogLog(12), checkpoint_dir=ckpt)
    merged1 = tree_merge(df1)
    done = [f for f in os.listdir(ckpt) if f.startswith("part-") and f.endswith(".arrow")]
    assert len(done) == 4
    # resume: identical result without recompute (stored rows re-emitted)
    df2 = build_sketches(urls, "key", lambda: HyperLogLog(12), checkpoint_dir=ckpt)
    merged2 = tree_merge(df2)
    assert merged1.to_bytes() == merged2.to_bytes()


def test_build_sketches_checkpoint_on_file_uri(spark, tmp_path):
    """End-to-end: a file:// checkpoint dir (the URI code path) builds,
    publishes one row per partition, and resumes byte-identically."""
    ck = f"file://{tmp_path}/ck-uri"
    df = spark.createDataFrame([(f"u{i}",) for i in range(300)], "key string").repartition(4)
    a = build_sketches(df, "key", lambda: HyperLogLog(10), checkpoint_dir=ck).collect()
    arrows = [f for f in os.listdir(tmp_path / "ck-uri") if f.endswith(".arrow")]
    assert len(arrows) == 4
    b = build_sketches(df, "key", lambda: HyperLogLog(10), checkpoint_dir=ck).collect()
    assert sorted(bytes(r.state) for r in a) == sorted(bytes(r.state) for r in b)


# ------------------------------------------------------------ fingerprint


def test_checkpoint_meta_rejects_foreign_build(spark, tmp_path, build):
    """Resuming a dir written by a different sketch kind must raise —
    file-existence resume would otherwise merge HLL states as CMS."""
    ck = str(tmp_path / "ck")
    df = _pages(spark)
    build(df, lambda: HyperLogLog(10), ck).collect()
    with pytest.raises(ValueError, match="different"):
        build(df, lambda: CountMinSketch(width=64, depth=2), ck).collect()


def test_checkpoint_meta_rejects_changed_partitioning(spark, tmp_path, build):
    """Partition ids are the resume key of a partition build: a changed
    partition count remaps rows to ids, so resume must refuse."""
    ck = str(tmp_path / "ck2")
    df = _pages(spark)
    build(df.repartition(4), lambda: HyperLogLog(10), ck).collect()
    with pytest.raises(ValueError, match="different"):
        build(df.repartition(8), lambda: HyperLogLog(10), ck).collect()


def test_checkpoint_meta_same_build_resumes(spark, tmp_path, build):
    ck = str(tmp_path / "ck3")
    df = _pages(spark).repartition(4)
    a = build(df, lambda: HyperLogLog(10), ck)
    b = build(df, lambda: HyperLogLog(10), ck)
    assert _states(a) == _states(b)
    meta = json.loads((tmp_path / "ck3" / "_meta.json").read_text())
    assert meta["sketches"]["url"].startswith("HyperLogLog:") and meta["partitions"] == 4


def test_resume_rejects_changed_cms_geometry(spark, tmp_path, build):
    """The same sketch kind with another geometry is another build: a
    64×2 CMS dir must not be resumed as a 4096×4 one (it would silently
    return the 64×2 partition states)."""
    ck = str(tmp_path / "ck")
    df = _pages(spark)
    build(df, lambda: CountMinSketch(width=64, depth=2), ck).collect()
    with pytest.raises(CheckpointMismatchError, match="different"):
        build(df, lambda: CountMinSketch(width=4096, depth=4), ck).collect()


def test_resume_rejects_changed_fingerprint_bits(spark, tmp_path):
    """Shard dirs pin the shard filter's geometry: 8-bit shards must not
    be resumed by a 16-bit build."""
    ck = str(tmp_path / "shard-ck")
    keys = _pages(spark).select(F.col("url").alias("key"))
    build_sharded(keys, "key", 4, cfg=_cfg(fingerprint_bits=8), checkpoint_dir=ck).collect()
    with pytest.raises(CheckpointMismatchError, match="different"):
        build_sharded(keys, "key", 4, cfg=_cfg(fingerprint_bits=16), checkpoint_dir=ck).collect()


@pytest.mark.parametrize("checkpointed", [False, True])
def test_fold_partitions_builds_each_empty_sketch_once(spark, tmp_path, checkpointed):
    """The driver builds one empty instance per DISTINCT factory for the
    frame's state size, and the fingerprint reuses those instances, so
    a checkpointed build costs no more of them than a plain one."""
    made = []

    def counted(tag, fac):
        def make():
            made.append(tag)
            return fac()

        return make

    shared = counted("hll", lambda: HyperLogLog(10))
    factories = {"a": shared, "b": shared, "cms": counted("cms", lambda: CountMinSketch(width=64, depth=2))}
    ck = str(tmp_path / "ck") if checkpointed else None
    build_web_sketches(_pages(spark), factories, checkpoint_dir=ck)
    assert sorted(made) == ["cms", "hll"]


def test_old_format_state_dirs_fail_loudly(spark, tmp_path):
    """State written under a previous row layout, shard routing
    (pmod(xxhash64(key), n)) or streaming state layout must raise the
    typed mismatch error, never be resumed, probed or misread: a
    build_sharded checkpoint dir, build_sketches checkpoint dirs from
    before the row format was fingerprinted and from row format 2 (npz
    blobs), a web_build_job dir of per-sketch ``hll/ cms/ kll/``
    subdirs, sharded stream state_dirs with a pointer file, incremental
    state files with an ISB1/ISB2 header or none, and an incremental
    epoch dir of layout 2 (npz blobs)."""
    from sketchlib.spark.shard import shard_factory, shard_fingerprint
    from sketchlib.streaming.incremental import IncrementalSketchBuilder
    from sketchlib.streaming.sharded import ShardedStreamBuilder

    keys = spark.createDataFrame([(f"k{i}",) for i in range(100)], "key string")

    shard_ck = tmp_path / "shard-ck"
    shard_ck.mkdir()
    (shard_ck / "_meta.json").write_text(json.dumps(
        {"op": "build_sharded", "kind": "CuckooFilter", "key_col": "key", "num_shards": 4}
    ))
    (shard_ck / "shard-000000.arrow").write_bytes(b"old")
    with pytest.raises(CheckpointMismatchError, match="different"):
        build_sharded(keys, "key", num_shards=4, cfg=_cfg(), checkpoint_dir=str(shard_ck))

    part_meta = {"op": "build_sketches", "kind": "HyperLogLog", "key_col": "key",
                 "numeric": False, "partitions": keys.rdd.getNumPartitions()}
    for name, meta in (("part-ck", part_meta), ("part-ck-v2", {**part_meta, "format": 2})):
        part_ck = tmp_path / name
        part_ck.mkdir()
        (part_ck / "_meta.json").write_text(json.dumps(meta))
        (part_ck / "part-00000.arrow").write_bytes(b"old")
        with pytest.raises(CheckpointMismatchError, match="different"):
            build_sketches(keys, "key", lambda: HyperLogLog(10), checkpoint_dir=str(part_ck))

    # the job's earlier layout: one build_sketches dir per sketch, no
    # fingerprint at the top
    job_ck = tmp_path / "job-ck"
    for name in ("hll", "cms", "kll"):
        (job_ck / name).mkdir(parents=True)
        (job_ck / name / "part-00000.arrow").write_bytes(b"old")
    with pytest.raises(CheckpointMismatchError, match="different"):
        build_web_sketches(_pages(spark), {"hll": lambda: HyperLogLog(14)}, checkpoint_dir=str(job_ck))

    # pointer-file stream state_dirs: predating the fingerprint (none
    # at all) and fingerprinted before the epoch layout (no "layout")
    old_meta = shard_fingerprint("sharded_stream", "key", 4, shard_factory(4, _cfg()))
    for name, meta in (("stream", None), ("stream-fp", old_meta)):
        state = tmp_path / name
        (state / "epoch-0").mkdir(parents=True)
        (state / "epoch-0" / "_SUCCESS").write_text("")
        (state / "CURRENT").write_text("0")
        if meta is not None:
            (state / "_meta.json").write_text(json.dumps(meta))
        b = ShardedStreamBuilder("key", num_shards=4, state_dir=str(state), cfg=_cfg())
        with pytest.raises(CheckpointMismatchError, match="different"):
            b.process_batch(keys, 1)
        with pytest.raises(CheckpointMismatchError, match="different"):
            b.current_shards(spark)
        assert (state / "CURRENT").read_text() == "0"  # nothing merged or moved

    # incremental state files: ISB1 (batch id), ISB2 (batch id +
    # lineage) and headerless blobs, given as the state path as before
    old = HyperLogLog(12)
    old.update([f"o{i}" for i in range(100)])
    blob = old.to_bytes()
    for name, raw in (
        ("isb1.bin", b"ISB1" + (57).to_bytes(8, "little") + blob),
        ("isb2.bin", b"ISB2" + (57).to_bytes(8, "little") + (7).to_bytes(8, "little") + blob),
        ("raw.bin", blob),
    ):
        path = tmp_path / name
        path.write_bytes(raw)
        b = IncrementalSketchBuilder(lambda: HyperLogLog(12), "key", str(path))
        with pytest.raises(CheckpointMismatchError, match="different"):
            b.process_batch(keys, 58)
        with pytest.raises(CheckpointMismatchError, match="different"):
            b.current(spark)
        assert path.read_bytes() == raw  # nothing merged or moved

    # an epoch dir of layout 2, whose epoch blobs are npz archives
    state = tmp_path / "epochs-v2"
    state.mkdir()
    (state / "_meta.json").write_text(json.dumps(
        {"op": "incremental_stream", "kind": "HyperLogLog", "key_col": "key", "layout": 2}
    ))
    (state / "epoch-0").write_bytes(b"PK\x03\x04old")
    (state / "epoch-0.commit").write_text(json.dumps({"batch_id": 57, "lineage": 0}))
    b = IncrementalSketchBuilder(lambda: HyperLogLog(12), "key", str(state))
    with pytest.raises(CheckpointMismatchError, match="different"):
        b.process_batch(keys, 58)
    with pytest.raises(CheckpointMismatchError, match="different"):
        b.current(spark)
    assert sorted(p.name for p in state.iterdir()) == ["_meta.json", "epoch-0", "epoch-0.commit"]


# ----------------------------------------------------------- shard resume


def test_sharded_build_checkpoint_resume(spark, docs_df, tmp_path):
    """North-rule lineage on the sharded path: a resumed build re-emits
    the atomically published shard rows byte-identically instead of
    re-folding, and partial checkpoints only skip the finished shards."""
    keys = docs_df.select(F.col("url").alias("key"))
    ck = str(tmp_path / "shard-ck")
    first = build_sharded(keys, "key", num_shards=4, cfg=_cfg(), checkpoint_dir=ck)
    rows1 = {r.shard_id: bytes(r.state) for r in first.collect()}
    # one published row per shard (plus the _meta.json fingerprint)
    assert len([f for f in os.listdir(ck) if f.endswith(".arrow")]) == 4
    resumed = build_sharded(keys, "key", num_shards=4, cfg=_cfg(), checkpoint_dir=ck)
    rows2 = {r.shard_id: bytes(r.state) for r in resumed.collect()}
    assert rows1 == rows2  # byte-identical resume
    # partial lineage: drop one shard's record -> only that shard rebuilds
    victim = sorted(rows1)[0]
    os.remove(os.path.join(ck, f"shard-{victim:06d}.arrow"))
    partial = build_sharded(keys, "key", num_shards=4, cfg=_cfg(), checkpoint_dir=ck)
    rows3 = {r.shard_id: bytes(r.state) for r in partial.collect()}
    assert rows3 == rows1  # deterministic rebuild matches the original
    assert len([f for f in os.listdir(ck) if f.endswith(".arrow")]) == 4  # republished


# ----------------------------------------------------------------- taskfs


def test_taskfs_publish_gcs_orphan_tmps(tmp_path):
    """Dead attempts' tmp files must not accumulate forever in a
    checkpoint dir that lives across reruns."""
    import pyarrow as pa

    from sketchlib.spark import taskfs

    fs, base = taskfs.task_fs(str(tmp_path / "ckpt"))
    fs.create_dir(base, recursive=True)
    # a stray tmp from a "dead attempt"
    with fs.open_output_stream(f"{base}/.part-00001.tmp-deadbeef") as s:
        s.write(b"junk")
    schema = pa.schema([("x", pa.int64())])
    batch = pa.RecordBatch.from_pydict({"x": [1]}, schema=schema)
    taskfs.publish_ipc_batch(fs, base, ".part-00001.tmp-abc123", "part-00001.arrow", schema, batch)
    names = sorted(os.listdir(tmp_path / "ckpt"))
    assert names == ["part-00001.arrow"]
    assert taskfs.read_ipc_table(fs, f"{base}/part-00001.arrow").num_rows == 1


def test_taskfs_uri_roundtrip(tmp_path):
    """file:// URIs resolve through FileSystem.from_uri (the same code
    path s3://-gs://-hdfs:// take) and publish/read round-trip."""
    import pyarrow as pa

    from sketchlib.spark import taskfs

    fs, base = taskfs.task_fs(f"file://{tmp_path}/uri-ck")
    schema = pa.schema([("x", pa.int64())])
    batch = pa.RecordBatch.from_pydict({"x": [7, 8]}, schema=schema)
    taskfs.publish_ipc_batch(fs, base, ".part-00000.tmp-x", "part-00000.arrow", schema, batch)
    assert taskfs.exists(fs, f"{base.rstrip('/')}/part-00000.arrow")
    assert taskfs.read_ipc_table(fs, f"{base.rstrip('/')}/part-00000.arrow").num_rows == 2


# ------------------------------------------------------------ task retries

_RETRY_JOB = r"""
import json, os, sys

from pyspark import TaskContext
from pyspark.sql import SparkSession

from sketchlib.sketches import CountMinSketch, HyperLogLog, KLLSketch
from sketchlib.spark.merge import merge_sketches
from sketchlib.spark.webbuild import build_web_sketches

docs, ck, faults = sys.argv[1:]


class FaultyKLL(KLLSketch):
    # a task's first attempt fails after folding a batch, before its
    # partition is published; the fault leaves a marker per partition
    def update(self, values):
        super().update(values)
        ctx = TaskContext.get()
        if ctx.attemptNumber() == 0:
            open(os.path.join(faults, str(ctx.partitionId())), "w").close()
            raise RuntimeError("injected fault")


spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "1g")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    .getOrCreate()
)
pages = spark.read.parquet(docs)
base = {"hll": lambda: HyperLogLog(14), "cms": lambda: CountMinSketch(width=4096, depth=4)}
clean = merge_sketches(build_web_sketches(pages, {**base, "kll": lambda: KLLSketch(200)}))
retried = merge_sketches(build_web_sketches(pages, {**base, "kll": FaultyKLL}, checkpoint_dir=ck))
print("RETRY_RESULT " + json.dumps({
    "partitions": pages.rdd.getNumPartitions(),
    "same": {k: clean[k].to_bytes() == retried[k].to_bytes() for k in clean},
}))
spark.stop()
"""


def test_checkpointed_web_build_survives_task_retries(tmp_path):
    """Under ``local[2,2]`` (one retry per task) every scan task of a
    checkpointed ``build_web_sketches`` fails its first attempt before
    publishing: the merged HLL, CMS and KLL must be byte-identical to a
    fault-free build, with exactly one ``part-*.arrow`` per partition
    and no attempt's ``.tmp-`` file left behind."""
    import pyarrow.parquet as pq

    from sketchlib.datagen import generate_documents

    docs = tmp_path / "docs"
    docs.mkdir()
    t = generate_documents(900, seed=11).select(["url", "text"])
    for i in range(3):
        pq.write_table(t.slice(300 * i, 300), docs / f"d{i}.parquet")
    ck, faults = tmp_path / "ck", tmp_path / "faults"
    faults.mkdir()
    env = {**os.environ, "PYTHONPATH": REPO, "PYSPARK_PYTHON": sys.executable}
    out = subprocess.run(
        [sys.executable, "-c", _RETRY_JOB, str(docs), str(ck), str(faults)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("RETRY_RESULT "))
    res = json.loads(line.removeprefix("RETRY_RESULT "))
    parts = range(res["partitions"])
    assert len(parts) > 1
    assert sorted(os.listdir(faults)) == [str(p) for p in parts]  # every task failed once
    assert res["same"] == {"hll": True, "cms": True, "kll": True}
    names = sorted(os.listdir(ck))
    assert [n for n in names if n.endswith(".arrow")] == [f"part-{p:05d}.arrow" for p in parts]
    assert not [n for n in names if ".tmp-" in n]

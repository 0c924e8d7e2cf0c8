"""Streaming: the IncrementalSketchBuilder and ShardedStreamBuilder sinks
on the one epoch store (sketchlib.streaming.epochs) — folding, replay
idempotence, lineage-scoped re-attach, crash recovery, pruning — plus
the stateful per-key HLL (applyInPandasWithState) and the watermarked
windowed distinct."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sketchlib import CuckooConfig
from sketchlib.sketches import CountMinSketch, HyperLogLog
from sketchlib.spark.shard import probe_sharded
from sketchlib.streaming.incremental import IncrementalSketchBuilder
from sketchlib.streaming.sharded import ShardedStreamBuilder


def _cfg(capacity=4096):
    return CuckooConfig(capacity=capacity, fingerprint_bits=16, hash_strategy="xx")


def _keys(spark, prefix, n):
    return spark.createDataFrame([(f"{prefix}{i}",) for i in range(n)], "key string")


def _stream_keys(spark, builder, tmp_path, name, keys):
    """Run ``keys`` through ``builder.attach`` as a one-file stream
    under a fresh checkpoint ``tmp_path/ckpt-{name}``."""
    src = tmp_path / f"src-{name}"
    keys.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(keys.schema).parquet(str(src))
    q = builder.attach(stream, str(tmp_path / f"ckpt-{name}"))
    assert q.awaitTermination(120)


def _items(shards):
    return {r.shard_id: r.item_count for r in shards.collect()}


# ------------------------------------------------------------ incremental


def test_incremental_builder_batches(spark, docs_df, tmp_path):
    state = str(tmp_path / "hll")
    b = IncrementalSketchBuilder(lambda: HyperLogLog(12), "key", state)
    urls = docs_df.select(F.col("url").alias("key"))
    # simulate three micro-batches
    for i in range(3):
        batch = urls.where(F.pmod(F.xxhash64("key"), F.lit(3)) == i)
        b.process_batch(batch, i)
    est = b.current().estimate()
    assert abs(est - 1000) / 1000 <= 3 * b.current().std_error()


def test_incremental_builder_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the state write
    and Spark's offset commit re-delivers the batch. Sketch merges are
    NOT idempotent (CMS counts would double), so the builder commits
    the last applied batch id with the state and skips replays."""
    state = str(tmp_path / "cms")
    b = IncrementalSketchBuilder(
        lambda: CountMinSketch(width=512, depth=3), "key", state
    )
    batch = spark.createDataFrame([("k",)] * 100, "key string")
    b.process_batch(batch, 0)
    assert b.last_batch_id() == 0
    assert int(b.current().estimate(["k"])[0]) == 100
    # crash-replay of the SAME batch id: must be a no-op
    b.process_batch(batch, 0)
    assert int(b.current().estimate(["k"])[0]) == 100
    # an empty batch still advances the id so ITS replay is also a no-op
    b.process_batch(batch.limit(0), 1)
    assert b.last_batch_id() == 1
    b.process_batch(batch.limit(0), 1)
    assert b.last_batch_id() == 1
    # a fresh builder over the same dir resumes from the committed id
    b2 = IncrementalSketchBuilder(
        lambda: CountMinSketch(width=512, depth=3), "key", state
    )
    assert b2.last_batch_id() == 1
    b2.process_batch(batch, 1)  # replay across restart: still a no-op
    assert int(b2.current().estimate(["k"])[0]) == 100


def test_incremental_new_lineage_does_not_drop_batches(spark, tmp_path):
    """Batch ids restart at 0 under a new streaming checkpoint; the
    replay guard must be scoped to the lineage or the first last+1
    batches of FRESH data are silently discarded."""
    b = IncrementalSketchBuilder(lambda: HyperLogLog(12), "key", str(tmp_path / "state"))
    df1 = _keys(spark, "a", 100)
    _stream_keys(spark, b, tmp_path, "A", df1)
    assert b.last_batch_id() == 0

    # same lineage, replayed id -> no-op (the original guarantee)
    before = b.current().estimate()
    b.process_batch(df1, 0)
    assert b.current().estimate() == before

    # NEW lineage restarts numbering at 0: the batch must be FOLDED
    df2 = _keys(spark, "b", 100)
    _stream_keys(spark, b, tmp_path, "B", df2)
    est = b.current().estimate()
    assert est > 150  # ~200 distinct: both lineages' data folded
    assert b.last_batch_id() == 0  # numbering restarted

    # replay of the new lineage's batch 0 is again a no-op
    b.process_batch(df2, 0)
    assert b.current().estimate() == est


def test_incremental_legacy_unscoped_behavior(spark, tmp_path):
    """Manual process_batch callers (lineage unknown) keep the original
    unscoped skip semantics."""
    b = IncrementalSketchBuilder(lambda: HyperLogLog(12), "key", str(tmp_path / "state"))
    df = _keys(spark, "x", 50)
    b.process_batch(df, 3)
    before = b.current().estimate()
    b.process_batch(df, 2)  # stale id, unknown lineage -> skipped
    assert b.current().estimate() == before


def test_incremental_uncommitted_epoch_is_ignored(spark, tmp_path):
    """An epoch written without its commit marker (a crash mid-publish)
    is not state: readers see its predecessor, and the next batch folds
    from the predecessor, overwriting the partial epoch."""
    state = tmp_path / "cms"
    b = IncrementalSketchBuilder(lambda: CountMinSketch(width=512, depth=3), "key", str(state))
    batch = spark.createDataFrame([("k",)] * 10, "key string")
    b.process_batch(batch, 0)
    (state / "epoch-1").write_bytes(b"partial")  # no epoch-1.commit
    assert b.last_batch_id() == 0
    assert int(b.current().estimate(["k"])[0]) == 10
    b.process_batch(batch, 1)
    assert b.last_batch_id() == 1
    assert int(b.current().estimate(["k"])[0]) == 20


def test_incremental_state_dir_file_uri_round_trips(spark, tmp_path):
    """A ``file://`` state_dir goes through the Hadoop FS like any
    other URI: the state commits there and a fresh builder reads it
    back."""
    uri = f"file://{tmp_path}/uri-state"
    b = IncrementalSketchBuilder(lambda: HyperLogLog(12), "key", uri)
    b.process_batch(_keys(spark, "u", 300), 0)
    b.process_batch(_keys(spark, "v", 300), 1)
    assert (tmp_path / "uri-state" / "epoch-1.commit").exists()
    b2 = IncrementalSketchBuilder(lambda: HyperLogLog(12), "key", uri)
    assert b2.last_batch_id() == 1
    assert b2.current().to_bytes() == b.current().to_bytes()
    est = b2.current().estimate()
    assert abs(est - 600) / 600 <= 3 * b2.current().std_error()


def test_streaming_incremental_end_to_end(spark, docs_parquet, tmp_path):
    """Real Structured Streaming run: file source -> foreachBatch
    incremental HLL build -> availableNow trigger -> state on disk."""
    (tmp_path / "in").mkdir()
    shutil.copy(docs_parquet, tmp_path / "in" / "p0.parquet")
    schema = spark.read.parquet(docs_parquet).schema
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
    b = IncrementalSketchBuilder(lambda: HyperLogLog(12), "url", str(tmp_path / "hll"))
    q = b.attach(stream.select("url"), str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)
    est = b.current().estimate()
    assert abs(est - 1000) / 1000 <= 3 * b.current().std_error()


# ---------------------------------------------------------------- sharded


def test_sharded_stream_builder_merges_and_replays(spark, tmp_path):
    """Micro-batches fold into the running shard table per shard; a
    replayed batch_id is skipped (idempotent foreachBatch contract), so
    crash-replay cannot double-insert."""
    state = tmp_path / "state"
    b = ShardedStreamBuilder("key", num_shards=4, state_dir=str(state), cfg=_cfg())
    batch0 = _keys(spark, "a", 200)
    batch1 = _keys(spark, "b", 200)
    b.process_batch(batch0, 0)
    b.process_batch(batch1, 1)
    shards = b.current_shards(spark).persist()
    items_after = _items(shards)
    both = batch0.unionByName(batch1)
    hits = probe_sharded(both, "key", shards, num_shards=4).where("member").count()
    assert hits == 400  # both batches answered, no false negatives
    # replay batch 1 (the engine re-delivers after a crash): must be a
    # no-op — same head, same per-shard item counts
    b.process_batch(batch1, 1)
    assert _items(b.current_shards(spark)) == items_after
    shards.unpersist()
    # epoch pruning: after batch 2 commits, epochs older than the
    # predecessor of the head are deleted (steady-state = 2 copies)
    b.process_batch(_keys(spark, "c", 50), 2)
    assert not (state / "epoch-0").exists()
    assert not (state / "epoch-0.commit").exists()
    assert (state / "epoch-1").exists() and (state / "epoch-2").exists()
    assert b.last_batch_id(spark) == 2


def test_sharded_stream_recovers_from_crash_mid_publish(spark, tmp_path):
    """A crash after the epoch write but before its commit marker (an
    epoch dir, at most a tmp marker) leaves the previous epoch as the
    state; the engine's replay of the batch recomputes the epoch from
    that predecessor, so nothing is lost or inserted twice."""
    state = tmp_path / "state"
    b = ShardedStreamBuilder("key", num_shards=2, state_dir=str(state), cfg=_cfg())
    batch0 = _keys(spark, "a", 100)
    batch1 = _keys(spark, "b", 100)
    b.process_batch(batch0, 0)
    b.process_batch(batch1, 1)
    items = _items(b.current_shards(spark))
    # undo the commit: the marker becomes an interrupted tmp write
    os.rename(state / "epoch-1.commit", state / "epoch-1.commit.tmp")
    b2 = ShardedStreamBuilder("key", num_shards=2, state_dir=str(state), cfg=_cfg())
    assert b2.last_batch_id(spark) == 0
    assert sum(_items(b2.current_shards(spark)).values()) == 100
    b2.process_batch(batch1, 1)  # the engine's replay after restart
    assert b2.last_batch_id(spark) == 1
    shards = b2.current_shards(spark)
    assert _items(shards) == items  # same table as the uninterrupted run
    both = batch0.unionByName(batch1)
    assert probe_sharded(both, "key", shards, num_shards=2).where("member").count() == 200
    assert not (state / "epoch-1.commit.tmp").exists()


def test_sharded_stream_state_never_moves_backward(spark, tmp_path):
    """The state is the NEWEST committed epoch: a replayed or older
    batch id never rewinds it, a fresh builder over the dir sees the
    same head, and the kept predecessor is never read as state."""
    state = tmp_path / "state"
    b = ShardedStreamBuilder("key", num_shards=2, state_dir=str(state), cfg=_cfg())
    batch0 = _keys(spark, "a", 50)
    batch1 = _keys(spark, "b", 50)
    b.process_batch(batch0, 0)
    b.process_batch(batch1, 1)
    assert (state / "epoch-0.commit").exists()  # predecessor kept
    b.process_batch(batch0, 0)  # older id: no-op, no rewind
    for reader in (b, ShardedStreamBuilder("key", 2, str(state), cfg=_cfg())):
        assert reader.last_batch_id(spark) == 1
        shards = reader.current_shards(spark)
        got = probe_sharded(batch1, "key", shards, num_shards=2).collect()
        assert all(r.member for r in got)  # batch-1 keys present: no lost batch
    assert not [f for f in os.listdir(state) if f.endswith(".tmp")]


def test_sharded_stream_reattach_fresh_checkpoint_folds_new_stream(spark, tmp_path):
    """Re-attaching the sharded sink's state_dir under a FRESH
    checkpoint restarts batch numbering at 0; the lineage-scoped guard
    must fold the new stream instead of skipping it as a replay —
    every key of both streams probes as a member."""
    b = ShardedStreamBuilder("key", num_shards=4, state_dir=str(tmp_path / "state"), cfg=_cfg())
    first = _keys(spark, "first", 1000)
    second = _keys(spark, "second", 1000)
    _stream_keys(spark, b, tmp_path, "1", first)
    _stream_keys(spark, b, tmp_path, "2", second)
    shards = b.current_shards(spark)
    for keys in (first, second):
        assert probe_sharded(keys, "key", shards, num_shards=4).where("member").count() == 1000


# ---------------------------------------------------- stateful per-key HLL


class _FakeState:
    def __init__(self, stored=None, timed_out=False):
        self._stored = stored
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None
        self.timeout_set = None

    @property
    def exists(self):
        return self._stored is not None

    @property
    def get(self):
        return self._stored

    def update(self, v):
        self.updated = v
        self._stored = v

    def remove(self):
        self.removed = True
        self._stored = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_stateful_value_col_required(spark):
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import hll_distinct_by_key

    df = spark.createDataFrame([("a", "x")], "k string, v string")
    with pytest.raises(ValueError, match="value_col"):
        hll_distinct_by_key(df.groupBy("k"), lambda: HyperLogLog(10))


def test_stateful_timeout_validation(spark):
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import hll_distinct_by_key

    df = spark.createDataFrame([("a", "x")], "k string, v string")
    g = df.groupBy("k")
    with pytest.raises(ValueError, match="timeout_duration_ms"):
        hll_distinct_by_key(g, lambda: HyperLogLog(10), timeout="ProcessingTimeTimeout", value_col="v")
    with pytest.raises(NotImplementedError, match="EventTimeTimeout"):
        hll_distinct_by_key(g, lambda: HyperLogLog(10), timeout="EventTimeTimeout", value_col="v")
    with pytest.raises(ValueError, match="unknown timeout"):
        hll_distinct_by_key(g, lambda: HyperLogLog(10), timeout="Bogus", value_col="v")


def test_stateful_fold_timed_out_evicts_not_resurrects():
    """A timed-out invocation must emit the final snapshot and REMOVE
    the state — update() would resurrect it and re-emit stale rows on
    every later timeout."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import _make_fold

    sk = HyperLogLog(10)
    sk.update(["a", "b", "c"])
    st = _FakeState(stored=(sk.to_bytes(), 3), timed_out=True)
    fold = _make_fold(lambda: HyperLogLog(10), "v", "ProcessingTimeTimeout", 60_000)
    out = list(fold(("k1",), iter([]), st))
    assert len(out) == 1 and out[0]["n_rows"].iloc[0] == 3
    assert st.removed and st.updated is None
    assert st.timeout_set is None  # no re-arm after eviction


def test_stateful_fold_arms_timeout_every_batch():
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import _make_fold

    st = _FakeState()
    fold = _make_fold(lambda: HyperLogLog(10), "v", "ProcessingTimeTimeout", 60_000)
    pdf = pd.DataFrame({"k": ["k1"] * 4, "v": ["a", "b", "a", "c"]})
    out = list(fold(("k1",), iter([pdf]), st))
    assert out[0]["n_rows"].iloc[0] == 4
    assert st.timeout_set == 60_000
    assert st.updated is not None


def test_stateful_hll_by_key_stream(spark, docs_parquet, tmp_path):
    """applyInPandasWithState: per-key running HLL over a 2-micro-batch
    stream; state persists across batches (final estimate ~= per-lang
    distinct urls)."""
    import shutil

    from pyspark.sql import functions as F

    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import hll_distinct_by_key

    src = tmp_path / "in2"
    src.mkdir()
    # two files -> two micro-batches with maxFilesPerTrigger=1
    full = spark.read.parquet(docs_parquet)
    full.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0).write.parquet(str(src / "a"))
    full.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .select("lang", "url")
    )
    out = hll_distinct_by_key(
        stream.groupBy("lang"), lambda: HyperLogLog(12), value_col="url"
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("hll_by_lang")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT key, max(n_rows) AS n, max(estimate) AS est FROM hll_by_lang GROUP BY key"
    ).collect()
    got = {r.key: (r.n, r.est) for r in rows}
    exact = {
        r.lang: r.c
        for r in full.groupBy("lang").agg(F.countDistinct("url").alias("c")).collect()
    }
    assert set(got) == set(exact)
    for lang, (n, est) in got.items():
        # state crossed micro-batches: final n == all rows of that lang
        assert n == full.where(F.col("lang") == lang).count()
        assert abs(est - exact[lang]) / max(exact[lang], 1) <= 0.15


# ------------------------------------------------------ windowed distinct


def test_windowed_distinct_watermark_drops_late(spark, tmp_path):
    """Watermarked windowed distinct over a real 3-batch stream. The
    hard guarantee under append mode: a window is emitted AT MOST ONCE
    after the watermark passes it, and later batches cannot reopen it —
    a very-late row (batch 3, window already finalized+evicted) never
    produces a second hour-00 output row. (Row-level late filtering
    before eviction is best-effort in Spark and not asserted.)"""
    import glob
    import shutil

    from sketchlib.streaming.incremental import windowed_distinct_stream

    src = tmp_path / "wm_in"
    src.mkdir()

    def write_batch(name, rows):
        df = spark.createDataFrame(rows, "ts string, user_id string").select(
            F.col("ts").cast("timestamp").alias("ts"), "user_id"
        )
        tmp = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, src / f"{name}.parquet")

    # batch 1: on-time rows in hour 00 and a row at hour 06 that will
    # advance the watermark (6h - 2h watermark = 04:00) past hour 00
    write_batch(
        "b1",
        [
            ("2026-01-01 00:10:00", "a"),
            ("2026-01-01 00:20:00", "b"),
            ("2026-01-01 06:00:00", "z"),
        ],
    )
    # batch 2: a LATE row for hour 00 (behind the 04:00 watermark)
    write_batch(
        "b2",
        [("2026-01-01 00:30:00", "late-user"), ("2026-01-01 06:30:00", "z2")],
    )
    # batch 3: a VERY late row for hour 00 — by now the hour-00 window
    # is finalized (emitted + state evicted)
    write_batch("b3", [("2026-01-01 00:40:00", "very-late"), ("2026-01-01 07:30:00", "z3")])
    # the file source orders same-batch candidates by mtime: make the
    # intended batch order explicit
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(src / "b1.parquet", (now - 240, now - 240))
    _os.utime(src / "b2.parquet", (now - 120, now - 120))
    _os.utime(src / "b3.parquet", (now, now))
    stream = (
        spark.readStream.schema("ts timestamp, user_id string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = windowed_distinct_stream(stream, "ts", "user_id", window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_distinct")
        .option("checkpointLocation", str(tmp_path / "wm_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT window.start AS s, approx_distinct FROM wm_distinct").collect()
    hour00 = [r.approx_distinct for r in rows if str(r.s) == "2026-01-01 00:00:00"]
    # exactly one finalized emission for hour 00, and the very-late
    # batch-3 row is NOT in it (on-time a,b (+ possibly the batch-2
    # pre-eviction row) but never 4)
    assert len(hour00) == 1
    assert 2 <= hour00[0] <= 3


def test_windowed_distinct_stream_plan(spark):
    # plan-level check: the streaming agg builds without a real stream
    from sketchlib.streaming.incremental import windowed_distinct_stream

    df = spark.createDataFrame(
        [("2026-01-01 00:00:00", "u1")], "ts string, user_id string"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "user_id")
    out = windowed_distinct_stream(df, "ts", "user_id")
    assert "approx_distinct" in out.columns

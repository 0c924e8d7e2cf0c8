"""Grouped (per-key) sketch builds and salting: salted == unsalted
exact states, the row-key salt, null groups, and the streamed keyed
fold that never hands one sketch a whole group at once."""

from __future__ import annotations

from pyspark.sql import functions as F

from sketchlib.serde import loads
from sketchlib.sketches import HyperLogLog
from sketchlib.spark import salted_repartition
from sketchlib.spark.grouped import build_grouped_sketches
from sketchlib.spark.salt import partition_sizes, salt_grouped


# ------------------------------------------------------------------- salting


def test_salted_repartition_uniform(spark, docs_df):
    # Zipf hosts are skewed; salting by url hash must even partitions out
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    by_host = docs_df.select(F.col("url"), host.alias("host")).repartition(8, "host")
    sizes_skewed = partition_sizes(by_host)
    salted = salted_repartition(docs_df.select("url"), 8, row_key="url")
    sizes_salted = partition_sizes(salted)
    n = 1000
    assert max(sizes_salted) < n / 8 * 1.5
    assert max(sizes_salted) <= max(sizes_skewed)


def test_salt_grouped_bounds_groups(spark, docs_df):
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    d = docs_df.select("url", host.alias("host"))
    top_sz = d.groupBy("host").count().agg(F.max("count")).first()[0]
    salted = salt_grouped(d, "host", salt_buckets=8, row_key="url")
    top_salted = salted.groupBy("host", "_salt").count().agg(F.max("count")).first()[0]
    assert top_salted <= top_sz / 8 * 2.5


def test_partition_sizes_does_not_ship_payloads(spark, monkeypatch):
    """partition_sizes must count the narrow `_count_projection` frame
    (constant-only rows), never df.rdd's full pickled payloads. Pinned
    by SPYING on the wiring: a revert to counting df.rdd directly
    never calls _count_projection and fails the spy assert; the spy
    also checks the projected frame really is 1 constant column."""
    import sketchlib.spark.salt as salt

    seen = {}
    orig = salt._count_projection

    def spy(frame):
        out = orig(frame)
        seen["cols"] = out.columns
        return out

    monkeypatch.setattr(salt, "_count_projection", spy)
    df = (
        spark.range(100)
        .withColumn("payload", F.repeat(F.lit("x"), 10_000))
        .repartition(8)
    )
    sizes = salt.partition_sizes(df)
    assert sum(sizes) == 100 and len(sizes) == 8
    assert seen.get("cols") == ["one"], "partition_sizes bypassed _count_projection"


def test_partition_sizes_reports_declared_partitioning_under_aqe(spark):
    """On an AQE-coalescible frame (repartition(col), no explicit
    count) the narrow count projection shrinks shuffle map outputs to
    ~4 B/row, so AQE would coalesce the measurement job's partitions
    far harder than the full-width frame the caller consumes —
    partition_sizes must instead report the DECLARED pre-coalescing
    boundaries (shuffle.partitions buckets, empties included) and
    restore the coalescing conf afterwards."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key, "true")
    df = (
        spark.range(2000)
        .withColumn("host", (F.col("id") % 3).cast("string"))
        .repartition(F.col("host"))
    )
    sizes = partition_sizes(df)
    assert sum(sizes) == 2000
    # declared partitioning: exactly shuffle.partitions buckets, the
    # ≥1 empty ones (3 distinct hosts) included, no AQE coalescing
    assert len(sizes) == int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert any(s == 0 for s in sizes)
    assert spark.conf.get(key, "true") == before  # conf restored


# -------------------------------------------------------------- grouped/salted


def test_grouped_salted_equals_unsalted(spark, docs_df):
    """Salted two-stage grouped build == per-group local build (exact
    HLL register states), on the Zipf-skewed host column."""
    from sketchlib.serde import loads
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark.grouped import build_grouped_sketches

    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    d = docs_df.select(host.alias("host"), "url")
    rows = build_grouped_sketches(
        d, "host", "url", lambda: HyperLogLog(12), salt_buckets=4
    ).collect()
    got = {r.group_key: loads(r.state).to_bytes() for r in rows}
    # local oracle per host
    local = {}
    for r in d.collect():
        local.setdefault(r.host, []).append(r.url)
    assert set(got) == set(local)
    for h, urls in local.items():
        sk = HyperLogLog(12)
        sk.update(urls)
        assert got[h] == sk.to_bytes(), h


def test_grouped_estimates_within_bound(spark, docs_df):
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark.grouped import build_grouped_sketches, grouped_estimates

    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    d = docs_df.select(host.alias("host"), "url")
    est = grouped_estimates(
        build_grouped_sketches(d, "host", "url", lambda: HyperLogLog(14))
    ).collect()
    exact = {
        r.host: r.c
        for r in d.groupBy("host").agg(F.countDistinct("url").alias("c")).collect()
    }
    for r in est:
        assert abs(r.estimate - exact[r.group_key]) / max(exact[r.group_key], 1) <= 0.1


def test_grouped_build_distinct_row_key(spark, docs_df):
    """row_key variant: when key_col values repeat heavily inside a
    group, salting on the value sends every copy of a hot value to one
    salt bucket; a row-unique row_key spreads them. The row_key column
    is projected through for the salt hash only — results must be
    byte-identical to the value-salted build (associative merges) and
    the helper column must not leak into the output schema."""
    from sketchlib.serde import loads
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark.grouped import build_grouped_sketches

    # lang takes a handful of distinct values per group (maximally
    # repeated key_col); url is row-unique
    d = docs_df.select(
        (F.xxhash64("url") % 2).cast("string").alias("grp"),
        F.col("lang").alias("val"),
        "url",
    )
    by_val = build_grouped_sketches(
        d, "grp", "val", lambda: HyperLogLog(12), salt_buckets=4
    )
    by_url = build_grouped_sketches(
        d, "grp", "val", lambda: HyperLogLog(12), salt_buckets=4, row_key="url"
    )
    got_val = {r.group_key: (r.n_rows, loads(r.state).to_bytes()) for r in by_val.collect()}
    got_url = {r.group_key: (r.n_rows, loads(r.state).to_bytes()) for r in by_url.collect()}
    assert got_val == got_url
    # state-row columns only: _salt_row_key never leaks into the output
    assert by_url.columns == [
        "group_key",
        "n_rows",
        "item_count",
        "fail_count",
        "load_factor",
        "state",
    ]


def test_grouped_salt_row_key_dropped_before_shuffle(spark):
    """The row-key column feeds only the salt hash; it must not ride
    the stage-1 shuffle (docstring: 'dropped after')."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark.grouped import build_grouped_sketches
    from sketchlib.spark import salt as salt_mod

    captured = {}
    real = salt_mod.salt_grouped

    def spy(df, group_col, buckets, row_key=None):
        out = real(df, group_col, buckets, row_key=row_key)
        captured["cols_after_salt"] = out.columns
        return out

    import sketchlib.spark.grouped as grouped_mod

    real_fold = grouped_mod.fold_keyed

    def fold_spy(df, *args):
        captured["stage1"] = df
        return real_fold(df, *args)

    orig = grouped_mod.salt_grouped
    grouped_mod.salt_grouped = spy
    grouped_mod.fold_keyed = fold_spy
    try:
        df = spark.createDataFrame(
            [("h1", f"tok{i}", f"url{i}") for i in range(100)],
            "host string, tok string, url string",
        )
        grouped = build_grouped_sketches(
            df, "host", "tok", lambda: HyperLogLog(10), salt_buckets=2, row_key="url"
        )
        rows = grouped.collect()
        assert len(rows) == 1 and rows[0].n_rows == 100
    finally:
        grouped_mod.salt_grouped = orig
        grouped_mod.fold_keyed = real_fold
    assert "_salt_row_key" in captured["cols_after_salt"]  # salt saw it
    # ...and the exchange feeding the stage-1 fold does not carry it
    outputs, todo = [], [captured["stage1"]._jdf.queryExecution().sparkPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Exchange":
            outputs.append(node.output().toString())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    assert len(outputs) == 1 and "_salt#" in outputs[0], outputs
    assert "_salt_row_key" not in outputs[0], outputs


# ------------------------------------------------------- streamed keyed fold


class _BatchBoundHLL(HyperLogLog):
    """An HLL whose update refuses more rows than one Arrow batch (the
    test session's arrow.maxRecordsPerBatch): a build that hands it a
    whole group at once fails. Module-level so workers unpickle it."""

    def update(self, values):
        assert len(values) <= 10_000, f"update saw {len(values)} rows at once"
        super().update(values)


def test_grouped_build_streams_batches(spark):
    """One 25,000-row group with no salt spread: the stage-1 fold must
    feed the sketch batch by batch, never the materialized group."""
    df = spark.range(25_000).selectExpr("'hot' AS host", "concat('u', id) AS url")
    rows = build_grouped_sketches(
        df, "host", "url", lambda: _BatchBoundHLL(12), salt_buckets=1
    ).collect()
    assert [(r.group_key, r.n_rows) for r in rows] == [("hot", 25_000)]
    local = HyperLogLog(12)
    local.update([f"u{i}" for i in range(25_000)])
    assert loads(rows[0].state).to_bytes() == local.to_bytes()


class _LiveHLL(HyperLogLog):
    """An HLL that counts its live instances in the worker process and
    refuses a third: a fold that keeps one sketch per group until its
    task ends fails on a many-group task. Module-level so workers
    unpickle it."""

    live = 0

    def __init__(self, *args, **kwargs):
        _LiveHLL.live += 1
        assert _LiveHLL.live <= 2, f"{_LiveHLL.live} sketches alive at once"
        super().__init__(*args, **kwargs)

    def __del__(self):
        _LiveHLL.live -= 1


def test_grouped_build_holds_one_sketch_per_task(spark):
    """300 groups share the few stage-1 tasks: each task folds them one
    run at a time (sorted within the partition), so at most the
    emitted sketch and the next one are alive at once."""
    df = spark.range(1200).selectExpr("concat('h', id % 300) AS host", "concat('u', id) AS url")
    rows = build_grouped_sketches(
        df, "host", "url", lambda: _LiveHLL(10), salt_buckets=1
    ).collect()
    assert len(rows) == 300
    assert {r.n_rows for r in rows} == {4}
    for r in rows:
        local = HyperLogLog(10)
        local.update([f"u{i}" for i in range(int(r.group_key[1:]), 1200, 300)])
        assert loads(r.state).to_bytes() == local.to_bytes(), r.group_key


def test_grouped_build_null_group_key(spark):
    """Null group keys form ONE group with a null group_key."""
    df = spark.createDataFrame(
        [(None if i % 3 == 0 else "a", f"u{i}") for i in range(300)],
        "host string, url string",
    )
    rows = build_grouped_sketches(
        df, "host", "url", lambda: HyperLogLog(12), salt_buckets=4
    ).collect()
    assert len(rows) == 2
    assert {r.group_key: r.n_rows for r in rows} == {None: 100, "a": 200}

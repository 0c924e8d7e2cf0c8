"""Spark-layer tests: per-partition build + tree merge == single build,
sharded build/probe, broadcast UDFs, page sources,
and the end-to-end text invariant through Arrow (FIXTURES.md §4).
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib import CuckooConfig, CuckooFilter
from sketchlib.sketches import BloomFilter, CountMinSketch, HyperLogLog, KLLSketch
from sketchlib.spark import (
    build_sketches,
    cms_estimate_udf,
    membership_udf,
    tree_merge,
)


ROWS_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
BYTES_CONF = "spark.sql.execution.arrow.maxBytesPerBatch"


def _cfg(capacity=8192):
    return CuckooConfig(capacity=capacity, fingerprint_bits=16, hash_strategy="xx")


@contextmanager
def _conf(spark, key: str, value: str):
    """``key`` set to ``value`` for the block, then restored."""
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


# --------------------------------------------------- build + merge == single


@pytest.mark.parametrize("n_parts", [1, 2, 8])
def test_partition_build_merge_equals_single(spark, docs_df, n_parts):
    urls = docs_df.select(F.col("url").alias("key")).repartition(n_parts)
    merged = tree_merge(build_sketches(urls, "key", lambda: CuckooFilter(_cfg())))
    local = CuckooFilter(_cfg())
    url_list = [r.key for r in docs_df.select(F.col("url").alias("key")).collect()]
    local.insert_batch(url_list)
    assert merged.count() == local.count() == 1000
    assert merged.lookup_batch(url_list).all()
    assert merged.insert_failures == 0


def test_hll_distributed_equals_local_exact_state(spark, docs_df):
    urls = docs_df.select(F.col("url").alias("key")).repartition(8)
    merged = tree_merge(build_sketches(urls, "key", lambda: HyperLogLog(12)))
    local = HyperLogLog(12)
    local.update([r.url for r in docs_df.select("url").collect()])
    # register-max merge: distributed state is bit-identical to local
    assert merged.to_bytes() == local.to_bytes()
    assert abs(merged.estimate() - 1000) / 1000 <= 3 * merged.std_error()


def test_hll_matches_spark_native_approx(spark, docs_df):
    # cross-check against Spark's own HLL++ (approx_count_distinct)
    urls = docs_df.select(F.col("url").alias("key"))
    merged = tree_merge(build_sketches(urls.repartition(4), "key", lambda: HyperLogLog(14)))
    native = docs_df.agg(F.approx_count_distinct("url", 0.01)).first()[0]
    assert abs(merged.estimate() - native) / native < 0.05


def test_kll_numeric_build(spark, docs_df):
    lens = docs_df.select(F.length("text").cast("double").alias("v"))
    merged = tree_merge(build_sketches(lens.repartition(4), "v", lambda: KLLSketch(200), numeric=True))
    exact = sorted(r.v for r in lens.collect())
    est = float(np.atleast_1d(merged.quantile(0.5))[0])
    rank = np.searchsorted(exact, est, side="right") / len(exact)
    assert abs(rank - 0.5) <= 0.05


# ------------------------------------------------------------ composite build


def test_web_sketch_composite_build(spark, docs_df):
    """One-pass build of the whole sketch family equals per-kind local
    builds (same states where merge is exact)."""
    from sketchlib.sketches import CountMinSketch, HyperLogLog, KLLSketch
    from sketchlib.spark.merge import merge_sketches
    from sketchlib.spark.webbuild import build_web_sketches

    cfg = _cfg(4096)
    merged = merge_sketches(
        build_web_sketches(
            docs_df.repartition(4),
            {
                "cuckoo": lambda: CuckooFilter(cfg),
                "hll": lambda: HyperLogLog(12),
                "cms": lambda: CountMinSketch(width=1 << 14, depth=4),
                "kll": lambda: KLLSketch(200),
            },
        )
    )
    rows = docs_df.select("url", "text").collect()
    urls = [r.url for r in rows]
    # cuckoo: every url a member, exact count
    assert merged["cuckoo"].count() == 1000
    assert merged["cuckoo"].lookup_batch(urls).all()
    # hll: exact-state equality with a local build
    local_hll = HyperLogLog(12)
    local_hll.update(urls)
    assert merged["hll"].to_bytes() == local_hll.to_bytes()
    # cms: exact-state equality with a local token build
    local_cms = CountMinSketch(width=1 << 14, depth=4)
    all_tokens = [t for r in rows for t in r.text.split()]
    local_cms.update(all_tokens)
    assert (merged["cms"].counts == local_cms.counts).all()
    assert merged["cms"].total == local_cms.total
    # kll saw every page size
    assert merged["kll"].n == 1000


def test_web_sketches_token_slices_keep_cms_exact(spark, docs_df, monkeypatch):
    """Tokenizing in slices, and in Arrow batches of any row or byte
    cap, leaves the CMS byte-identical to one whole-batch tokenization
    (counters are additive). A 4 kB cap is below the widest page
    (29 kB), so some batches hold one row over the cap."""
    from sketchlib.spark import webbuild
    from sketchlib.spark.merge import merge_sketches
    from sketchlib.spark.session import ARROW_BATCH_BYTES

    def cms_bytes():
        sks = webbuild.build_web_sketches(
            docs_df, {"cms": lambda: CountMinSketch(width=1 << 12, depth=4)}
        )
        return merge_sketches(sks)["cms"].to_bytes()

    with _conf(spark, BYTES_CONF, str(1 << 30)):
        whole = cms_bytes()
    for batch_bytes in (str(ARROW_BATCH_BYTES), "65536", "4096"):
        for batch_rows in ("10000", "64", "7"):
            with _conf(spark, BYTES_CONF, batch_bytes), _conf(spark, ROWS_CONF, batch_rows):
                for slice_docs in (2500, 37, 5):
                    monkeypatch.setattr(webbuild, "TOKEN_SLICE", slice_docs)
                    assert cms_bytes() == whole, (batch_bytes, batch_rows, slice_docs)


def _batch_shapes(df) -> list:
    """(rows, string bytes, widest string) of each Arrow batch a
    ``mapInArrow`` over ``df``'s one string column receives."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def shapes(batches):
        for rb in batches:
            lens = pc.binary_length(rb.column(0))
            yield pa.RecordBatch.from_pydict(
                {
                    "rows": [rb.num_rows],
                    "bytes": [pc.sum(lens).as_py()],
                    "widest": [pc.max(lens).as_py()],
                }
            )

    return [tuple(r) for r in df.mapInArrow(shapes, "rows long, bytes long, widest long").collect()]


def test_arrow_batches_are_cut_by_bytes_and_rows(spark):
    """Under the session's byte cap a task's batches of wide text stop
    at the cap: each holds less than the cap without its widest row
    (a row wider than the cap still arrives, over it). Narrow keys
    still come in batches of the 10,000-row cap."""
    from sketchlib.spark.session import ARROW_BATCH_BYTES

    cap = ARROW_BATCH_BYTES
    assert spark.conf.get(BYTES_CONF) == str(cap)
    assert spark.conf.get(ROWS_CONF) == "10000"
    # 20 kB pages, two of them 5 MB (wider than the cap), in one task
    wide = spark.range(0, 500, 1, 1).selectExpr(
        "repeat('x', CASE WHEN id IN (100, 101) THEN 5000000 ELSE 20000 END) AS text"
    )
    got = _batch_shapes(wide)
    assert sum(rows for rows, _, _ in got) == 500
    assert len(got) > 3
    for rows, size, widest in got:
        assert size - widest < cap, (rows, size)
    assert max(widest for _, _, widest in got) > cap
    keys = spark.range(0, 25_000, 1, 1).selectExpr(
        "concat('https://h', id % 1000, '.example.org/p/', lpad(id, 8, '0')) AS key"
    )
    assert [rows for rows, _, _ in _batch_shapes(keys)] == [10_000, 10_000, 5_000]


# ------------------------------------------------------------ flagship pipeline


def _shard_counts(rows):
    return [(r.shard_id, r.n_rows, r.item_count, r.fail_count) for r in rows]


def _fixed_bytes(fixed: dict) -> dict:
    return {k: fixed[k].to_bytes() for k in ("hll", "cms") if k in fixed}


@pytest.mark.parametrize("single_pass", [True, False])
def test_web_pipeline_matches_sharded_and_web_builds(spark, docs_df, monkeypatch, single_pass):
    """Both plans of build_web_pipeline — the single pass, which the
    gate picks for this corpus, and the exchange plan above the gate —
    give build_sharded's per-shard
    counts, probe every url present, and give the HLL/CMS states of a
    standalone build_web_sketches merge, over byte-capped batches that
    each span several shards."""
    from sketchlib.spark import webbuild
    from sketchlib.spark.merge import merge_sketches
    from sketchlib.spark.shard import ShardedProbeIndex, build_sharded, probe_sharded

    plans = []
    exchange = webbuild._exchange_plan
    monkeypatch.setattr(webbuild, "_exchange_plan", lambda *a: plans.append(a) or exchange(*a))
    if not single_pass:
        monkeypatch.setattr(webbuild, "_direct_merge", lambda *a: False)
    docs = docs_df.repartition(3)  # several partition filters per shard to merge
    # a 16 kB byte cap: batches of a few pages, each spanning shards
    with _conf(spark, BYTES_CONF, "16384"):
        fixed, rows = webbuild.build_web_pipeline(
            docs, 1000, num_shards=8, cms_width=1 << 12, capacity_slack=1.5
        )
        web = merge_sketches(
            webbuild.build_web_sketches(
                docs,
                {
                    "hll": lambda: HyperLogLog(14),
                    "cms": lambda: CountMinSketch(width=1 << 12, depth=4),
                    "kll": lambda: KLLSketch(200),
                },
            )
        )
    assert len(plans) == (0 if single_pass else 1)
    cfg = CuckooConfig(capacity=1500, fingerprint_bits=16, hash_strategy="xx")
    want = sorted(build_sharded(docs.select("url"), "url", 8, cfg=cfg).collect())
    assert _shard_counts(rows) == _shard_counts(want)
    assert sum(r.n_rows for r in rows) == 1000

    idx = ShardedProbeIndex(spark, {int(r.shard_id): bytes(r.state) for r in rows})
    keys = docs_df.select(F.col("url").alias("key"))
    assert probe_sharded(keys, "key", num_shards=8, index=idx).where("member").count() == 1000
    idx.destroy()

    assert sorted(fixed) == ["cms", "hll", "kll"]
    assert _fixed_bytes(fixed) == _fixed_bytes(web)
    assert fixed["kll"].n == 1000


def test_web_pipeline_many_partition_filters_take_exchange_plan(spark, docs_df, monkeypatch):
    """Past SINGLE_PASS_FILTERS partition filters (partitions × shards)
    the exchange plan runs, even under the byte gate."""
    from sketchlib.spark import webbuild

    calls = []
    exchange = webbuild._exchange_plan
    monkeypatch.setattr(webbuild, "_exchange_plan", lambda *a: calls.append(a) or exchange(*a))
    docs = docs_df.repartition(3)
    _, single = webbuild.build_web_pipeline(docs, 1000, num_shards=8, capacity_slack=1.5)
    assert calls == []
    monkeypatch.setattr(webbuild, "SINGLE_PASS_FILTERS", 3 * 8 - 1)
    _, rows = webbuild.build_web_pipeline(docs, 1000, num_shards=8, capacity_slack=1.5)
    assert len(calls) == 1
    assert _shard_counts(sorted(rows)) == _shard_counts(single)


def test_web_pipeline_single_pass_has_no_exchange(spark, docs_df):
    """Under the gate the flagship is one narrow pass over the scan."""
    from sketchlib.spark.shard import shard_factory
    from sketchlib.spark.webbuild import _single_pass

    fold = _single_pass(
        docs_df, {"hll": lambda: HyperLogLog(14)}, 8, shard_factory(8, _cfg())
    )
    plan = fold._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Exchange" not in plan


def test_web_pipeline_empty_input_same_under_both_plans(spark, monkeypatch):
    from sketchlib.spark import webbuild

    empty = spark.createDataFrame([], "url string, text string")
    fixed, rows = webbuild.build_web_pipeline(empty, 0, num_shards=4)
    monkeypatch.setattr(webbuild, "_direct_merge", lambda *a: False)
    fixed2, rows2 = webbuild.build_web_pipeline(empty, 0, num_shards=4)
    assert rows == rows2 == []
    assert sorted(fixed) == sorted(fixed2)
    assert {k: v.to_bytes() for k, v in fixed.items()} == {
        k: v.to_bytes() for k, v in fixed2.items()
    }


# --------------------------------------------------------------- broadcast UDFs


def test_membership_udf_no_false_negatives(spark, docs_df):
    urls = docs_df.select(F.col("url").alias("key"))
    merged = tree_merge(build_sketches(urls.repartition(4), "key", lambda: CuckooFilter(_cfg())))
    member = membership_udf(spark, merged)
    hits = urls.withColumn("m", member("key")).where("m").count()
    assert hits == 1000


def test_membership_udf_fpr_on_absent(spark, docs_df):
    urls = docs_df.select(F.col("url").alias("key"))
    merged = tree_merge(build_sketches(urls.repartition(4), "key", lambda: CuckooFilter(_cfg())))
    member = membership_udf(spark, merged)
    absent = spark.range(20000).select(F.concat(F.lit("absent-"), F.col("id")).alias("key"))
    fp = absent.withColumn("m", member("key")).where("m").count()
    # eps = 2*4/2^16 ~ 0.0122%; 20k probes -> expect ~2.4, allow 5x
    assert fp <= 13


def test_bloom_membership_udf(spark, docs_df):
    urls = docs_df.select(F.col("url").alias("key"))
    merged = tree_merge(
        build_sketches(urls.repartition(4), "key", lambda: BloomFilter(5000, 0.01))
    )
    member = membership_udf(spark, merged)
    assert urls.withColumn("m", member("key")).where("m").count() == 1000


def test_cms_estimate_udf_never_under(spark, docs_df):
    langs = docs_df.select(F.col("lang").alias("key"))
    merged = tree_merge(
        build_sketches(langs.repartition(4), "key", lambda: CountMinSketch(width=2048, depth=5))
    )
    est = cms_estimate_udf(spark, merged)
    exact = langs.groupBy("key").agg(F.count("*").alias("c")).withColumn("e", est("key"))
    bad = exact.where(F.col("e") < F.col("c")).count()
    assert bad == 0


# ------------------------------------------------------------------- sharded


def test_sharded_build_probe(spark, docs_df):
    from sketchlib.spark.shard import build_sharded, probe_sharded

    keys = docs_df.select(F.col("url").alias("key"))
    shards = build_sharded(keys, "key", num_shards=4, cfg=_cfg())
    shard_rows = shards.collect()
    assert {r.shard_id for r in shard_rows} == {0, 1, 2, 3}
    assert sum(r.n_rows for r in shard_rows) == 1000
    assert sum(r.fail_count for r in shard_rows) == 0
    probed = probe_sharded(keys, "key", shards, num_shards=4)
    assert probed.where("member").count() == 1000
    absent = spark.range(5000).select(F.concat(F.lit("no-"), F.col("id")).alias("key"))
    fp = probe_sharded(absent, "key", shards, num_shards=4).where("member").count()
    assert fp <= 10


def test_bloom_semi_join_exact_and_pruning(spark):
    """Result == plain semi-join exactly (no false negatives); the
    Bloom pre-filter genuinely shrinks the join's probe side to
    ~selectivity + fp_rate of the left input."""
    from pyspark.sql import functions as F

    from sketchlib.sketches import BloomFilter
    from sketchlib.spark import build_sketches, membership_udf, tree_merge
    from sketchlib.spark.udfs import bloom_semi_join

    left = spark.range(20000).select(F.concat(F.lit("k"), "id").alias("key"))
    right = spark.range(0, 20000, 40).select(F.concat(F.lit("k"), "id").alias("key"))  # 2.5%
    got = {r.key for r in bloom_semi_join(left, right, "key", fp_rate=0.001).collect()}
    want = {r.key for r in left.join(right, "key", "left_semi").collect()}
    assert got == want and len(got) == 500
    # measure the pruning the operator's plan relies on
    bloom = tree_merge(
        build_sketches(right.select(F.col("key")), "key", lambda: BloomFilter(capacity=1000, fp_rate=0.001))
    )
    survivors = left.where(membership_udf(spark, bloom)("key")).count()
    assert survivors < 20000 * 0.05  # ≥95% of the probe side pruned
    # empty build side: result is the (empty) exact semi-join, not a crash
    none_match = right.where("key = 'nope'")
    assert bloom_semi_join(left, none_match, "key").count() == 0


def test_cms_heavy_hitters_operator(spark):
    from pyspark.sql import functions as F

    from sketchlib.spark.udfs import cms_heavy_hitters

    rows = (
        [("hot",)] * 500
        + [("warm",)] * 200
        + [("mild",)] * 50
        + [(f"cold{i}",) for i in range(100)]
    )
    df = spark.createDataFrame(rows, "key string").repartition(4)
    hh = cms_heavy_hitters(df, "key", k=3)
    assert [t for t, _ in hh] == ["hot", "warm", "mild"]
    est = dict(hh)
    assert est["hot"] >= 500 and est["warm"] >= 200  # CMS one-sided


def test_read_warc_roundtrip(spark, tmp_path):
    """WARC source: synthetic archive (plain + whole-file gzip) reads
    back the exact pages table — urls, timestamps, html bytes, and the
    byte-identical extracted text — through the binaryFile+mapInPandas
    path; warcinfo records are skipped."""
    from sketchlib.datagen import generate_documents, write_warc
    from sketchlib.spark.warc import read_warc

    n = 80
    ref = generate_documents(n, seed=11)
    write_warc(str(tmp_path / "a.warc"), n, seed=11)
    write_warc(str(tmp_path / "b.warc.gz"), n, seed=11, gzip_compress=True)
    for fname in ("a.warc", "b.warc.gz"):
        df = read_warc(spark, str(tmp_path / fname))
        rows = sorted(df.collect(), key=lambda r: r.url)
        exp = sorted(
            zip(
                ref.column("url").to_pylist(),
                ref.column("html").to_pylist(),
                ref.column("text").to_pylist(),
                ref.column("lang").to_pylist(),
            )
        )
        assert len(rows) == n
        for r, (url, html, text, lang) in zip(rows, exp):
            assert r.url == url
            assert bytes(r.html) == html  # exact payload bytes
            assert r.text == text  # extractor invariant holds via WARC
            assert r.lang == lang
        assert all(r.warc_ts is not None for r in rows)


def test_read_warc_one_archive_per_task(spark, tmp_path):
    """Each archive of a multi-file read is parsed by its own task: the
    i-th listed file goes to partition i, none shares or is split."""
    from pyspark.sql.functions import spark_partition_id

    from sketchlib.datagen import write_warc
    from sketchlib.spark.warc import read_warc

    for i in range(5):
        write_warc(str(tmp_path / f"w{i}.warc"), 10 + i, seed=i)
    df = read_warc(spark, str(tmp_path / "*.warc"))
    sizes = sorted(r[0] for r in df.groupBy(spark_partition_id()).count().select("count").collect())
    assert df.rdd.getNumPartitions() == 5
    assert sizes == [10, 11, 12, 13, 14]


def test_warc_parser_negative_content_length_terminates(spark):
    """A corrupt/malicious negative Content-Length must not move the
    cursor backward (previously an infinite loop re-yielding the same
    record forever inside the executor)."""
    from sketchlib.spark.warc import iter_warc_records

    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://x/\r\n"
        b"Content-Length: -120\r\n\r\npayload\r\n\r\n"
    )
    recs = list(iter_warc_records(rec * 3))
    assert len(recs) <= 6  # terminates; bounded yields


def test_warc_parser_resyncs_on_garbage(spark, tmp_path):
    """Garbage between records and a truncated tail must not kill the
    archive — the parser resyncs to the next WARC/ marker."""
    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_records

    blob = warc_bytes(10, seed=3)
    # inject garbage after the first record and truncate the tail
    first_end = blob.find(b"\r\n\r\nWARC/") + 4
    mangled = blob[:first_end] + b"\x00GARBAGE\x00" + blob[first_end:-25]
    recs = list(iter_warc_records(mangled))
    responses = [h for h, _ in recs if h.get("warc-type") == "response"]
    assert 7 <= len(responses) <= 10  # most records survive, none crash


def test_warc_corrupt_length_mid_archive_resyncs(spark):
    """A corrupt oversized Content-Length MID-archive must skip only
    that record: every later valid record is still surfaced (round-2
    review: the old parser returned immediately, silently discarding
    the rest of the archive)."""
    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_records

    blob = warc_bytes(10, seed=7)
    # corrupt the SECOND record's Content-Length to claim more bytes
    # than the archive holds (mid-archive overrun, records follow)
    second = blob.find(b"WARC/", blob.find(b"\r\n\r\nWARC/") + 4)
    third = blob.find(b"WARC/", second + 5)
    head = blob[second:third]
    import re

    bad = re.sub(rb"Content-Length: \d+", b"Content-Length: 999999999", head, count=1)
    mangled = blob[:second] + bad + blob[third:]
    responses = [
        h for h, _ in iter_warc_records(mangled) if h.get("warc-type") == "response"
    ]
    # ≥7 of the 9 undamaged response records survive (resync may eat the
    # record adjacent to the corrupt region, never the archive's tail)
    assert len(responses) >= 7
    # and the LAST record of the archive is among them
    blob_resps = [
        h for h, _ in iter_warc_records(blob) if h.get("warc-type") == "response"
    ]
    assert responses[-1]["warc-target-uri"] == blob_resps[-1]["warc-target-uri"]


def test_warc_stream_bounded_memory_parse(tmp_path):
    """iter_warc_stream over a gzip archive stream with a tiny chunk
    size yields exactly the records of the in-memory parse — the
    bounded-memory path never sees the whole decompressed archive."""
    import gzip as _gzip

    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_records, iter_warc_stream, open_archive_stream

    blob = warc_bytes(25, seed=9)
    p = tmp_path / "s.warc.gz"
    p.write_bytes(_gzip.compress(blob))
    stream = open_archive_stream(str(p))
    got = list(iter_warc_stream(stream, chunk_size=512))  # force many refills
    stream.close()
    exp = list(iter_warc_records(blob))
    assert len(got) == len(exp)
    for (gh, gp), (eh, ep) in zip(got, exp):
        assert gh == eh and gp == ep


def test_warc_overrun_resync_skips_implausible_marker_in_payload():
    """A corrupt overrunning record whose partial payload contains an
    IMPLAUSIBLE 'WARC/' occurrence (html text, no version line /
    terminated header) followed by a real record: resync must jump to
    the verified real record, not the decoy — a bogus header at the
    decoy could swallow the real record behind a fake Content-Length."""
    import io

    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_records, iter_warc_stream

    blob = warc_bytes(4, seed=21)
    second = blob.find(b"WARC/", blob.find(b"\r\n\r\nWARC/") + 4)
    third = blob.find(b"WARC/", second + 5)
    import re

    corrupt = re.sub(
        rb"Content-Length: \d+", b"Content-Length: 999999999", blob[second:third], count=1
    )
    # decoy: marker-looking text with header-ish content, but no
    # version line terminator pattern ("WARC/x.y\r\n") at the marker
    decoy = b"see WARC/ iso spec Content-Length: 600\r\n\r\n padding"
    mangled = blob[:second] + corrupt + decoy + blob[third:]
    got = [
        h for h, _ in iter_warc_stream(io.BytesIO(mangled), chunk_size=128)
        if h.get("warc-type") == "response"
    ]
    exp = [
        h for h, _ in iter_warc_records(blob) if h.get("warc-type") == "response"
    ]
    # the two records after the corrupt one must both survive
    assert [h["warc-target-uri"] for h in got[-2:]] == [
        h["warc-target-uri"] for h in exp[-2:]
    ]


def test_warc_stream_degenerate_inputs():
    """Empty archives, garbage-only blobs, and EOF mid-marker or
    mid-header all terminate cleanly with zero records."""
    import io

    from sketchlib.spark.warc import iter_warc_stream

    for blob in (b"", b"\x00" * 10000, b"WARC", b"WARC/1.0\r\n"):
        assert list(iter_warc_stream(io.BytesIO(blob), chunk_size=64)) == []


def test_warc_max_record_bytes_guard(tmp_path):
    """A Content-Length above max_record_bytes (hostile header) is
    skipped without buffering it; later records still surface."""
    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_records, iter_warc_stream
    import io
    import re

    blob = warc_bytes(6, seed=13)
    second = blob.find(b"WARC/", blob.find(b"\r\n\r\nWARC/") + 4)
    third = blob.find(b"WARC/", second + 5)
    bad = re.sub(
        rb"Content-Length: \d+",
        b"Content-Length: 99999999999999",
        blob[second:third],
        count=1,
    )
    mangled = blob[:second] + bad + blob[third:]
    got = list(iter_warc_stream(io.BytesIO(mangled), chunk_size=256))
    exp = list(iter_warc_records(blob))
    assert len(got) >= len(exp) - 2  # only the corrupt record (±resync) lost
    assert got[-1][0].get("warc-target-uri") == exp[-1][0].get("warc-target-uri")


def test_read_pages_parquet(spark, docs_parquet):
    from sketchlib.spark.sources import read_pages

    df = read_pages(spark, docs_parquet, fmt="parquet")
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert df.count() == 1000


def test_read_pages_rejects_snapshot_on_parquet(spark, tmp_path):
    """A silently dropped snapshot pin hands resume code an UNPINNED
    read — must raise instead."""
    from sketchlib.spark.sources import read_pages

    p = str(tmp_path / "pages")
    spark.createDataFrame([("u", "t")], "url string, text string").write.parquet(p)
    with pytest.raises(ValueError, match="iceberg"):
        read_pages(spark, p, fmt="parquet", snapshot_id=42)
    assert read_pages(spark, p, fmt="parquet").count() == 1


def test_delete_sharded(spark, docs_df):
    from pyspark.sql import functions as F

    from sketchlib.spark.shard import build_sharded, delete_sharded, probe_sharded

    keys = docs_df.select(F.col("url").alias("key"))
    shards = build_sharded(keys, "key", num_shards=4, cfg=_cfg())
    drop = keys.where(F.pmod(F.xxhash64("key"), F.lit(3)) == 0)
    keep = keys.subtract(drop)
    updated = delete_sharded(shards, drop, "key", num_shards=4)
    # kept keys: still all members (no false negatives)
    kept_hits = probe_sharded(keep, "key", updated, 4).where("member").count()
    assert kept_hits == keep.count()
    # dropped keys: gone (up to fp-rate stragglers)
    drop_hits = probe_sharded(drop, "key", updated, 4).where("member").count()
    assert drop_hits <= max(2, int(drop.count() * 0.01))
    # item accounting
    total = updated.agg(F.sum("item_count")).first()[0]
    assert total == keep.count()


def test_delete_sharded_plan_fully_distributed(spark, docs_df):
    """Scale gate: the delete plan is a co-partitioned cogroup — no
    driver round-trip of shard states, no broadcast of the filter."""
    from sketchlib.spark.shard import build_sharded, delete_sharded

    keys = docs_df.select(F.col("url").alias("key"))
    shards = build_sharded(keys, "key", num_shards=4, cfg=_cfg())
    drop = keys.limit(100)
    updated = delete_sharded(shards, drop, "key", num_shards=4)
    plan = updated._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "Broadcast" not in plan


def test_probe_sharded_broadcast_and_copartitioned_paths(spark, docs_df):
    """Small shard tables: zero-shuffle broadcast lookup (no Exchange
    at all in the probe plan). Above the threshold: cogroup — probes
    shuffle once, state moves once per shard, and state bytes are
    never attached per probe row. Both paths answer identically."""
    from sketchlib.spark.shard import build_sharded, probe_sharded

    keys = docs_df.select(F.col("url").alias("key"))
    shards = build_sharded(keys, "key", num_shards=4, cfg=_cfg()).persist()
    shards.count()
    small = probe_sharded(keys, "key", shards, 4)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_small
    probe_side = plan_small.split("ArrowEvalPython")[-1]
    assert "Exchange" not in probe_side  # zero-shuffle probe
    assert small.where("member").count() == 1000
    big = probe_sharded(keys, "key", shards, 4, broadcast_threshold_bytes=0)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan_big
    assert "FlatMapCoGroupsInPandas" not in plan_big
    assert "BroadcastHashJoin" not in plan_big
    assert big.where("member").count() == 1000
    shards.unpersist()


def test_probe_sharded_evaluates_its_udf_once(spark, monkeypatch):
    """The broadcast probe's member UDF runs in ONE ArrowEvalPython
    node holding one UDF: under the perfbench-shaped aggregate, which
    reads ``member`` twice, and under a filter on ``member`` (a
    deterministic UDF would be pushed into the filter AND kept in the
    projection, a second Python pass over the batch). Repeated probe
    calls on one index reuse one UDF object, built and pickled once."""
    from sketchlib.spark.shard import ShardedProbeIndex, build_sharded, probe_sharded

    made = []
    arrow_udf = F.arrow_udf
    monkeypatch.setattr(F, "arrow_udf", lambda *a, **k: made.append(a) or arrow_udf(*a, **k))
    keys = spark.createDataFrame([(f"k{i}", i % 3 > 0) for i in range(300)], "key string, present boolean")
    rows = build_sharded(keys.where("present"), "key", 4, cfg=_cfg()).collect()
    idx = ShardedProbeIndex(spark, {int(r.shard_id): bytes(r.state) for r in rows})
    try:
        probed = probe_sharded(keys, "key", num_shards=4, index=idx)
        udf, judf = idx.member_udf, idx.member_udf._unwrapped._judf
        again = probe_sharded(keys, "key", num_shards=4, index=idx)
        assert len(made) == 1
        assert idx.member_udf is udf and udf._unwrapped._judf is judf
        m = F.col("member")
        agg = probed.agg(
            F.sum((m & F.col("present")).cast("long")).alias("hit"),
            F.sum((m & ~F.col("present")).cast("long")).alias("fp"),
        )
        for df in (agg, probed.where("member"), again.where("member")):
            plan = df._jdf.queryExecution().executedPlan().toString()
            (node,) = [line for line in plan.splitlines() if "ArrowEvalPython" in line]
            udfs = node.split("ArrowEvalPython [", 1)[1].split("], [", 1)[0]
            assert udfs.count("member(") == 1, node
        assert agg.first().hit == 200
        assert probed.where("member").count() >= 200
        assert again.columns == [*keys.columns, "shard_id", "member"]
        assert sorted(again.collect()) == sorted(probed.collect())
    finally:
        idx.destroy()


def test_column_udfs_evaluate_once(spark):
    """``membership_udf`` and ``cms_estimate_udf`` each plan ONE
    ArrowEvalPython node holding one UDF when the frame keeps and
    filters on their output column (a deterministic UDF is copied into
    the filter: a second Python pass that hashes every row again)."""
    from sketchlib.spark import cms_estimate_udf, membership_udf

    keys = spark.createDataFrame([(f"k{i}",) for i in range(200)], "key string")
    f = CuckooFilter(_cfg(1024))
    f.insert_batch([f"k{i}" for i in range(0, 200, 2)])
    cms = CountMinSketch(width=256, depth=3)
    cms.update(["k1", "k1", "k2"])
    member, est = membership_udf(spark, f), cms_estimate_udf(spark, cms)
    cases = [
        (keys.withColumn("m", member("key")).where("m"), "contains("),
        (keys.withColumn("e", est("key")).where("e > 0"), "estimate("),
    ]
    for df, call in cases:
        plan = df._jdf.queryExecution().executedPlan().toString()
        (node,) = [line for line in plan.splitlines() if "ArrowEvalPython" in line]
        udfs = node.split("ArrowEvalPython [", 1)[1].split("], [", 1)[0]
        assert udfs.count(call) == 1, node
    assert cases[0][0].count() >= 100
    assert {r.key for r in cases[1][0].collect()} >= {"k1", "k2"}


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
@pytest.mark.parametrize("threshold", [64 << 20, 0], ids=["broadcast", "cogroup"])
def test_probe_sharded_matches_each_shards_contains(spark, kind, threshold):
    """Key by key, probe_sharded answers what the key's shard's own
    ``contains`` answers, over 7-row Arrow batches that span several
    shards: a shard whose state row is gone answers False, and a null
    key probes as the empty string it was built as."""
    from sketchlib.serde import loads
    from sketchlib.spark.shard import build_sharded, probe_sharded

    factory = {
        "cuckoo": lambda: CuckooFilter(_cfg(1024)),
        "bloom": lambda: BloomFilter(capacity=1024, fp_rate=0.01),
    }[kind]
    built = [f"k{i}" for i in range(300)] + [None, "héllo wörld", ""]
    probes = built + [f"absent{i}" for i in range(300)]
    shards = build_sharded(
        spark.createDataFrame([(k,) for k in built], "key string"), "key", 4, factory=factory
    )
    state = {int(r.shard_id): loads(r.state) for r in shards.collect() if r.shard_id != 1}
    kept = shards.where("shard_id != 1")  # shard 1 has no state row
    conf = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    got = {}
    try:
        # a key column name that is no SQL identifier probes the same
        for name in ("key", "my key"):
            probe_df = spark.createDataFrame([(k,) for k in probes], f"`{name}` string")
            got[name] = probe_sharded(
                probe_df.repartition(3), name, kept, 4, broadcast_threshold_bytes=threshold
            ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", conf)
    for name, rows in got.items():
        assert len(rows) == len(probes)
        assert rows[0].__fields__ == [name, "shard_id", "member"]
        answered = {r[name]: (r.shard_id, r.member) for r in rows}
        assert set(answered) == set(probes)
        assert {sid for sid, _ in answered.values()} == {0, 1, 2, 3}
        for key, (sid, member) in answered.items():
            want = sid in state and bool(state[sid].contains([key])[0])
            assert member is want, (key, sid)
        assert all(answered[k][1] for k in built if answered[k][0] != 1)


def test_sharded_probe_index_rejects_mixed_hash_strategies(spark):
    """A probe batch is hashed once for all its shards, so an index
    whose shards hash differently must raise, not answer with the
    wrong strategy's hashes."""
    from sketchlib.spark.shard import ShardedProbeIndex, probe_sharded

    blobs = {}
    for sid, strategy in enumerate(("xx", "fnv")):
        f = CuckooFilter(CuckooConfig(capacity=256, fingerprint_bits=16, hash_strategy=strategy))
        f.insert_batch(["a", "b"])
        blobs[sid] = f.to_bytes()
    idx = ShardedProbeIndex(spark, blobs)
    keys = spark.createDataFrame([("a",), ("b",)], "key string")
    try:
        with pytest.raises(ValueError, match="hash_strategy"):
            probe_sharded(keys, "key", num_shards=2, index=idx)
    finally:
        idx.destroy()


def test_build_sharded_input_already_partitioned_by_key(spark):
    """Input already hash-partitioned by the key into num_shards
    partitions (a distinct() at shuffle.partitions == num_shards): Spark
    drops the shard exchange and AQE may coalesce the aggregate's small
    partitions, so one task can hold several shards — each must still
    get its own filter."""
    from sketchlib.spark.shard import build_sharded, probe_sharded

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = spark.range(3000).select(
        F.concat(F.lit("k"), (F.col("id") % 1000).cast("string")).alias("key")
    ).distinct()
    rows = build_sharded(keys, "key", n, cfg=_cfg()).collect()
    assert sorted(r.shard_id for r in rows) == list(range(n))
    assert sum(r.n_rows for r in rows) == 1000
    shards = spark.createDataFrame(rows)
    assert probe_sharded(keys, "key", shards, n).where("member").count() == 1000


def test_sharded_empty_shards_probe_and_delete(spark):
    """Probes and deletes that hash to a shard with no state row:
    probes come back member=false (left join, not dropped); deletes are
    no-ops (nothing was inserted there), not a KeyError."""
    from sketchlib.spark.shard import build_sharded, delete_sharded, probe_sharded

    few = spark.createDataFrame([(f"k{i}",) for i in range(5)], "key string")
    shards = build_sharded(few, "key", num_shards=64, cfg=_cfg(capacity=4096)).persist()
    n_shards_built = shards.count()
    assert n_shards_built <= 5  # most of the 64 shards have no row
    probes = spark.createDataFrame([(f"p{i}",) for i in range(100)], "key string")
    probed = probe_sharded(probes, "key", shards, 64)
    assert probed.count() == 100  # every probe answered, none dropped
    assert probed.where("member").count() <= 2  # fp-rate only
    updated = delete_sharded(shards, probes, "key", num_shards=64)
    assert updated.count() == n_shards_built
    assert probe_sharded(few, "key", updated, 64).where("member").count() == 5
    shards.unpersist()


# ------------------------------------------------------- end-to-end invariant


def test_text_invariant_through_arrow(spark, docs_df):
    """The north-rule per-row invariant: text == extract_text(html),
    byte-identical, after a full Spark round trip through Arrow."""
    from sketchlib.textx import extract_text

    def check(batches):
        import pandas as pd

        for pdf in batches:
            ok = [extract_text(h) == t for h, t in zip(pdf["html"], pdf["text"])]
            yield pd.DataFrame({"ok": ok})

    bad = (
        docs_df.select("html", "text")
        .mapInPandas(check, "ok boolean")
        .where(~F.col("ok"))
        .count()
    )
    assert bad == 0


def test_docs_parquet_roundtrip_identical(spark, docs_table, tmp_path):
    # writing + reading through Spark preserves text bytes exactly
    import pyarrow.parquet as pq

    p = str(tmp_path / "d.parquet")
    pq.write_table(docs_table, p)
    df = spark.read.parquet(p)
    got = {r.url: r.text for r in df.select("url", "text").collect()}
    want = {
        u: t
        for u, t in zip(
            docs_table.column("url").to_pylist(), docs_table.column("text").to_pylist()
        )
    }
    assert got == want


# ------------------------------------------------------------- schemas

# Spark calls taking a schema or a return type: method → positions and
# keywords of those arguments
_SCHEMA_ARGS = {
    "mapInArrow": ((1,), ("schema",)),
    "mapInPandas": ((1,), ("schema",)),
    "applyInArrow": ((1,), ("schema",)),
    "applyInPandas": ((1,), ("schema",)),
    "applyInPandasWithState": ((1, 2), ("outputStructType", "stateStructType")),
    "createDataFrame": ((1,), ("schema",)),
    "from_json": ((1,), ("schema",)),
    "schema": ((0,), ("schema",)),
    "arrow_udf": ((0, 1), ("returnType",)),
    "pandas_udf": ((0, 1), ("returnType",)),
    "udf": ((0, 1), ("returnType",)),
}


def _ddl_schema_args(source: str) -> list[int]:
    """Lines of ``source`` where a Spark call gets its schema or return
    type as a string, written inline or through a name bound to one."""
    import ast

    def is_str(node) -> bool:
        if isinstance(node, ast.Constant):
            return isinstance(node.value, str)
        if isinstance(node, ast.BinOp):
            return is_str(node.left) or is_str(node.right)
        return isinstance(node, ast.JoinedStr)

    tree = ast.parse(source)
    str_names = {
        t.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign) and is_str(node.value)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    lines = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        spec = _SCHEMA_ARGS.get(node.func.attr)
        if spec is None:
            continue
        args = [node.args[i] for i in spec[0] if i < len(node.args)]
        args += [k.value for k in node.keywords if k.arg in spec[1]]
        if any(is_str(a) or (isinstance(a, ast.Name) and a.id in str_names) for a in args):
            lines.append(node.lineno)
    return lines


def test_ddl_schema_finder_catches_strings():
    src = (
        'S = "a long"\n'
        "df.mapInArrow(f, S)\n"
        'df.mapInPandas(f, schema="a " + "long")\n'
        "df.mapInArrow(f, StructType([]))\n"
        '@F.arrow_udf("boolean")\n'
        "def g(x): pass\n"
        "F.arrow_udf(BooleanType())\n"
    )
    assert _ddl_schema_args(src) == [2, 3, 5]


def test_library_passes_no_ddl_schema_strings():
    """Spark parses a DDL string in the JVM each time it is given one;
    the library builds StructType/DataType objects instead."""
    import pathlib

    import sketchlib

    root = pathlib.Path(sketchlib.__file__).parent
    found = {
        str(path.relative_to(root)): lines
        for path in sorted(root.rglob("*.py"))
        if (lines := _ddl_schema_args(path.read_text()))
    }
    assert found == {}

"""Regression tests for the eighth review pass: scale/contract bugs in
the production-job seams (jobs/, fsio), statistical
correlation in KLL compaction parity, and diagnostic/format conformance
gaps none of the driver queries can reach."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

# ------------------------------------------------------------------ fsio


def test_fsio_roundtrip(spark, tmp_path):
    """write_bytes/write_text/read_bytes through the Hadoop FS: the
    jobs' sidecar artifacts (merged sketch blobs, metrics.json) must
    survive a URI-addressed round trip — open()/os.makedirs only speak
    the driver's local disk and silently misplace s3a://-style paths."""
    from sketchlib.spark.fsio import read_bytes, write_bytes, write_text

    # nested path: FileSystem.create must make parents implicitly
    path = f"file://{tmp_path}/deep/nested/blob.bin"
    payload = bytes(range(256)) * 3
    write_bytes(spark, path, payload)
    assert read_bytes(spark, path) == payload
    # overwrite semantics (jobs rerun into the same --output)
    write_bytes(spark, path, b"v2")
    assert read_bytes(spark, path) == b"v2"
    tpath = f"file://{tmp_path}/metrics.json"
    write_text(spark, tpath, '{"ok": true}')
    assert read_bytes(spark, tpath) == b'{"ok": true}'


# ------------------------------------------------------------- KLL parity


def test_kll_coin_deterministic_and_resumable():
    """The compaction coin is a pure function of (seed, level, n,
    whole-buffer digest): same data twice → identical bytes, and a
    sketch serialized mid-build resumes with the SAME parity choices —
    the old per-instance RNG replayed its sequence from the start
    after from_bytes, silently changing post-resume compactions."""
    from sketchlib.serde import loads
    from sketchlib.sketches import KLLSketch

    rng = np.random.default_rng(7)
    first = rng.normal(size=20_000)
    second = rng.normal(size=20_000)

    a = KLLSketch(128)
    a.update(first)
    mid = loads(a.to_bytes())  # resume from serialized state
    a.update(second)
    mid.update(second)
    assert a.to_bytes() == mid.to_bytes()

    b = KLLSketch(128)
    b.update(first)
    b.update(second)
    assert a.to_bytes() == b.to_bytes()  # full determinism


def test_kll_partition_coins_decorrelated():
    """Sketches over DIFFERENT partitions must not replay one shared
    parity sequence (the seed-42 RNG made partition i's j-th compaction
    promote the same stride as partition k's j-th, adding rank errors
    coherently across a P-way merge). With data-mixed coins, the
    per-compaction parity sequences of two different-data sketches must
    differ; the merged rank error over 32 partitions stays within the
    advertised envelope."""
    from sketchlib.sketches import KLLSketch

    from sketchlib.serde import loads

    rng = np.random.default_rng(11)
    data = rng.uniform(0, 1, size=(32, 4_000))

    # instrument the coin: record each instance's parity sequence.
    # Chunked updates trigger a compaction per overflow (a single
    # batch update collapses to ~4 whole-level compactions, too few
    # coins to compare); the merge accumulator is a CLEAN deserialized
    # clone so the spy never records merge-time compactions.
    seqs = []
    sketches = []
    for part in data:
        sk = KLLSketch(128)
        seq = []
        orig = sk._coin

        def spy(h, buf, _orig=orig, _seq=seq):
            c = _orig(h, buf)
            _seq.append(c)
            return c

        sk._coin = spy
        for chunk in np.split(part, 40):
            sk.update(chunk)
        seqs.append(seq)
        sketches.append(sk)
    merged = loads(sketches[0].to_bytes())
    for sk in sketches[1:]:
        merged.merge(loads(sk.to_bytes()))
    k = min(len(s) for s in seqs)
    assert k > 10  # compactions actually happened
    prefixes = {tuple(s[:k]) for s in seqs}
    assert len(prefixes) > 16, "parity sequences are shared across partitions"
    # merged accuracy: KLL k=128 rank error ~ O(1/k); allow 3% of N
    n = data.size
    for q in (0.1, 0.5, 0.9):
        est = float(merged.quantile(q)[0])
        true_rank = q  # uniform(0,1): rank of value v is v
        assert abs(est - true_rank) <= 0.03, (q, est)


# -------------------------------------------------------- partition_sizes


def test_partition_sizes_includes_empty_partitions(spark):
    """The skew diagnostic must report EMPTY partitions too — a
    groupBy(spark_partition_id) only sees non-empty ones, so a
    maximally-skewed frame (all rows in 1 of 8 partitions) looked like
    a uniform 1-partition frame."""
    from sketchlib.spark.salt import partition_sizes

    df = spark.range(1000).withColumn("k", F.lit("hot")).repartition(8, "k")
    sizes = partition_sizes(df)
    assert len(sizes) == 8
    assert sum(sizes) == 1000
    assert sizes.count(0) == 7  # one hot partition, seven empty


# ---------------------------------------------------------- WARC conformance


def test_warcinfo_record_carries_mandatory_date():
    """ISO 28500 §5.4: WARC-Date is mandatory on EVERY record. The
    repo's own reader skips warcinfo records, so only an external
    strict parser would have caught the omission."""
    from sketchlib.datagen import warc_bytes

    blob = warc_bytes(3, seed=5)
    warcinfo_head = blob.split(b"\r\n\r\n", 1)[0]
    assert b"WARC-Type: warcinfo" in warcinfo_head
    assert b"WARC-Date: " in warcinfo_head
    # still deterministic: no wall-clock leakage
    assert blob == warc_bytes(3, seed=5)

"""Regression tests for the ninth review pass: the KLL parity
coin must stay decorrelated on clamped/saturated data, the checkpointed
job's tokenizer must match the fused path on Unicode whitespace, and
partition_sizes must not ship row payloads just to count them."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

# ------------------------------------------------- KLL coin on clamped data


def test_kll_coins_decorrelated_on_clamped_data():
    """Length-capped page sizes with empty pages give every large
    sorted buffer buf[0]=0 and buf[-1]=cap; a boundary-only coin digest
    collapses to one shared parity sequence across uniform-sized
    partitions (the exact ~P coherent-error correlation the data-mixed
    coin exists to break), and an XOR whole-buffer digest cancels the
    duplicate values clamped data is made of. The wrap-around SUM of
    bit patterns is linear in element counts, so partitions with the
    same boundaries but different zero/cap mixes must draw different
    parity sequences."""
    from sketchlib.sketches import KLLSketch

    cap = 100.0
    seqs = []
    for part in range(8):
        # deterministic mix: partition p holds (1000 + 250p) zeros and
        # the rest cap — same n, same boundaries, different interiors
        n_zero = 1000 + 250 * part
        data = np.concatenate([np.zeros(n_zero), np.full(4000 - n_zero, cap)])
        # interleave so every update chunk spans both values (keeps
        # buf[0]=0, buf[-1]=cap in every compaction buffer)
        rng_free_order = np.empty_like(data)
        rng_free_order[0::2] = data[: 2000]
        rng_free_order[1::2] = data[2000:]

        sk = KLLSketch(128)
        seq = []
        orig = sk._coin

        def spy(h, buf, _orig=orig, _seq=seq):
            c = _orig(h, buf)
            _seq.append(c)
            return c

        sk._coin = spy
        for chunk in np.split(rng_free_order, 40):
            sk.update(chunk)
        seqs.append(seq)

    k = min(len(s) for s in seqs)
    assert k > 10  # compactions actually happened
    prefixes = {tuple(s[:k]) for s in seqs}
    assert len(prefixes) >= 6, (
        "clamped-data partitions share parity sequences: boundary-collapse "
        f"regression ({len(prefixes)} distinct of 8)"
    )


# --------------------------------------- checkpointed-job tokenizer parity


def test_checkpointed_tokenizer_matches_arrow_whitespace(spark):
    """The checkpointed CMS branch tokenizes with Java regex; the fused
    branch with Arrow utf8_split_whitespace. Both must split on the
    UNICODE whitespace set or fixed/cms.bin counts differ depending on
    whether --checkpoint was passed — U+00A0 (the residue of &nbsp; in
    scraped HTML) is the canonical divergence: Java \\s is ASCII-only
    without (?U)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    texts = [
        "caf\u00e9\u00a0menu",  # NBSP between tokens
        "a\u2003b\u3000c",  # em space, ideographic space
        " plain  ascii\ttokens\n",
        "",
    ]
    # the exact expression web_build_job.py uses (keep in sync)
    expr = "regexp_extract_all(coalesce(text,''), '(?U)\\\\S+', 0)"
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(F.expr(expr)).collect()]

    arrow = pc.list_flatten(pc.utf8_split_whitespace(pa.array([t or "" for t in texts])))
    arrow_tokens = [t for t in arrow.to_pylist() if t != ""]
    java_tokens = [t for row in got for t in row]
    assert java_tokens == arrow_tokens
    assert got[0] == ["caf\u00e9", "menu"]


# ----------------------------------------------- partition_sizes projection


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
    from sketchlib.spark.salt import partition_sizes

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

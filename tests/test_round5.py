"""Round-5 fixes: SpaceSaving prune floor in cms_heavy_hitters,
session-scoped partition_sizes diagnostic."""

import pytest

# ------------------------------------------ SpaceSaving candidate floor


def _ss_run(batches, prune_at, prune_keep):
    from sketchlib.spark.udfs import _spacesaving_fold

    counts: dict = {}
    floor = 0
    for vals, cnts in batches:
        floor = _spacesaving_fold(counts, floor, vals, cnts, prune_at, prune_keep)
    return counts, floor


def test_spacesaving_never_understates_true_count():
    """Maintained count >= true count for every surviving key, for an
    adversarial churn stream that evicts keys repeatedly."""
    import random

    rng = random.Random(5)
    true: dict = {}
    batches = []
    for b in range(60):
        vals = [f"churn-{b}-{i}" for i in range(20)] + ["heavy"]
        cnts = [rng.randint(1, 5) for _ in range(20)] + [2]
        for v, c in zip(vals, cnts):
            true[v] = true.get(v, 0) + c
        batches.append((vals, cnts))
    counts, floor = _ss_run(batches, prune_at=32, prune_keep=8)
    assert len(counts) <= 32 + 21  # bounded (prune_at + one batch's vocab)
    for k, maintained in counts.items():
        assert maintained >= true[k], (k, maintained, true[k])


def test_spacesaving_superset_bound_keys_above_floor_survive():
    """Any key whose true count exceeds the final floor is in the final
    dict — the restored superset guarantee (ADVICE r4 medium)."""
    batches = []
    # heavy key: 3 per batch, always below the per-batch filler count,
    # so the OLD prune (no floor seeding) evicted it every round and it
    # finished with count 3 — out-ranked by any surviving filler. Only
    # 8 fillers per batch: the floor ratchets ~4 per PRUNE (not per
    # batch), so after 40 batches it stays well below HEAVY's true 120
    # and the guarantee clause below is genuinely exercised.
    for b in range(40):
        vals = [f"f{b}-{i}" for i in range(8)] + ["HEAVY"]
        cnts = [4] * 8 + [3]
        batches.append((vals, cnts))
    counts, floor = _ss_run(batches, prune_at=32, prune_keep=8)
    true_heavy = 3 * 40
    # the scenario must be discriminating, or the assertions below are
    # vacuous (review r5: the old 40-filler version drove the floor past
    # true_heavy and the guarantee clause never fired)
    assert true_heavy > floor, (true_heavy, floor)
    for k, v in counts.items():
        if k != "HEAVY":
            assert v <= floor + 4  # fillers never accumulate past one batch
    # the restored superset bound: a key whose true count clears the
    # final floor MUST be in the final dict, with count >= true count
    assert "HEAVY" in counts
    assert counts["HEAVY"] >= true_heavy


def test_spacesaving_old_prune_would_lose_reappearing_key():
    """Discriminating case: a key seen once per batch with moderate
    vocabulary churn. The old prune reset it to its raw per-batch count
    (1); floor seeding keeps it at floor+1, ahead of every earlier
    evictee. Assert the new behavior: its maintained count stays within
    one batch of the floor instead of collapsing to 1."""
    batches = []
    for b in range(30):
        vals = [f"x{b}-{i}" for i in range(50)] + ["flicker"]
        cnts = [2] * 50 + [1]
        batches.append((vals, cnts))
    counts, floor = _ss_run(batches, prune_at=32, prune_keep=8)
    assert floor > 10  # churn drove the floor well past any raw count
    if "flicker" in counts:
        assert counts["flicker"] > 1  # old scheme: exactly 1


def test_heavy_hitters_end_to_end_still_exact_at_test_scale(spark):
    """The floor changes candidate RANKING inputs only; CMS supplies
    estimates — top-k on a skewed column is unchanged."""
    from pyspark.sql import functions as F

    from sketchlib.spark.udfs import cms_heavy_hitters

    df = spark.range(20000).select(
        F.when(F.col("id") % 100 < 60, F.lit("alpha"))
        .when(F.col("id") % 100 < 90, F.lit("beta"))
        .otherwise(F.concat(F.lit("tail"), F.col("id")))
        .alias("tok")
    )
    top = cms_heavy_hitters(df, "tok", k=2)
    assert [t[0] for t in top] == ["alpha", "beta"]
    assert top[0][1] >= 12000 and top[1][1] >= 6000


# ---------------------------------------- partition_sizes conf isolation


def test_partition_sizes_leaves_caller_conf_untouched(spark):
    """The AQE-coalescing override must be scoped to the cloned
    measurement session: a concurrently-planned query in the caller's
    session must never see it flipped (ADVICE r4)."""
    from pyspark.sql import functions as F

    from sketchlib.spark.salt import partition_sizes, salted_repartition

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "true")
    df = salted_repartition(
        spark.range(5000).select(F.concat(F.lit("u"), F.col("id")).alias("url")), 16
    )
    sizes = partition_sizes(df)
    assert len(sizes) == 16 and sum(sizes) == 5000
    assert spark.conf.get(key) == "true"
    spark.conf.unset(key)


# ------------------------------------------------- repeated passages


def _passage_corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


PASSAGE = " ".join(f"p{j}" for j in range(12))  # 12 shared words


def test_repeated_passages_finds_injected_span(spark):
    """A 12-word passage shared by two docs with otherwise-unique words
    must surface as exactly one maximal span per doc (window=5 → 8
    consecutive windows collapse to one run)."""
    from sketchlib.spark.dedup import repeated_passages

    rows = [
        (1, " ".join(f"a{j}" for j in range(10)) + " " + PASSAGE),
        (2, " ".join(f"b{j}" for j in range(7)) + " " + PASSAGE),
        (3, " ".join(f"c{j}" for j in range(20))),  # no repeats
    ]
    out = {
        r.doc_id: (r.start_word, r.end_word, r.n_windows)
        for r in repeated_passages(
            _passage_corpus(spark, rows), window_words=5
        ).collect()
    }
    # doc 1: passage words at 10..21 → windows 10..17 (8 of them)
    assert out[1] == (10, 21, 8)
    assert out[2] == (7, 18, 8)
    assert 3 not in out


def test_repeated_passages_within_doc_only_is_excluded(spark):
    """min_docs counts DISTINCT documents: a passage repeated twice
    inside ONE doc (and nowhere else) is doc-internal repetition, not a
    cross-document passage."""
    from sketchlib.spark.dedup import repeated_passages

    rows = [
        (1, PASSAGE + " mid1 mid2 mid3 " + PASSAGE),
        (2, " ".join(f"z{j}" for j in range(30))),
    ]
    out = repeated_passages(_passage_corpus(spark, rows), window_words=5).collect()
    assert out == []


def test_repeated_passages_short_docs_emit_nothing(spark):
    from sketchlib.spark.dedup import repeated_passages

    rows = [(1, "one two three"), (2, "one two three")]
    out = repeated_passages(_passage_corpus(spark, rows), window_words=5).collect()
    assert out == []


def test_repeated_passages_gram_df_cap_drops_boilerplate(spark):
    """A gram present in MANY docs (site chrome) is dropped by the df
    cap — the same boilerplate guard the other dedup operators carry."""
    from sketchlib.spark.dedup import repeated_passages

    rows = [(i, " ".join(f"u{i}w{j}" for j in range(6)) + " " + PASSAGE)
            for i in range(20)]
    capped = repeated_passages(
        _passage_corpus(spark, rows), window_words=5, max_gram_df=10
    ).collect()
    assert capped == []  # every passage gram has df=20 > 10
    uncapped = repeated_passages(
        _passage_corpus(spark, rows), window_words=5, max_gram_df=None
    ).collect()
    assert len(uncapped) == 20  # one span per doc without the cap


def test_repeated_passages_two_separate_runs_per_doc(spark):
    """Two disjoint shared passages in one doc must come back as TWO
    spans, not merge across the unique gap."""
    from sketchlib.spark.dedup import repeated_passages

    p2 = " ".join(f"q{j}" for j in range(9))
    rows = [
        (1, PASSAGE + " g1x g2x g3x g4x g5x " + p2),
        (2, PASSAGE + " h1y h2y h3y h4y h5y h6y " + p2),
    ]
    out = sorted(
        (r.doc_id, r.start_word, r.end_word)
        for r in repeated_passages(
            _passage_corpus(spark, rows), window_words=5
        ).collect()
    )
    # doc 1: passage at 0..11, p2 at 17..25; doc 2: p2 at 18..26
    assert out == [(1, 0, 11), (1, 17, 25), (2, 0, 11), (2, 18, 26)]


# ------------------------------------------------- stdlib PNG real codec


def _filtered_png(pixels: "np.ndarray", color_type: int, filters: list[int]) -> bytes:
    """Hand-build a PNG whose scanlines use the GIVEN filter types, by
    applying each filter's forward transform to the raw rows — the only
    way to exercise Sub/Up/Average/Paeth without an external encoder."""
    import binascii
    import struct
    import zlib

    import numpy as np

    h, w, ch = pixels.shape
    stride = w * ch
    flat = pixels.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(stride, np.int32)
    for y, ftype in enumerate(filters):
        cur = flat[y]
        enc = np.empty(stride, np.int32)
        for i in range(stride):
            a = int(cur[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[i] = (int(cur[i]) - pred) & 0xFF
        raw.append(ftype)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", binascii.crc32(ctype + data) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_constant():
    from sketchlib.spark.multimodal import _png_gray, png_blob

    w, h, gray = _png_gray(png_blob(13, 7, 200))
    assert (w, h) == (13, 7)
    # constant RGB (v,v,v) → PIL's integer luma is exactly v
    assert gray.shape == (7, 13) and (gray == 200).all()


def test_png_all_filter_types_decode_exactly():
    """Every scanline filter (None/Sub/Up/Average/Paeth) must invert
    exactly, for RGB and grayscale layouts."""
    import numpy as np

    from sketchlib.spark.multimodal import _png_gray

    rng = np.random.default_rng(9)
    for color_type, ch in ((2, 3), (0, 1), (6, 4)):
        px = rng.integers(0, 256, (5, 6, ch), dtype=np.uint8)
        blob = _filtered_png(px, color_type, [0, 1, 2, 3, 4])
        w, h, gray = _png_gray(blob)
        assert (w, h) == (6, 5)
        if ch == 1:
            expect = px[:, :, 0]
        else:
            rgb = px[:, :, :3].astype(np.uint32)
            expect = (
                (rgb[..., 0] * 19595 + rgb[..., 1] * 38470 + rgb[..., 2] * 7471 + 0x8000)
                >> 16
            ).astype(np.uint8)
        assert (gray == expect).all(), color_type


def test_png_rejects_non_png_and_truncation():
    import pytest as _pytest

    from sketchlib.spark.multimodal import _png_gray, png_blob

    with _pytest.raises(ValueError):
        _png_gray(b"\x00" * 64)
    blob = png_blob(4, 4, 10)
    with _pytest.raises(Exception):
        _png_gray(blob[: len(blob) // 2])


def test_decode_media_real_png_without_pil(spark):
    """The image branch of decode_media(codec_mode='real') must execute
    genuinely in this container (no PIL): geometry and one-hot feature
    recovered from real PNG bytes."""
    from sketchlib.spark.multimodal import decode_media, synth_image_table

    df = spark.createDataFrame([(i,) for i in range(0, 40, 7)], "doc_id long")
    out = decode_media(synth_image_table(df), codec_mode="real").collect()
    assert len(out) == 6
    for r in out:
        i = r.doc_id
        assert r.width == 8 + i % 24 and r.height == 6 + i % 17
        assert r.n_frames == 1
        v = (3 + i * 37) % 256
        feats = list(r.feature)
        assert feats[(v >> 5) & 7] == 1.0 and sum(feats) == 1.0


def test_partition_sizes_reports_empty_partitions(spark):
    from pyspark.sql import functions as F

    from sketchlib.spark.salt import partition_sizes

    # constant key: every row lands in ONE of 8 partitions
    df = spark.range(1000).select(F.lit("same").alias("k")).repartition(8, "k")
    sizes = partition_sizes(df)
    assert len(sizes) == 8
    assert sorted(sizes)[-1] == 1000 and sum(sizes) == 1000


def test_partition_sizes_inherits_runtime_conf(spark):
    """The cloned diagnostic session must COPY the caller's runtime
    SQLConf: repartition(col) with no explicit count resolves
    spark.sql.shuffle.partitions at physical planning, which happens in
    the clone — a clone built from context defaults would report 200
    partitions for a frame the caller planned at 7."""
    from pyspark.sql import functions as F

    from sketchlib.spark.salt import partition_sizes

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        df = spark.range(500).select(
            (F.col("id") % 50).cast("string").alias("k")
        ).repartition("k")
        sizes = partition_sizes(df)
        assert len(sizes) == 7, sizes
        assert sum(sizes) == 500
    finally:
        spark.conf.set(key, prev)

"""Round-4 additions: document-frequency caps on the bucketed dedup
joins (VERDICT r3 "What's wrong" #2).  A web corpus has boilerplate —
thousands of byte-identical or near-identical texts that share every
LSH band key / every n-gram — and an uncapped bucket self-join is
O(k²) inside that bucket.  The cap must (a) keep the join O(n·cap) on
a pathological all-identical corpus and (b) not disturb genuine
near-dup signal whose buckets are below the cap."""

from __future__ import annotations

import pytest


N_IDENTICAL = 10_000
BOILER = "the quick brown fox jumps over the lazy dog again and again today"


@pytest.fixture(scope="module")
def identical_docs(spark):
    """10k byte-identical docs — every band key / gram has df = 10k."""
    return spark.range(N_IDENTICAL).selectExpr(
        "id AS doc_id", f"'{BOILER}' AS text"
    )


def test_minhash_band_cap_bounds_identical_corpus(spark, identical_docs):
    """With the cap, 10k identical docs produce ZERO candidate pairs
    (every band bucket has df 10k > cap, so each is dropped before the
    self-join) instead of ~50M — the run completes in seconds because
    nothing quadratic ever materializes."""
    from sketchlib.spark.dedup import minhash_dedup_pairs

    out = minhash_dedup_pairs(
        identical_docs, num_perm=64, bands=16, threshold=1.0, max_band_df=50
    )
    assert out.count() == 0


def test_minhash_band_cap_preserves_subcap_signal(spark):
    """A 200-doc identical boilerplate cluster (hot, dropped) coexists
    with one genuine identical pair of a DIFFERENT text (df=2 buckets,
    kept): the cap removes the hot cluster's pairs but the real pair
    survives."""
    from pyspark.sql import functions as F

    from sketchlib.spark.dedup import minhash_dedup_pairs

    boiler = spark.range(200).selectExpr("id AS doc_id", f"'{BOILER}' AS text")
    pair_text = "completely different sentence with enough words to shingle properly here"
    pair = spark.createDataFrame(
        [(10_001, pair_text), (10_002, pair_text)], "doc_id long, text string"
    )
    out = minhash_dedup_pairs(
        boiler.unionByName(pair),
        num_perm=64,
        bands=16,
        threshold=1.0,
        max_band_df=50,
    ).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(10_001, 10_002)}
    assert out[0].jaccard_sim == 1.0


def test_df_cap_anti_join_is_broadcast(spark):
    """Plan shape of the cap: the hot-key exclusion must be a BROADCAST
    left-anti join (the hot set is ≤ n/cap rows by construction) — a
    shuffled anti-join would add an Exchange of the full band/gram
    frame and defeat the point of a cheap insurance filter."""
    from sketchlib.spark.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma delta epsilon zeta eta theta") for i in range(30)],
        "doc_id long, text string",
    )
    # ngram stays lazy without checkpoint_dir, so the executed plan of
    # the returned frame shows the cap's join strategy directly (the
    # minhash/simhash variants share the identical F.broadcast +
    # left_anti construction but materialize eagerly)
    ng = ngram_jaccard_pairs(docs, n=3, threshold=0.9, max_gram_df=5)
    ng_plan = ng._jdf.queryExecution().executedPlan().toString()
    final = ng_plan.split("== Initial Plan ==")[0]
    assert "LeftAnti" in final
    # every LeftAnti in the plan must be broadcast, never shuffled
    for line in final.splitlines():
        if "LeftAnti" in line:
            assert "Broadcast" in line, line


def test_minhash_cap_disabled_matches_uncapped(spark):
    """max_band_df=None keeps the historical exhaustive behavior on a
    small corpus: all C(n,2) identical pairs come back."""
    from sketchlib.spark.dedup import minhash_dedup_pairs

    n = 40
    docs = spark.range(n).selectExpr("id AS doc_id", f"'{BOILER}' AS text")
    out = minhash_dedup_pairs(
        docs, num_perm=64, bands=16, threshold=1.0, max_band_df=None
    )
    assert out.count() == n * (n - 1) // 2


def test_simhash_key_cap_bounds_identical_corpus(spark, identical_docs):
    """Byte-identical docs share every Manku combination key: with the
    cap every hot key is dropped before the self-join, so the 10k-doc
    corpus produces zero pairs instead of ~10^9. (Only the capped path
    may EXECUTE here — simhash_candidate_pairs materializes eagerly, so
    an uncapped call on this corpus would itself be the quadratic
    blow-up this test guards against.)"""
    from pyspark.sql import functions as F

    from sketchlib.spark.dedup import simhash_candidate_pairs, simhash_udf

    sh = identical_docs.withColumn("simhash", simhash_udf()(F.col("text"))).drop("text")
    capped = simhash_candidate_pairs(sh, max_hamming=0, max_key_df=50)
    assert capped.count() == 0


def test_simhash_key_cap_preserves_subcap_signal(spark):
    """A 200-doc identical cluster (hot keys, dropped) + one genuine
    identical pair of different text (df=2 keys, kept): the real pair
    survives the cap."""
    from pyspark.sql import functions as F

    from sketchlib.spark.dedup import simhash_candidate_pairs, simhash_udf

    boiler = spark.range(200).selectExpr("id AS doc_id", f"'{BOILER}' AS text")
    pair_text = "a very different document body that hashes to another signature entirely"
    pair = spark.createDataFrame(
        [(10_001, pair_text), (10_002, pair_text)], "doc_id long, text string"
    )
    sh = (
        boiler.unionByName(pair)
        .withColumn("simhash", simhash_udf()(F.col("text")))
        .drop("text")
        .persist()
    )
    out = simhash_candidate_pairs(sh, max_hamming=0, max_key_df=50).collect()
    sh.unpersist()
    assert {(r.id_a, r.id_b) for r in out} == {(10_001, 10_002)}
    assert out[0].hamming == 0


def test_ngram_cap_bounds_identical_corpus(spark, identical_docs):
    """All grams of the 10k-identical corpus are hot → removed from the
    gram universe → no pairs, no quadratic join."""
    from sketchlib.spark.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(identical_docs, n=3, threshold=0.1, max_gram_df=100)
    assert out.count() == 0


def test_ngram_cap_excludes_hot_gram_from_universe(spark):
    """A boilerplate gram shared by 300 docs is dropped from BOTH the
    intersection join and the per-doc sizes (na/nb): Jaccard is exact
    over the sub-cap gram space, so a genuine near-dup pair that also
    carries the boilerplate still scores on its unique grams only."""
    from sketchlib.spark.dedup import ngram_jaccard_pairs

    hot = "copyright footer text"  # one 3-gram, shared by every doc
    uniq = "alpha beta gamma delta"  # grams: 'alpha beta gamma', 'beta gamma delta'
    rows = [(i, f"filler{i} " + hot) for i in range(300)]
    rows += [(1000, f"{uniq} {hot}"), (1001, f"{uniq} {hot}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = ngram_jaccard_pairs(df, n=3, threshold=0.5, max_gram_df=50).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1000, 1001)}
    (r,) = out
    # doc 1000/1001 grams: 'alpha beta gamma', 'beta gamma delta',
    # 'gamma delta copyright', 'delta copyright footer' (df=2 each, kept)
    # + 'copyright footer text' (df=302 > 50, dropped from na/nb/inter)
    assert (r.inter, r.na, r.nb) == (4, 4, 4)
    assert r.jaccard == 1.0


def test_reliable_checkpoint_dir_path(spark, tmp_path):
    """checkpoint_dir opts the dedup/CC materialization points into
    reliable (filesystem) checkpoints instead of localCheckpoint, so a
    cluster run survives executor loss mid-query. Results must be
    identical and checkpoint files must actually land in the dir."""
    from pyspark.sql import functions as F

    from sketchlib.spark.dedup import (
        connected_components,
        minhash_dedup_pairs,
        simhash_near_dup_pairs,
    )

    ckpt = str(tmp_path / "ckpt")
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words " * 3)],
        "doc_id long, text string",
    )
    pairs = minhash_dedup_pairs(
        docs, num_perm=64, bands=16, threshold=1.0, checkpoint_dir=ckpt
    )
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}

    sim = simhash_near_dup_pairs(docs, max_hamming=0, checkpoint_dir=ckpt)
    assert {(r.id_a, r.id_b) for r in sim.collect()} == {(1, 2)}

    comp = connected_components(
        pairs.select("id_a", "id_b"),
        docs.select("doc_id"),
        checkpoint_dir=ckpt,
    )
    got = {(r.doc_id, r.component) for r in comp.collect()}
    assert got == {(1, 1), (2, 1), (3, 3)}

    import os

    # reliable materialization writes mat-* parquet dirs under the
    # checkpoint root (parquet round-trip, NOT df.checkpoint — that
    # would mutate the context-global checkpoint dir; see
    # checkpoint.materialize). connected_components prunes each
    # consumed round's dir, so at least the final labels' dir remains.
    found = []
    for _root, dirs, _files in os.walk(ckpt):
        found += [d for d in dirs if d.startswith("mat-")]
    assert found, "no reliable materialization data written under checkpoint_dir"
    # CC prunes each consumed round's dir — the total left behind is a
    # handful of result-backing frames, NOT one per CC iteration
    assert len(found) <= 5, found

    from sketchlib.spark.checkpoint import drop_materialized

    comp.collect()  # fully consume before dropping the backing files
    drop_materialized(comp)
    remaining = []
    for _root, dirs, _files in os.walk(ckpt):
        remaining += [d for d in dirs if d.startswith("mat-")]
    assert len(remaining) < len(found)


def test_lsh_candidate_pairs_checkpoint_dir(spark, tmp_path):
    from sketchlib.spark.similarity import embedding_near_dup_pairs

    ckpt = str(tmp_path / "ckpt_lsh")
    v = [1.0, 0.0, 0.5, 0.2]
    rows = [(1, v), (2, v), (3, [-1.0, 0.3, -0.5, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs(df, sim_threshold=0.9, checkpoint_dir=ckpt)
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(1, 2)}


def test_warc_open_archive_stream_non_seekable(tmp_path):
    """Object-store streams are frequently forward-only: the gzip sniff
    must use peek, never seek. A raw stream whose seek raises must
    still parse both plain and whole-file-gzip archives."""
    import gzip as _gzip
    import io

    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_stream, open_archive_stream

    blob = warc_bytes(5, seed=7)

    class ForwardOnly(io.RawIOBase):
        def __init__(self, data):
            self._b = io.BytesIO(data)

        def readinto(self, b):
            return self._b.readinto(b)

        def readable(self):
            return True

        def seekable(self):
            return False

        def seek(self, *a):  # pragma: no cover - must never be called
            raise OSError("forward-only stream")

    class OneBytePerRead(ForwardOnly):
        """Legal RawIOBase behavior: each readinto returns at most ONE
        byte — the case that broke the peek(2)-based sniff (peek does at
        most one raw read, so it saw 1 byte and misclassified gzip)."""

        def readinto(self, b):
            if len(b) == 0:
                return 0
            one = memoryview(b)[:1]
            return self._b.readinto(one)

    for wrapper in (ForwardOnly, OneBytePerRead):
        for data in (blob, _gzip.compress(blob)):
            stream = open_archive_stream(
                "s3://bucket/x.warc", opener=lambda p, d=data, w=wrapper: w(d)
            )
            recs = list(iter_warc_stream(stream))
            assert len(recs) == 6, wrapper.__name__  # warcinfo + 5 responses


def _wav_bytes(n_frames=800, rate=8000, channels=1) -> bytes:
    import io
    import wave as _wave

    import numpy as np

    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        t = np.arange(n_frames * channels)
        samples = (np.sin(t / 10.0) * 12000).astype("<i2")
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def test_decode_media_real_audio_path(spark):
    """The stdlib-wave audio codec is REAL in this container: a genuine
    RIFF/WAVE blob decodes to its actual channel count, sample rate and
    frame count through the distributed mapInPandas path (codec_mode
    auto), not the stub's byte-sum fake."""
    from sketchlib.spark.multimodal import decode_media

    blob = _wav_bytes(n_frames=800, rate=8000, channels=1)
    df = spark.createDataFrame(
        [(1, blob, "audio")], "doc_id long, media binary, media_type string"
    )
    (r,) = decode_media(df).collect()
    assert (r.width, r.height, r.n_frames) == (1, 8000, 800)  # ch, rate, frames
    assert len(r.feature) == 8 and abs(sum(r.feature) - 1.0) < 1e-5


def test_decode_media_auto_falls_back_to_stub(spark):
    """Non-media bytes in auto mode take the stub path deterministically
    — identical output to codec_mode='stub', which is what keeps the
    driver oracle environment-independent."""
    from sketchlib.spark.multimodal import decode_media, synth_media_table

    media = synth_media_table(spark, n=12)
    got_auto = sorted(decode_media(media, codec_mode="auto").collect())
    got_stub = sorted(decode_media(media, codec_mode="stub").collect())
    assert got_auto == got_stub


def test_decode_media_real_mode_strict(spark):
    """codec_mode='real' must raise on unparseable media instead of
    silently substituting fake metadata."""
    from sketchlib.spark.multimodal import decode_media

    df = spark.createDataFrame(
        [(1, b"not a wav at all", "audio")],
        "doc_id long, media binary, media_type string",
    )
    with pytest.raises(Exception):
        decode_media(df, codec_mode="real").collect()


def test_decode_media_real_image_with_pil(spark):
    """Runs only where PIL exists (not this container): a real PNG
    decodes to its true dimensions."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from sketchlib.spark.multimodal import decode_media

    buf = io.BytesIO()
    Image.new("RGB", (17, 9)).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, buf.getvalue(), "image")], "doc_id long, media binary, media_type string"
    )
    (r,) = decode_media(df, codec_mode="real").collect()
    assert (r.width, r.height, r.n_frames) == (17, 9, 1)


def test_udf_deser_cache_keyed_by_broadcast_id():
    """Round-4 wrong-answer regression: the worker-side deserialization
    cache was keyed by id(bc) — a reused Python worker could hand query
    B the sketch of query A after address reuse (observed as a CMS UDF
    receiving a CuckooFilter; same-typed sketches would have been
    silently wrong). The cache must key on the JVM broadcast id:
    distinct bids → distinct sketches, same bid → cached instance,
    size bounded."""
    from sketchlib.sketches import BloomFilter, CountMinSketch
    from sketchlib.spark import udfs

    class FakeBC:
        def __init__(self, blob):
            self.value = blob

    udfs._DESER_CACHE.clear()
    bloom = BloomFilter(capacity=64, fp_rate=0.01)
    cms = CountMinSketch(width=64, depth=2)
    a = udfs._sketch_from(101, FakeBC(bloom.to_bytes()))
    b = udfs._sketch_from(102, FakeBC(cms.to_bytes()))
    assert type(a) is BloomFilter and type(b) is CountMinSketch
    assert udfs._sketch_from(101, FakeBC(b"garbage-never-read")) is a  # cached
    # the sharded probe's {shard: blob} broadcasts share the cache: one
    # entry per broadcast holding its shards, so a 16-shard probe never
    # evicts its own shards, and absent shards answer None
    shards = {sid: BloomFilter(capacity=8, fp_rate=0.5).to_bytes() for sid in range(16)}
    got = [udfs._sketch_from(103, FakeBC(shards), sid) for sid in range(16)]
    garbage = FakeBC({sid: b"garbage-never-read" for sid in range(16)})
    assert all(udfs._sketch_from(103, garbage, sid) is f for sid, f in enumerate(got))
    assert udfs._sketch_from(103, FakeBC(shards), 99) is None
    assert udfs._sketch_from(101, FakeBC(b"garbage-never-read")) is a
    for i in range(20):  # bounded by broadcasts: oldest evicted first
        udfs._sketch_from(200 + i, FakeBC(BloomFilter(capacity=8, fp_rate=0.5).to_bytes()))
    assert len(udfs._DESER_CACHE) <= udfs._DESER_CACHE_MAX
    assert 101 not in udfs._DESER_CACHE and 219 in udfs._DESER_CACHE
    udfs._DESER_CACHE.clear()


def test_ngram_cap_disabled_counts_hot_gram(spark):
    """Sanity inverse of the above: with the cap off, the boilerplate
    gram participates and na/nb/inter include it."""
    from sketchlib.spark.dedup import ngram_jaccard_pairs

    hot = "copyright footer text"
    uniq = "alpha beta gamma delta"
    rows = [(1000, f"{uniq} {hot}"), (1001, f"{uniq} {hot}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    (r,) = ngram_jaccard_pairs(df, n=3, threshold=0.5, max_gram_df=None).collect()
    assert (r.inter, r.na, r.nb) == (5, 5, 5)


# -------------------------------------------- second review-pass fixes


def test_read_warc_empty_dir_returns_empty_frame(spark, tmp_path):
    """A glob/dir with zero archives must yield an empty pages frame,
    not 'ValueError: RDD is empty' from toDF schema inference on the
    empty zipWithIndex RDD (review finding; schema is now explicit)."""
    from sketchlib.spark.warc import read_warc

    empty = tmp_path / "no-archives"
    empty.mkdir()
    df = read_warc(spark, str(empty))
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]


def test_iter_warc_stream_reports_oversize(tmp_path):
    """Records over max_record_bytes are skipped AND counted through
    on_oversize — the driver-visible signal for the 64 MiB default cap
    (the WARC spec has no payload cap, so silent drops are
    undiagnosable in batch jobs)."""
    import io

    from sketchlib.spark.warc import iter_warc_stream

    def rec(uri: str, payload: bytes) -> bytes:
        hdr = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return hdr + payload + b"\r\n\r\n"

    blob = rec("http://a", b"x" * 10) + rec("http://big", b"y" * 2000) + rec("http://b", b"z" * 10)
    seen = []
    out = list(
        iter_warc_stream(
            io.BytesIO(blob),
            max_record_bytes=1000,
            on_oversize=lambda clen, uri: seen.append((clen, uri)),
        )
    )
    assert [h.get("warc-target-uri") for h, _ in out] == ["http://a", "http://b"]
    assert seen == [(2000, "http://big")]


def test_cc_failure_cleans_checkpoint_dir(spark, tmp_path):
    """A mid-loop failure (here: an edge frame that raises on
    evaluation) must not orphan mat-* label dirs in checkpoint_dir or
    leave the edge frame cached (review finding: cleanup previously
    happened only on the happy and max_iter-exhausted paths)."""
    import os

    from pyspark.sql import functions as F

    from sketchlib.spark.dedup import connected_components

    cp = tmp_path / "cc"
    vertices = spark.createDataFrame([(str(i),) for i in range(4)], "doc_id string")
    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string").select(
        F.raise_error(F.lit("boom")).alias("id_a"), "id_b"
    )
    with pytest.raises(Exception, match="boom"):
        connected_components(pairs, vertices, max_iter=3, checkpoint_dir=str(cp))
    leftover = [d for d in os.listdir(cp)] if cp.exists() else []
    assert leftover == []


def test_sized_cuckoo_cfg_scales_past_fixed_capacity():
    """_sized_cuckoo_cfg sizes capacity to the keyset: a keyset larger
    than the old fixed 65536 (sf0.1 lineitem has ~150k orderkeys —
    the exact saturation that silently lost ~55% of deleted-probe rows
    at sf0.1) gets ≥15% headroom instead of silent insert failures."""
    import __spark_entry__ as entry_mod

    small = entry_mod._sized_cuckoo_cfg(10_000, fingerprint_bits=16, hash_strategy="xx")
    assert small.capacity == 65536  # floor keeps sf0.001/0.01 geometry
    big = entry_mod._sized_cuckoo_cfg(150_000, fingerprint_bits=16, hash_strategy="xx")
    assert big.capacity >= int(150_000 / 0.95)


def test_frame_sampled_filter_fits_sized_capacity(spark):
    """End-to-end saturation regression at the exact failing shape:
    keys >> 65536 insert into a sized filter with zero failures and no
    false negatives on a probe of every key."""
    from sketchlib import CuckooFilter
    from sketchlib.spark import build_sketches, tree_merge

    import __spark_entry__ as entry_mod

    keys = spark.range(150_000).selectExpr("CAST(id AS STRING) AS key")
    cfg = entry_mod._sized_cuckoo_cfg(150_000, fingerprint_bits=16, hash_strategy="xx")
    merged = tree_merge(build_sketches(keys, "key", lambda: CuckooFilter(cfg)))
    assert merged.insert_failures == 0
    assert merged.count() == 150_000


def test_iter_warc_stream_survives_midstream_would_block(monkeypatch):
    """A non-blocking source returning None mid-archive must NOT be
    treated as end-of-stream (that silently truncated plain archives at
    the first stall) — only b'' ends parsing. Backoff sleeps are
    no-op'd: the coverage is the retry logic, not the wall-clock."""
    import io

    import sketchlib.spark.warc as warcmod
    from sketchlib.spark.warc import iter_warc_stream

    monkeypatch.setattr(warcmod.time, "sleep", lambda _s: None)

    def rec(uri: str, payload: bytes) -> bytes:
        hdr = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return hdr + payload + b"\r\n\r\n"

    blob = b"".join(rec(f"http://{i}", bytes([65 + i]) * 50) for i in range(5))

    class Stalling:
        """Returns None on every other read call, tiny real chunks between."""

        def __init__(self, data: bytes):
            self._inner = io.BytesIO(data)
            self._calls = 0

        def read(self, n: int):
            self._calls += 1
            if self._calls % 2:
                return None
            return self._inner.read(min(n, 7))

    out = list(iter_warc_stream(Stalling(blob), chunk_size=7))
    assert [h.get("warc-target-uri") for h, _ in out] == [f"http://{i}" for i in range(5)]


def test_open_archive_stream_gzip_survives_would_block(monkeypatch):
    """The dominant .warc.gz path: gzip.GzipFile crashes outright if a
    read ever yields None, so _HeaderReplayStream must ABSORB
    would-block below the gzip layer (backoff, never propagate).
    Regression for the stall-crash on non-blocking object-store
    sources; plain archives exercised through the same wrapper too."""
    import gzip as _gzip
    import io

    import sketchlib.spark.warc as warcmod
    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_stream, open_archive_stream

    monkeypatch.setattr(warcmod.time, "sleep", lambda _s: None)
    blob = warc_bytes(5, seed=7)

    class StallingRaw(io.RawIOBase):
        def __init__(self, data: bytes):
            self._b = io.BytesIO(data)
            self._calls = 0

        def readable(self):
            return True

        def seekable(self):
            return False

        def readinto(self, b):
            self._calls += 1
            if self._calls % 2:
                return None  # would-block
            view = memoryview(b)[: min(len(b), 1024)]
            return self._b.readinto(view)

    for data in (blob, _gzip.compress(blob)):
        stream = open_archive_stream(
            "s3://bucket/x.warc", opener=lambda p, d=data: StallingRaw(d)
        )
        recs = list(iter_warc_stream(stream))
        assert len(recs) == 6  # warcinfo + 5 responses

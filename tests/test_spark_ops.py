"""Operator tests: dedup family, text analysis, similarity search,
multimodal plumbing, streaming incremental build."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------- dedup


def test_dedup_exact_and_hash_agree(spark, docs_df):
    from sketchlib.spark.dedup import dedup_exact, dedup_exact_hash

    d = docs_df.withColumn("doc_id", F.xxhash64("url"))
    ex = {r.doc_id for r in dedup_exact(d).collect()}
    hs = {r.doc_id for r in dedup_exact_hash(d).collect()}
    assert ex == hs
    n_distinct_texts = d.select("text").distinct().count()
    assert len(ex) == n_distinct_texts


def test_minhash_signatures_shape(spark, docs_df):
    from sketchlib.spark.dedup import minhash_signatures

    d = docs_df.limit(50).withColumn("doc_id", F.xxhash64("url"))
    sigs = minhash_signatures(d, num_perm=64)
    row = sigs.first()
    assert len(row.minhash) == 64


def test_minhash_finds_exact_duplicates(spark, docs_df):
    from sketchlib.spark.dedup import minhash_dedup_pairs

    d = docs_df.withColumn("doc_id", F.xxhash64("url"))
    # ground truth: identical texts under distinct ids
    dup_pairs = (
        d.alias("a")
        .join(d.alias("b"), F.col("a.text") == F.col("b.text"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    want = {(r.id_a, r.id_b) for r in dup_pairs.collect()}
    assert want, "fixture should contain exact duplicates"
    got = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(d, num_perm=64, bands=16, threshold=1.0).collect()
    }
    # identical texts => identical shingle sets => identical signatures
    assert want <= got


def test_minhash_jaccard_near_dups(spark):
    from sketchlib.spark.dedup import minhash_dedup_pairs

    base = " ".join(f"w{i}" for i in range(200))
    near = " ".join(f"w{i}" for i in range(195)) + " x1 x2 x3 x4 x5"
    far = " ".join(f"z{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_dedup_pairs(df, num_perm=128, bands=32, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_near_dup_pairs(spark):
    from sketchlib.spark.dedup import simhash_near_dup_pairs

    base = " ".join(f"tok{i}" for i in range(300))
    near = " ".join(f"tok{i}" for i in range(299)) + " other"
    far = " ".join(f"q{i}" for i in range(300))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    got = {(r.id_a, r.id_b) for r in simhash_near_dup_pairs(df, max_hamming=3).collect()}
    assert (1, 2) in got
    assert (1, 3) not in got


def test_pii_scrub_redacts_and_is_idempotent(spark):
    from sketchlib.spark.text import pii_counts, scrub_pii

    rows = [
        (1, "mail a.b-c_d@sub.example.org and 212-555-0147 twice 212-555-0148"),
        (2, "no pii here"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ne, np_ = pii_counts()
    got = {r.doc_id: (r.e, r.p, r.s) for r in df.select(
        "doc_id", ne.alias("e"), np_.alias("p"), scrub_pii().alias("s")).collect()}
    assert got[1][:2] == (1, 2)
    assert "<EMAIL>" in got[1][2] and got[1][2].count("<PHONE>") == 2
    assert "@" not in got[1][2]
    assert got[2] == (0, 0, "no pii here")
    assert got[3] == (0, 0, "")
    # idempotent: scrubbing scrubbed text changes nothing
    scrubbed = df.select("doc_id", scrub_pii().alias("text"))
    again = scrubbed.select("doc_id", scrub_pii().alias("text"))
    assert scrubbed.exceptAll(again).count() == 0


def test_hash_split_stable_and_proportional(spark):
    """Split is reproducible, partition-independent, and ~80/10/10."""
    from sketchlib.spark.text import hash_split

    d = spark.range(5000).select(F.col("id").alias("doc_id"))
    s1 = d.select("doc_id", hash_split("doc_id").alias("split"))
    counts = {r.split: r.cnt for r in s1.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.02
    assert abs(counts["test"] / 5000 - 0.1) < 0.02
    # repartitioning must not move any row between splits
    s2 = d.repartition(17).select("doc_id", hash_split("doc_id").alias("split"))
    assert s1.exceptAll(s2).count() == 0


def test_ngram_repetition_doubled_text(spark):
    """Doubling a text ~doubles total grams but not distinct grams —
    the repetition signal a quality filter thresholds on."""
    from sketchlib.spark.text import ngram_repetition_cols

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " " + base)], "doc_id long, text string"
    )
    total, distinct = ngram_repetition_cols()
    rows = {r.doc_id: r for r in df.select("doc_id", total.alias("t"), distinct.alias("d")).collect()}
    r1, r2 = rows[1], rows[2]
    assert r1.t == r1.d == 8  # 10 words -> 8 trigrams, all distinct
    assert r2.t == 18 and r2.d == 10  # doubled: 18 grams, 10 distinct
    assert (1 - r2.d / r2.t) > 0.4 > (1 - r1.d / r1.t)


def test_connected_components_chain_and_singleton(spark):
    """A 5-node chain forces multiple propagation rounds (min label
    must travel the diameter); singletons keep their own id."""
    from sketchlib.spark.dedup import connected_components, dedup_canonical

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]], "doc_id long")
    comp = {r.doc_id: r.component for r in connected_components(pairs, verts).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}
    docs = verts.withColumn("text", F.concat(F.lit("t"), "doc_id"))
    kept = {r.doc_id for r in dedup_canonical(docs, pairs).collect()}
    assert kept == {1, 10, 99}


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 60-edge chain converges in O(log d) rounds (pointer jumping),
    well inside max_iter=10 — plain one-hop propagation would need 60
    rounds and previously returned silently-wrong splits."""
    from sketchlib.spark.dedup import connected_components

    n = 61
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    comp = {r.doc_id: r.component for r in connected_components(pairs, verts, max_iter=10).collect()}
    assert set(comp.values()) == {0}


def test_connected_components_differential_union_find(spark):
    """Differential gate: random graphs vs a reference union-find."""
    import numpy as np

    from sketchlib.spark.dedup import connected_components

    rng = np.random.Generator(np.random.PCG64(123))
    for trial in range(4):
        n = int(rng.integers(10, 60))
        m = int(rng.integers(0, n * 2))
        edges = [(int(a), int(b)) for a, b in rng.integers(0, n, (m, 2)) if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonicalize reference labels to min-of-component
        comp_min: dict[int, int] = {}
        for v in range(n):
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        expect = {v: comp_min[find(v)] for v in range(n)}

        pairs = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
        verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = {r.doc_id: r.component for r in connected_components(pairs, verts).collect()}
        assert got == expect, f"trial {trial} mismatch"


def test_ngram_jaccard_pairs(spark):
    from sketchlib.spark.dedup import ngram_jaccard_pairs

    a = "the quick brown fox jumps over the lazy dog today"
    b = "the quick brown fox jumps over the lazy cat today"
    c = "completely different words in this one entirely now"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    rows = ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert (1, 2) in got
    assert all(k == (1, 2) for k in got)


# ------------------------------------------------------------------- text


def test_token_count_matches_python(spark, docs_df):
    from sketchlib.spark.text import token_count

    got = {
        r.url: r.n
        for r in docs_df.select("url", token_count("text").alias("n")).collect()
    }
    want = {r.url: len(r.text.split()) for r in docs_df.select("url", "text").collect()}
    assert got == want


def test_lang_id_on_fixture(spark):
    from sketchlib.spark.text import lang_id

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog walked to the park in town"),
            (2, "der hund und die katze das ist gut und der tag"),
            (3, "le chat et la maison les animaux des villes"),
            (4, ""),
        ],
        "id long, text string",
    )
    got = {r.id: r.lang for r in df.select("id", lang_id("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_score_columns(spark, docs_df):
    from sketchlib.spark.text import quality_score

    q = quality_score(docs_df.limit(100))
    row = q.where(F.length("text") > 0).first()
    assert row.n_chars_q == len(row.text)
    assert row.n_tokens == len(row.text.split())
    assert row.mean_token_len > 0


def test_top_k_tokens_exact(spark):
    from sketchlib.spark.text import top_k_tokens

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b c c d")], "id long, text string"
    )
    rows = top_k_tokens(df, k=3).collect()
    assert [(r.token, r.cnt) for r in rows] == [("a", 4), ("b", 3), ("c", 3)]


def test_doc_fingerprint_deterministic(spark, docs_df):
    from sketchlib.spark.text import doc_fingerprint_udf

    d = docs_df.limit(50)
    f1 = {r.url: r.fp for r in d.select("url", doc_fingerprint_udf()(F.col("text")).alias("fp")).collect()}
    f2 = {r.url: r.fp for r in d.select("url", doc_fingerprint_udf()(F.col("text")).alias("fp")).collect()}
    assert f1 == f2
    # identical texts fingerprint identically
    same = d.groupBy("text").agg(F.count("*").alias("c")).where("c > 1").count()
    # (fixture may or may not have dups in first 50; just check function purity)


# ---------------------------------------------------------------- similarity


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.Generator(np.random.PCG64(21))
    base = rng.standard_normal(16).astype(np.float64)
    rows = []
    for i in range(200):
        if i < 5:  # first 5 are near the query direction
            v = base + rng.standard_normal(16) * 0.1
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_bruteforce_exact(spark, emb_df):
    from sketchlib.spark.similarity import cosine_topk_bruteforce

    q = emb_df.where("vec_id = 0").first().embedding
    rows = cosine_topk_bruteforce(emb_df, list(q), k=10).collect()
    assert rows[0].vec_id == 0 and abs(rows[0].cosine_sim - 1.0) < 1e-9
    # numpy oracle
    all_rows = emb_df.collect()
    mat = np.array([r.embedding for r in all_rows])
    qv = np.array(q)
    sims = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    want = [all_rows[i].vec_id for i in np.argsort(-sims)[:10]]
    got = [r.vec_id for r in rows]
    assert set(got) == set(want)


def test_cosine_topk_lsh_recall(spark, emb_df):
    from sketchlib.spark.similarity import cosine_topk_bruteforce, cosine_topk_lsh

    q = list(emb_df.where("vec_id = 0").first().embedding)
    exact = {r.vec_id for r in cosine_topk_bruteforce(emb_df, q, 10).collect()}
    approx = {r.vec_id for r in cosine_topk_lsh(emb_df, q, 10, bits=8, max_hamming=2).collect()}
    assert len(exact & approx) / 10 >= 0.5


def test_cosine_topk_ivf_recall(spark, emb_df):
    from sketchlib.spark.similarity import cosine_topk_bruteforce, cosine_topk_ivf

    q = list(emb_df.where("vec_id = 0").first().embedding)
    exact = {r.vec_id for r in cosine_topk_bruteforce(emb_df, q, 10).collect()}
    approx = {
        r.vec_id
        for r in cosine_topk_ivf(emb_df, q, 10, n_cells=8, nprobe=3).collect()
    }
    assert len(exact & approx) / 10 >= 0.5
    # query vector itself always found (it sits in the nearest cell)
    assert 0 in approx


def test_ivf_assignment_partitions_all_rows(spark, emb_df):
    from sketchlib.spark.similarity import ivf_assign_udf, ivf_train_centroids
    from pyspark.sql import functions as F

    cent = ivf_train_centroids(emb_df, k=8)
    assert cent.shape[1] == 16
    assign = ivf_assign_udf(cent)
    cells = emb_df.withColumn("cell", assign(F.col("embedding")))
    assert cells.where("cell IS NULL OR cell < 0 OR cell >= 8").count() == 0
    assert cells.select("cell").distinct().count() > 1


def test_pairwise_knn_shape(spark, emb_df):
    from sketchlib.spark.similarity import pairwise_cosine_knn

    out = pairwise_cosine_knn(emb_df.limit(50), k=3, bands=8, bits_per_band=3)
    counts = out.groupBy("id_a").count().collect()
    assert all(r["count"] <= 3 for r in counts)
    # symmetric candidates: every id appearing as id_b also ranks as id_a
    ids_a = {r.id_a for r in out.select("id_a").distinct().collect()}
    ids_b = {r.id_b for r in out.select("id_b").distinct().collect()}
    assert ids_b <= ids_a


def test_ann_index_partition_pruning(spark, emb_df, tmp_path):
    """The materialized IVF index probe must prune partitions at the
    source (PartitionFilters on cell), and an exhaustive probe must
    reproduce brute force exactly."""
    from sketchlib.spark.similarity import (
        build_ann_index,
        cosine_topk_bruteforce,
        plan_partition_filters,
        probe_ann_index,
    )

    path = str(tmp_path / "annidx")
    build_ann_index(emb_df, path, n_cells=8)
    qv = list(emb_df.where("vec_id = 1").select("embedding").first()[0])
    pruned = probe_ann_index(spark, path, qv, k=5, nprobe=2)
    pf = plan_partition_filters(pruned)
    assert "cell" in pf and "IN" in pf  # source-level pruning, not a post-scan filter
    full = [r.vec_id for r in probe_ann_index(spark, path, qv, k=5, nprobe=8).collect()]
    exact = [r.vec_id for r in cosine_topk_bruteforce(emb_df, qv, k=5).collect()]
    assert full == exact
    # pruned probe returns a subset of the index, ranked
    assert 0 < len(pruned.collect()) <= 5


def test_embedding_near_dup_pairs_finds_planted(spark):
    """Planted near-duplicates (tiny perturbation) must all surface
    through the banded LSH; unrelated random vectors must not."""
    import numpy as np

    from sketchlib.spark.similarity import embedding_near_dup_pairs

    rng = np.random.Generator(np.random.PCG64(7))
    base = rng.standard_normal((40, 32)).astype(np.float64)
    near = base[:10] + 0.05 * rng.standard_normal((10, 32))
    rows = [(i, list(map(float, v))) for i, v in enumerate(base)] + [
        (100 + i, list(map(float, v))) for i, v in enumerate(near)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, sim_threshold=0.9, bands=12, bits_per_band=4).collect()
    }
    assert {(i, 100 + i) for i in range(10)} <= got
    # no far pair sneaks past the exact cosine filter
    assert all(b - a == 100 for a, b in got)


# ---------------------------------------------------------------- multimodal


def test_multimodal_decode_plumbing(spark):
    from sketchlib.spark.multimodal import decode_media, synth_media_table

    media = synth_media_table(spark, n=48)
    out = decode_media(media).collect()
    assert len(out) == 48
    for r in out:
        assert r.width >= 1 and r.height >= 1 and r.n_frames >= 1
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-5
    img = [r for r in out if r.media_type == "image"]
    assert all(r.n_frames == 1 for r in img)


def test_multimodal_unknown_type_raises(spark):
    from sketchlib.spark.multimodal import _decode_stub

    with pytest.raises(NotImplementedError):
        _decode_stub(b"xx", "hologram")


def test_frame_sample_plan(spark):
    from sketchlib.spark.multimodal import frame_sample

    df = spark.createDataFrame(
        [(1, 25), (2, 1), (3, 0)], "doc_id long, n_frames int"
    )
    rows = frame_sample(df, every_n=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert sorted(by_doc[1]) == [0, 10, 20]
    assert by_doc[2] == [0]
    # zero-frame media yield NO sampled frames (not a spurious frame 0)
    assert 3 not in by_doc

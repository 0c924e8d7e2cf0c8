"""Round-4 sixth-pass regressions (review of round-3-era modules:
similarity, grouped, udfs, sampling): NaN-safe cosine, LSH parameter
validation, bounded heavy-hitter candidate memory + any-type keys,
sample helper-column collision."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ----------------------------------------------------- NaN-safe cosine


def test_zero_norm_vectors_never_rank(spark):
    """A zero embedding (padding/failed encode) must score 0.0, not NaN
    — Spark sorts NaN as the LARGEST double and NaN >= t is true, so
    the unguarded 0/0 ranked zero vectors FIRST in every top-k and
    passed every threshold."""
    from sketchlib.spark.similarity import cosine_topk_bruteforce

    rows = [(1, [1.0, 0.0]), (2, [0.8, 0.6]), (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = cosine_topk_bruteforce(df, [1.0, 0.0], k=2).collect()
    assert [r.vec_id for r in got] == [1, 2]
    assert all(r.cosine_sim == r.cosine_sim for r in got)  # no NaN
    full = {r.vec_id: r.cosine_sim for r in cosine_topk_bruteforce(df, [1.0, 0.0], k=3).collect()}
    assert full[3] == 0.0


def test_zero_norm_query_rejected(spark):
    from sketchlib.spark.similarity import cosine_topk_bruteforce

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="zero norm"):
        cosine_topk_bruteforce(df, [0.0, 0.0], k=1)


def test_near_dup_pairs_ignore_zero_vectors(spark):
    """Pair scoring goes through the same guard: a zero vector must not
    pass the >= threshold filter via NaN."""
    from sketchlib.spark.similarity import embedding_near_dup_pairs

    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 0.0]), (4, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    pairs = embedding_near_dup_pairs(
        df, sim_threshold=0.9, bands=4, bits_per_band=2
    ).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in ids
    assert all(3 not in p and 4 not in p for p in ids)


# ------------------------------------------------ LSH parameter guards


def test_signature_bits_validated(spark):
    from sketchlib.spark.similarity import banded_signature_udf, hyperplane_signature_udf

    with pytest.raises(ValueError, match="1..31"):
        hyperplane_signature_udf(dim=4, bits=32)
    with pytest.raises(ValueError, match="1..31"):
        hyperplane_signature_udf(dim=4, bits=0)
    with pytest.raises(ValueError, match="bits_per_band"):
        banded_signature_udf(dim=4, bands=4, bits_per_band=32)
    with pytest.raises(ValueError, match="bands"):
        banded_signature_udf(dim=4, bands=0, bits_per_band=4)


def test_probe_lsh_index_dim_mismatch(spark, tmp_path):
    from sketchlib.spark.similarity import build_lsh_index, probe_lsh_index

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(20)],
        "vec_id int, embedding array<double>",
    )
    path = str(tmp_path / "lshidx")
    build_lsh_index(df, path, bits=4)
    with pytest.raises(ValueError, match="dim"):
        probe_lsh_index(spark, path, [1.0, 2.0], k=3)  # built at dim 3


def test_ivf_train_empty_input_loud(spark):
    from sketchlib.spark.similarity import ivf_train_centroids

    empty = spark.createDataFrame([], "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="no rows"):
        ivf_train_centroids(empty, k=4)


# ------------------------------------------- heavy hitters: types + memory


def test_cms_heavy_hitters_bigint_keys(spark):
    """Non-string key columns must work (cast up front), not crash the
    Arrow array<string> emit."""
    from sketchlib.spark.udfs import cms_heavy_hitters

    rows = [(i % 5,) for i in range(1000)] + [(7,)] * 500
    df = spark.createDataFrame(rows, "user_id bigint")
    hh = cms_heavy_hitters(df, "user_id", k=3)
    assert hh[0][0] == "7" and hh[0][1] >= 500


def test_cms_heavy_hitters_candidate_dict_bounded(spark):
    """Many distinct keys: the per-partition candidate dict prunes
    instead of growing with the vocabulary, and the Zipf head still
    wins (its count dwarfs the retained tail)."""
    from sketchlib.spark.udfs import cms_heavy_hitters

    # k=2, candidate_factor=2 -> emit 4, keep 32, prune at 128;
    # 4000 distinct singletons force many prunes around 2 hot keys
    rows = [("hot-a",)] * 400 + [("hot-b",)] * 300 + [
        (f"cold-{i}",) for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "tok string").repartition(2)
    hh = cms_heavy_hitters(df, "tok", k=2, candidate_factor=2)
    assert [h[0] for h in hh] == ["hot-a", "hot-b"]
    assert hh[0][1] >= 400 and hh[1][1] >= 300  # CMS never undercounts


# ------------------------------------------------------- sample helper


def test_stratified_sample_preserves_user_rk_column(spark):
    """A pre-existing user column named _rk must survive (the helper
    column picks a non-colliding name)."""
    from sketchlib.spark.sampling import stratified_hash_sample

    df = spark.createDataFrame(
        [(i, f"g{i % 2}", i * 10) for i in range(50)],
        "doc_id int, grp string, _rk int",
    )
    out = stratified_hash_sample(df, 3, "grp")
    assert "_rk" in out.columns
    got = {r.doc_id: r._rk for r in out.collect()}
    assert len(got) == 6
    assert all(v == k * 10 for k, v in got.items())

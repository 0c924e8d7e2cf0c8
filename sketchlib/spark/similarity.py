"""Similarity search over embedding columns (array<float>).

Baseline: exact brute-force cosine top-k, expressed with built-in
higher-order functions (zip_with/aggregate — JVM-side, no Python).
Scale path: LSH-bucketed search via random hyperplane signatures
(the numpy kernels' batch hashing shape), probing only matching
buckets — candidates shrink by ~2^bits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType, StructField, StructType

from .checkpoint import materialize, propagate_materialized


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def _cosine(a, b):
    """NaN-safe cosine: a zero-norm vector (padding row, failed
    embedding job — routine in web corpora) scores 0.0, not NaN.
    Spark sorts NaN as the LARGEST double and NaN >= t is true, so an
    unguarded 0/0 would rank zero vectors FIRST in every top-k and
    pass every similarity threshold."""
    denom = _norm(a) * _norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(_dot(a, b) / denom)


def cosine_topk_bruteforce(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine to one query vector.

    The query is a literal array (constant-folded); scoring is one
    whole-stage-codegen projection over the scan, then a tree-reduced
    orderBy+limit — the right plan at any scale (no shuffle until the
    k-row reduction)."""
    if not any(float(x) != 0.0 for x in query_vec):
        raise ValueError("query_vec has zero norm — cosine similarity is undefined")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(id_col, _cosine(F.col(vec_col), q).alias("cosine_sim"))
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def hyperplane_signature_udf(dim: int, bits: int = 16, seed: int = 42):
    """vec → int signature: sign pattern against `bits` random planes.

    ``bits`` is capped at 31: the signature column is int32, so bit 31+
    would wrap negative while the driver-side `_query_signature` stays
    non-negative — probes would silently never match."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in 1..31 (int32 signature column), got {bits}")
    rng = np.random.Generator(np.random.PCG64(seed))
    planes = rng.standard_normal((bits, dim)).astype(np.float32)

    @F.pandas_udf(IntegerType())
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = np.stack([np.asarray(v, np.float32) for v in vecs])
        bitsmat = (mat @ planes.T) > 0
        out = np.zeros(len(vecs), np.int64)
        for b in range(bits):
            out |= bitsmat[:, b].astype(np.int64) << b
        return pd.Series(out.astype(np.int32))

    return sig


def cosine_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    max_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: probe only buckets within Hamming ≤ max_hamming of the
    query's hyperplane signature, then exact-score the candidates.

    At scale: write the table bucketed/partitioned by `sig` so the probe
    prunes partitions at the source (predicate pushdown on sig)."""
    dim = len(query_vec)
    sig_udf = hyperplane_signature_udf(dim, bits, seed)
    with_sig = df.withColumn("sig", sig_udf(F.col(vec_col)))

    qsig = _query_signature(query_vec, bits, seed)
    probes = _hamming_ball(qsig, bits, max_hamming)
    cand = with_sig.where(F.col("sig").isin(probes))
    return cosine_topk_bruteforce(cand, query_vec, k, vec_col, id_col)


def _query_signature(query_vec: list[float], bits: int, seed: int) -> int:
    rng = np.random.Generator(np.random.PCG64(seed))
    planes = rng.standard_normal((bits, len(query_vec))).astype(np.float32)
    q = np.asarray(query_vec, np.float32)
    sig = 0
    for b in range(bits):
        if float(planes[b] @ q) > 0:
            sig |= 1 << b
    return sig


def _hamming_ball(sig: int, bits: int, radius: int) -> list[int]:
    """All signatures within Hamming distance `radius` of `sig`."""
    ball = {sig}
    frontier = {sig}
    for _ in range(radius):
        frontier = {s ^ (1 << b) for s in frontier for b in range(bits)} - ball
        ball |= frontier
    return sorted(ball)


def build_lsh_index(
    df: DataFrame,
    path: str,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> None:
    """Materialize a hyperplane-LSH index as a WRITTEN table partitioned
    by signature — the sibling of build_ann_index for the LSH path:
    signatures computed once at ingest, probes read only the partitions
    inside the query's Hamming ball (PartitionFilters at the source).
    Params live in ``path/params`` so probes re-derive the planes."""
    dim = int(df.select(F.size(vec_col).alias("d")).first().d)
    sig_udf = hyperplane_signature_udf(dim, bits, seed)
    (
        df.withColumn("sig", sig_udf(F.col(vec_col)))
        .write.mode("overwrite")
        .partitionBy("sig")
        .parquet(f"{path}/data")
    )
    df.sparkSession.createDataFrame(
        [(bits, seed, dim)],
        StructType([StructField(c, IntegerType()) for c in ("bits", "seed", "dim")]),
    ).write.mode("overwrite").parquet(f"{path}/params")


def probe_lsh_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    max_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k probe reading ONLY the Hamming-ball partitions of a built
    LSH index, then exact rerank. ``max_hamming = bits`` degenerates to
    an exhaustive (exact) scan of the index."""
    p = spark.read.parquet(f"{path}/params").first()
    if len(query_vec) != p.dim:
        # the planes are re-derived from (bits, len(query_vec)) — a
        # wrong-dim query would silently probe unrelated buckets
        raise ValueError(
            f"query_vec has dim {len(query_vec)}, index was built at dim {p.dim}"
        )
    qsig = _query_signature(query_vec, p.bits, p.seed)
    ball = _hamming_ball(qsig, p.bits, max_hamming)
    idx = spark.read.parquet(f"{path}/data").where(F.col("sig").isin(ball))
    return cosine_topk_bruteforce(idx, query_vec, k, vec_col, id_col)


def ivf_train_centroids(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 5,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """IVF coarse quantizer: k-means on a driver-side sample (the
    standard recipe — FAISS trains on samples too; at 100 TB the sample
    is still thousands of rows). Deterministic (seeded init, fixed
    iteration count). Returns (k, dim) float32 centroids.

    Sampling is a seeded Bernoulli ``df.sample`` over the WHOLE table
    — unbiased for any layout, unlike a ``limit(sample)`` which reads
    the first partitions only (biased for time- or host-clustered
    data). ALL sampled rows are collected (never limit()-ed, which
    would reintroduce the first-partitions bias on the sampled
    subset); if more than ``sample`` came back, a seeded driver-side
    choice trims them uniformly. The fraction is sized from one
    count() at index-build time (a one-off scan); pass
    ``sample_fraction`` to skip the count when the table size is
    already known."""
    if sample_fraction is None:
        n = df.count()
        sample_fraction = min(1.0, (1.2 * sample) / max(n, 1))
    # limit(16×sample) is a driver-OOM guard for a caller-supplied
    # fraction sized from a stale estimate — it binds only on a ≥16×
    # overshoot (where a first-partitions subset OF THE SAMPLED ROWS
    # beats an unbounded collect); in the sized-fraction path above it
    # never binds, so the sample stays layout-unbiased
    rows = (
        df.select(vec_col)
        .sample(fraction=sample_fraction, seed=seed)
        .limit(16 * sample)
        .collect()
    )
    if len(rows) < k:  # tiny/unlucky sample: fall back to a direct take
        rows = df.select(vec_col).limit(sample).collect()
    if not rows:
        raise ValueError(
            "cannot train IVF centroids: input has no rows (or no vectors)"
        )
    x = np.array([r[0] for r in rows], np.float32)
    if len(x) > sample:
        trim_rng = np.random.Generator(np.random.PCG64(seed))
        x = x[trim_rng.choice(len(x), size=sample, replace=False)]
    rng = np.random.Generator(np.random.PCG64(seed))
    cent = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(len(cent)):
            sel = x[assign == j]
            if len(sel):
                cent[j] = sel.mean(0)
    return cent


def ivf_assign_udf(centroids: np.ndarray):
    """vec → nearest-centroid cell id (vectorized matmul per batch).
    At scale, write the table partitioned by `cell` so probes prune
    partitions at the source."""
    c = centroids.astype(np.float32)
    c_norms = (c**2).sum(1)

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = np.stack([np.asarray(v, np.float32) for v in vecs])
        # ||x-c||^2 = ||x||^2 - 2 x·c + ||c||^2 ; ||x||^2 constant per row
        d = -2.0 * (mat @ c.T) + c_norms[None, :]
        return pd.Series(d.argmin(1).astype(np.int32))

    return assign


def cosine_topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN: search only the `nprobe` cells whose centroids are
    closest to the query, exact-rerank inside them. Candidate set
    shrinks ~n_cells/nprobe-fold; recall tested in tests/."""
    if centroids is None:
        centroids = ivf_train_centroids(df, n_cells, vec_col, seed=seed)
    q = np.asarray(query_vec, np.float32)
    d = ((centroids - q[None, :]) ** 2).sum(1)
    probe_cells = [int(c) for c in d.argsort()[:nprobe]]
    assign = ivf_assign_udf(centroids)
    cand = df.withColumn("cell", assign(F.col(vec_col))).where(
        F.col("cell").isin(probe_cells)
    )
    return cosine_topk_bruteforce(cand, query_vec, k, vec_col, id_col)


def banded_signature_udf(dim: int, bands: int = 12, bits_per_band: int = 6, seed: int = 42):
    """vec → array of `bands` int64 band keys. Each band packs
    `bits_per_band` independent hyperplane signs; the band index rides
    in the high bits so keys from different bands never collide. The
    multi-band union is the LSH amplification that makes recall
    1-(1-p^b)^B instead of the single-table p^b."""
    if not 1 <= bits_per_band <= 31:
        raise ValueError(f"bits_per_band must be in 1..31, got {bits_per_band}")
    if not 1 <= bands < (1 << 15):
        # band index rides in bits 48+ of a signed int64 key
        raise ValueError(f"bands must be in 1..32767, got {bands}")
    rng = np.random.Generator(np.random.PCG64(seed))
    planes = rng.standard_normal((bands * bits_per_band, dim)).astype(np.float32)
    weights = (1 << np.arange(bits_per_band, dtype=np.int64))[None, None, :]

    @F.pandas_udf(ArrayType(LongType()))
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, np.float32) for v in vecs])
        bitsmat = (mat @ planes.T) > 0  # (n, bands*bits)
        packed = (
            bitsmat.reshape(len(vecs), bands, bits_per_band).astype(np.int64) * weights
        ).sum(-1)
        keyed = packed | (np.arange(bands, dtype=np.int64)[None, :] << 48)
        return pd.Series(list(keyed))

    return sig


def _lsh_candidate_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    bands: int,
    bits_per_band: int,
    seed: int,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Undirected candidate pairs (id_a < id_b) from the union of
    per-band bucket self-joins — the MinHash-LSH banding shape applied
    to hyperplane signatures. Shuffle carries (id, band_key) only
    (~16 bytes/row·band); embeddings are fetched back AFTER pair
    dedup, so vectors never ride the band explosion. Candidate count
    is O(n · bands · avg_bucket), never the O(n²/2^bits) single-table
    blowup."""
    dim = int(df.select(F.size(vec_col).alias("d")).first().d)
    sig_udf = banded_signature_udf(dim, bands, bits_per_band, seed)
    banded = (
        df.select(id_col, vec_col)
        .withColumn("band", F.explode(sig_udf(F.col(vec_col))))
        .select(id_col, "band")
        .persist()
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, "band")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # materialize the (small) pair list so the banded frame's cache can
    # be released immediately instead of leaking for the session;
    # checkpoint_dir opts into the executor-loss-safe reliable path.
    # finally: a failed materialize (checkpoint-dir quota/permission)
    # must not leave the exploded band frame pinned across retries
    try:
        pairs = materialize(pairs, checkpoint_dir)
    finally:
        banded.unpersist()
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return propagate_materialized(
        pairs,
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", _cosine(F.col("_va"), F.col("_vb")).alias("cosine_sim")),
    )


def build_ann_index(
    df: DataFrame,
    path: str,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 4096,
    iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Materialize an IVF index as a WRITTEN table partitioned by cell
    — the production ANN shape: signatures/cells computed once at
    ingest, probes read only the probed partitions (source-level
    partition pruning, visible as PartitionFilters in the scan).

    Layout: ``path/data`` (parquet, partitionBy cell), ``path/
    centroids`` (n_cells tiny rows). Returns the trained centroids."""
    cent = ivf_train_centroids(df, n_cells, vec_col, sample, iters, seed)
    assign = ivf_assign_udf(cent)
    (
        df.withColumn("cell", assign(F.col(vec_col)))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/data")
    )
    spark = df.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
        StructType([StructField("cell", IntegerType()), StructField("centroid", ArrayType(DoubleType()))]),
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    return cent


def probe_ann_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k probe against a built index: pick the nprobe nearest
    cells from the (tiny) centroid table, scan ONLY those partitions
    (``cell`` is a partition column, so the IN-filter prunes at the
    source — assert PartitionFilters in the plan), exact-rerank."""
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cent = np.array(
        [r.centroid for r in sorted(cent_rows, key=lambda r: r.cell)], np.float64
    )
    q = np.asarray(query_vec, np.float64)
    d = ((cent - q[None, :]) ** 2).sum(1)
    cells = [int(c) for c in d.argsort()[:nprobe]]
    idx = spark.read.parquet(f"{path}/data").where(F.col("cell").isin(cells))
    return cosine_topk_bruteforce(idx, query_vec, k, vec_col, id_col)


def plan_partition_filters(df: DataFrame) -> str:
    """The PartitionFilters clause of the scan (plan-shape assertions)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PartitionFilters" in line:
            start = line.index("PartitionFilters: [")
            return line[start : line.index("]", start) + 1]
    return ""


def pairwise_cosine_knn(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 12,
    bits_per_band: int = 6,
    seed: int = 42,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """All-pairs kNN over banded-LSH candidates: union of per-band
    bucket joins (multi-band amplification — recall 1-(1-p^b)^B),
    exact cosine rerank, window top-k per point. Replaces the round-1
    single-table bucket join whose candidate count was O(n²/2^bits).

    Recall is data-dependent: ≈1 for genuine near-duplicates
    (cosine ≥ 0.9 ⇒ p ≥ 0.90 per plane); low-similarity 'neighbors' of
    isotropic data are fundamentally not LSH-prunable — use
    cosine_topk_bruteforce / IVF for exhaustive kNN there."""
    from pyspark.sql.window import Window

    und = _lsh_candidate_pairs(
        df, vec_col, id_col, bands, bits_per_band, seed, checkpoint_dir
    )
    directed = und.unionByName(
        und.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cosine_sim"
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cosine_sim").desc(), F.col("id_b"))
    return propagate_materialized(
        und,
        directed.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k).drop("rk"),
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    sim_threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 12,
    bits_per_band: int = 6,
    seed: int = 42,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the LLM-pipeline dedup
    use case): banded-LSH candidates + exact cosine filter. At
    cosine ≥ 0.9 each hyperplane agrees w.p. ≥ 0.90, so a designed
    near-dup survives all 12 bands missing with prob (1-0.9^6)^12
    ≈ 2e-4 — while isotropic pairs (p ≈ 0.5) enter candidacy only
    ~1.6% per band. Returns (id_a, id_b, cosine_sim), id_a < id_b."""
    cand = _lsh_candidate_pairs(
        df, vec_col, id_col, bands, bits_per_band, seed, checkpoint_dir
    )
    return propagate_materialized(cand, cand.where(F.col("cosine_sim") >= sim_threshold))

"""Deduplication operators over document tables.

Exact dedup is pure DataFrame algebra (Catalyst handles pushdown and
partial aggregation); the near-dup family (MinHash-LSH, SimHash,
n-gram Jaccard) uses the vectorized hash kernels inside pandas UDFs —
signatures are computed per Arrow batch in numpy, then the candidate
generation is a plain shuffle-join on band keys, which is the scalable
(O(n·bands) shuffle, no n² compare) LSH shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..hashing import kernels
from .checkpoint import drop_materialized, materialize, propagate_materialized

U64 = np.uint64


# --------------------------------------------------------------- exact


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the first row (min id) per exact text value.

    groupBy(text) is a single hash shuffle with map-side partial agg;
    at 100 TB prefer dedup_exact_hash (shuffles 8-byte digests, not
    full texts)."""
    firsts = df.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    return firsts.select(id_col, text_col)


def dedup_exact_hash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scale path: group by xxhash64(text) — the ONE shuffle carries
    (8-byte digest, id); document text never moves. Returns the winner
    ids (min id per digest) with their digest. Callers that truly need
    the text left-semi-join back on the returned ids — a second,
    data-scale shuffle deliberately kept OUT of this operator so
    id-only consumers (counts, splits, downstream key joins) never pay
    it; ``q_corpus_prepare`` shows the min-of-struct variant for
    carrying small metric columns through the same single shuffle.
    Collisions (~n²/2^64) are accepted for dedup semantics."""
    h = df.select(F.xxhash64(F.col(text_col)).alias("text_digest"), F.col(id_col))
    return (
        h.groupBy("text_digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "text_digest")
    )


# --------------------------------------------------------------- shingles / minhash


_POLY = np.uint64(1099511628211)  # FNV prime: k-word window mixer


def _shingle_hash_batch(
    texts: pd.Series, k: int = 5
) -> tuple[np.ndarray, list[int], np.ndarray]:
    """uint64 shingle hashes for a whole Arrow batch with NO per-shingle
    string assembly: each WORD is hashed once (one kernel call over the
    batch's words — ~k× fewer hashed bytes than hashing joined shingle
    strings), then every k-word window is combined with a vectorized
    polynomial roll. Shingle equality ≡ word-tuple equality, the same
    (modulo hashing) as the joined-string formulation it replaces.

    Returns (hashes, bounds, word_counts): doc i's shingles are
    hashes[bounds[i]:bounds[i+1]]; word_counts[i] is its whitespace
    token count (already computed for the windowing — callers that need
    it must not re-split multi-KB texts). Docs with < k words hash
    their full text as the single fallback shingle."""
    split = [(t or "").split() for t in texts]
    W = np.fromiter((len(s) for s in split), np.intp, len(split))
    counts = np.where(W >= k, W - k + 1, 1).astype(np.intp)
    bounds = np.concatenate(([0], np.cumsum(counts)))
    out = np.empty(int(counts.sum()), np.uint64)
    from itertools import chain

    flat = list(chain.from_iterable(split))
    long_mask = W >= k
    if flat and long_mask.any():
        h = kernels.hash64_batch(flat, "xx")
        word_starts = np.concatenate(([0], np.cumsum(W)))[:-1]
        m = len(h) - k + 1
        acc = np.zeros(max(m, 0), np.uint64)
        with np.errstate(over="ignore"):
            for c in range(k):
                acc = acc * _POLY + h[c : c + m]
        nl = counts[long_mask]
        offs = np.arange(int(nl.sum()), dtype=np.intp) - np.repeat(np.cumsum(nl) - nl, nl)
        sel = np.repeat(word_starts[long_mask], nl) + offs
        osel = np.repeat(bounds[:-1][long_mask], nl) + offs
        out[osel] = acc[sel]
    short_ix = np.nonzero(~long_mask)[0]
    if len(short_ix):
        sh = kernels.hash64_batch([texts.iloc[int(i)] or "" for i in short_ix], "xx")
        out[bounds[:-1][short_ix]] = sh
    return out, bounds.tolist(), W


def _minhash_sigs_batch(
    hashes: np.ndarray, bounds: list[int], perms_a: np.ndarray, perms_b: np.ndarray
) -> np.ndarray:
    """(n_docs, num_perm) signatures for all docs at once: one
    (num_perm, total_shingles) permute pass + per-doc segmented minima
    via np.minimum.reduceat — no per-doc Python. Permutation family:
    h -> a*h + b mod 2^64 with a odd, a bijection of the 64-bit
    keyspace, with no modulo in the hot loop."""
    starts = np.asarray(bounds[:-1], np.intp)
    num_perm = len(perms_a)
    out = np.empty((len(starts), num_perm), np.uint64)
    # block the perm axis so the (block, n_shingles) temporary stays
    # cache/stream sized instead of one multi-GB matrix per Arrow batch
    block = max(1, min(num_perm, (1 << 24) // max(len(hashes), 1)))
    with np.errstate(over="ignore"):
        for p0 in range(0, num_perm, block):
            p1 = min(p0 + block, num_perm)
            vals = perms_a[p0:p1, None] * hashes[None, :] + perms_b[p0:p1, None]
            out[:, p0:p1] = np.minimum.reduceat(vals, starts, axis=1).T
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """doc → array<bigint> MinHash signature (Broder resemblance)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, (1 << 63) - 1, num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, (1 << 63) - 1, num_perm, dtype=np.uint64)

    @F.pandas_udf(ArrayType(LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        hashes, bounds, _ = _shingle_hash_batch(texts, shingle_k)
        sigs = _minhash_sigs_batch(hashes, bounds, a, b).astype(np.int64)
        return pd.Series(list(sigs))

    return df.select(id_col, text_col).withColumn("minhash", sig(F.col(text_col)))


def _band_keys_from_sigs(sigs: np.ndarray, bands: int, rows_per_band: int) -> np.ndarray:
    """(n_docs, num_perm) uint64 signatures → (n_docs, bands) int64 band
    keys: each band folds to one 64-bit key with a polynomial mix (FNV
    prime), salted by the band index so identical row-groups in
    different bands can't collide into one bucket."""
    m = sigs.reshape(len(sigs), bands, rows_per_band)
    key = np.zeros((len(sigs), bands), np.uint64)
    with np.errstate(over="ignore"):
        for c in range(rows_per_band):
            key = key * U64(1099511628211) + m[:, :, c]
        key ^= np.arange(bands, dtype=np.uint64)[None, :] << U64(56)
    return key.astype(np.int64)


# sig_bands' return type: each doc's signature and its band keys
_SIGNATURE_TYPE = StructType(
    [StructField("minhash", ArrayType(LongType())), StructField("bands", ArrayType(LongType()))]
)


def _minhash_sigs_and_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
    seed: int,
) -> DataFrame:
    """doc → (minhash array, band-key array) in ONE pandas-UDF pass.

    The band keys are a trivial vectorized fold of the signature matrix
    that is already in cache when the signatures are computed — emitting
    them here removes the second full UDF pass over the persisted
    signature frame (which re-crossed every num_perm-long array through
    Arrow and re-stacked it row by row just to fold 32 keys out of it).
    Key math is bit-identical to the pre-fusion band_keys UDF, so every
    pinned oracle holds."""
    rows_per_band = num_perm // bands
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, (1 << 63) - 1, num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, (1 << 63) - 1, num_perm, dtype=np.uint64)

    @F.pandas_udf(_SIGNATURE_TYPE)
    def sig_bands(texts: pd.Series) -> pd.DataFrame:
        if len(texts) == 0:
            return pd.DataFrame({"minhash": [], "bands": []})
        hashes, bounds, _ = _shingle_hash_batch(texts, shingle_k)
        sigs = _minhash_sigs_batch(hashes, bounds, a, b)
        keys = _band_keys_from_sigs(sigs, bands, rows_per_band)
        return pd.DataFrame(
            {
                "minhash": list(sigs.astype(np.int64)),
                "bands": list(keys),
            }
        )

    return df.select(id_col, sig_bands(F.col(text_col)).alias("_sb")).select(
        id_col,
        F.col("_sb.minhash").alias("minhash"),
        F.col("_sb.bands").alias("bands"),
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
    repartition: int | None = None,
    max_band_df: int | None = 100_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified by signature
    Jaccard ≥ threshold. Returns (id_a, id_b, jaccard_sim), id_a < id_b.

    Scale shape: explode to (band_key → id) — ids ONLY, ~16 B/row:
    the num_perm-long signatures never ride the ×bands explosion (they
    join back onto the deduped candidate PAIRS, which are sparse) —
    the same vectors-off-the-band-explosion rule the embedding LSH
    follows. Self-join per band bucket (shuffle on band hash — uniform
    by construction), dedupe pairs, verify with one array comparison.
    No n² anywhere.

    ``max_band_df`` caps the quadratic blowup inside one band bucket: a
    web corpus has boilerplate (empty pages, error templates) whose
    thousands of byte-identical texts share EVERY band key, turning one
    bucket into an O(k²) pair generator even though ``dedup_exact``
    should have removed them first. Band keys hit by more than this many
    docs are dropped before the self-join (one map-side-combined count
    over the ~16 B band rows + a broadcast anti-join of the hot keys —
    the hot-key set is ≤ n/cap rows by construction). Docs paired ONLY
    through a dropped bucket are missed, which is the standard LSH
    df-cap tradeoff; genuine near-dups agree on many bands. ``None``
    disables the cap.

    ``repartition``: signature hashing is CPU-bound in the Arrow UDF,
    so parallelism = input partition count; a union-of-filters input
    (like the derived dup corpus) can arrive with just a handful of
    partitions and leave most cores idle. At warehouse scale scan
    partitions are plentiful — pass this only for small/coalesced
    inputs (it shuffles the text once)."""
    if repartition:
        df = df.repartition(repartition)
    # signatures AND band keys in ONE UDF pass (the band fold is a
    # vectorized reshape of the signature matrix already in cache —
    # emitting it separately re-crossed every signature array through
    # Arrow a second time and was ~30% of this operator's runtime)
    sigs = _minhash_sigs_and_bands(
        df, text_col, id_col, num_perm, bands, shingle_k, seed
    )
    # persist the n-scale signature frame ONCE: the band frame (explode
    # is codegen-cheap over the cached arrays), the hot-key count, the
    # self-join's two sides, and the verify stage's two pair sides all
    # read it (at warehouse scale you'd write this frame to a table)
    sigs = sigs.persist()
    banded = sigs.select(id_col, F.explode("bands").alias("band"))
    if max_band_df is not None:
        hot = (
            banded.groupBy("band")
            .agg(F.count("*").alias("band_df"))
            .where(F.col("band_df") > max_band_df)
            .select("band")
        )
        banded = banded.join(F.broadcast(hot), "band", "left_anti")
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(right, on="band")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("sig_b"))
    sim = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(num_perm)
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard_sim", sim)
        .where(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    # materialize the (pair-scale) result so the signature cache can be
    # released now instead of leaking for the session's lifetime;
    # checkpoint_dir opts into an executor-loss-safe reliable checkpoint.
    # finally: a failed materialize must not leave the signature/band
    # caches pinned across retries
    try:
        out = materialize(verified, checkpoint_dir)
    finally:
        sigs.unpersist()
    return out


# --------------------------------------------------------------- simhash


def simhash_udf(bits: int = 64):
    """text → int64 SimHash over whitespace tokens (Charikar).

    Vectorized: all tokens of the batch hashed in one kernel call;
    per-doc bit-vote via np.add.at on (doc, bit) pairs."""

    @F.pandas_udf(LongType())
    def simhash(texts: pd.Series) -> pd.Series:
        tokens: list[str] = []
        doc_ids: list[int] = []
        for i, t in enumerate(texts):
            ws = (t or "").split() or [""]
            tokens.extend(ws)
            doc_ids.extend([i] * len(ws))
        h = kernels.hash64_batch(tokens, "xx")
        doc = np.asarray(doc_ids, np.int64)
        votes = np.zeros((len(texts), 64), np.int64)
        bitmat = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & U64(1)).astype(
            np.int64
        ) * 2 - 1
        np.add.at(votes, doc, bitmat)
        sig = (votes > 0).astype(np.uint64)
        out = np.zeros(len(texts), np.uint64)
        for b in range(64):
            out |= sig[:, b] << U64(b)
        return pd.Series(out.astype(np.int64))

    return simhash


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ max_hamming via
    Manku-style multi-block pigeonholing (Manku, Jain & Das Sarma,
    "Detecting Near-Duplicates for Web Crawling", WWW 2007 §3): the
    64-bit signature splits into ``n_blocks`` blocks (default
    max_hamming + 3); a pair within distance d leaves ≥ n_blocks − d
    blocks untouched, so joining on every (n_blocks − max_hamming)-
    block COMBINATION finds it. Wider combination keys shrink buckets:
    the default 6 blocks / d ≤ 3 joins on C(6,3) = 20 keys carrying
    ~32 signature bits each — expected candidate volume
    O(20 · n²/2^32), versus the single-block 4×16-bit scheme's
    O(n²/2^16) that collapses around 10^9 docs. The combination keys
    ride ONE exploded column (one shuffle of (id, sig, key) rows, one
    self-join), and exact bit_count verification follows candidacy, so
    hash-collision false candidates cost only the compare."""
    # persist: both sides of the key self-join read this frame — the
    # signature UDF would recompute per side without it
    sh = (
        df.select(id_col, text_col)
        .withColumn("simhash", simhash_udf()(F.col(text_col)))
        .drop(text_col)
        .persist()
    )
    try:
        # the eager checkpoint inside materializes the pairs before the
        # finally runs; try/finally so a validation error cannot leak
        # the persist registration
        return simhash_candidate_pairs(
            sh,
            id_col=id_col,
            max_hamming=max_hamming,
            n_blocks=n_blocks,
            checkpoint_dir=checkpoint_dir,
        )
    finally:
        sh.unpersist()


def simhash_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    max_key_df: int | None = 100_000,
) -> DataFrame:
    """The Manku combination join over a precomputed (id, signature)
    frame — split out so the blocking layer is testable on crafted
    signatures (incl. sign-straddling int64 values) independent of the
    text hashing. Returns (id_a, id_b, hamming), id_a < id_b.

    Block values are extracted with shiftrightunsigned + bitwiseAND
    mask — NOT ``%``, whose Spark semantics follow the dividend's sign
    and would give negative block-0 values for signatures with bit 63
    set, silently missing every sign-straddling pair.

    ``max_key_df``: same boilerplate insurance as the MinHash band cap —
    byte-identical pages share every combination key, so one hot key is
    an O(k²) pair generator even though ``dedup_exact`` should run
    first. Keys hit by more than this many docs are dropped before the
    self-join (map-side-combined count + broadcast anti-join); docs
    paired ONLY through a dropped key are missed. ``None`` disables."""
    if n_blocks is None:
        n_blocks = max_hamming + 3
    if not 0 <= max_hamming < n_blocks <= 64:
        raise ValueError("need 0 <= max_hamming < n_blocks <= 64")
    from itertools import combinations

    base, rem = divmod(64, n_blocks)
    widths = [base + 1 if i < rem else base for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    blocks = [
        (
            F.shiftrightunsigned(F.col(sig_col), offsets[i]).bitwiseAND(
                F.lit((1 << widths[i]) - 1)
            )
        ).alias(f"b{i}")
        for i in range(n_blocks)
    ]
    combo_keys = F.array(
        *[
            F.xxhash64(F.lit(ci), *[F.col(f"b{i}") for i in combo])
            for ci, combo in enumerate(
                combinations(range(n_blocks), n_blocks - max_hamming)
            )
        ]
    )
    banded = (
        sig_df.select(id_col, F.col(sig_col).alias("simhash"), *blocks)
        .select(id_col, "simhash", F.explode(combo_keys).alias("ck"))
    )
    banded_base = None
    if max_key_df is not None:
        # persist once: the hot-key count adds a consumer beyond the two
        # join sides (sig_df is caller-persisted but the explode is ×20)
        banded_base = banded.persist()
        hot = (
            banded_base.groupBy("ck")
            .agg(F.count("*").alias("key_df"))
            .where(F.col("key_df") > max_key_df)
            .select("ck")
        )
        banded = banded_base.join(F.broadcast(hot), "ck", "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, "ck")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # materialize pair-scale candidates eagerly so a caller-persisted
    # signature frame can be released as soon as this returns
    out = materialize(cand, checkpoint_dir)
    if banded_base is not None:
        banded_base.unpersist()
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return propagate_materialized(
        out,
        out.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming"),
    )


# ------------------------------------------------------- duplicate clusters


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) labels for duplicate-cluster resolution:
    component = min id reachable through the (undirected) pair edges.
    Singletons label themselves.

    Pregel-style min-label propagation with POINTER JUMPING: each round
    (a) propagates labels one hop across edges and keeps the per-vertex
    min, then (b) replaces every label by its label's label
    (label[label[v]], path halving) — so label distance-to-root halves
    each round and convergence is O(log diameter), not O(diameter).
    Dup clusters are near-cliques (1-2 rounds); max_iter bounds
    pathological chains, and exhausting it RAISES rather than silently
    returning split components. Lineage is truncated per round
    (localCheckpoint) so plans stay O(1) deep. Convergence is detected
    by counting rows whose label changed this round — wrap-proof,
    unlike an int64 label-sum fixpoint (Spark's non-ANSI sum wraps
    mod 2^64, so a sum-delta that is an exact multiple of 2^64 would
    alias to "converged")."""
    sym = (
        pairs.select(F.col(pair_a).alias("src"), F.col(pair_b).alias("dst"))
        .unionByName(pairs.select(F.col(pair_b).alias("src"), F.col(pair_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = vertices.select(F.col(id_col).alias("id"), F.col(id_col).alias("component"))
    labels = materialize(labels, checkpoint_dir)
    converged = False
    prev = None
    try:
        for _ in range(max_iter):
            prop = (
                sym.join(labels, sym.src == labels.id)
                .select(F.col("dst").alias("id"), "component")
            )
            stepped = (
                labels.unionByName(prop)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
            )
            # pointer jumping: component <- label(component) (labels cover
            # every vertex and component values are vertex ids, so the
            # lookup always hits; min() guards monotonicity)
            lut = labels.select(
                F.col("id").alias("component"), F.col("component").alias("cc")
            )
            prev = labels
            labels = materialize(
                stepped.join(lut, "component", "left").select(
                    "id", F.least("component", F.coalesce("cc", "component")).alias("component")
                ),
                checkpoint_dir,
            )
            changed = (
                labels.alias("n")
                .join(prev.alias("p"), "id")
                .where(F.col("n.component") != F.col("p.component"))
                .count()
            )
            # prev is fully consumed (this round's labels + the changed
            # count): release its reliable-checkpoint files now so a
            # checkpoint_dir run keeps at most two label-table copies on
            # disk instead of one per round. The FINAL labels' files back
            # the returned frame and stay (caller may drop_materialized
            # after consuming the result).
            drop_materialized(prev)
            prev = None
            if changed == 0:  # labels monotone per vertex ⇒ true fixpoint
                converged = True
                break
    except BaseException:
        # mid-loop failure (failed write, aborted job, interrupt):
        # nothing useful survives and the caller gets no handle through
        # the exception — release the edge cache and any live
        # reliable-checkpoint label dirs instead of leaking them on the
        # checkpoint filesystem across repeated failed runs.
        # drop_materialized is exists-guarded, so dropping an already-
        # dropped frame is a no-op; cleanup failures must not mask the
        # original error.
        for frame in (prev, labels):
            if frame is not None:
                try:
                    drop_materialized(frame)
                except Exception:
                    pass
        try:
            sym.unpersist()
        except Exception:
            pass
        raise
    sym.unpersist()
    if not converged:
        # abandoning the computation: nothing useful survives, so the
        # final round's reliable files must not leak (the caller gets
        # no handle to them through the exception)
        drop_materialized(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (components with diameter > 2^max_iter)"
        )
    # propagate the final materialization path so a checkpoint_dir
    # caller can drop_materialized(result) once fully consumed
    return propagate_materialized(
        labels, labels.select(F.col("id").alias(id_col), "component")
    )


def dedup_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Keep exactly one doc per duplicate cluster (the min-id
    representative) — the end product of a near-dup pipeline: LSH
    pairs → components → canonical set."""
    comp = connected_components(
        pairs, df.select(id_col), id_col, max_iter=max_iter, checkpoint_dir=checkpoint_dir
    )
    keep = comp.where(F.col(id_col) == F.col("component")).select(id_col)
    # the result lazily reads comp's reliable files — hand their path to
    # the caller for drop_materialized after full consumption
    return propagate_materialized(comp, df.join(keep, id_col, "left_semi"))


# --------------------------------------------------------------- ngram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_gram_df: int | None = 10_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Exact n-gram (word) Jaccard for candidate pairs sharing ≥1 gram.

    Pure DataFrame expression: explode distinct grams, join on gram,
    count intersections, |A∪B| = |A|+|B|−|A∩B|. Exact but O(pairs
    sharing a gram) — use on candidate subsets, not the full corpus.

    ``max_gram_df`` bounds the gram self-join at Σ df(gram)² ≤ Σ df·cap
    = O(rows·cap): a boilerplate 3-gram shared by 10^6 docs would
    otherwise make a 10^12-pair bucket. Grams in more than this many
    docs are removed from the gram UNIVERSE (both the intersection join
    and the per-doc sizes), i.e. Jaccard is computed exactly over the
    sub-cap gram space — a gram that common carries no dedup signal.
    One extra map-side-combined groupBy + broadcast anti-join (hot-gram
    set ≤ rows/cap). ``None`` disables the cap.

    Returns (id_a, id_b, inter, na, nb, jaccard) with id_a < id_b;
    the integer columns make the result exactly comparable across
    engines (jaccard itself is their IEEE-double ratio).
    """
    # docs with fewer than n words have NO grams (explode of the empty
    # array drops them — they can't pair with anything, instead of the
    # one truncated bogus "gram" an unconditional sequence would emit,
    # which made unrelated short docs spurious jaccard=1.0 candidates)
    words = F.split(F.col(text_col), " ")
    gram_idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(0), F.size(words) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        df.select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.transform(
                        gram_idx,
                        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
                    )
                )
            ).alias("gram"),
        )
    )
    if max_gram_df is not None:
        # the cap adds a 4th consumer of the exploded gram frame (hot
        # count + sizes + two join sides); unlike the minhash band UDF
        # the explode is pure whole-stage-codegen — recomputing it is
        # cheaper than caching gram strings, and keeping the operator
        # LAZY preserves its historical contract and plan inspectability
        hot = (
            grams.groupBy("gram")
            .agg(F.count("*").alias("gram_df"))
            .where(F.col("gram_df") > max_gram_df)
            .select("gram")
        )
        grams = grams.join(F.broadcast(hot), "gram", "left_anti")
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, "gram")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb"))
    result = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "na", "nb", "jaccard")
    )
    if checkpoint_dir is None:
        return result  # historical fully-lazy shape
    # an explicit checkpoint_dir opts into eager reliable materialization
    return materialize(result, checkpoint_dir)


# ------------------------------------------------------ repeated passages


def repeated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_words: int = 20,
    min_docs: int = 2,
    max_gram_df: int | None = 100_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Exact-substring dedup: spans of ≥ ``window_words`` consecutive
    words that appear in ≥ ``min_docs`` DISTINCT documents — the
    repeated-passage detection a frontier text pipeline runs alongside
    doc-level near-dup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022; their suffix-array formulation
    is single-machine, this is the bucketed Spark shape).

    → (id, start_word, end_word, n_windows): maximal runs of repeated
    windows per document, 0-indexed inclusive word positions. A span of
    L ≥ window_words repeated words shows up as L − window_words + 1
    consecutive repeated windows, which the run-grouping collapses back
    to one row.

    Scale shape — NO self-join anywhere (unlike the pairwise near-dup
    family): rolling 64-bit window hashes per doc (the same vectorized
    kernel MinHash shingles use — one hash per WORD, windows combined
    by polynomial roll), then ONE groupBy(gram) marking grams whose
    distinct-doc count ≥ min_docs, one semi-join of the (gram, id, pos)
    rows against those, and a per-doc window function to collapse
    consecutive positions into spans. Everything that shuffles is
    (8 B hash, id, pos) — text never moves. ``max_gram_df`` drops
    boilerplate grams (site chrome repeated on millions of pages) the
    same way the MinHash/SimHash/ngram caps do; at web scale you want
    it, because a gram on every page would semi-join n rows through
    one key. Equality is 64-bit-hash equality (collision odds ~2⁻⁶⁴
    per pair) — the standard trade against the suffix array's
    exactness; a byte-exact verify needs one text join on the sparse
    output spans.

    Docs shorter than ``window_words`` emit no grams (they are
    doc-level dedup's job, and the fallback whole-text hash would
    produce out-of-range span arithmetic)."""

    @F.pandas_udf(ArrayType(LongType()))
    def passage_grams(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        hashes, bounds, word_counts = _shingle_hash_batch(texts, window_words)
        out = []
        # word_counts comes from the kernel's own split — re-splitting
        # multi-KB texts here would double the UDF's tokenization cost
        for i in range(len(texts)):
            if word_counts[i] < window_words:
                out.append(np.empty(0, np.int64))
            else:
                out.append(hashes[bounds[i] : bounds[i + 1]].astype(np.int64))
        return pd.Series(out)

    # persist the gram frame ONCE: the df stats (distinct-doc counts)
    # and the semi-joined hits are two independent consumers whose
    # exchanges differ, so ReuseExchange can't dedupe them — without
    # the persist the tokenize+hash UDF (the dominant cost) runs over
    # the whole corpus twice. Rows are ~24 B (hash, id, pos).
    grams = df.select(
        id_col, F.posexplode(passage_grams(F.col(text_col))).alias("pos", "g")
    ).persist()
    stats = grams.groupBy("g").agg(
        F.countDistinct(id_col).alias("n_docs"), F.count("*").alias("gram_df")
    )
    keep = stats.where(F.col("n_docs") >= min_docs)
    if max_gram_df is not None:
        keep = keep.where(F.col("gram_df") <= max_gram_df)
    hits = grams.join(keep.select("g"), "g", "left_semi")

    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    # consecutive positions share (pos - row_number): one group per run
    runs = hits.withColumn("_grp", F.col("pos") - F.row_number().over(w))
    spans = (
        runs.groupBy(id_col, "_grp")
        .agg(
            F.min("pos").cast("long").alias("start_word"),
            (F.max("pos") + F.lit(window_words - 1)).cast("long").alias("end_word"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .drop("_grp")
    )
    # materialize the (sparse) span result so the gram cache is released
    # now instead of leaking for the session's lifetime — the same
    # persist→materialize→unpersist shape as minhash_dedup_pairs
    try:
        return materialize(spans, checkpoint_dir)
    finally:
        grams.unpersist()

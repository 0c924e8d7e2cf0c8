"""Column-level sketch UDFs: broadcast membership, frequency, hashing.

Pattern: the merged sketch blob is broadcast once; each executor
deserializes it once (process-level cache) and every Arrow batch is
answered by one vectorized numpy call — the distributed analogue of
"query a built filter" (SURVEY.md §2.2 joins row). The UDFs are scalar
``arrow_udf``s: each batch arrives as a ``pa.Array`` and only the
answer column goes back, with no pandas conversion either way.

The exact-oracle equivalents (used by the driver correctness gate):
membership ↔ left-semi join, post-delete membership ↔ left-anti join.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa  # module scope: the arrow_udf type hints below resolve here
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, IntegerType, LongType, StringType
from pyspark.sql.types import StructField, StructType

from ..serde import loads

# Worker-process-level deserialization cache: JVM broadcast id →
# {part: sketch}, filled lazily — ONE sketch for a blob broadcast
# (membership/cms UDFs, part None), one per shard for a ShardedProbeIndex
# broadcast — so each worker deserializes a blob at most once per
# broadcast, not once per task or batch. Keyed by the JVM broadcast id
# (unique per SparkContext, NEVER reused — assigned by a monotone
# counter). Keying by id(bc) — the Python object address — is a latent
# wrong-answer bug in long-lived reused workers: once a query's
# Broadcast object is garbage-collected, a LATER query's broadcast can
# land at the same address and silently receive the previous query's
# deserialized sketch (caught in round 4 when a CMS estimate UDF was
# handed a CuckooFilter). Bounded by BROADCAST count, oldest first, so
# destroyed broadcasts can't pin multi-MB sketches in worker memory;
# an entry-count bound would instead thrash a many-shard probe.
_DESER_CACHE: dict[int, dict] = {}
_DESER_CACHE_MAX = 8


def _sketch_from(bid: int, bc, part=None):
    """Broadcast ``bid``'s deserialized sketch: its whole value, or
    entry ``part`` of a {part: blob} broadcast (None when absent)."""
    parts = _DESER_CACHE.get(bid)
    if parts is None:
        while len(_DESER_CACHE) >= _DESER_CACHE_MAX:
            _DESER_CACHE.pop(next(iter(_DESER_CACHE)))
        parts = _DESER_CACHE[bid] = {}
    sk = parts.get(part)
    if sk is None:
        blob = bc.value if part is None else bc.value.get(part)
        if blob is None:
            return None
        sk = parts[part] = loads(blob)
    return sk


def _broadcast_blob(spark, sketch_or_blob):
    """(broadcast of the sketch blob, its JVM broadcast id)."""
    blob = sketch_or_blob if isinstance(sketch_or_blob, (bytes, bytearray)) else sketch_or_blob.to_bytes()
    bc = spark.sparkContext.broadcast(bytes(blob))
    return bc, bc._jbroadcast.id()  # stable unique key, captured driver-side


def membership_udf(spark, sketch_or_blob):
    """Arrow UDF col→bool: cuckoo/bloom membership (no false negatives)."""
    bc, bid = _broadcast_blob(spark, sketch_or_blob)

    @F.arrow_udf(BooleanType())
    def contains(col: pa.Array) -> pa.Array:
        return pa.array(_sketch_from(bid, bc).contains(col))

    # deterministic, but marked otherwise (as
    # ShardedProbeIndex.member_udf) so a filter on the UDF's output
    # column is not pushed below the projection with a copy of the
    # UDF — two Python passes per batch
    return contains.asNondeterministic()


def cms_estimate_udf(spark, sketch_or_blob):
    """Arrow UDF col→long: count-min frequency estimate (never under)."""
    bc, bid = _broadcast_blob(spark, sketch_or_blob)

    @F.arrow_udf(LongType())
    def estimate(col: pa.Array) -> pa.Array:
        return pa.array(_sketch_from(bid, bc).estimate(col))  # int64 counts

    return estimate.asNondeterministic()  # one Python pass, as membership_udf


def hash_indices_udf(num_buckets: int, strategy: str = "fnv", bits: int = 8):
    """Debug/test surface: col → struct(i1, i2, fp) via the kernels
    (the reference's GetIndices exposed as a column function)."""
    from ..hashing import kernels

    indices_type = StructType(
        [StructField("i1", LongType()), StructField("i2", LongType()), StructField("fp", IntegerType())]
    )

    @F.arrow_udf(indices_type)
    def indices(col: pa.Array) -> pa.Array:
        i1, i2, fp = kernels.indices_batch(col, num_buckets, strategy, bits)
        return pa.StructArray.from_arrays(
            [pa.array(i1.astype(np.int64)), pa.array(i2.astype(np.int64)), pa.array(fp.astype(np.int32))],
            names=["i1", "i2", "fp"],
        )

    return indices


def bloom_semi_join(
    left,
    right,
    left_key: str,
    right_key: str | None = None,
    fp_rate: float = 0.001,
    capacity: int | None = None,
):
    """Sketch-accelerated semi-join (the classic runtime-filter
    optimization, built from THIS library's Bloom filter): build a
    Bloom over the right side's keys (zero-shuffle fold + tree merge,
    KBs of state), broadcast it, pre-filter the left side scan-side,
    then run the exact semi-join on the survivors only.

    Result is EXACTLY ``left semi-join right`` (no false negatives ⇒
    the pre-filter never drops a matching row; the exact join removes
    the ~fp_rate false positives). What changes is the PLAN: the
    join's shuffle carries |matches| + fp_rate·|left| rows instead of
    |left| — at 100 TB with a selective right side that is the whole
    cost of the join."""
    from ..sketches import BloomFilter
    from .build import build_sketches
    from .merge import tree_merge

    right_key = right_key or left_key
    # The Bloom pre-filter hashes STRING-CAST key values while the
    # exact semi-join compares with native type coercion; for
    # differing key types the two can disagree (int 1 renders '1',
    # double 1.0 renders '1.0' — coerced-equal but hash-different),
    # and the pre-filter would silently DROP matching rows, breaking
    # the no-false-negatives contract. Refuse loudly instead.
    lt = left.schema[left_key].dataType
    rt = right.schema[right_key].dataType
    if lt != rt:
        raise ValueError(
            f"bloom_semi_join key types must match exactly: left "
            f"{left_key}:{lt.simpleString()} vs right "
            f"{right_key}:{rt.simpleString()} — cast one side first "
            "(string-cast hashing vs native join coercion would "
            "silently drop matching rows otherwise)"
        )
    spark = left.sparkSession
    # persist the distinct build keys: without it the sizing count, the
    # sketch build, and (absent a cache) the final join would each
    # recompute right.distinct() — three passes over the build side
    rk = right.select(F.col(right_key).cast("string").alias("k")).distinct().persist()
    try:
        cap = capacity or max(rk.count(), 64)
        bloom = tree_merge(
            build_sketches(rk, "k", lambda: BloomFilter(capacity=cap, fp_rate=fp_rate))
        )
    finally:
        rk.unpersist()
    if bloom is None:  # right side empty (zero build partitions): semi-join is empty
        return left.where(F.lit(False))
    member = membership_udf(spark, bloom)
    pruned = left.where(member(F.col(left_key).cast("string")))
    return pruned.join(
        right, pruned[left_key] == right[right_key], "left_semi"
    )


def _spacesaving_fold(counts, floor, vals, cnts, prune_at, prune_keep):
    """Fold one batch's (vals, cnts) into the bounded candidate dict
    IN PLACE; returns the updated prune floor.

    SpaceSaving maintenance (Metwally et al., ICDT'05): keys entering
    after a prune are seeded at the floor (the highest count any prune
    ever evicted), so a maintained count NEVER under-states the key's
    true partition count — by induction, a re-entering key's true count
    so far is ≤ its maintained count at its last eviction ≤ that
    prune's floor ≤ the current floor it is re-seeded with. Hence the
    superset bound the caller's docstring claims: every key whose true
    partition count exceeds the final floor is in the final dict."""
    for v, c in zip(vals, cnts):
        prev = counts.get(v)
        counts[v] = (prev if prev is not None else floor) + int(c)
    if len(counts) > prune_at:
        # bound task memory: an exact dict over all distincts is
        # O(partition vocabulary) — executor-OOM scale on web tokens —
        # and defeats the sketch's purpose
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        counts.clear()
        counts.update(ranked[:prune_keep])
        floor = max(floor, ranked[prune_keep][1])
    return floor


def cms_heavy_hitters(
    df,
    key_col: str,
    k: int = 10,
    width: int = 1 << 14,
    depth: int = 4,
    candidate_factor: int = 4,
):
    """Approximate top-k heavy hitters (SURVEY §2.1 stretch goal).

    Scale shape: one zero-shuffle pass folds a partition-local CMS AND
    a partition-local candidate list (top candidate_factor*k by local
    count — a superset heuristic for heavy hitters, exact for any key
    whose global share exceeds one partition's share). The candidate
    dict is BOUNDED SpaceSaving-style: whenever it exceeds 32× the
    emitted size it is pruned to the top 8×, and the highest evicted
    count becomes a *floor* — keys first seen (or re-seen) after a
    prune are seeded at that floor, so a maintained count never
    under-states the key's true partition count. That restores the
    superset bound the plain prune lost: any key whose true partition
    count exceeds the final floor is guaranteed to survive to the
    candidate list (Metwally et al., SpaceSaving, ICDT'05). Counts in
    the dict only RANK candidates — the CMS supplies the final
    estimates, so floor inflation never reaches the output. Partial
    rows then merge behind the same gate as every sketch frame
    (``merge._direct_merge``; their ``state`` field carries the CMS
    state size): one collect + driver fold, or the executor level
    every blob merge shares (``merge.fold_groups``: a JVM round-robin
    exchange, then one ``mapInArrow`` streaming each group's rows).
    Rows shuffled: ≤``merge.FANOUT`` × (state + candidate list) —
    k-scale, not data-scale.

    Any key type is accepted — keys are cast to string up front (the
    same canonicalization the CMS hash applies), so a bigint user_id
    column works instead of crashing Arrow's array<string> emit.

    Returns list[(key, est_count)] sorted (est desc, key asc), length k.
    """
    from collections.abc import Iterator

    from ..sketches import CountMinSketch
    from .build import state_bytes_hint, state_field
    from .merge import _direct_collect, _direct_merge, fold_groups

    cms_state = state_field(state_bytes_hint(lambda: CountMinSketch(width=width, depth=depth)))
    PARTIAL_SCHEMA = StructType([StructField("cand", ArrayType(StringType())), cms_state])
    arrow_partial = pa.schema([("cand", pa.list_(pa.string())), ("state", pa.binary())])
    emit_n = candidate_factor * k
    prune_keep = 8 * emit_n
    prune_at = 32 * emit_n

    def partial(cands, cms) -> pa.RecordBatch:
        return pa.RecordBatch.from_pydict({"cand": [cands], "state": [cms.to_bytes()]}, schema=arrow_partial)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cms = CountMinSketch(width=width, depth=depth)
        counts: dict = {}
        floor = 0  # highest count ever evicted by a prune (SpaceSaving)
        for rb in batches:
            col = rb.column(0)
            # NULL keys are excluded, not counted: Arrow value_counts
            # emits null as a value, and a None candidate would crash
            # every sorted() below (None < str is a TypeError) — a
            # heavy-hitter query over a sparse key column must not die
            # on its null contingent.
            if col.null_count:
                col = col.drop_null()
            vc = col.value_counts()
            vals = vc.field("values").to_pylist()
            cnts = vc.field("counts").to_numpy(zero_copy_only=False)
            cms.update(vc.field("values"), weights=cnts)
            floor = _spacesaving_fold(
                counts, floor, vals, cnts, prune_at, prune_keep
            )
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:emit_n]
        yield partial([t[0] for t in top], cms)

    keys = df.select(F.col(key_col).cast("string").alias("key"))
    partials = keys.mapInArrow(fold, PARTIAL_SCHEMA)

    def merge_partials(rows):
        """Streaming per-row fold of (cand, state) rows → (sorted
        candidates, merged CMS), or nothing for no rows — one running
        (cms, cand-set), one incoming blob resident at a time (same
        memory contract as merge.fold_states)."""
        cms, cands = None, set()
        for cand, blob in rows:
            cms = loads(blob) if cms is None else cms.merge(loads(blob))
            cands.update(cand)
        if cms is not None:
            yield sorted(cands), cms

    if _direct_merge(partials):
        rows = _direct_collect(partials)
    else:
        groups = fold_groups(partials, lambda rs: (partial(*m) for m in merge_partials(rs)), PARTIAL_SCHEMA)
        rows = groups.collect()
    merged = next(merge_partials(rows), None)
    if merged is None:
        return []
    cand_list, cms = merged
    est = cms.estimate(cand_list)
    ranked = sorted(zip(cand_list, est), key=lambda kv: (-int(kv[1]), kv[0]))
    return [(c, int(e)) for c, e in ranked[:k]]

"""One-pass composite sketch build over a web-page table — the flagship.

The north star's workload is "build the whole sketch family over the
corpus": cuckoo + Bloom membership on url, HLL distinct urls, count-min
over tokens, KLL + t-digest over page sizes. Doing each as its own
``build_sketches`` pass would scan the input N times and (if salted)
shuffle it N times. At 100 TB that is the difference between one pass
over the data and six.

``build_web_sketches`` folds ALL sketches in a single ``mapInArrow``
pass over the scan partitions — zero shuffle of input rows, one row per
(partition, sketch) out (KBs), merged by ``merge.merge_sketches``. Partition sizing is the scan's own
(``spark.sql.files.maxPartitionBytes``), which is the correct knob at
any scale; salting is only needed for *grouped* (per-key) builds, not
global mergeable states (any row→partition assignment yields the same
merged sketch, proven by the merge-associativity tests).

Per-partition work is fully vectorized: one kernel hash pass per keyed
sketch, pandas str.split only for tokenization (the one genuinely
string-y step), numpy everywhere else.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .build import column_update, fold_partitions


def build_web_sketches(
    docs_df,
    factories: dict[str, Callable[[], object]],
    url_col: str = "url",
    text_col: str = "text",
    token_sketches: tuple[str, ...] = ("cms",),
    size_sketches: tuple[str, ...] = ("kll", "tdigest"),
):
    """One pass over (url, text): every factory name updates from its
    input kind — url sketches from the url column, ``token_sketches``
    from whitespace tokens of text, ``size_sketches`` from len(text).

    Returns a DataFrame of build.SKETCH_SCHEMA rows (one per partition
    per sketch). Merge with ``merge.merge_sketches``.
    """
    token_set = set(token_sketches)
    size_set = set(size_sketches)

    def update(sks: dict, rb: pa.RecordBatch) -> None:
        urls = rb.column(0)
        texts = rb.column(1)
        # page sizes: numpy from arrow offsets (no Python loop)
        if size_set:
            sizes = pc.utf8_length(texts).to_numpy(zero_copy_only=False).astype(np.float64)
        if token_set:
            # C++ whitespace tokenizer (same semantics as str.split()),
            # then batch-local pre-aggregation: value_counts collapses
            # the Zipf-distributed token stream to its (much smaller)
            # vocabulary before any Python-side hashing — the map-side
            # combine of this pipeline, and the difference between
            # hashing 250M tokens and ~50k uniques per partition
            flat = pc.list_flatten(pc.utf8_split_whitespace(texts))
            flat = flat.filter(pc.not_equal(flat, ""))
            vc = flat.value_counts()
            tok_vals = vc.field("values")
            tok_counts = vc.field("counts").to_numpy(zero_copy_only=False)
        for name, sk in sks.items():
            if name in size_set:
                sk.update(sizes)
            elif name in token_set:
                try:
                    sk.update(tok_vals, weights=tok_counts)
                except TypeError:  # sketch without weighted updates
                    sk.update(flat)
            else:
                sk.update(urls)

    return fold_partitions(docs_df.select(url_col, text_col), factories, update)


def build_column_sketches(
    df,
    col: str,
    factories: dict[str, Callable[[], object]],
    numeric: bool = False,
):
    """One pass over a single column updating EVERY factory's sketch —
    the generic sibling of build_web_sketches (e.g. KLL + t-digest
    quantiles of the same column in one scan instead of two).
    Returns build.SKETCH_SCHEMA rows; merge with merge.merge_sketches."""
    return fold_partitions(df.select(col), factories, column_update(numeric))


def build_web_pipeline(
    docs_df,
    n_docs: int,
    num_shards: int = 64,
    cms_width: int = 1 << 14,
    fingerprint_bits: int = 16,
    capacity_slack: float = 1.1,
):
    """The 100 TB-shaped flagship: two jobs, neither shuffles a heavy
    column.

    Job A — fixed-size sketches (HLL distinct urls, CMS token
    frequencies, KLL page sizes; build_web_sketches can add t-digest
    via its size_sketches arg, the pipeline's dict is hll/cms/kll
    only) built on the SCAN partitions
    with zero shuffle; per-partition state is KBs–1 MB independent of
    corpus size, so partition count can track core count freely.

    Job B — membership (cuckoo) built SHARDED: project url only
    (~tens of bytes/row), shuffle by Spark's hash partitioner —
    shard_id = pmod(hash(url), shards), one task per shard — one
    capacity/shards filter per shard. Total filter state is
    capacity × 2 bytes regardless of shard or partition count, and
    probes route by the same hash — no global merge ever materializes.

    The two jobs are independent, so they are submitted CONCURRENTLY
    (two driver threads; Spark's scheduler interleaves their tasks) —
    job B's url shuffle overlaps job A's CPU-bound token hashing.

    Returns (fixed_sketches: dict, shard_rows: list[Row[SHARD_SCHEMA]]).
    """
    from concurrent.futures import ThreadPoolExecutor

    from ..config import CuckooConfig
    from ..sketches import CountMinSketch, HyperLogLog, KLLSketch
    from .shard import build_sharded

    # capacity sizing: per-shard load must stay under the ~0.95 kick
    # limit INCLUDING Poisson variance of the key→shard split. At
    # n/shards ≥ ~10^4 keys/shard the 1.1 default is ample (σ/μ ≤ 1%);
    # small demo builds (10²-10³ keys/shard) should raise
    # capacity_slack to ~1.3-1.5 or lower num_shards.
    cfg = CuckooConfig(
        capacity=max(int(n_docs * capacity_slack), 1024),
        fingerprint_bits=fingerprint_bits,
        hash_strategy="xx",
    )

    def job_a():
        from .merge import merge_sketches, state_bytes_hint

        factories = {
            "hll": lambda: HyperLogLog(14),
            "cms": lambda: CountMinSketch(width=cms_width, depth=4),
            "kll": lambda: KLLSketch(200),
        }
        return merge_sketches(
            build_web_sketches(docs_df, factories),
            # byte-aware direct gate: one partition's row group is one
            # state per name; wide CMS configs route to the executor
            # fold instead of a multi-GB driver pull
            state_bytes=state_bytes_hint(*factories.values()),
        )

    def job_b():
        return build_sharded(docs_df.select("url"), "url", num_shards, cfg=cfg).collect()

    with ThreadPoolExecutor(max_workers=2) as ex:
        fa, fb = ex.submit(job_a), ex.submit(job_b)
        return fa.result(), fb.result()

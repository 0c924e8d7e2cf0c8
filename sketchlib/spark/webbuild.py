"""One-pass composite sketch build over a web-page table — the flagship.

The north star's workload is "build the whole sketch family over the
corpus": cuckoo + Bloom membership on url, HLL distinct urls, count-min
over tokens, KLL + t-digest over page sizes. Doing each as its own
``build_sketches`` pass would scan the input N times and (if salted)
shuffle it N times. At 100 TB that is the difference between one pass
over the data and six.

``build_web_sketches`` folds ALL sketches in a single ``mapInArrow``
pass over the scan partitions — zero shuffle of input rows, one row per
(partition, sketch) out (KBs), merged by ``merge.merge_sketches``.
Partition sizing is the scan's own (``spark.sql.files.maxPartitionBytes``),
which is the correct knob at any scale; salting is only needed for
*grouped* (per-key) builds, not global mergeable states (any
row→partition assignment yields the same merged sketch, proven by the
merge-associativity tests).

``build_web_pipeline`` adds sharded cuckoo membership on url. While
every scan partition's state (fixed sketches + one small filter per
shard) fits the merge's direct byte gate and the driver has at most
``SINGLE_PASS_FILTERS`` partition filters to fold, that is the same
single pass: each row carries its shard id, each task folds one filter
per shard, and the driver re-homes the partition filters per shard —
one job, no shuffle. Otherwise (the 100 TB regime, where one task must
not hold the whole filter, or many partitions × shards) the shards are
built by ``shard.build_sharded`` over a url-only exchange, one task per
shard, concurrently with the fixed-sketch pass.

Per-partition work is fully vectorized: one kernel hash pass per keyed
sketch, the Arrow C++ tokenizers for text, numpy everywhere else. The
tokens of a document are exactly its ``str.split()``: maximal runs of
characters outside Arrow's Unicode whitespace set, which is the set of
``str.isspace()`` (U+001C-001F and the non-ASCII spaces included).
Each slice of documents is split at ASCII whitespace and value-counted;
only its distinct tokens are re-split at the rest of the Unicode set,
and a slice holding invalid UTF-8 is split by the Unicode tokenizer
itself, so the counts are those of ``str.split()`` on valid text and of
Arrow's Unicode tokenizer on any text. The CMS hashes the partition's
merged vocabulary once (once per bounded flush), not once per slice.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..serde import loads
from .build import column_update, fold_partitions, split_by_key
from .merge import (
    _FOLD_COLS,
    DIRECT_PARTITIONS,
    _direct_collect,
    _direct_merge,
    fold_states,
    merge_sketches,
)

# docs tokenized at a time: bounds the per-task token-list transient
# (both scan tasks of a build fold at once) and, through the slice's
# text bytes, the vocabulary a task holds before hashing it. CMS
# counters are additive, so the merged state does not depend on the
# slicing
TOKEN_SLICE = 2500

# most partition filters (scan partitions × shards) the single pass
# leaves to the driver's serial fold; past it the exchange plan's shard
# tasks cost less. Measured at 800k docs, 64 shards, local[4] on a
# 4-core host (BENCH.md): the single pass won 4 of 4 pairs at 33
# partitions (2,112 filters), 1 of 3 at 65 (4,160) and 0 of 3 at 97
SINGLE_PASS_FILTERS = 4096


def _tokens(texts: pa.Array) -> pa.Array:
    """The token contract: each document's ``str.split()`` — maximal
    runs of non-whitespace, whitespace being Arrow's Unicode set
    (``str.isspace()``) — flattened in order, nulls and empty docs
    giving no tokens."""
    flat = pc.list_flatten(pc.utf8_split_whitespace(texts))
    return flat.filter(pc.not_equal(flat, ""))


def _vocabulary(texts: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """``_tokens(texts)`` as (distinct tokens, counts), without running
    the Unicode splitter over the text: the ASCII splitter (2-3x faster)
    cuts at a subset of the Unicode whitespace, so re-splitting each of
    its distinct tokens with the Unicode splitter, every piece keeping
    its token's count, gives the same multiset. Only tokens holding
    0x1C-0x1F or non-ASCII whitespace split again; empty pieces drop.
    The Unicode splitter stops splitting at a document's first invalid
    UTF-8 byte, so a slice whose vocabulary is not valid UTF-8 (iff one
    of its documents is not) is counted from ``_tokens`` itself."""
    vc = pc.list_flatten(pc.ascii_split_whitespace(texts)).value_counts()
    vals = vc.field("values")
    try:
        vals.validate(full=True)
    except pa.ArrowInvalid:
        vc = _tokens(texts).value_counts()
        return vc.field("values"), vc.field("counts").to_numpy(zero_copy_only=False)
    pieces = pc.utf8_split_whitespace(vals)
    reps = pc.list_value_length(pieces).to_numpy(zero_copy_only=False)
    counts = np.repeat(vc.field("counts").to_numpy(zero_copy_only=False), reps)
    flat = pc.list_flatten(pieces)
    keep = pc.not_equal(flat, "")
    return flat.filter(keep), counts[keep.to_numpy(zero_copy_only=False)]


def _merge_vocabularies(parts: list) -> tuple[pa.Array, np.ndarray]:
    """(tokens, counts) pairs → one pair, each distinct token once."""
    if len(parts) == 1:
        return parts[0]
    t = pa.table({"v": pa.chunked_array([v for v, _ in parts]), "c": np.concatenate([c for _, c in parts])})
    t = t.group_by("v", use_threads=False).aggregate([("c", "sum")])
    return t.column("v").combine_chunks(), t.column("c_sum").to_numpy()


def _web_update(token_sketches, size_sketches) -> Callable[[dict, Iterator[pa.RecordBatch]], None]:
    """Fold step over a partition's (url, text, ...) batches:
    ``size_sketches`` take len(text), ``token_sketches`` the ``_tokens``
    of text, every other sketch the url column."""
    token_set = set(token_sketches)
    size_set = set(size_sketches)

    def step(sks: dict, batches: Iterator[pa.RecordBatch]) -> None:
        # weighted token sketches (CMS) take the vocabulary with counts,
        # the others every token
        weighted, plain = [], []
        for name, sk in sks.items():
            if name in token_set:
                takes = "weights" in inspect.signature(sk.update).parameters
                (weighted if takes else plain).append(sk)
        # The slices' vocabularies are merged across the partition's
        # batches and hashed into the weighted sketches once, when the
        # partition ends; counters are additive, so the state is the
        # per-slice one. A held vocabulary that outgrows the largest
        # slice's text so far (which bounds a slice's token list) is
        # hashed at once, so between slices a task holds no more.
        pending, bound = [], 0

        def flush():
            if pending:
                vals, counts = _merge_vocabularies(pending)
                for sk in weighted:
                    sk.update(vals, weights=counts)
                pending.clear()

        for rb in batches:
            urls = rb.column(0)
            texts = rb.column(1)
            if size_set:
                # page sizes: numpy from arrow offsets (no Python loop)
                sizes = pc.utf8_length(texts).to_numpy(zero_copy_only=False).astype(np.float64)
            for name, sk in sks.items():
                if name in size_set:
                    sk.update(sizes)
                elif name not in token_set:
                    sk.update(urls)
            for off in range(0, len(texts) if weighted or plain else 0, TOKEN_SLICE):
                sl = texts.slice(off, TOKEN_SLICE)
                if plain:
                    flat = _tokens(sl)
                    for sk in plain:
                        sk.update(flat)
                if weighted:
                    pending.append(_vocabulary(sl))
                    bound = max(bound, sl.nbytes)
                    if sum(v.nbytes + c.nbytes for v, c in pending) > bound:
                        flush()
        flush()

    return step


def build_web_sketches(
    docs_df,
    factories: dict[str, Callable[[], object]],
    url_col: str = "url",
    text_col: str = "text",
    token_sketches: tuple[str, ...] = ("cms",),
    size_sketches: tuple[str, ...] = ("kll", "tdigest"),
    checkpoint_dir: str | None = None,
):
    """One pass over (url, text): every factory name updates from its
    input kind — url sketches from the url column, ``token_sketches``
    from whitespace tokens of text, ``size_sketches`` from len(text).

    Returns a DataFrame of build.SKETCH_SCHEMA rows (one per partition
    per sketch). Merge with ``merge.merge_sketches``.

    ``checkpoint_dir``: per-partition resume (``build.fold_partitions``
    publishes each task's rows and a rerun re-emits them); the
    fingerprint records which sketches take tokens and which sizes.
    """
    step = _web_update(token_sketches, size_sketches)
    step_meta = {
        "tokens": [n for n in factories if n in token_sketches],
        "sizes": [n for n in factories if n in size_sketches],
    }
    frame = docs_df.select(url_col, text_col)
    return fold_partitions(frame, factories, step, checkpoint_dir, step_meta)


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


def _shard_name(sid: int) -> str:
    return f"shard-{sid}"


def _single_pass(docs_df, factories: dict, num_shards: int, shard_fac):
    """The gated flagship fold: (url, text, shard_id) rows → one
    SKETCH_SCHEMA row per (partition, fixed sketch) and per
    (partition, shard) — the shard filters named ``_shard_name(sid)``.
    ``shard_id`` is SHARD_ROUTING, so each url lands in the shard
    ``build_sharded`` and the probes route it to. Each batch's urls are
    hashed once and the hashes routed (``CuckooFilter.insert_hashes``):
    a byte-capped batch spans every shard, and one hash call per shard
    slice would cost more than hashing the batch."""
    from ..hashing import kernels
    from .shard import shard_expr

    web = _web_update(("cms",), ("kll",))
    names = [_shard_name(sid) for sid in range(num_shards)]
    fixed = tuple(factories)

    def step(sks: dict, batches: Iterator[pa.RecordBatch]) -> None:
        strategy = sks[names[0]].hash_strategy  # one factory: one strategy

        def routed():
            for rb in batches:
                h = pa.array(kernels.hash64_batch(rb.column(0), strategy))
                for sid, hs in split_by_key(rb.column(2), h):
                    sks[names[sid]].insert_hashes(hs.to_numpy())
                yield rb

        web({k: sks[k] for k in fixed}, routed())

    # selectExpr, not pyspark.sql.functions: the first F.* call on the
    # driver's main thread makes PySpark capture a call site, which
    # imports IPython (~26 MB of driver RSS)
    frame = docs_df.selectExpr("url", "text", f"{shard_expr('url', num_shards)} AS shard_id")
    return fold_partitions(frame, {**factories, **{n: shard_fac for n in names}}, step)


def _merge_single_pass(rows_df, fixed_names) -> dict:
    """Driver side of the single pass (it runs only under the direct
    gate, so one collect of the fold's ``_FOLD_COLS``): the fixed
    sketches fold row by row; each shard's partition filters merge in
    ONE ``CuckooFilter.merge`` call, one batched placement instead of
    one per partition."""
    rows = _direct_collect(rows_df)
    fixed = fold_states(r for r in rows if r[0] in fixed_names)
    merged = {name: sk for name, (sk, _, _) in fixed.items()}
    parts: dict[str, list] = {}
    for name, _, _, blob in rows:
        if name not in fixed_names:
            parts.setdefault(name, []).append(blob)
    for name, blobs in parts.items():
        merged[name] = loads(blobs[0]).merge(*map(loads, blobs[1:]))
    return merged


def _exchange_plan(docs_df, factories: dict, num_shards: int, cfg):
    """Above the gate: the fixed sketches on the scan partitions and the
    shards over a url-only exchange (``build_sharded``), submitted
    concurrently from two driver threads so the url shuffle overlaps
    the CPU-bound token hashing."""
    from concurrent.futures import ThreadPoolExecutor

    from .shard import build_sharded

    def fixed_job():
        return merge_sketches(build_web_sketches(docs_df, factories))

    def shard_job():
        return build_sharded(docs_df.select("url"), "url", num_shards, cfg=cfg).collect()

    with ThreadPoolExecutor(max_workers=2) as ex:
        fa, fb = ex.submit(fixed_job), ex.submit(shard_job)
        return fa.result(), fb.result()


def build_web_pipeline(
    docs_df,
    n_docs: int,
    num_shards: int = 64,
    cms_width: int = 1 << 14,
    fingerprint_bits: int = 16,
    capacity_slack: float = 1.1,
):
    """The flagship: HLL distinct urls, CMS token frequencies and KLL
    page sizes, plus cuckoo membership on url sharded ``num_shards``
    ways by ``shard_id = pmod(hash(url), num_shards)`` (SHARD_ROUTING),
    each shard a capacity/num_shards filter. Total filter state is
    capacity × 2 bytes regardless of shard or partition count, and
    probes route by the same hash — no global filter materializes.

    The plan is picked by the merge's one gate (``merge._direct_merge``)
    on the single pass's frame. Its ``state`` field carries one scan
    partition's state size (the fixed sketches plus ``num_shards``
    empty shard filters), and its partition bound is lowered to
    ``SINGLE_PASS_FILTERS // num_shards``, so the driver folds at most
    ``SINGLE_PASS_FILTERS`` partition filters (the measured crossover):

    * under the gate: ONE pass over the scan partitions. Each task
      folds the fixed sketches and one filter per shard; the driver
      merges the partition rows, re-homing each shard's partition
      filters into one (``CuckooFilter.merge``, lossless, one batched
      call per shard). One job, no shuffle, one Python task per scan
      partition.
    * otherwise (the 100 TB regime, where one task must not hold every
      shard's filter, or so many partition filters that the serial
      driver fold costs more than the shard tasks): two concurrent
      jobs — the fixed sketches on the scan partitions, and
      ``build_sharded`` over a url-only shuffle, one task per shard.

    Both plans return (fixed_sketches: {"hll", "cms", "kll"},
    shard_rows: list[Row[SHARD_SCHEMA]]) with one row per non-empty
    shard, ``n_rows`` = urls routed to it (item_count + fail_count).
    """
    from pyspark.sql import Row

    from ..config import CuckooConfig
    from ..sketches import CountMinSketch, HyperLogLog, KLLSketch
    from .build import state_row
    from .shard import shard_factory

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
    factories = {
        "hll": lambda: HyperLogLog(14),
        "cms": lambda: CountMinSketch(width=cms_width, depth=4),
        "kll": lambda: KLLSketch(200),
    }
    shard_fac = shard_factory(num_shards, cfg)
    # the gate reads the Dataset it collects, so the plan is built once
    rows_df = _single_pass(docs_df, factories, num_shards, shard_fac).select(*_FOLD_COLS)
    if not _direct_merge(rows_df, min(DIRECT_PARTITIONS, SINGLE_PASS_FILTERS // num_shards)):
        return _exchange_plan(docs_df, factories, num_shards, cfg)

    merged = _merge_single_pass(rows_df, set(factories))
    shard_rows = []
    for sid in range(num_shards):
        f = merged.get(_shard_name(sid))
        n = 0 if f is None else f.count() + f.insert_failures
        if n:
            shard_rows.append(Row(**state_row(f, n, shard_id=sid).to_pylist()[0]))
    return {k: merged[k] for k in factories if k in merged}, shard_rows

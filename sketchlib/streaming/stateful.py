"""Custom stateful streaming operators via applyInPandasWithState.

The reference is batch-only; this is the Structured-Streaming-native
form of "keep a sketch per key as events arrive": the per-key state is
a serialized sketchlib sketch blob held in Spark's state store, each
micro-batch folds its Arrow batches into the state with the same
vectorized kernels, and the operator emits the running estimate.
Checkpointing, exactly-once state updates, and recovery come from the
engine (state store + WAL), not from us — the sketch just has to be a
mergeable/serializable monoid, which every sketchlib sketch is.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql.types import BinaryType, DoubleType, LongType, StringType, StructType

from ..serde import loads

OUTPUT_SCHEMA = StructType().add("key", StringType()).add("n_rows", LongType()).add("estimate", DoubleType())
STATE_SCHEMA = StructType().add("state", BinaryType()).add("n_rows", LongType())


def hll_distinct_by_key(
    grouped,  # stream_df.groupBy(key_col) result
    factory: Callable[[], object],
    timeout: str = "NoTimeout",
    value_col: str | None = None,
    timeout_duration_ms: int | None = None,
):
    """stream.groupBy(key) → running per-key distinct estimate.

    Usage:
        out = hll_distinct_by_key(
            events.groupBy("user_id"), lambda: HyperLogLog(12),
            value_col="event_type")
        out.writeStream...

    ``value_col`` names the column to sketch and is REQUIRED: an
    implicit positional fallback (the stream's second column) silently
    sketches the wrong column — often the grouping key itself, making
    every estimate ~1 — whenever the stream's columns aren't exactly
    (key, value). A silent wrong default is worse than an error.

    ``timeout``: ``"NoTimeout"`` (state lives forever — fine for
    bounded key spaces) or ``"ProcessingTimeTimeout"`` with
    ``timeout_duration_ms`` — keys idle for that long emit one final
    row and their state is EVICTED, which is what bounds the state
    store on an unbounded key space (the fold arms the timer every
    batch; a timed-out invocation must remove, not update — updating
    would resurrect the state and emit duplicate stale rows forever).
    ``"EventTimeTimeout"`` needs a watermark column threaded through
    the state tuple and is not implemented — asking for it raises
    rather than silently never evicting.

    State per key = (sketch blob, rows seen). Works for any sketch with
    ``update`` + a scalar ``estimate()`` (HLL; CMS total; KLL n).
    """
    if value_col is None:
        raise ValueError(
            "value_col is required: name the column to sketch explicitly"
        )
    if timeout == "ProcessingTimeTimeout":
        if not timeout_duration_ms or timeout_duration_ms <= 0:
            raise ValueError(
                "ProcessingTimeTimeout needs timeout_duration_ms > 0"
            )
    elif timeout == "EventTimeTimeout":
        raise NotImplementedError(
            "EventTimeTimeout is not wired (needs a watermark timestamp in "
            "state); use ProcessingTimeTimeout or NoTimeout"
        )
    elif timeout != "NoTimeout":
        raise ValueError(f"unknown timeout conf: {timeout!r}")

    return grouped.applyInPandasWithState(
        _make_fold(factory, value_col, timeout, timeout_duration_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def _make_fold(factory, value_col: str, timeout: str, timeout_duration_ms):
    """The applyInPandasWithState fold, module-level so the timed-out
    eviction branch is unit-testable against a state double (a real
    ProcessingTimeTimeout never fires in a single availableNow batch)."""

    def fold(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if getattr(state, "hasTimedOut", False):
            # idle-key eviction: emit the final snapshot, drop the state
            # (update() here would resurrect the key and re-emit a stale
            # row on every later timeout, forever)
            blob, n = state.get
            sk = loads(bytes(blob))
            state.remove()
            yield pd.DataFrame(
                {"key": [str(key[0])], "n_rows": [n], "estimate": [float(sk.estimate())]}
            )
            return
        if state.exists:
            blob, n = state.get
            sk = loads(bytes(blob))
        else:
            sk, n = factory(), 0
        for pdf in pdfs:
            sk.update(pdf[value_col])
            n += len(pdf)
        state.update((sk.to_bytes(), n))
        if timeout == "ProcessingTimeTimeout":
            # re-arm every batch: the timer measures idleness since the
            # key's LAST batch, which is exactly the eviction criterion
            state.setTimeoutDuration(timeout_duration_ms)
        yield pd.DataFrame(
            {"key": [str(key[0])], "n_rows": [n], "estimate": [float(sk.estimate())]}
        )

    return fold

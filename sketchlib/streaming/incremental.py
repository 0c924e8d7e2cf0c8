"""Structured-Streaming incremental sketch builds.

The reference is batch-only; this is the streaming surface the events
table backs (SURVEY.md §2.4): a ``foreachBatch`` loop folds each
micro-batch into the running sketches via the same vectorized build
path and associative merge as batch builds, committing the merged
state as one epoch per batch (layout and replay guard:
``streaming.epochs``) — an incremental, resumable filter build.
Watermarked windowed distinct counts ride on the same HLL merge.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..serde import loads
from ..spark.build import build_sketches, sketch_fingerprint
from ..spark.fsio import read_bytes, write_bytes
from ..spark.merge import tree_merge
from .epochs import EpochSink


class IncrementalSketchBuilder(EpochSink):
    """foreachBatch sink: state(t+1) = merge(state(t), build(batch)),
    one global sketch blob per epoch under ``state_dir``. Writing an
    epoch is one driver-side ``fsio.write_bytes``, no Spark job."""

    def __init__(self, factory, key_col: str, state_dir: str):
        self.factory = factory
        self.key_col = key_col
        sketches = sketch_fingerprint({"state": factory})
        super().__init__(state_dir, {"op": "incremental_stream", "sketches": sketches, "key_col": key_col})

    def current(self, spark=None):
        """The sketch after the last applied batch (an empty one before
        the first)."""
        spark = spark or SparkSession.active()
        path = self._head_path(spark)
        return self.factory() if path is None else loads(read_bytes(spark, path))

    def _write_epoch(self, batch_df, prev, path) -> None:
        spark = batch_df.sparkSession
        state = self.factory() if prev is None else loads(read_bytes(spark, prev))
        delta = tree_merge(build_sketches(batch_df, self.key_col, self.factory))
        if delta is not None:
            state = state.merge(delta)
        write_bytes(spark, path, state.to_bytes())


def windowed_distinct_stream(stream_df, ts_col: str, key_col: str, window: str = "1 hour",
                             watermark: str = "2 hours", rsd: float = 0.05):
    """Watermarked tumbling-window approx distinct (native HLL++ path:
    approx_count_distinct is Spark's own HLL — the built-in we
    cross-check our HLL against). ``rsd``: relative standard deviation
    target; smaller = more registers per window's state."""
    from pyspark.sql import functions as F

    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(F.approx_count_distinct(key_col, rsd).alias("approx_distinct"))
    )

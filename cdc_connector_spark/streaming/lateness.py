"""Streaming lateness monitor — the continuous form of
``ops/timeseries.py::watermark_sizing``: a monitor that keeps, for every
(event_type, candidate watermark bound W), the running (total, late)
event counts current as micro-batches arrive, so the watermark choice a
stream was deployed with is re-validated CONTINUOUSLY against the
feed's actual lateness distribution — when an upstream slows down and a
3-minute bound quietly starts losing 2% instead of 0.2%, the monitor
alarms within one batch instead of at the next manual sizing study.

Incremental maintenance is EXACT and trivial by design: both statistics
are LINEAR counters (late(A ∪ B) = late(A) + late(B); the CMS-linearity
argument in its simplest form), so the state is |types| × |candidates|
rows FOREVER — no sketch needed, no watermark semantics inside the
monitor itself (it measures lateness, it does not drop anything).

``report()`` emits exactly the ``watermark_sizing`` shape
(event_type, watermark_minutes, total, late, late_share), pinned
stream == one-shot batch in tests, so the sizing report and the live
monitor are interchangeable inputs to the withWatermark decision —
and the r11 watermark-loop test (test_streaming_windows.py) pins that
the chosen bound's predicted drops equal a real stream's measured
numRowsDroppedByWatermark.

Exactly-once by the marker commit of ``streaming/commit.py``
(``BatchCommitter``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_connector_spark.ops.timeseries import watermark_sizing
from cdc_connector_spark.streaming.commit import BatchCommitter, foreach_batch


class StreamingLateness:
    """foreachBatch applier maintaining the per-(type, bound) lateness
    counters across micro-batches. See the module header for semantics."""

    def __init__(
        self,
        state_dir: str,
        candidate_minutes: tuple[int, ...] = (1, 3, 5, 10),
        ts_col: str = "ts",
        ingest_ts_col: str = "ingest_ts",
        type_col: str = "event_type",
    ) -> None:
        self.state_dir = state_dir
        self.candidate_minutes = candidate_minutes
        self.ts_col = ts_col
        self.ingest_ts_col = ingest_ts_col
        self.type_col = type_col
        self.committer = BatchCommitter(state_dir, ("late",))

    def committed_batch_ids(self) -> list[int]:
        return self.committer.committed()

    # -- the applier ------------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committer.done(batch_id):
            return  # replayed batch — already committed
        # one scan of the batch; drop the share — it does not merge,
        # and report() recomputes it from the merged exact counters
        cur = watermark_sizing(
            batch_df,
            candidate_minutes=self.candidate_minutes,
            ts_col=self.ts_col,
            ingest_ts_col=self.ingest_ts_col,
            type_col=self.type_col,
        ).select("event_type", "watermark_minutes", "total", "late")
        prev = self.committer.read_latest(batch_df.sparkSession, "late")
        if prev is not None:
            cur = (
                cur.unionByName(prev)
                .groupBy("event_type", "watermark_minutes")
                .agg(F.sum("total").alias("total"), F.sum("late").alias("late"))
            )
        cur.write.mode("overwrite").parquet(self.committer.dir("late", batch_id))
        self.committer.commit(batch_id)

    # -- lifecycle ----------------------------------------------------------------

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ) -> StreamingQuery:
        return foreach_batch(stream, self.process_batch, checkpoint_dir, available_now)

    # -- queries over the state -------------------------------------------------

    def report(self, spark) -> DataFrame:
        """Current sizing report — (event_type, watermark_minutes, total,
        late, late_share), the exact ``watermark_sizing`` shape from the
        merged exact counters. Reads ONLY the bounded state table."""
        state = self.committer.read_latest(spark, "late")
        if state is None:
            raise ValueError(f"no committed lateness state under {self.state_dir}")
        return state.select(
            "event_type",
            "watermark_minutes",
            "total",
            "late",
            F.round(
                F.col("late").cast("double") / F.col("total").cast("double"), 6
            ).alias("late_share"),
        ).orderBy("event_type", "watermark_minutes")

"""Streaming offset-hole monitoring: maintain per-group ISLANDS of seen
sequence ids across CDC micro-batches and report the holes between them —
the continuous form of ``validation/checks.py::sequence_gaps`` and the
missing-offset alarm a CDC pipeline actually wants ("partition 3 skipped
commit sequence 41007-41012") long before a nightly reconciliation run
catches the rowcount drift.

State design: NOT Spark operator state but a tiny persisted islands table
(group, lo, hi of each maximal contiguous seen-range) on shared storage —
the ``StreamingCorpusDedup`` state-in-storage pattern: restart-cheap,
inspectable, and bounded by the number of RUNS (a healthy stream holds ONE
island per group forever, regardless of how many trillion ids pass
through; state growth itself is a health signal).

Per batch: new ids fold into the islands via the classic gaps-and-islands
merge (per-group sort, running-max-hi window, island boundaries where
lo > running_hi + 1) — cost is O(batch + islands), never O(history).
Exactly-once by the marker commit of ``streaming/commit.py``: islands for
batch N write to ``islands_batch=N`` and ``BatchCommitter`` marks,
replay-skips and prunes them; ``holes()`` reads only the latest
committed islands.

Out-of-order arrival is handled by construction: a hole REPORTED now and
FILLED by a later batch disappears from the next ``holes()`` — the
monitor reports "missing as of the data seen", and the alert policy
(e.g. only alarm holes older than a grace window) composes downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_connector_spark.streaming.commit import BatchCommitter, foreach_batch


def _fold_islands(ranges: DataFrame, keys: list[str]) -> DataFrame:
    """One gaps-and-islands fold over ``ranges`` ordered by (lo, hi)
    within ``keys``: running max hi, boundary cumsum, aggregate."""
    w = (
        Window.partitionBy(*keys)
        .orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w2 = Window.partitionBy(*keys).orderBy("lo", "hi").rowsBetween(
        Window.unboundedPreceding, 0
    )
    marked = ranges.withColumn(
        "__new",
        F.when(F.col("lo") > F.max("hi").over(w) + 1, 1)
        .when(F.max("hi").over(w).isNull(), 1)
        .otherwise(0),
    ).withColumn("__isl", F.sum("__new").over(w2))
    return marked.groupBy(*keys, "__isl").agg(
        F.min("lo").alias("lo"), F.max("hi").alias("hi")
    ).drop("__isl")


def merge_islands(
    ranges: DataFrame, group_col: str | None = None, block: int = 1 << 20
) -> DataFrame:
    """Merge possibly-overlapping/adjacent (lo, hi) integer ranges into
    maximal contiguous islands (adjacent = hi + 1 touches the next lo),
    optionally per ``group_col``.

    TWO-PHASE (r13 review): the total-order fold over an UNGROUPED
    monitor is a no-partition window — every range in the batch would
    serialize through ONE task (the WindowExec single-partition
    hazard; process_batch feeds this one row per distinct id, so a
    million-row micro-batch meant a million-row single-task sort).
    Phase 1 folds within fixed id-blocks (``floor(lo / block)`` joins
    the window key — parallel across 32+ tasks), which preserves
    COVERAGE exactly (islands are a function of the covered integer
    set alone, and a partition-wise fold never changes the union);
    phase 2 runs the same fold globally over the per-block islands —
    on a healthy dense stream that is ~1 row per occupied block
    (batch/2^20), and never more rows than the input. A range spanning
    blocks is assigned to its lo-block; the global pass is what merges
    across block boundaries. Measured (SCALING §4r): 1.6× on a dense
    5M-id batch at 32 cores (the old single task is a hard ceiling at
    any cluster size); the sparse worst case — every id its own island,
    nothing collapses — pays 1.33× pre-fold overhead, priced and
    accepted."""
    keys = [group_col] if group_col else []
    pre = _fold_islands(
        ranges.withColumn("__blk", F.floor(F.col("lo") / F.lit(block))),
        keys + ["__blk"],
    ).drop("__blk")
    return _fold_islands(pre, keys)


class StreamingGapMonitor:
    """foreachBatch applier maintaining the islands table and the hole
    report across micro-batches. See the module header for semantics."""

    def __init__(
        self,
        state_dir: str,
        id_col: str,
        group_col: str | None = None,
    ) -> None:
        self.state_dir = state_dir
        self.id_col = id_col
        self.group_col = group_col
        self.committer = BatchCommitter(state_dir, ("islands",))

    def committed_batch_ids(self) -> list[int]:
        return self.committer.committed()

    # -- the applier ---------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committer.done(batch_id):
            return  # replayed batch — already committed
        keys = [self.group_col] if self.group_col else []
        new = (
            batch_df.filter(F.col(self.id_col).isNotNull())
            .select(
                *[F.col(c) for c in keys],
                F.col(self.id_col).alias("lo"),
                F.col(self.id_col).alias("hi"),
            )
            .distinct()
        )
        prev = self.committer.read_latest(batch_df.sparkSession, "islands")
        ranges = new.unionByName(prev) if prev is not None else new
        merged = merge_islands(ranges, self.group_col)
        merged.write.mode("overwrite").parquet(self.committer.dir("islands", batch_id))
        self.committer.commit(batch_id)

    # -- lifecycle -----------------------------------------------------------

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ) -> StreamingQuery:
        return foreach_batch(stream, self.process_batch, checkpoint_dir, available_now)

    # -- queries over the state ----------------------------------------------

    def islands(self, spark) -> DataFrame:
        out = self.committer.read_latest(spark, "islands")
        if out is None:
            raise ValueError(f"no committed batches under {self.state_dir}")
        return out

    def holes(self, spark) -> DataFrame:
        """Current holes: one row per missing run BETWEEN islands —
        (group?, gap_start, gap_end, missing), matching the batch
        ``sequence_gaps`` contract over everything seen so far."""
        isl = self.islands(spark)
        keys = [self.group_col] if self.group_col else []
        w = Window.partitionBy(*keys).orderBy("lo")
        return (
            isl.withColumn("__prev_hi", F.lag("hi").over(w))
            .filter(F.col("__prev_hi").isNotNull())
            .select(
                *[F.col(c) for c in keys],
                (F.col("__prev_hi") + 1).alias("gap_start"),
                (F.col("lo") - 1).alias("gap_end"),
                (F.col("lo") - F.col("__prev_hi") - 1).alias("missing"),
            )
        )

"""Streaming per-column data-quality profile — the continuous form of
``validation/checks.py::column_profile_diff``: a monitor that keeps, for
every watched column, (rows, nulls, content fingerprint, distinct
estimate) current as micro-batches arrive, so a replication pipeline
that starts NULLing a column or dropping a value range alarms within
one batch instead of at the next nightly table compare.

Incremental maintenance is EXACT for three of the four statistics —
row/null counts and the order-free modular fingerprint sum are LINEAR
(add per batch, mod 2^60 for the fingerprint; the CMS argument applied
to profiling) — and the fourth (distinct) deliberately rides the
MAX-mergeable HLL register sketch, because exact distinct counts do not
merge (|A ∪ B| ≠ |A| + |B|): the monitor's state is
|cols| + |cols|·2^p rows FOREVER, regardless of stream volume.

``column_profile_state`` produces both tables with the same column
typing as the batch diff (doubles as round(v·1e6), timestamps as unix
micros), so stream-side fingerprints are directly comparable against a
batch-side source profile — the source-vs-sink check becomes "diff two
bounded state tables", no table scan at compare time.

Exactly-once by the marker commit of ``streaming/commit.py``
(``BatchCommitter``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_connector_spark.ops.sketch import hll_estimate, hll_merge
from cdc_connector_spark.streaming.commit import BatchCommitter, foreach_batch
from cdc_connector_spark.validation.checks import column_profile_state


class StreamingColumnProfile:
    """foreachBatch applier maintaining per-column profile state across
    micro-batches. See the module header for semantics."""

    def __init__(
        self,
        state_dir: str,
        cols: list[str],
        p: int = 8,
    ) -> None:
        self.state_dir = state_dir
        self.cols = cols
        self.p = p
        self.committer = BatchCommitter(state_dir, ("counts", "registers"))

    def committed_batch_ids(self) -> list[int]:
        return self.committer.committed()

    # -- the applier ------------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committer.done(batch_id):
            return  # replayed batch — already committed
        spark = batch_df.sparkSession
        counts, regs = column_profile_state(batch_df, self.cols, p=self.p)
        prev_counts = self.committer.read_latest(spark, "counts")
        prev_regs = self.committer.read_latest(spark, "registers")
        if prev_counts is not None:
            counts = (
                counts.unionByName(prev_counts)
                .groupBy("column")
                .agg(
                    F.sum("rows").alias("rows"),
                    F.sum("nulls").alias("nulls"),
                    F.pmod(F.sum("fp"), F.lit(1 << 60)).cast("long").alias("fp"),
                )
            )
            regs = hll_merge([regs, prev_regs])
        counts.write.mode("overwrite").parquet(self.committer.dir("counts", batch_id))
        regs.select("grp", "bucket", "mreg").write.mode("overwrite").parquet(
            self.committer.dir("registers", batch_id)
        )
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

    def profile(self, spark) -> DataFrame:
        """Current per-column profile: (column, rows, nulls, fp,
        distinct_est) — counts exact, distinct from the register state.
        Reads ONLY the bounded state tables."""
        counts = self.committer.read_latest(spark, "counts")
        regs = self.committer.read_latest(spark, "registers")
        if counts is None or regs is None:
            raise ValueError(f"no committed profile state under {self.state_dir}")
        est = hll_estimate(regs, p=self.p).select(
            F.col("grp").alias("column"), F.col("est").alias("distinct_est")
        )
        return counts.join(est, "column", "left").orderBy("column")

"""Streaming distribution-drift monitor: maintain an equi-width histogram
of a numeric column across micro-batches and report PSI against a FIXED
reference distribution — the continuous form of
``validation/drift.py::population_stability`` and the third leg of the
monitoring triad (heavy hitters = ``StreamingCMS``, completeness =
``StreamingGapMonitor``, distribution = this).

Histograms are linear exactly like CMS — batch counts ADD cell-by-cell —
so incremental maintenance is exact, and the state is ≤ ``bins`` rows
FOREVER (plus the ``bins``-row reference). Bins are the explicit
clamp-and-floor equi-width cells of ``histogram_numeric``/PSI (explicit
bounds are what make a monitoring metric stable across days); the PSI
readout reuses ``population_stability``'s exact arithmetic — Laplace
smoothing, round-12 terms, DECIMAL accumulation — so an alert threshold
compares the SAME number the batch op would compute.

Exactly-once by the marker commit of ``streaming/commit.py``
(``BatchCommitter``: a counter snapshot per batch, marker last, replay
short-circuit, crash-cushion pruning).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_connector_spark.streaming.commit import BatchCommitter, foreach_batch


class StreamingDriftMonitor:
    """foreachBatch applier accumulating the observed histogram; ``psi()``
    scores it against the reference sample captured at construction
    time (``set_reference``)."""

    def __init__(
        self,
        state_dir: str,
        col: str,
        lo: float,
        hi: float,
        bins: int = 10,
    ) -> None:
        if bins < 1:
            raise ValueError(f"bins must be >= 1, got {bins}")
        if not hi > lo:
            raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
        self.state_dir = state_dir
        self.col = col
        self.lo = lo
        self.hi = hi
        self.bins = bins
        self.width = (hi - lo) / bins
        self.committer = BatchCommitter(state_dir, ("hist",))

    # -- binning (the histogram_numeric / PSI expression) ---------------------

    def _bin(self) -> F.Column:
        raw = F.floor((F.col(self.col).cast("double") - F.lit(self.lo)) / F.lit(self.width))
        return F.least(F.greatest(raw, F.lit(0)), F.lit(self.bins - 1)).cast("int")

    def _counts(self, df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col(self.col).isNotNull())
            .groupBy(self._bin().alias("bin"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    # -- reference -------------------------------------------------------------

    def _ref_dir(self) -> str:
        return os.path.join(self.state_dir, "reference")

    def set_reference(self, df: DataFrame) -> None:
        """Freeze the expected distribution (binned counts of a reference
        sample). Write-once: refusing to silently re-baseline is the
        point of a drift monitor — delete the state dir to re-arm."""
        if os.path.isdir(self._ref_dir()):
            raise ValueError(
                f"reference already set under {self._ref_dir()} — "
                "a drift monitor must not silently re-baseline"
            )
        self._counts(df).write.parquet(self._ref_dir())

    def committed_batch_ids(self) -> list[int]:
        return self.committer.committed()

    # -- the applier -----------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committer.done(batch_id):
            return  # replayed batch — already committed
        add = self._counts(batch_df)
        prev = self.committer.read_latest(batch_df.sparkSession, "hist")
        merged = (
            add.unionByName(prev).groupBy("bin").agg(F.sum("cnt").alias("cnt"))
            if prev is not None
            else add
        )
        merged.write.mode("overwrite").parquet(self.committer.dir("hist", batch_id))
        self.committer.commit(batch_id)

    # -- lifecycle ---------------------------------------------------------------

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ) -> StreamingQuery:
        return foreach_batch(stream, self.process_batch, checkpoint_dir, available_now)

    # -- queries over the state ----------------------------------------------

    def histogram(self, spark) -> DataFrame:
        out = self.committer.read_latest(spark, "hist")
        if out is None:
            raise ValueError(f"no committed batches under {self.state_dir}")
        return out

    def psi(self, spark) -> DataFrame:
        """One row (n_expected, n_actual, psi): the observed histogram
        against the frozen reference, with EXACTLY the batch
        ``population_stability`` arithmetic (Laplace smoothing over the
        full bin spine, round-12 terms, DECIMAL sum) — the streaming and
        batch readouts are the same number on the same data."""
        if not os.path.isdir(self._ref_dir()):
            raise ValueError("no reference set — call set_reference first")
        ref = spark.read.parquet(self._ref_dir())
        cur = self.histogram(spark)
        spine = spark.range(self.bins).select(F.col("id").cast("int").alias("bin"))
        filled = (
            spine.join(ref.withColumnRenamed("cnt", "__e"), "bin", "left")
            .join(cur.withColumnRenamed("cnt", "__a"), "bin", "left")
            .select(
                "bin",
                F.coalesce(F.col("__e"), F.lit(0)).alias("__e"),
                F.coalesce(F.col("__a"), F.lit(0)).alias("__a"),
            )
        )
        tot = filled.agg(F.sum("__e").alias("__ne"), F.sum("__a").alias("__na"))
        p = (F.col("__e") + 1).cast("double") / (F.col("__ne") + self.bins).cast("double")
        q = (F.col("__a") + 1).cast("double") / (F.col("__na") + self.bins).cast("double")
        term = F.round((p - q) * F.log(p / q), 12).cast("decimal(38,12)")
        return filled.join(F.broadcast(tot)).agg(
            F.any_value("__ne").alias("n_expected"),
            F.any_value("__na").alias("n_actual"),
            F.round(F.sum(term).cast("double"), 6).alias("psi"),
        )

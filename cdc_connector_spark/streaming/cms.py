"""Streaming Count-Min-Sketch: a continuously-maintained heavy-hitter
monitor over a CDC/event stream.

CMS is LINEAR — sketch(A ∪ B) = sketch(A) + sketch(B) cell-by-cell — so
incremental maintenance is exact, not approximate-on-approximate: each
micro-batch's ``depth × width`` cell counts simply ADD into the persisted
counter table (``ops/sketch.py::cms_counters`` semantics, bit-identical
hashes). The state is the counter table itself: ≤ depth·width rows
FOREVER, regardless of stream volume or key cardinality — the property
that makes a heavy-hitter monitor viable where a per-key exact count
table (the ``StreamingGapMonitor``'s islands analogue) would grow with
distinct keys.

Exactly-once by the marker commit of ``streaming/commit.py``: batch N's
merged counters write to ``counters_batch=N`` and ``BatchCommitter``
marks, replay-skips and prunes them.

Estimates never under-count (cells only add), and because the hashes are
the portable salted md5 fold the persisted table is auditable by ANY
engine — the same property the batch entry value-verifies.

Candidate keys come from the CALLER (``estimate``) — the sketch stores no
keys by design; a production monitor probes it with a rolling candidate
set (e.g. this batch's keys, an allowlist, a complaint queue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_connector_spark.ops.sketch import cms_counters, portable_hash60
from cdc_connector_spark.streaming.commit import BatchCommitter, foreach_batch


class StreamingCMS:
    """foreachBatch applier maintaining the CMS counter table across
    micro-batches. See the module header for semantics."""

    def __init__(
        self,
        state_dir: str,
        key_col: str,
        depth: int = 4,
        width: int = 64,
    ) -> None:
        self.state_dir = state_dir
        self.key_col = key_col
        self.depth = depth
        self.width = width
        self.committer = BatchCommitter(state_dir, ("counters",))

    def committed_batch_ids(self) -> list[int]:
        return self.committer.committed()

    # -- the applier -----------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committer.done(batch_id):
            return  # replayed batch — already committed
        add = cms_counters(batch_df, self.key_col, self.depth, self.width)
        prev = self.committer.read_latest(batch_df.sparkSession, "counters")
        merged = (
            add.unionByName(prev).groupBy("row_idx", "pos").agg(
                F.sum("cnt").alias("cnt")
            )
            if prev is not None
            else add
        )
        merged.write.mode("overwrite").parquet(self.committer.dir("counters", batch_id))
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

    def counters(self, spark) -> DataFrame:
        out = self.committer.read_latest(spark, "counters")
        if out is None:
            raise ValueError(f"no committed batches under {self.state_dir}")
        return out

    def estimate(self, keys: DataFrame, key_col: str | None = None) -> DataFrame:
        """(key, est) for each candidate key — min over the sketch's rows,
        never an under-count. ``keys`` is the caller's candidate set
        (distinct'd here); the counter table broadcasts."""
        kc = key_col or self.key_col
        spark = keys.sparkSession
        cand = (
            keys.filter(F.col(kc).isNotNull())
            .select(F.col(kc).cast("string").alias("key"))
            .distinct()
        )
        probes = cand.select(
            "key",
            F.posexplode(
                F.array(
                    *[
                        F.pmod(
                            portable_hash60(F.col("key"), salt=str(i)),
                            F.lit(self.width),
                        )
                        for i in range(self.depth)
                    ]
                )
            ).alias("row_idx", "pos"),
        )
        # LEFT join: a probe position with no counter row is a ZERO cell
        # (an inner join would silently take the min over fewer rows and
        # over-report never-seen keys whose other positions collide)
        return (
            probes.join(F.broadcast(self.counters(spark)), ["row_idx", "pos"], "left")
            .groupBy("key")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
        )

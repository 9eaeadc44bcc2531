"""Incremental connected components: maintain a (node → component) index
as edge batches arrive — the streaming half of entity resolution / dedup
grouping (``ops/components.py`` computes the batch answer; this keeps it
CURRENT as CDC streams deliver new match pairs, without recomputing the
corpus graph).

Design — union-find realized in two tables (the whole 100 TB argument):

- **labels** (append-only): one (id, comp) row per node, written ONCE at
  the batch where the node first appears, with the component that was
  canonical at that moment. Never rewritten — per-batch label writes are
  O(new nodes), not O(|V|).
- **alias** (small, rewritten per batch): (comp → canon) for every
  component id that has since been merged away — the path-compressed
  union-find forest, FLAT by construction (a canon never appears as an
  alias key; each batch composes new merges into every existing entry),
  so resolution is ONE left join, never an iterative chase. Its size is
  the number of merged-away components, not nodes.

Per batch: resolve the Δ-edges' endpoints through labels+alias, build the
QUOTIENT graph over current canons (|Δ|-bounded — only components the
batch touches), run the batch CC on that small graph, fold the resulting
merges into the alias, append only the genuinely-new nodes. Canonical
labels stay "minimum reachable node id" by induction (merging components
whose canons are min-ids picks the min of the canons).

Exactly-once by the marker commit of ``streaming/commit.py``: batch N's
label delta and alias snapshot land in ``labels_batch=N`` and
``alias_batch=N``, then ``BatchCommitter`` marks the batch; replays
short-circuit; superseded alias snapshots are pruned (previous kept as the
crash cushion), label deltas accumulate by design (each holds distinct
nodes — compact with an ordinary parquet rewrite if dir count ever
matters).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_connector_spark.ops.components import connected_components
from cdc_connector_spark.streaming.commit import BatchCommitter, foreach_batch

_LABEL_SCHEMA = "id long, comp long"
_ALIAS_SCHEMA = "comp long, canon long"


class IncrementalComponents:
    """foreachBatch applier maintaining the component index across edge
    micro-batches. See the module header for the two-table design."""

    def __init__(self, state_dir: str, id_a: str = "id_a", id_b: str = "id_b") -> None:
        self.state_dir = state_dir
        self.id_a = id_a
        self.id_b = id_b
        self.committer = BatchCommitter(state_dir, ("alias",))

    def committed_batch_ids(self) -> list[int]:
        return self.committer.committed()

    def _labels(self, spark, upto: list[int]) -> DataFrame:
        dirs = [d for b in upto if os.path.isdir(d := self.committer.dir("labels", b))]
        if not dirs:
            return spark.createDataFrame([], _LABEL_SCHEMA)
        return spark.read.parquet(*dirs)

    def _alias(self, spark, upto: list[int]) -> DataFrame:
        for b in reversed(upto):
            if os.path.isdir(d := self.committer.dir("alias", b)):
                return spark.read.parquet(d)
        return spark.createDataFrame([], _ALIAS_SCHEMA)

    # -- the applier -----------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committer.done(batch_id):
            return  # replayed batch — already committed
        spark = batch_df.sparkSession
        done = self.committed_batch_ids()
        labels = self._labels(spark, done)
        alias = self._alias(spark, done)

        e = (
            batch_df.select(
                F.col(self.id_a).cast("long").alias("a"),
                F.col(self.id_b).cast("long").alias("b"),
            )
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
            .distinct()
            .localCheckpoint(eager=True)
        )
        nodes = (
            e.select(F.col("a").alias("id"))
            .unionByName(e.select(F.col("b").alias("id")))
            .distinct()
        )
        # resolve endpoints: insert-time comp (or self for new ids), then
        # ONE alias hop (flatness invariant makes one hop complete)
        resolved = (
            nodes.join(labels, "id", "left")
            .withColumn("__c0", F.coalesce(F.col("comp"), F.col("id")))
            .join(
                alias.withColumnRenamed("comp", "__c0"),
                "__c0",
                "left",
            )
            .select(
                "id",
                F.col("comp").isNotNull().alias("__known"),
                F.coalesce(F.col("canon"), F.col("__c0")).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
        ra = resolved.select(F.col("id").alias("a"), F.col("c").alias("ca"))
        rb = resolved.select(F.col("id").alias("b"), F.col("c").alias("cb"))
        quotient = (
            e.join(ra, "a").join(rb, "b").filter(F.col("ca") != F.col("cb"))
            .select("ca", "cb")
            .distinct()
        )
        if quotient.isEmpty():
            merges = spark.createDataFrame([], "old long, new long")
        else:
            merges = (
                connected_components(quotient, "ca", "cb")
                .filter(F.col("id") != F.col("comp"))
                .select(F.col("id").alias("old"), F.col("comp").alias("new"))
            )
        merges = merges.localCheckpoint(eager=True)

        # alias': existing entries re-pointed through the new merges
        # (path compression), plus the merges themselves. Key sets are
        # disjoint — merge keys are CURRENT canons, alias keys never are.
        m_for_alias = merges.withColumnRenamed("old", "canon")
        new_alias = (
            alias.join(m_for_alias, "canon", "left")
            .select("comp", F.coalesce(F.col("new"), F.col("canon")).alias("canon"))
            .unionByName(merges.select(F.col("old").alias("comp"), F.col("new").alias("canon")))
        )
        new_nodes = (
            resolved.filter(~F.col("__known"))
            .join(merges.withColumnRenamed("old", "c"), "c", "left")
            .select("id", F.coalesce(F.col("new"), F.col("c")).alias("comp"))
        )
        new_nodes.write.mode("overwrite").parquet(self.committer.dir("labels", batch_id))
        new_alias.write.mode("overwrite").parquet(self.committer.dir("alias", batch_id))
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

    def components(self, spark) -> DataFrame:
        """Current (id, comp) — labels resolved through ONE alias hop."""
        done = self.committed_batch_ids()
        if not done:
            raise ValueError(f"no committed batches under {self.state_dir}")
        labels = self._labels(spark, done)
        alias = self._alias(spark, done)
        return (
            labels.withColumnRenamed("comp", "__c0")
            .join(alias.withColumnRenamed("comp", "__c0"), "__c0", "left")
            .select("id", F.coalesce(F.col("canon"), F.col("__c0")).alias("comp"))
        )

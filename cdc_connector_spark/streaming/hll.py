"""Streaming HyperLogLog distinct-count monitor — the third leg of the
bounded-state monitoring triad (``StreamingCMS`` = frequencies,
``StreamingKMV`` = distincts + set overlap, this = distincts at a
memory point KMV can't reach: 2^p registers ≈ 256 rows per group vs
k=64-1024 hash rows, with relative error ~1.04/sqrt(2^p) independent
of cardinality).

HLL registers are MAX-mergeable — regs(A ∪ B) is the per-(grp, bucket)
MAX of regs(A) and regs(B) — so each micro-batch's register table
merges into the persisted state exactly (``ops/sketch.py::hll_merge``);
after any number of batches the state equals the one-shot sketch
register-for-register (pinned by ``tests/test_streaming_hll.py``).

State is |groups| × 2^p rows FOREVER. Exactly-once by the marker
commit of ``streaming/commit.py`` (``BatchCommitter``). Hashes are the portable
60-bit md5 fold, so the persisted registers — and estimates — audit in
any engine (``hll_stream_merge_orders`` value-verifies the batch merge
chain against DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from cdc_connector_spark.ops.sketch import hll_estimate, hll_merge, hll_registers
from cdc_connector_spark.streaming.commit import BatchCommitter, foreach_batch


class StreamingHLL:
    """foreachBatch applier maintaining the per-group HLL register table
    across micro-batches. See the module header for semantics."""

    def __init__(
        self,
        state_dir: str,
        key_col: str,
        group_col: str,
        p: int = 8,
    ) -> None:
        self.state_dir = state_dir
        self.key_col = key_col
        self.group_col = group_col
        self.p = p
        self.committer = BatchCommitter(state_dir, ("registers",))

    def committed_batch_ids(self) -> list[int]:
        return self.committer.committed()

    # -- the applier ------------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committer.done(batch_id):
            return  # replayed batch — already committed
        add = hll_registers(batch_df, self.key_col, self.group_col, p=self.p)
        prev = self.committer.read_latest(batch_df.sparkSession, "registers")
        merged = hll_merge([add, prev]) if prev is not None else add
        merged.select("grp", "bucket", "mreg").write.mode("overwrite").parquet(
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

    def registers(self, spark) -> DataFrame:
        out = self.committer.read_latest(spark, "registers")
        if out is None:
            raise ValueError(f"no committed HLL state under {self.state_dir}")
        return out

    def estimates(self, spark) -> DataFrame:
        """Per-group distinct-count estimates from the persisted register
        state — estimate ONLY (production shape)."""
        return hll_estimate(self.registers(spark), p=self.p)

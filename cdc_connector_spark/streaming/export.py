"""Streaming training-data export: the last pipeline mile, continuous.

``StreamingCorpusDedup`` keeps the corpus clean as batches arrive; this
module turns the accepted stream into the artifact a trainer reads —
vocab-id sequences in shard-partitioned parquet — without a batch rebuild:

    readStream → foreachBatch: encode under a PINNED vocabulary →
    deterministic shard assignment (``corpus.shard_plan``) → per-batch
    shard-partitioned append → marker commit

Exactly-once by the marker commit of ``streaming/commit.py``: each batch
writes its output under ``data/batch=<id>/`` with mode=overwrite, then
``BatchCommitter`` commits its marker; a replayed batch short-circuits on
the marker, and a crash between write and marker re-overwrites the same
directory — readers see only marker-committed batches (``exported``).
The ``data/batch=*`` outputs are append-only and never pruned.

The vocabulary is a BUILD ARTIFACT, pinned at ``_vocab`` on first start
(the tokenizer-pinning rule: re-deriving it per batch would silently
renumber ids mid-stream); restarts reload the pinned copy and ignore the
constructor argument.

Ordering contract: ``shard_plan`` positions are per-(batch, shard) — a
global cross-batch position is impossible incrementally (a later batch
cannot renumber committed files). The total read order is
(shard, batch_id, pos): deterministic, append-only, and shard-local like
every streaming-friendly export layout.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_connector_spark.streaming.commit import BatchCommitter, foreach_batch


class StreamingTrainingExport:
    def __init__(
        self,
        spark,
        out_dir: str,
        vocab: DataFrame | None = None,
        n_shards: int = 8,
        text_col: str = "text",
        id_col: str = "doc_id",
        min_tokens: int = 1,
    ) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.n_shards = n_shards
        self.text_col = text_col
        self.id_col = id_col
        self.min_tokens = min_tokens
        self.stats: list[dict] = []
        self.committer = BatchCommitter(out_dir)
        vocab_path = os.path.join(out_dir, "_vocab")
        if os.path.exists(vocab_path):
            self.vocab = spark.read.parquet(vocab_path)
        else:
            if vocab is None:
                raise ValueError(
                    f"no pinned vocabulary at {vocab_path}: pass `vocab` on the "
                    "first start (build_vocab on the bootstrap corpus)"
                )
            os.makedirs(out_dir, exist_ok=True)
            vocab.write.mode("overwrite").parquet(vocab_path)
            self.vocab = spark.read.parquet(vocab_path)

    def committed_batch_ids(self) -> list[int]:
        return self.committer.committed()

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committer.done(batch_id):
            return  # replay after restart: batch already committed
        from cdc_connector_spark.ops.corpus import shard_plan
        from cdc_connector_spark.ops.textstats import encode_with_vocab

        t0 = time.monotonic()
        enc = encode_with_vocab(
            batch_df, self.vocab, text_col=self.text_col, id_col=self.id_col
        ).filter(F.col("n_tokens") >= self.min_tokens)
        planned = shard_plan(enc, self.n_shards, key_col=self.id_col).persist()
        try:
            n_docs = planned.count()  # one materialization serves stats AND write
            out = os.path.join(self.out_dir, "data", f"batch={batch_id}")
            (
                planned.repartition(self.n_shards, F.col("shard"))
                .sortWithinPartitions("shard", "pos")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(out)
            )
        finally:
            planned.unpersist()
        stat = {
            "batch_id": batch_id,
            "exported_docs": n_docs,
            "seconds": round(time.monotonic() - t0, 3),
        }
        os.makedirs(os.path.join(self.out_dir, "_stats"), exist_ok=True)
        with open(os.path.join(self.out_dir, "_stats", f"{batch_id}.json"), "w") as fh:
            json.dump(stat, fh)
        self.stats.append(stat)
        self.committer.commit(batch_id)

    def start(self, stream_df: DataFrame, checkpoint_dir: str, trigger_once: bool = True):
        return foreach_batch(stream_df, self.process_batch, checkpoint_dir, trigger_once)

    def exported(self) -> DataFrame:
        """All marker-committed exported docs: (id, n_tokens, token_ids,
        shard, pos, batch_id) — a crashed, uncommitted batch directory is
        invisible here. Raises (with a clear message) before the first
        commit, matching the ``accepted()`` convention of the dedup
        loops."""
        committed = self.committed_batch_ids()
        data_dir = os.path.join(self.out_dir, "data")
        if not committed or not os.path.isdir(data_dir):
            raise ValueError(f"no committed export batches under {self.out_dir}")
        df = self.spark.read.option("basePath", data_dir).parquet(data_dir)
        return df.filter(F.col("batch").isin(committed)).withColumnRenamed(
            "batch", "batch_id"
        )

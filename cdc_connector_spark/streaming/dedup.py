"""Streaming corpus dedup: dedupe an ARRIVING document stream against the
documents already accepted, at index-probe cost.

This is the ingest loop of a training-data pipeline at 100 TB: the corpus
index is built once, and each micro-batch of new documents is (1) deduped
within itself, (2) probed against the persisted MinHash-LSH index
(O(batch), never O(corpus) — see ``ops.dedup.minhash_index_lookup``), and
(3) only the novel survivors are appended to the index and emitted. The
reference has no streaming dedup plane; this extends its validation/
changelog streaming model (SURVEY.md §3.2) to the LLM-corpus operators the
brief adds as first-class.

Two entry points:

- ``exact_dedup_stream``: pure Structured Streaming — fingerprint +
  ``dropDuplicatesWithinWatermark``. State is bounded by the watermark
  delay; the right shape when "duplicate" means byte-identical (after
  normalization) and dups arrive close together in event time.
- ``StreamingCorpusDedup``: a ``foreachBatch`` applier for NEAR-dup
  semantics against the full accepted corpus (no time bound). State lives
  in the persisted index on shared storage, not in Spark state — restart
  cheap, corpus unbounded.

Effective exactly-once (ST1 analogue): each batch commits a marker
(``streaming/commit.py``'s ``BatchCommitter``) AFTER its output + index
append land; a replayed batch (restart mid-batch) is skipped if the marker
exists. Outputs (``batch=<id>``) and index appends are never pruned. A
crash between the index append and the marker can leave duplicate index
rows for one batch; ``minhash_index_lookup``
collapses duplicate candidate pairs, and the post-verify output is
``dropDuplicates`` on (new_id, corpus_id), so replay never changes query
results — at-least-once append + dedup-on-read = exactly-once effect.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_connector_spark.ops.dedup import (
    minhash_index_lookup,
    minhash_index_write,
    minhash_verified_pairs,
)
from cdc_connector_spark.ops.textstats import fingerprint
from cdc_connector_spark.streaming.commit import BatchCommitter, foreach_batch


def exact_dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each normalized-text
    fingerprint wins; later copies within the watermark window are dropped.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes the key's last-seen event time, so state is
    O(distinct fingerprints per delay window) — bounded — instead of
    O(corpus) as plain streaming ``dropDuplicates`` would be. Use
    ``StreamingCorpusDedup`` when dups can arrive arbitrarily late or
    "duplicate" means near-dup.
    """
    return (
        stream.withColumn("__fp", fingerprint(text_col))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )


class _DedupLoop:
    """What both dedup loops share: per-batch outputs ``<out_dir>/batch=<id>``,
    the ``_stats`` journal, the marker commit and the stream wiring."""

    def __init__(self, index_path: str, out_dir: str) -> None:
        self.index_path = index_path
        self.out_dir = out_dir
        self.stats: list[dict] = []  # in-session journal, mirrors _stats files
        self.committer = BatchCommitter(out_dir)

    def committed_batch_ids(self) -> list[int]:
        return self.committer.committed()

    def _out(self, batch_id: int) -> str:
        return os.path.join(self.out_dir, f"batch={batch_id}")

    def _journal_and_commit(self, stat: dict) -> None:
        os.makedirs(os.path.join(self.out_dir, "_stats"), exist_ok=True)
        with open(os.path.join(self.out_dir, "_stats", f"{stat['batch_id']}.json"), "w") as fh:
            json.dump(stat, fh)
        self.stats.append(stat)
        self.committer.commit(stat["batch_id"])

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ) -> StreamingQuery:
        return foreach_batch(stream, self.process_batch, checkpoint_dir, available_now)

    def accepted(self, spark) -> DataFrame:
        """All documents accepted so far (union of committed batch outputs).
        Dirs with no parquet footers (an empty trigger, or a batch that
        kept zero docs) are skipped — schema inference needs at least one
        footer, and an all-empty read should say so explicitly."""
        dirs = [
            d
            for b in self.committed_batch_ids()
            if os.path.isdir(d := self._out(b))
            and any(n.endswith(".parquet") for n in os.listdir(d))
        ]
        if not dirs:
            raise ValueError(f"no non-empty committed batches under {self.out_dir}")
        return spark.read.parquet(*dirs)


class StreamingCorpusDedup(_DedupLoop):
    """foreachBatch applier: exact + near-dup dedup of a document stream
    against itself and the persisted corpus index.

    Per micro-batch:

    1. exact in-batch dedup — one survivor per fingerprint (min id wins,
       deterministic under replay)
    2. near-dup in-batch dedup — ``minhash_verified_pairs`` on the batch;
       any doc whose exact Jaccard to a LOWER-id batch doc clears the
       threshold is dropped (greedy earliest-wins, the standard corpus rule)
    3. corpus probe — ``minhash_index_lookup`` against ``index_path``; any
       doc matching an already-accepted doc is dropped
    4. survivors are written to ``<out_dir>/batch=<id>`` (overwrite —
       idempotent) and appended to the index; the first batch bootstraps
       the index (mode="overwrite")

    Every drop is counted and journaled to ``<out_dir>/_stats/<id>.json``
    so ingest observability matches the validation plane's check-report
    shape (reference: tests/validation.py summary rows).
    """

    def __init__(
        self,
        index_path: str,
        out_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        jaccard_threshold: float = 0.5,
        num_hashes: int = 64,
        bands: int = 32,
        shingle_n: int = 3,
        max_bucket: int = 4000,
    ) -> None:
        super().__init__(index_path, out_dir)
        self.text_col = text_col
        self.id_col = id_col
        self.jaccard_threshold = jaccard_threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.max_bucket = max_bucket

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committer.done(batch_id):
            return  # replay after restart — batch already fully committed
        t0 = time.monotonic()
        tc, ic = self.text_col, self.id_col
        batch = batch_df.persist()
        extra_persisted = []
        try:
            n_in = batch.count()
            if n_in == 0:
                # idle trigger: commit the marker and skip the MinHash
                # machinery — once an index exists, the corpus probe
                # aggregates the ENTIRE stored bands table even for zero
                # input rows (r11 review; the semantic twin already
                # short-circuits)
                self.committer.commit(batch_id)
                return

            # 1. exact in-batch: min id per fingerprint
            w = Window.partitionBy(fingerprint(tc)).orderBy(F.col(ic).asc())
            uniq = (
                batch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
                .persist()
            )
            extra_persisted.append(uniq)
            n_uniq = uniq.count()

            # 2. near-dup in-batch: drop the HIGHER id of every verified pair
            pairs = minhash_verified_pairs(
                uniq, tc, ic,
                num_hashes=self.num_hashes, bands=self.bands,
                shingle_n=self.shingle_n,
                jaccard_threshold=self.jaccard_threshold,
                max_bucket=self.max_bucket,
            )
            drop_in_batch = pairs.select(
                F.greatest("id_a", "id_b").alias(ic)
            ).dropDuplicates([ic])
            novel_in_batch = uniq.join(drop_in_batch, ic, "left_anti").persist()
            extra_persisted.append(novel_in_batch)
            n_novel_in_batch = novel_in_batch.count()

            # 3. corpus probe (skip on the bootstrap batch — no index yet)
            have_index = os.path.exists(os.path.join(self.index_path, "_META"))
            if have_index:
                matches = minhash_index_lookup(
                    novel_in_batch, self.index_path, tc, ic,
                    jaccard_threshold=self.jaccard_threshold,
                    max_bucket=self.max_bucket,
                )
                drop_corpus = matches.select(
                    F.col("new_id").alias(ic)
                ).dropDuplicates([ic])
                survivors = novel_in_batch.join(drop_corpus, ic, "left_anti")
            else:
                survivors = novel_in_batch
            survivors = survivors.persist()
            extra_persisted.append(survivors)
            n_kept = survivors.count()

            # 4. commit: output (idempotent overwrite), index append, marker
            survivors.write.mode("overwrite").parquet(self._out(batch_id))
            if n_kept:
                minhash_index_write(
                    survivors, self.index_path, tc, ic,
                    num_hashes=self.num_hashes, bands=self.bands,
                    shingle_n=self.shingle_n,
                    mode="append" if have_index else "overwrite",
                )
            self._journal_and_commit(
                {
                    "batch_id": batch_id,
                    "n_in": n_in,
                    "dropped_exact": n_in - n_uniq,
                    "dropped_neardup_in_batch": n_uniq - n_novel_in_batch,
                    "dropped_vs_corpus": n_novel_in_batch - n_kept,
                    "kept": n_kept,
                    "seconds": round(time.monotonic() - t0, 3),
                }
            )
        finally:
            batch.unpersist()
            for df in extra_persisted:
                df.unpersist()


class StreamingSemanticDedup(_DedupLoop):
    """foreachBatch applier: SEMANTIC (embedding-cosine) dedup of a vector
    stream against itself and the persisted SemDedup index — the embedding
    twin of ``StreamingCorpusDedup``, with the k-means cluster layout
    (``ops.cluster.semdedup_index_*``) playing the MinHash index's role.

    Per micro-batch:

    1. bootstrap: the first batch fits k-means on itself and builds the
       index; later batches assign under the centroids PINNED in ``_META``
       (cluster boundaries never shift under the existing layout)
    2. in-batch near-dup — ``pairs_within_clusters`` on the batch's own
       assignment; the higher id of each cosine≥threshold pair drops
       (greedy earliest-wins)
    3. corpus probe — ``semdedup_index_lookup``: any batch vector matching
       an accepted corpus vector drops; cost is O(batch + probed cluster
       partitions), never O(corpus)
    4. survivors land in ``<out_dir>/batch=<id>`` (idempotent overwrite)
       and append to the index; a marker commits the batch

    Same effective-exactly-once contract as the MinHash loop: replayed
    batches are skipped on marker, and a crash between append and marker
    only re-appends rows whose matches collapse at lookup (duplicate pairs
    dedup on read).
    """

    def __init__(
        self,
        index_path: str,
        out_dir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 8,
        iters: int = 3,
        threshold: float = 0.95,
        max_cluster: int = 100_000,
    ) -> None:
        super().__init__(index_path, out_dir)
        self.id_col = id_col
        self.vec_col = vec_col
        self.k = k
        self.iters = iters
        self.threshold = threshold
        self.max_cluster = max_cluster

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import json as _json

        import numpy as np

        from cdc_connector_spark.ops.cluster import (
            kmeans_assign,
            kmeans_fit,
            pairs_within_clusters,
            semdedup_index_lookup,
            semdedup_index_write,
        )

        if self.committer.done(batch_id):
            return
        t0 = time.monotonic()
        ic, vc = self.id_col, self.vec_col
        batch = batch_df.persist()
        extra_persisted = []
        try:
            n_in = batch.count()
            if n_in == 0:
                # marker implies output dir exists — keep that invariant for
                # empty triggers too (accepted() additionally skips dirs
                # with no parquet footers)
                batch.write.mode("overwrite").parquet(self._out(batch_id))
                self.committer.commit(batch_id)
                return
            have_index = os.path.exists(os.path.join(self.index_path, "_META"))
            if have_index:
                with open(os.path.join(self.index_path, "_META")) as fh:
                    meta = _json.load(fh)
                C = np.asarray(meta["centroids"], dtype=np.float64)
                # append under the index's OWN (k, iters): a bootstrap batch
                # smaller than self.k legally builds a smaller index
                idx_k, idx_iters = meta["k"], meta["iters"]
            else:
                idx_k, idx_iters = min(self.k, n_in), self.iters
                C = kmeans_fit(batch, idx_k, idx_iters, ic, vc)
            assigned = kmeans_assign(batch, C, ic, vc, keep_vec=True).persist()
            extra_persisted.append(assigned)

            # in-batch: drop the higher id of every within-cluster pair
            pairs = pairs_within_clusters(
                assigned, self.threshold, ic, vc, self.max_cluster
            )
            drop_in_batch = pairs.select(
                F.greatest("id_a", "id_b").alias(ic)
            ).dropDuplicates([ic])
            novel = batch.join(drop_in_batch, ic, "left_anti").persist()
            extra_persisted.append(novel)
            n_novel = novel.count()

            # corpus probe (skip on bootstrap); the probe REUSES the held
            # batch assignment (restricted to novel ids) so the kernel
            # never runs twice
            if have_index:
                novel_assigned = assigned.join(
                    novel.select(ic), ic, "left_semi"
                )
                matches = semdedup_index_lookup(
                    novel, self.index_path, self.threshold, ic, vc,
                    self.max_cluster, assigned=novel_assigned,
                )
                drop_corpus = matches.select(
                    F.col("batch_id").alias(ic)
                ).dropDuplicates([ic])
                survivors = novel.join(drop_corpus, ic, "left_anti")
            else:
                survivors = novel
            survivors = survivors.persist()
            extra_persisted.append(survivors)
            n_kept = survivors.count()

            survivors.write.mode("overwrite").parquet(self._out(batch_id))
            if n_kept:
                semdedup_index_write(
                    survivors, self.index_path, idx_k, idx_iters, ic, vc,
                    mode="append" if have_index else "overwrite",
                    centroids=None if have_index else C,
                )
            self._journal_and_commit(
                {
                    "batch_id": batch_id,
                    "n_in": n_in,
                    "dropped_in_batch": n_in - n_novel,
                    "dropped_vs_corpus": n_novel - n_kept,
                    "kept": n_kept,
                    "seconds": round(time.monotonic() - t0, 3),
                }
            )
        finally:
            batch.unpersist()
            for df in extra_persisted:
                df.unpersist()

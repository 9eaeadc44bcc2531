"""End-to-end user journey — the reference's full operating cycle on this
engine (SURVEY.md §3): bulk migrate → stream change events → validate →
detect injected drift. One test, the whole switch-over story."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_connector_spark.changelog.envelope import envelope_schema
from cdc_connector_spark.changelog.txlog import TxLogMergeSink
from cdc_connector_spark.snapshot.cli import main as migrate_main
from cdc_connector_spark.streaming.pipeline import ChangelogStream
from cdc_connector_spark.validation.drift_cli import main as drift_main
from cdc_connector_spark.validation.runner import main as validate_main

SF = "/root/testdata/sf0.001"


def test_full_cycle(spark, tmp_path):
    sink_root = str(tmp_path / "warehouse")

    # 1) bulk migration (migrate_v3 analogue): orders into the warehouse
    assert migrate_main(
        ["--source-root", SF, "--database", "tpch", "--tables", "orders", "--sink-root", sink_root]
    ) == 0
    migrated = spark.read.parquet(f"{sink_root}/tpch_orders")
    n0 = migrated.count()
    assert n0 == 1500

    # 2) switch to streaming: bootstrap merge sink from the snapshot, apply
    #    a change stream (update + delete + insert)
    row_schema = T.StructType([f for f in migrated.schema.fields])
    merge_sink = TxLogMergeSink(spark, str(tmp_path / "merged/orders"), ["o_orderkey"], num_buckets=8)
    merge_sink.overwrite(migrated)

    some = migrated.orderBy("o_orderkey").limit(2).collect()
    upd, dele = some[0].asDict(), some[1].asDict()
    upd_after = dict(upd, o_totalprice=999999.0)
    new = dict(upd, o_orderkey=9_999_999, o_totalprice=1.0)

    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    spark.createDataFrame(
        [
            (upd, upd_after, "u", 100, "tpch", "orders", 1),
            (dele, None, "d", 101, "tpch", "orders", 2),
            (None, new, "c", 102, "tpch", "orders", 3),
        ],
        envelope_schema(row_schema),
    ).coalesce(1).write.mode("append").parquet(str(src_dir))

    stream = ChangelogStream(
        spark, str(src_dir), merge_sink, row_schema, ["o_orderkey"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    stream.run_until_caught_up(timeout_s=120)

    merged = merge_sink.read()
    assert merged.count() == n0  # +1 insert −1 delete
    assert merged.filter(F.col("o_orderkey") == upd["o_orderkey"]).first()["o_totalprice"] == 999999.0
    assert merged.filter(F.col("o_orderkey") == dele["o_orderkey"]).count() == 0

    # 3) validation: compare the merged sink against the EXPECTED final state
    expected = (
        migrated.filter(F.col("o_orderkey") != dele["o_orderkey"])
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == upd["o_orderkey"], 999999.0).otherwise(F.col("o_totalprice")),
        )
        .unionByName(spark.createDataFrame([new], row_schema))
    )
    vroot_src, vroot_sink = str(tmp_path / "vsrc"), str(tmp_path / "vsink")
    expected.write.parquet(f"{vroot_src}/orders")
    merged.write.parquet(f"{vroot_sink}/orders")
    assert validate_main(
        ["--source-root", vroot_src, "--sink-root", vroot_sink, "--tables", "orders:o_orderkey"]
    ) == 0

    # 4) inject drift (duplicates) and prove both tools catch it
    merged.union(merged.limit(5)).write.mode("overwrite").parquet(f"{vroot_sink}/orders")
    assert validate_main(
        ["--source-root", vroot_src, "--sink-root", vroot_sink, "--tables", "orders:o_orderkey"]
    ) == 1
    assert drift_main(
        ["--source-root", vroot_src, "--sink-root", vroot_sink, "--table", "orders", "--pk", "o_orderkey"]
    ) == 1


def test_llm_training_export_journey(spark, tmp_path):
    """The LLM-pipeline counterpart of the migration cycle: raw documents →
    cleaned/packed pretraining corpus → vocab-id encoding → deterministic
    shard export — the artifact a training data loader actually reads."""
    import glob

    from cdc_connector_spark.ops.corpus import shard_plan, write_training_shards
    from cdc_connector_spark.ops.pipeline import pretrain_corpus
    from cdc_connector_spark.ops.textstats import build_vocab, encode_with_vocab
    from cdc_connector_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    corpus = pretrain_corpus(docs, near_dup=False, pack_budget=256)
    n_kept = corpus.count()
    assert 0 < n_kept < docs.count()  # the recipe genuinely filters
    assert {"n_tokens", "seq_id", "seq_offset"} <= set(corpus.columns)

    vocab = build_vocab(corpus, min_count=2)
    enc = encode_with_vocab(corpus, vocab)
    merged = corpus.join(enc.withColumnRenamed("n_tokens", "n_enc"), "doc_id")
    # the packer's token accounting and the encoder's agree exactly
    assert merged.filter(F.col("n_tokens") != F.col("n_enc")).count() == 0

    out = str(tmp_path / "shards")
    export = merged.select("doc_id", "seq_id", "seq_offset", "token_ids")
    write_training_shards(export, out, n_shards=4)
    back = spark.read.parquet(out)
    assert back.count() == n_kept
    assert len(glob.glob(out + "/shard=*")) == 4
    # the export is bit-reproducible: same plan on a re-read of the corpus
    plan2 = shard_plan(export, n_shards=4).select("doc_id", "shard", "pos")
    assert back.select("doc_id", "shard", "pos").exceptAll(plan2).count() == 0

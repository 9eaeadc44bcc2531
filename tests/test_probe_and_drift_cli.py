"""Live round-trip probe (ST10) and drift CLI verdicts."""

from pyspark.sql import types as T

from cdc_connector_spark.changelog.txlog import TxLogMergeSink
from cdc_connector_spark.streaming.pipeline import ChangelogStream
from cdc_connector_spark.streaming.probe import LiveProbe
from cdc_connector_spark.validation.drift_cli import main as drift_main

ROW_SCHEMA = T.StructType([T.StructField("id", T.LongType()), T.StructField("val", T.StringType())])


def test_live_probe_round_trip(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["id"], num_buckets=4)
    sink.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(20)], ROW_SCHEMA))
    stream = ChangelogStream(
        spark, str(src), sink, ROW_SCHEMA, ["id"], checkpoint_dir=str(tmp_path / "ckpt")
    )
    result = LiveProbe(spark, stream, sink).run(deadline_s=120)
    assert result["propagated"], result
    assert result["marker"].startswith("CDC_TEST_")
    assert sink.count() == 20  # update, not insert


def test_drift_cli_clean_and_dirty(spark, tmp_path):
    src_root, sink_root = str(tmp_path / "s"), str(tmp_path / "k")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(50)], ROW_SCHEMA)
    df.write.parquet(f"{src_root}/t")
    df.write.parquet(f"{sink_root}/t")
    assert drift_main(["--source-root", src_root, "--sink-root", sink_root, "--table", "t", "--pk", "id"]) == 0

    # dirty sink: duplicates + an orphan key
    bad = df.union(df.limit(3)).union(spark.createDataFrame([(999, "orphan")], ROW_SCHEMA))
    bad.write.mode("overwrite").parquet(f"{sink_root}/t")
    assert drift_main(["--source-root", src_root, "--sink-root", sink_root, "--table", "t", "--pk", "id"]) == 1

"""The six reconciliation checks: PASS on a faithful sink, FAIL on each
seeded corruption (FIXTURES.md F4 negative tests)."""

import datetime

import pytest
from pyspark.sql import functions as F

from cdc_connector_spark.validation.checks import (
    FAIL,
    PASS,
    SKIP,
    WARN,
    check_distinct_pk,
    check_duplication,
    check_exists,
    check_freshness,
    check_orphans,
    check_rowcount,
    run_all_checks,
    summarize,
)
from cdc_connector_spark.validation.drift import duplicate_groups, orphan_sample, replay_window


def _src(spark, n=1000):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 7).alias("v"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("updated_at"),
    )


def test_all_checks_pass_on_identical(spark):
    src = _src(spark)
    report = run_all_checks("t", src, src, ["id"], "updated_at")
    assert report.verdict == PASS and report.cdc_consistent
    assert [r.status for r in report.results] == [PASS] * 6


def test_exists_fail_on_missing():
    assert check_exists(None).status == FAIL


def test_rowcount_thresholds(spark):
    src = _src(spark, 1000)
    assert check_rowcount(src, _src(spark, 1000)).status == PASS
    warn = check_rowcount(src, _src(spark, 995))  # 0.5% drift → WARN
    assert warn.status == WARN
    fail = check_rowcount(src, _src(spark, 900))  # 10% drift → FAIL
    assert fail.status == FAIL and fail.metrics["diff"] == 100


def test_distinct_pk_detects_missing_and_phantom(spark):
    src = _src(spark, 1000)
    missing = check_distinct_pk(src, src.filter("id < 900"), ["id"])
    assert missing.status == FAIL and missing.metrics["diff"] == -100
    phantom = check_distinct_pk(src, src.union(spark.range(1000, 1100).select(
        F.col("id"), (F.col("id") % 7).alias("v"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("updated_at"))), ["id"])
    assert phantom.status == FAIL and phantom.metrics["diff"] == 100


def test_duplication_detects_dupes_and_null_pks(spark):
    src = _src(spark, 100)
    dup_sink = src.union(src.filter("id < 5"))
    res = check_duplication(dup_sink, ["id"])
    assert res.status == FAIL and res.metrics["duplicates"] == 5

    null_sink = src.union(
        src.filter("id < 3").select(F.lit(None).cast("long").alias("id"), "v", "updated_at")
    )
    res2 = check_duplication(null_sink, ["id"])
    assert res2.status == FAIL and res2.metrics["null_pk_rows"] == 3 and res2.metrics["duplicates"] == 0


def test_orphans_anti_join(spark):
    src = _src(spark, 100)
    sink = _src(spark, 110)  # 10 keys beyond source
    res = check_orphans(src, sink, ["id"])
    assert res.status == FAIL and res.metrics["orphan_count"] == 10
    assert check_orphans(src, src, ["id"]).status == PASS


def test_freshness_slo(spark):
    src = _src(spark, 1000)  # max ts = base + 999
    fresh = check_freshness(src, src, "updated_at")
    assert fresh.status == PASS
    stale = src.filter("id < 10")  # sink max is 989 behind → 16.5 min
    res = check_freshness(src, stale, "updated_at")
    assert res.status == FAIL and res.metrics["lag_minutes"] > 15
    warn_sink = src.filter(f"id < {1000 - 13 * 60}")  # ~13 min behind → WARN band
    assert check_freshness(src, warn_sink, "updated_at").status == WARN
    assert check_freshness(src, src, None).status == SKIP


def test_freshness_numeric_epoch_ts(spark):
    """ts_col may be a bigint epoch column (the envelope's __ts_ms
    convention) — the lag must compute numerically, not crash on a missing
    .total_seconds()."""
    base_ms = 1_700_000_000_000  # epoch millis scale
    src = spark.createDataFrame([(1, base_ms + 20 * 60_000)], "id long, __ts_ms long")
    sink = spark.createDataFrame([(1, base_ms)], "id long, __ts_ms long")
    res = check_freshness(src, sink, "__ts_ms")
    assert res.status == FAIL and res.metrics["lag_minutes"] == pytest.approx(20.0)
    # epoch-seconds magnitude → divisor 1, same 20-minute lag
    src_s = spark.createDataFrame([(1, 1_700_000_000 + 20 * 60)], "id long, ts_s long")
    sink_s = spark.createDataFrame([(1, 1_700_000_000)], "id long, ts_s long")
    res_s = check_freshness(src_s, sink_s, "ts_s")
    assert res_s.status == FAIL and res_s.metrics["lag_minutes"] == pytest.approx(20.0)


def test_composite_pk_checks(spark):
    src = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0)], "cid int, metric string, v double"
    )
    assert check_distinct_pk(src, src, ["cid", "metric"]).status == PASS
    dup = src.union(spark.createDataFrame([(1, "a", 9.9)], "cid int, metric string, v double"))
    assert check_duplication(dup, ["cid", "metric"]).metrics["duplicates"] == 1


def test_summarize_exit_code(spark):
    src = _src(spark, 100)
    good = run_all_checks("g", src, src, ["id"], "updated_at")
    bad = run_all_checks("b", src, src.filter("id < 10"), ["id"], "updated_at")
    s = summarize([good, bad])
    assert s["fail"] == 1 and s["exit_code"] == 1 and not s["consistent"]


def test_drift_duplicate_groups(spark):
    src = _src(spark, 50)
    sink = src.union(src.filter("id = 7")).union(src.filter("id = 7")).union(src.filter("id = 9"))
    groups = duplicate_groups(sink, ["id"]).collect()
    assert [(r["id"], r["occurrence_count"]) for r in groups] == [(7, 3), (9, 2)]


def test_drift_orphans_and_replay_window(spark):
    src = _src(spark, 100)
    sink = _src(spark, 120)
    assert orphan_sample(src, sink, ["id"]).count() == 20
    win = replay_window(src, sink, "updated_at")
    assert win["verdict"].startswith("sink_inflated")
    stale = replay_window(src, src.filter("id < 50"), "updated_at")
    assert stale["verdict"] == "sink_stale"


def test_distinct_pk_approx_mode(spark):
    from cdc_connector_spark.validation.checks import check_distinct_pk

    src = spark.range(10000).withColumnRenamed("id", "pk")
    r = check_distinct_pk(src, src, ["pk"], approx=True)
    assert r.status == "PASS" and r.metrics["approx"] is True
    # HLL estimate within rsd of truth on both sides
    assert abs(r.metrics["source_distinct"] - 10000) / 10000 < 0.05


def test_runner_reads_txlog_sink_directly(spark, tmp_path):
    """The validation runner reconciles against the LIVE transaction-log
    table (detected by _log/): snapshot resolution, MOR deltas, and column
    mapping all apply — no parquet export step. A faithful sink passes; a
    missing key surfaces as a failing check (exit 1)."""
    from pyspark.sql import functions as F

    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.validation.runner import main as validate_main

    src_root, sink_root = str(tmp_path / "src"), str(tmp_path / "sink")
    df = spark.range(0, 200).select(
        F.col("id").alias("o_id"), (F.col("id") * 2).alias("v")
    )
    df.write.parquet(f"{src_root}/t1")
    sink = TxLogMergeSink(spark, f"{sink_root}/t1", ["o_id"], num_buckets=4)
    sink.overwrite(df)
    # a MOR delta layer must be merged by the runner's read, not ignored
    upd = (
        spark.createDataFrame([(7, 999)], "o_id long, v long")
        .withColumn("__op", F.lit("u"))
        .withColumn("__ts_ms", F.lit(1).cast("long"))
        .withColumn("__seq", F.lit(1).cast("long"))
    )
    sink.apply_delta(upd)
    args = ["--source-root", src_root, "--sink-root", sink_root, "--tables", "t1:o_id"]
    assert validate_main(args) == 0

    # drop 2% of keys in the sink: rowcount/missing-key checks must FAIL
    # (reference thresholds: WARN >= 0.1%, FAIL >= 1.0%)
    dele = (
        spark.createDataFrame([(i, i * 2) for i in range(1, 5)], "o_id long, v long")
        .withColumn("__op", F.lit("d"))
        .withColumn("__ts_ms", F.lit(2).cast("long"))
        .withColumn("__seq", F.lit(2).cast("long"))
    )
    sink.apply(dele)
    assert validate_main(args) == 1


def test_profile_numeric_values_and_nulls(spark):
    from cdc_connector_spark.validation.checks import profile_numeric

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (2, 30.0)], "k long, v double"
    )
    got = {r["column"]: r for r in profile_numeric(df, ["k", "v"]).collect()}
    assert got["k"]["n_rows"] == 4 and got["k"]["n_nulls"] == 0
    assert got["k"]["n_distinct"] == 3
    assert (got["k"]["min_val"], got["k"]["max_val"]) == (1.0, 3.0)
    assert got["k"]["mean_val"] == 2.0
    assert got["v"]["n_nulls"] == 1 and got["v"]["n_distinct"] == 3
    assert got["v"]["mean_val"] == 20.0  # mean over NON-null values only


def test_histogram_numeric(spark):
    from cdc_connector_spark.validation.checks import histogram_numeric

    df = spark.createDataFrame(
        [(0.0,), (1.0,), (5.0,), (9.9,), (10.0,), (15.0,), (None,), (-3.0,)],
        "x double",
    )
    got = {r["bin"]: (r["bin_lo"], r["bin_hi"], r["n"])
           for r in histogram_numeric(df, "x", bins=5, lo=0.0, hi=10.0).collect()}
    # width 2: -3 clamps into bin 0; 10 and 15 clamp into bin 4; NULL dropped
    assert got[0] == (0.0, 2.0, 3)
    assert got[2] == (4.0, 6.0, 1)
    assert got[4] == (8.0, 10.0, 3)
    assert set(got) == {0, 2, 4}  # empty bins absent
    # bounds from data when omitted
    auto = histogram_numeric(df, "x", bins=2)
    assert sum(r["n"] for r in auto.collect()) == 7
    import pytest as _pt

    with _pt.raises(ValueError, match="bins"):
        histogram_numeric(df, "x", bins=0)
    with _pt.raises(ValueError, match="hi > lo"):
        histogram_numeric(df, "x", bins=2, lo=5.0, hi=5.0)


def test_key_skew_profile_balance_and_nulls(spark):
    from cdc_connector_spark.validation.checks import key_skew_profile
    import pytest as _pytest

    rows = [(i, "k%d" % (i % 10)) for i in range(100)] + [(900, None), (901, None)]
    df = spark.createDataFrame(rows, "id bigint, k string")
    got = {r["bucket"]: r for r in key_skew_profile(df, "k", buckets=4).collect()}
    # NULLs surface as bucket -1, never hashed
    assert got[-1]["n_rows"] == 2 and got[-1]["n_keys"] == 0
    # totals reconcile and ratios are exact-integer arithmetic
    assert sum(r["n_rows"] for r in got.values()) == 102
    for b, r in got.items():
        assert r["load_ratio"] == round(r["n_rows"] * 4 / 102, 6)
    # 10 distinct keys distributed over hash buckets (none lost)
    assert sum(r["n_keys"] for b, r in got.items() if b >= 0) == 10
    # a single dominant key concentrates load in one bucket
    skewed = spark.createDataFrame(
        [(i, "hot") for i in range(96)] + [(100 + i, "k%d" % i) for i in range(4)],
        "id bigint, k string",
    )
    prof = {r["bucket"]: r for r in key_skew_profile(skewed, "k", buckets=4).collect()}
    assert max(r["load_ratio"] for r in prof.values()) >= 3.0
    with _pytest.raises(ValueError, match="buckets"):
        key_skew_profile(df, "k", buckets=0)


def test_benford_profile_digits_and_constants(spark):
    from cdc_connector_spark.validation.checks import benford_profile, _BENFORD_P
    import pytest as _pytest

    rows = [(1, 123.45), (2, 19.99), (3, 0.31), (4, 9000.0), (5, 1.0),
            (6, None), (7, -5.0), (8, 0.001)]  # 0.001 rounds to 0 cents -> out
    df = spark.createDataFrame(rows, "id bigint, v double")
    got = {r["digit"]: r for r in benford_profile(df, "v").collect()}
    # digits: 123.45->1, 19.99->1, 0.31->3, 9000->9, 1.0->1; NULL/neg/0-cent out
    assert {d: r["n"] for d, r in got.items()} == {1: 3, 3: 1, 9: 1}
    assert got[1]["share"] == 0.6
    assert got[1]["benford_p"] == _BENFORD_P[1]
    assert got[1]["deviation"] == round(0.6 - _BENFORD_P[1], 6)
    assert got[9]["deviation"] == round(0.2 - _BENFORD_P[9], 6)
    with _pytest.raises(ValueError, match="decimals"):
        benford_profile(df, "v", decimals=-1)


def test_sequence_gaps_holes_and_cap(spark):
    from cdc_connector_spark.validation.checks import sequence_gaps

    # ids 1,2,3, 7,8, 15 -> gaps [4..6] (3 missing) and [9..14] (6 missing);
    # duplicates and NULLs must not fabricate or mask holes
    rows = [(1,), (2,), (3,), (7,), (8,), (15,), (8,), (None,)]
    df = spark.createDataFrame(rows, "id bigint")
    got = [(r["gap_start"], r["gap_end"], r["missing"])
           for r in sequence_gaps(df, "id").collect()]
    assert got == [(9, 14, 6), (4, 6, 3)]  # largest first
    assert [(r["gap_start"], r["gap_end"]) for r in sequence_gaps(df, "id", top_k=1).collect()] == [(9, 14)]
    # grouped: holes are per-group, not across groups
    rows = [("a", 1), ("a", 3), ("b", 10), ("b", 11)]
    df2 = spark.createDataFrame(rows, "g string, id bigint")
    got2 = [(r["g"], r["gap_start"], r["gap_end"]) for r in sequence_gaps(df2, "id", group_col="g").collect()]
    assert got2 == [("a", 2, 2)]
    # contiguous sequence -> no rows
    assert sequence_gaps(spark.createDataFrame([(i,) for i in range(5)], "id bigint"), "id").count() == 0


def test_pearson_corr_exact(spark):
    from cdc_connector_spark.validation.checks import pearson_corr_exact
    import pyspark.sql.functions as F
    import math

    # y = 3x exactly -> r = 1; y = -x -> r = -1; constant -> dropped
    rows = ([("a", x, 3 * x) for x in range(1, 6)]
            + [("b", x, -x) for x in range(1, 6)]
            + [("c", x, 7) for x in range(1, 6)])
    df = spark.createDataFrame(rows, "g string, x bigint, y bigint")
    got = {r["g"]: r["corr"] for r in pearson_corr_exact(df, "x", "y", "g").collect()}
    assert got == {"a": 1.0, "b": -1.0}
    # hand-checked non-degenerate value on expressions
    rows2 = [(1, 2), (2, 3), (3, 5), (4, 4)]
    df2 = spark.createDataFrame(rows2, "x bigint, y bigint")
    r = pearson_corr_exact(df2, F.col("x"), F.col("y")).collect()[0]
    n, sx, sy = 4, 10, 14
    sxy = sum(a * b for a, b in rows2); sxx = sum(a * a for a, _ in rows2); syy = sum(b * b for _, b in rows2)
    want = round((n * sxy - sx * sy) / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)), 6)
    assert r["corr"] == want and r["n"] == 4


def test_chi_square_independent_table_is_zero(spark):
    """A perfectly independent 2x2 table has chi2 = 0 and dof = 1."""
    from cdc_connector_spark.validation.checks import chi_square_independence

    rows = [("A", "X")] * 10 + [("A", "Y")] * 10 + [("B", "X")] * 10 + [("B", "Y")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    [r] = chi_square_independence(df, "a", "b").collect()
    assert (r.n, r.n_a, r.n_b, r.dof, r.chi2) == (40, 2, 2, 1, 0.0)


def test_chi_square_hand_computed(spark):
    """Cells (20,10 / 10,20): all expectations 15, each term 25/15,
    chi2 = 4 * 5^2/15 = 6.666667. NULL categories form their own level."""
    from cdc_connector_spark.validation.checks import chi_square_independence

    rows = (
        [("A", "X")] * 20 + [("A", "Y")] * 10 + [("B", "X")] * 10 + [("B", "Y")] * 20
    )
    df = spark.createDataFrame(rows, "a string, b string")
    [r] = chi_square_independence(df, "a", "b").collect()
    assert r.dof == 1
    assert r.chi2 == round(4 * 25 / 15, 6)
    withnull = df.union(spark.createDataFrame([(None, "X")] * 5, "a string, b string"))
    [rn] = chi_square_independence(withnull, "a", "b").collect()
    assert rn.n_a == 3 and rn.n == 65


def test_referential_integrity_counts_orphans_and_nulls(spark):
    """Orphans are non-NULL fks with no parent; NULL fks count separately
    and never inflate orphan_rows; one row per edge, single action."""
    from cdc_connector_spark.validation.checks import referential_integrity

    parent = spark.createDataFrame([(1,), (2,)], "pk bigint")
    child = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 99), (5, None)], "id bigint, fk bigint"
    )
    out = {r.relation: r for r in referential_integrity(
        [("child->parent", child, "fk", parent, "pk"),
         ("parent->parent", parent, "pk", parent, "pk")]
    ).collect()}
    r = out["child->parent"]
    # distinct_fks counts DISTINCT NON-NULL fks ({1, 2, 99} = 3)
    assert (r.child_rows, r.distinct_fks, r.orphan_rows, r.null_fks) == (5, 3, 1, 1)
    r2 = out["parent->parent"]
    assert (r2.child_rows, r2.orphan_rows, r2.null_fks) == (2, 0, 0)
    # empty child: all-zero row, not NULLs (r15 — the groupBy-fk reshape
    # coalesces explicitly, matching the oracle SQL's coalesce(...,0))
    empty = child.filter("id < 0")
    [r3] = referential_integrity([("empty->parent", empty, "fk", parent, "pk")]).collect()
    assert (r3.child_rows, r3.distinct_fks, r3.orphan_rows, r3.null_fks) == (0, 0, 0, 0)


@pytest.fixture(scope="module")
def ansi_spark(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


def _ts_rows(spark, keys):
    base = datetime.datetime(2024, 1, 1)
    rows = [(k, i % 7, base + datetime.timedelta(seconds=i)) for i, k in enumerate(keys)]
    return spark.createDataFrame(rows, "id long, v long, updated_at timestamp")


def _case_null_keys_both_sides(spark, tmp_path):
    src = _ts_rows(spark, list(range(50)) + [None] * 3)
    return src, _ts_rows(spark, list(range(50)) + [None] * 2), ["id"], "updated_at"


def _case_null_keyed_sink_orphans(spark, tmp_path):
    return _ts_rows(spark, list(range(50))), _ts_rows(spark, list(range(50)) + [None] * 4), ["id"], "updated_at"


def _case_duplicated_orphans(spark, tmp_path):
    return _ts_rows(spark, list(range(50))), _ts_rows(spark, list(range(48)) + [100, 100, 101, 7]), ["id"], "updated_at"


def _case_composite_null_part(spark, tmp_path):
    schema = "cid int, metric string, v double"
    src = spark.createDataFrame([(1, "a", 1.0), (1, None, 2.0), (2, "b", 3.0)], schema)
    sink = spark.createDataFrame([(1, "a", 1.0), (1, None, 2.0), (1, None, 4.0), (3, None, 5.0)], schema)
    return src, sink, ["cid", "metric"], None


def _case_empty_source(spark, tmp_path):
    return _ts_rows(spark, []), _ts_rows(spark, range(20)), ["id"], "updated_at"


def _case_empty_sink(spark, tmp_path):
    return _ts_rows(spark, range(20)), _ts_rows(spark, []), ["id"], "updated_at"


def _case_no_ts_column(spark, tmp_path):
    return _ts_rows(spark, range(1000)), _ts_rows(spark, range(995)), ["id"], None


def _case_epoch_ms_ts(spark, tmp_path):
    base_ms = 1_700_000_000_000
    src = spark.createDataFrame([(i, base_ms + i * 60_000) for i in range(20)], "id long, __ts_ms long")
    sink = src.filter("id < 7")  # 13 minutes behind: the WARN band
    return src, sink, ["id"], "__ts_ms"


def _case_txlog_mor_deltas(spark, tmp_path):
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink

    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["id"], num_buckets=4)
    sink.overwrite(_ts_rows(spark, range(200)))
    for n, (op, keys) in enumerate([("u", [3, 50, 120]), ("d", [4, 5]), ("c", [300, 301]), ("u", [50, 7])], 1):
        sink.apply_delta(
            _ts_rows(spark, keys)
            .withColumn("__op", F.lit(op))
            .withColumn("__ts_ms", F.lit(n).cast("long"))
            .withColumn("__seq", F.lit(n).cast("long"))
        )
    # the source never saw key 301: one orphan, and 2 of 201 keys deleted
    src = _ts_rows(spark, [k for k in range(201) if k not in (4, 5)] + [300])
    return src, sink.read(), ["id"], "updated_at"


@pytest.mark.parametrize(
    "make",
    [
        _case_null_keys_both_sides,
        _case_null_keyed_sink_orphans,
        _case_duplicated_orphans,
        _case_composite_null_part,
        _case_empty_source,
        _case_empty_sink,
        _case_no_ts_column,
        _case_epoch_ms_ts,
        _case_txlog_mor_deltas,
    ],
    ids=lambda make: make.__name__[len("_case_"):],
)
def test_run_all_checks_matches_standalone_checks(make, ansi_spark, tmp_path):
    """``run_all_checks`` computes checks 2-6 in one pass; each result must
    equal its standalone check's, status and metrics, on NULL-keyed,
    orphaned, composite, empty, timestamp-less, epoch-ms and MOR inputs.
    Orphan examples may differ in choice, but each is an orphan key and
    there are at most 10."""
    src, sink, pk, ts = make(ansi_spark, tmp_path)
    fused = run_all_checks("t", src, sink, pk, ts)
    assert [r.check for r in fused.results] == [
        "exists", "rowcount", "distinct_pk", "duplication", "orphans", "freshness"
    ]
    got = {r.check: r for r in fused.results}
    src_keys = {tuple(r) for r in src.select(*pk).collect()}
    orphan_keys = {
        k for k in (tuple(r) for r in sink.select(*pk).collect()) if None in k or k not in src_keys
    }
    for want in [
        check_rowcount(src, sink),
        check_distinct_pk(src, sink, pk),
        check_duplication(sink, pk),
        check_orphans(src, sink, pk),
        check_freshness(src, sink, ts),
    ]:
        have = got[want.check]
        assert (have.status, have.details) == (want.status, want.details), want.check
        have_m, want_m = dict(have.metrics), dict(want.metrics)
        if want.check == "orphans":
            examples = have_m.pop("examples")
            want_m.pop("examples")
            assert len(examples) <= 10 and set(examples) <= orphan_keys
            assert bool(examples) == bool(orphan_keys)
        assert have_m == want_m, want.check

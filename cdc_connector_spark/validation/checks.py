"""Reconciliation/validation suite: the reference's six checks as Spark jobs.

Source: tests/validation.py of the reference —
1 exists (:300-334) · 2 rowcount (:336-397) · 3 distinct-PK (:399-461) ·
4 duplication (:463-536) · 5 anti-join orphans (:538-638) ·
6 freshness (:640-717); thresholds :73-75 (WARN ≥0.1%, FAIL ≥1.0%) and
:271 (15-min freshness SLO); verdict logic :735-788.

Each verdict rule is a function of numbers (``_rowcount``,
``_distinct_pk``, ``_duplication``, ``_orphans``, ``_freshness``).
``run_all_checks`` feeds all of them from one group-by-key aggregate over
both sides; the standalone ``check_*`` functions run their own small jobs
(the anti-join is a real distributed ``left_anti``, so the reference's
10M-row driver-memory guard at tests/validation.py:570-576 is not needed)
and are the reference the fused path is tested against.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PASS, WARN, FAIL, SKIP = "PASS", "WARN", "FAIL", "SKIP"

# reference thresholds (tests/validation.py:73-75, :271)
ROWCOUNT_WARN_PCT = 0.1
ROWCOUNT_FAIL_PCT = 1.0
FRESHNESS_FAIL_MINUTES = 15.0
FRESHNESS_WARN_RATIO = 0.8


@dataclass
class CheckResult:
    check: str
    status: str
    metrics: dict = field(default_factory=dict)
    details: str = ""


@dataclass
class TableReport:
    table: str
    results: list[CheckResult] = field(default_factory=list)

    @property
    def verdict(self) -> str:
        statuses = {r.status for r in self.results}
        if FAIL in statuses:
            return FAIL
        if WARN in statuses:
            return WARN
        return PASS

    @property
    def cdc_consistent(self) -> bool:
        return self.verdict == PASS


def _drift(src_n: int, sink_n: int, warn: float = ROWCOUNT_WARN_PCT, fail: float = ROWCOUNT_FAIL_PCT):
    """(status, diff_pct) of ``sink_n`` against ``src_n``; an empty source
    drifts 100% unless the sink is empty too."""
    pct = (abs(sink_n - src_n) / src_n * 100.0) if src_n else (100.0 if sink_n else 0.0)
    return (FAIL if pct >= fail else WARN if pct >= warn else PASS), pct


def _rowcount(src_n: int, sink_n: int) -> CheckResult:
    status, pct = _drift(src_n, sink_n)
    return CheckResult(
        "rowcount",
        status,
        {"source_count": src_n, "sink_count": sink_n, "diff": abs(src_n - sink_n), "diff_pct": pct},
    )


def _distinct_pk(src_d: int, sink_d: int, approx: bool = False, rsd: float = 0.01) -> CheckResult:
    """HLL estimates widen the thresholds to at least rsd / 2·rsd."""
    warn, fail = ROWCOUNT_WARN_PCT, ROWCOUNT_FAIL_PCT
    if approx:
        warn, fail = max(warn, rsd * 100), max(fail, 2 * rsd * 100)
    status, pct = _drift(src_d, sink_d, warn, fail)
    return CheckResult(
        "distinct_pk",
        status,
        {"source_distinct": src_d, "sink_distinct": sink_d, "diff": sink_d - src_d, "diff_pct": pct, "approx": approx},
    )


def _duplication(total: int, distinct: int, null_pk: int) -> CheckResult:
    """``distinct`` counts non-NULL keys only, so NULL-keyed rows are taken
    out of the dupe math; any dupe or NULL key fails an upsert sink."""
    dupes = (total - null_pk) - distinct
    return CheckResult(
        "duplication",
        FAIL if (dupes > 0 or null_pk > 0) else PASS,
        {"total": total, "distinct": distinct, "duplicates": dupes, "null_pk_rows": null_pk},
    )


def _orphans(n: int, examples: list[tuple]) -> CheckResult:
    return CheckResult("orphans", FAIL if n > 0 else PASS, {"orphan_count": n, "examples": examples[:10]})


def _freshness(src_max, sink_max, ts_col: str | None, fail_minutes: float = FRESHNESS_FAIL_MINUTES) -> CheckResult:
    """Lag = source max − sink max against the SLO, WARN at 80% of it. A
    timestamp/date difference is a timedelta; a numeric epoch column is
    read as milliseconds when its magnitude says so (≥ 1e12 ≈ dates past
    2001-09-09), else seconds."""
    if ts_col is None:
        return CheckResult("freshness", SKIP, {}, "no timestamp column")
    if src_max is None or sink_max is None:
        return CheckResult("freshness", SKIP, {"source_max": str(src_max), "sink_max": str(sink_max)})
    diff = src_max - sink_max
    if hasattr(diff, "total_seconds"):
        lag_min = diff.total_seconds() / 60.0
    else:
        divisor = 1000.0 if abs(float(src_max)) >= 1e12 else 1.0
        lag_min = float(diff) / divisor / 60.0
    if lag_min > fail_minutes:
        status = FAIL
    elif lag_min > fail_minutes * FRESHNESS_WARN_RATIO:
        status = WARN
    else:
        status = PASS
    return CheckResult(
        "freshness",
        status,
        {"source_max": str(src_max), "sink_max": str(sink_max), "lag_minutes": lag_min},
    )


def check_exists(sink: DataFrame | None) -> CheckResult:
    """Check 1: sink table exists and is readable."""
    if sink is None:
        return CheckResult("exists", FAIL, {}, "sink table missing")
    return CheckResult("exists", PASS, {"columns": len(sink.columns)})


def check_rowcount(source: DataFrame, sink: DataFrame) -> CheckResult:
    """Check 2: COUNT(*) drift with 0.1% WARN / 1.0% FAIL thresholds."""
    return _rowcount(source.count(), sink.count())


def check_distinct_pk(
    source: DataFrame, sink: DataFrame, pk_cols: list[str], approx: bool = False, rsd: float = 0.01
) -> CheckResult:
    """Check 3: COUNT(DISTINCT pk…) equality — CDC key-cardinality parity.

    ``approx=True`` uses HyperLogLog++ (``approx_count_distinct``, relative
    error ``rsd``) — the scale mode for monitoring sweeps over 100 TB
    tables, where an exact distinct costs a full shuffle per side. The WARN
    threshold (0.1%) is below a 1% rsd, so approx mode widens the
    effective thresholds accordingly: use it for trend monitoring, exact
    mode for the gate after a migration."""
    if approx:
        src_d = source.agg(F.approx_count_distinct(F.struct(*pk_cols), rsd=rsd)).collect()[0][0]
        sink_d = sink.agg(F.approx_count_distinct(F.struct(*pk_cols), rsd=rsd)).collect()[0][0]
    else:
        src_d = source.select(*pk_cols).distinct().count()
        sink_d = sink.select(*pk_cols).distinct().count()
    return _distinct_pk(src_d, sink_d, approx, rsd)


def check_duplication(sink: DataFrame, pk_cols: list[str]) -> CheckResult:
    """Check 4: total vs distinct-PK in ONE aggregation pass + NULL-PK count.

    dupes = total − distinct; any duplicate or NULL-keyed row is a FAIL for
    an upsert sink (keys must be unique).
    """
    any_null = reduce(or_, [F.col(c).isNull() for c in pk_cols])
    row = sink.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_distinct(*[F.col(c) for c in pk_cols]).alias("distinct"),
        F.sum(F.when(any_null, 1).otherwise(0)).alias("null_pk"),
    ).collect()[0]
    return _duplication(row["total"], row["distinct"], row["null_pk"] or 0)


def check_orphans(source: DataFrame, sink: DataFrame, pk_cols: list[str], sample: int = 100) -> CheckResult:
    """Check 5: sink keys absent from source (J1 anti-join).

    The reference hand-rolled a hash anti-join in driver memory
    (tests/validation.py:587-606); here it is a distributed ``left_anti``
    that Catalyst plans as broadcast or shuffled hash join.
    """
    orphans = sink.select(*pk_cols).join(source.select(*pk_cols), on=pk_cols, how="left_anti")
    n = orphans.count()
    examples = [tuple(r) for r in orphans.limit(sample).collect()] if n else []
    return _orphans(n, examples)


def check_freshness(
    source: DataFrame,
    sink: DataFrame,
    ts_col: str | None,
    fail_minutes: float = FRESHNESS_FAIL_MINUTES,
) -> CheckResult:
    """Check 6: sink lag = max(ts) source − max(ts) sink, vs 15-min SLO
    (WARN at 80% of the threshold).

    ``ts_col`` may be a timestamp/date column OR a numeric epoch column —
    the envelope's own ``__ts_ms`` convention is a bigint of epoch millis
    (see ``_freshness`` for the unit rule)."""
    if ts_col is None:
        return _freshness(None, None, None, fail_minutes)
    src_max = source.agg(F.max(ts_col).alias("m")).collect()[0]["m"]
    sink_max = sink.agg(F.max(ts_col).alias("m")).collect()[0]["m"]
    return _freshness(src_max, sink_max, ts_col, fail_minutes)


def run_all_checks(
    table: str,
    source: DataFrame,
    sink: DataFrame | None,
    pk_cols: list[str],
    ts_col: str | None = None,
) -> TableReport:
    """Checks 1→6; verdict FAIL > WARN > PASS (tests/validation.py:747-768).

    Checks 2-6 come from ONE aggregate: (pk…, side, ts) rows of both sides
    are unioned and grouped by the PK into (src_n, sink_n, src_ts,
    sink_ts) per key, and one global aggregate over those groups gives
    every number. Each side is read once and the keys shuffle once; the
    aggregate has no distinct aggregates, so Spark plans no Expand.

    - totals = Σ n; struct-distinct (NULL tuples count, like
      ``distinct().count()``) = groups with n > 0; non-NULL distinct =
      such groups without a NULL key part; null_pk = Σ n over NULL-keyed
      groups; ts maxes = max of the per-key maxes.
    - orphans = Σ sink_n over groups with src_n = 0 or a NULL key part:
      ``left_anti`` never matches a NULL key, so a NULL-keyed sink row is
      always an orphan even when the source holds the same NULL key.
      Up to 10 example keys are collected only when there are orphans.

    Results are value-identical to the standalone check functions
    (orphan examples may name other orphan keys)."""
    report = TableReport(table)
    exists = check_exists(sink)
    report.results.append(exists)
    if exists.status == FAIL or sink is None:
        return report

    def tagged(df: DataFrame, side: int) -> DataFrame:
        ts = F.col(ts_col) if ts_col is not None else F.lit(None).cast("long")
        return df.select(*pk_cols, F.lit(side).alias("__side"), ts.alias("__ts"))

    is_src = F.col("__side") == 0
    per_key = (
        tagged(source, 0)
        .unionByName(tagged(sink, 1))
        .groupBy(*pk_cols)
        .agg(
            F.count(F.when(is_src, 1)).alias("src_n"),
            F.count(F.when(~is_src, 1)).alias("sink_n"),
            F.max(F.when(is_src, F.col("__ts"))).alias("src_ts"),
            F.max(F.when(~is_src, F.col("__ts"))).alias("sink_ts"),
        )
    )
    any_null = reduce(or_, [F.col(c).isNull() for c in pk_cols])
    orphan = (F.col("src_n") == 0) | any_null
    s = per_key.agg(
        F.sum("src_n").alias("src_total"),
        F.sum("sink_n").alias("sink_total"),
        F.count(F.when(F.col("src_n") > 0, 1)).alias("src_dist"),
        F.count(F.when(F.col("sink_n") > 0, 1)).alias("sink_dist"),
        F.count(F.when((F.col("sink_n") > 0) & ~any_null, 1)).alias("sink_dist_nonnull"),
        F.sum(F.when(any_null, F.col("sink_n"))).alias("sink_null_pk"),
        F.sum(F.when(orphan, F.col("sink_n"))).alias("orphans"),
        F.max("src_ts").alias("src_ts"),
        F.max("sink_ts").alias("sink_ts"),
    ).collect()[0]
    n = {k: v or 0 for k, v in s.asDict().items() if not k.endswith("_ts")}

    examples = []
    if n["orphans"]:
        hits = per_key.filter(orphan & (F.col("sink_n") > 0)).select(*pk_cols).limit(10)
        examples = [tuple(r) for r in hits.collect()]
    report.results += [
        _rowcount(n["src_total"], n["sink_total"]),
        _distinct_pk(n["src_dist"], n["sink_dist"]),
        _duplication(n["sink_total"], n["sink_dist_nonnull"], n["sink_null_pk"]),
        _orphans(n["orphans"], examples),
        _freshness(s["src_ts"], s["sink_ts"], ts_col),
    ]
    return report


def summarize(reports: list[TableReport]) -> dict:
    """A9: roll-up — per-status counts + overall verdict + exit signal."""
    counts = {PASS: 0, WARN: 0, FAIL: 0}
    for r in reports:
        counts[r.verdict] = counts.get(r.verdict, 0) + 1
    return {
        "tables": len(reports),
        "pass": counts[PASS],
        "warn": counts[WARN],
        "fail": counts[FAIL],
        "consistent": counts[FAIL] == 0 and counts[WARN] == 0,
        "exit_code": 1 if counts[FAIL] > 0 else 0,
    }


def profile_numeric(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-profiling surface: one row per numeric column with
    (column, n_rows, n_nulls, n_distinct, min_val, max_val, mean_val) —
    the first thing an operator looks at when a reconciliation check
    fires, and the stats a scheduler wants before picking partition
    columns (the S4 chooser's rationale, exposed as data).

    Exactness contract: sums accumulate in DECIMAL(38,6) so the mean is
    engine-independent (the round-1 float-sum lesson) and min/max/distinct
    are exact — every value in the profile hash-matches an ANSI-SQL
    re-derivation. ONE pass over the table: a single aggregate computes
    every column's stats side by side (count-distincts make Catalyst
    expand the input once per column — the documented cost of exact
    distincts; swap in approx_count_distinct at 100 TB if ±2% is fine),
    then a stack() unpivots the single result row. No joins, no window.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("double").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("double").alias(f"__mx_{c}"),
            F.sum(F.col(c).cast("decimal(38,6)")).alias(f"__sm_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = []
    for c in cols:
        n_vals = F.col("__n") - F.col(f"__nn_{c}")
        # all-NULL column: mean is NULL, never a divide-by-zero (ANSI mode
        # errors on x/0 — and an all-NULL column is exactly the case a
        # reconciliation operator is investigating)
        mean = F.when(
            n_vals > 0, (F.col(f"__sm_{c}") / n_vals).cast("double")
        )
        stack_args.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").cast("bigint").alias("n_rows"),
                F.col(f"__nn_{c}").cast("bigint").alias("n_nulls"),
                F.col(f"__nd_{c}").cast("bigint").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_val"),
                F.col(f"__mx_{c}").alias("max_val"),
                F.round(mean, 6).alias("mean_val"),
            )
        )
    return one.select(F.explode(F.array(*stack_args)).alias("p")).select("p.*")


def histogram_numeric(
    df: DataFrame,
    col: str,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram of a numeric column — the distribution view
    ``profile_numeric``'s min/max/mean can't show (bimodality, spikes,
    truncation). Returns one row per NON-EMPTY bin:
    (bin 0-based, bin_lo, bin_hi, n) with bin = floor((x−lo)/width),
    the top edge clamped into the last bin (so ``hi`` itself counts).

    With ``lo``/``hi`` omitted they come from one min/max pass —
    explicit bounds make the op single-pass and the bins stable across
    partitions/days (the monitoring use). NULLs are excluded; values
    outside [lo, hi] are clamped into the edge bins (documented — a
    silent drop would hide outliers, the thing histograms are for).

    Portable: bin indexes are floor() of one fixed double expression and
    counts are exact integers. One map-side-combined shuffle on the bin
    key (≤ ``bins`` groups)."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if lo is None or hi is None:
        row = df.agg(
            F.min(F.col(col)).alias("lo"), F.max(F.col(col)).alias("hi")
        ).first()
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    width = (hi - lo) / bins
    raw = F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(width))
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6).alias("bin_lo"),
            F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width), 6).alias("bin_hi"),
            "n",
        )
    )


def key_skew_profile(df: DataFrame, key_col: str, buckets: int = 32) -> DataFrame:
    """Shuffle-skew diagnostic: simulate hash-partitioning the table on
    ``key_col`` into ``buckets`` reducers and report each bucket's load —
    the decision input for salting / AQE skew-join before a big join or
    aggregation keyed on this column ("would bucket 17 get 40% of the
    rows?"). A perfectly balanced key has load_ratio ~1.0 everywhere;
    one dominant key drives its bucket's ratio toward ``buckets``.

    Returns one row per non-empty bucket:
    (bucket, n_rows, n_keys, load_ratio) with
    load_ratio = n_rows · buckets / total_rows (exact-integer ratio,
    rounded 6). NULL keys — which Spark hash-partitions into a single
    reducer, the classic silent hotspot — report as bucket −1 so they
    are visible rather than folded into a hash bucket.

    The bucket hash is the PORTABLE md5 fold (first 15 hex digits →
    60-bit int, the ``simhash_portable`` scheme) over the key's string
    form, NOT Spark's internal Murmur3 — deliberately: the diagnostic
    needs a deterministic, engine-replayable assignment (the SQL oracle
    recomputes it), and any uniform hash answers the balance question
    identically. One map-side-combined shuffle on the bucket key
    (≤ buckets+1 groups); the scalar total broadcasts."""
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    b = F.when(F.col(key_col).isNull(), F.lit(-1)).otherwise(
        F.pmod(h, F.lit(buckets)).cast("int")
    )
    total = df.select(F.count(F.lit(1)).alias("__t"))
    return (
        df.groupBy(b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col(key_col)).alias("n_keys"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n_rows",
            "n_keys",
            F.round((F.col("n_rows") * buckets) / F.col("__t"), 6).alias("load_ratio"),
        )
    )


# Benford first-digit expectations log10(1 + 1/d), rounded 6 — inlined as
# LITERALS (not computed at runtime) so Spark and any SQL oracle use the
# identical constants
_BENFORD_P = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


def benford_profile(df: DataFrame, col: str, decimals: int = 2) -> DataFrame:
    """First-digit (Benford) distribution of a positive numeric column —
    the forensic-accounting / data-fabrication screen: organically-grown
    magnitudes follow log10(1+1/d); invented or truncated ones don't.
    Returns one row per observed leading digit:
    (digit, n, share, benford_p, deviation = share − benford_p).

    Engine-portable digit extraction: the value scales to an exact
    BIGINT at ``decimals`` precision (round(x·10^decimals) — the cent
    trick; float noise around the true fixed-point value never sits at
    an exact .5, so round is tie-free), converts to its decimal STRING
    (integer-to-string is exact everywhere, unlike float formatting or
    log10-based digit math whose last-ulp behavior is libm-specific),
    and takes the first character. NULL and non-positive values are
    excluded (Benford is defined on positive magnitudes). share and
    deviation are single divisions/subtractions of exact integers and
    the literal constants, rounded 6.

    One map-side-combined shuffle on the digit key (≤ 9 groups); the
    scalar total broadcasts."""
    if decimals < 0:
        raise ValueError(f"decimals must be >= 0, got {decimals}")
    scaled0 = F.round(F.col(col).cast("double") * F.lit(float(10**decimals)), 0).cast(
        "long"
    )
    # values rounding to 0 at this precision have no leading digit — out
    pos = df.filter(
        F.col(col).isNotNull() & (F.col(col) > 0) & (scaled0 >= 1)
    ).select(scaled0.alias("__s"))
    digit = F.substring(F.col("__s").cast("string"), 1, 1).cast("int")
    total = pos.select(F.count(F.lit(1)).alias("__t"))
    bp = F.create_map(
        *[F.lit(x) for kv in _BENFORD_P.items() for x in kv]
    )
    return (
        pos.groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("__t"), 6).alias("share"),
            bp[F.col("digit")].alias("benford_p"),
            F.round(F.col("n") / F.col("__t") - bp[F.col("digit")], 6).alias(
                "deviation"
            ),
        )
    )


def sequence_gaps(
    df: DataFrame,
    id_col: str,
    group_col: str | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Gaps-and-islands hole detector over a monotonically-assigned id or
    offset column — the CDC-completeness screen: a hole in commit
    sequence numbers / Kafka offsets / monotonic PKs is a lost or
    unapplied batch the rowcount check can miss (counts agree when a
    duplicate masks a loss). Returns one row per MISSING RUN:
    (gap_start, gap_end, missing = end−start+1), optionally per
    ``group_col`` (e.g. per partition id), largest gaps first
    (missing desc, gap_start asc — deterministic) and capped at
    ``top_k`` when set.

    Shape — TWO-LEVEL islands so no stage ever sorts the full id set in
    one task (the naive form is a single unpartitioned window — the
    classic silent single-reducer): (1) ids hash into 2^``bucket_bits``-
    wide ranges and each (group, bucket)'s islands come from a window
    partitioned by BOTH keys (parallel, ≤ bucket-width rows each);
    (2) the per-bucket island fragments — at most one per non-empty
    bucket per maximal run — merge with the streaming monitor's
    ``merge_islands`` fold (runs + non-empty-buckets rows, ids/2^20 of
    the input at the default); (3) holes are the lags between merged
    islands (runs-sized). Duplicates collapse first (duplication's
    problem, not a hole); NULL ids are excluded (the null_pk check owns
    those). Exact integers end to end; output proportional to RUNS."""
    from pyspark.sql import Window

    from cdc_connector_spark.streaming.gaps import merge_islands

    bucket_bits = 20
    keys = [group_col] if group_col else []
    ids = df.filter(F.col(id_col).isNotNull()).select(
        *[F.col(c) for c in keys], F.col(id_col).alias("__id")
    ).distinct()
    b = F.shiftright(F.col("__id"), bucket_bits)
    wb = Window.partitionBy(*keys, "__b").orderBy("__id")
    frags = (
        ids.withColumn("__b", b)
        .withColumn("__prev", F.lag("__id").over(wb))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull() | (F.col("__id") - F.col("__prev") > 1), 1
            ).otherwise(0),
        )
        .withColumn(
            "__isl", F.sum("__new").over(wb.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(*keys, "__b", "__isl")
        .agg(F.min("__id").alias("lo"), F.max("__id").alias("hi"))
        .select(*keys, "lo", "hi")
    )
    islands = merge_islands(frags, group_col)
    w = Window.partitionBy(*keys).orderBy("lo")
    out = (
        islands.withColumn("__prev_hi", F.lag("hi").over(w))
        .filter(F.col("__prev_hi").isNotNull())
        .select(
            *[F.col(c) for c in keys],
            (F.col("__prev_hi") + 1).alias("gap_start"),
            (F.col("lo") - 1).alias("gap_end"),
            (F.col("lo") - F.col("__prev_hi") - 1).alias("missing"),
        )
        .orderBy(F.col("missing").desc(), F.col("gap_start").asc())
    )
    return out.limit(top_k) if top_k is not None else out


def pearson_corr_exact(
    df: DataFrame,
    x_col,
    y_col,
    group_col: str | None = None,
) -> DataFrame:
    """Pearson correlation per group from EXACT integer sufficient
    statistics — the value-portable profiling twin of the built-in
    ``F.corr`` (which float-accumulates in partition order and therefore
    cannot hash-match across engines or even across runs). ``x_col`` /
    ``y_col`` are Column expressions (or names) whose values must be
    EXACT INTEGERS — scale fixed-point columns yourself (the cent
    trick: ``F.round(col * 100).cast("long")``); ANSI mode will surface
    violations as cast errors rather than silent drift.

    Sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as
    DECIMAL(38,0) — exact and order-independent at any scale (Σy² of
    cent-scaled values overflows BIGINT around 10⁵ rows; the r6
    ``sum_name_len`` lesson) — then r is ONE fixed double expression
    (IEEE multiply/subtract/sqrt/divide are correctly rounded, so every
    engine reproduces the same double), rounded 6. Groups with zero
    variance in either variable are dropped (no line to correlate).

    One map-side-combined aggregation; group-count-sized output."""
    dec = "decimal(38,0)"
    # cast to DECIMAL BEFORE multiplying: a BIGINT product x*y overflows
    # at |x|,|y| ~ 3e9 (cent-scaled $30M) long before the decimal SUM
    # would — the sum_name_len lesson applied one level deeper
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("long").cast(dec)
    y = (F.col(y_col) if isinstance(y_col, str) else y_col).cast("long").cast(dec)
    keys = [F.col(group_col)] if group_col else []
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum((x * y).cast(dec)).alias("__sxy"),
        F.sum((x * x).cast(dec)).alias("__sxx"),
        F.sum((y * y).cast(dec)).alias("__syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy, sxx, syy = (
        F.col("__sxy").cast("double"),
        F.col("__sxx").cast("double"),
        F.col("__syy").cast("double"),
    )
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    return (
        stats.filter((varx > 0) & (vary > 0))
        .select(
            *keys,
            "n",
            F.round((nd * sxy - sx * sy) / (F.sqrt(varx) * F.sqrt(vary)), 6).alias(
                "corr"
            ),
        )
    )


def chi_square_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the drift screen for "did the status mix change with
    priority?" questions a per-column profile can't answer. Returns ONE
    row: (n, n_a, n_b, dof, chi2) — observed cell counts vs the
    independence expectation e = row_total · col_total / n.

    Value-portable: counts and totals are exact integers; each cell term
    (o − e)²/e is a fixed IEEE expression of exactly-rounded casts, and
    the terms are summed in ONE deterministic left fold over the cells
    sorted by (a, b) — never a float SUM aggregate (partition-order
    accumulation cannot hash-match; the classifier-fold lesson). NULL
    category values participate as their own level via a sentinel.

    Structural zeros: cells of the full a×b grid with o = 0 contribute
    (0 − e)²/e = e to Pearson chi², and Σ_all e = n, so the unobserved
    mass is n − Σ_observed e = (n² − Σ_observed rt·ct)/n — computed
    EXACTLY in DECIMAL (a dense grid yields exactly 0.0, not a float
    residue) and added after the fold. Without it chi2 is understated
    on any input whose contingency table has empty cells.

    Scale shape: one map-side-combined aggregation to the (a, b) cell
    table — cardinality |A|·|B|, independent of row count — then window
    totals and the fold on that tiny frame. The fold's collect_list is
    bounded by the cell count, never the data."""
    from pyspark.sql import Window

    a = F.coalesce(F.col(a_col).cast("string"), F.lit("<NULL>"))
    b = F.coalesce(F.col(b_col).cast("string"), F.lit("<NULL>"))
    cells = df.groupBy(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("o")
    )
    tot = cells.withColumn("rt", F.sum("o").over(Window.partitionBy("a"))).withColumn(
        "ct", F.sum("o").over(Window.partitionBy("b"))
    ).withColumn("n", F.sum("o").over(Window.partitionBy()))
    e = (F.col("rt").cast("decimal(38,0)") * F.col("ct").cast("decimal(38,0)")).cast(
        "double"
    ) / F.col("n").cast("double")
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    rtct = F.col("rt").cast("decimal(38,0)") * F.col("ct").cast("decimal(38,0)")
    packed = tot.select(
        F.struct(
            F.col("a"), F.col("b"), term.alias("term"), F.col("n").alias("n")
        ).alias("s"),
        rtct.alias("rtct"),
    )
    agg = packed.groupBy().agg(
        F.sort_array(F.collect_list("s")).alias("ss"),
        F.count_distinct("s.a").alias("n_a"),
        F.count_distinct("s.b").alias("n_b"),
        F.sum("rtct").alias("srtct"),
    )
    n_col = F.element_at("ss", 1)["n"]
    n_dec = n_col.cast("decimal(38,0)")
    # exact unobserved-cell mass: (n^2 - sum_observed rt*ct) / n;
    # coalesce keeps the empty-input contract chi2 = 0.0 (SUM over zero
    # rows is NULL, and 0.0 + NULL would null the whole statistic)
    missing = F.coalesce(
        (n_dec * n_dec - F.col("srtct")).cast("double") / n_col.cast("double"),
        F.lit(0.0),
    )
    return agg.select(
        n_col.alias("n"),
        F.col("n_a").cast("int").alias("n_a"),
        F.col("n_b").cast("int").alias("n_b"),
        ((F.col("n_a") - 1) * (F.col("n_b") - 1)).cast("int").alias("dof"),
        F.round(
            F.aggregate("ss", F.lit(0.0), lambda acc, s: acc + s["term"])
            + missing,
            6,
        ).alias("chi2"),
    )


def association_strength(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Association STRENGTH between two categorical columns: Cramér's V
    and mutual information (nats) on top of the chi-square machinery —
    chi_square_independence answers "is the dependence statistically
    real"; this answers "how strong is it" on scale-free [0,1] (V) and
    information (MI) scales, which is what makes columns comparable in
    a profiling report ("status is strongly coupled to priority, weakly
    to clerk"). The column-relationship discovery pass a data catalog
    runs over a new feed.

    Value-portable by the chi-square entry's discipline: exact integer
    cell/marginal counts; each cell's chi2 term is a fixed IEEE
    expression (DECIMAL products before the division — BIGINT×BIGINT
    overflows); the MI term's single libm ln is rounded to 12 digits
    per cell (the zipf/entropy precedent) so last-ulp libm differences
    can never accumulate across cells; both sums are ONE deterministic
    left fold over cells sorted by (a, b) — never a float SUM
    aggregate. V = sqrt(chi2 / (n·min(n_a−1, n_b−1))) — sqrt is IEEE
    correctly-rounded, so engines agree bit-for-bit.

    Structural zeros: unobserved (a, b) cells contribute (0 − e)²/e = e
    to chi² (Σ_all e = n ⇒ missing mass = (n² − Σ_observed rt·ct)/n,
    exact in DECIMAL, exactly 0.0 on a dense grid) — added after the
    fold, and V uses the corrected chi². MI is unchanged: the o→0 limit
    of (o/n)·ln(o·n/(rt·ct)) is 0, so empty cells carry no information
    mass by definition.

    Returns ONE row: (n, n_a, n_b, dof, chi2, cramers_v, mi_nats).
    Scale shape: identical to chi_square_independence — one map-side
    aggregation to the |A|·|B| cell table, then window totals and the
    bounded fold."""
    from pyspark.sql import Window

    a = F.coalesce(F.col(a_col).cast("string"), F.lit("<NULL>"))
    b = F.coalesce(F.col(b_col).cast("string"), F.lit("<NULL>"))
    cells = df.groupBy(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("o")
    )
    tot = cells.withColumn("rt", F.sum("o").over(Window.partitionBy("a"))).withColumn(
        "ct", F.sum("o").over(Window.partitionBy("b"))
    ).withColumn("n", F.sum("o").over(Window.partitionBy()))
    e = (F.col("rt").cast("decimal(38,0)") * F.col("ct").cast("decimal(38,0)")).cast(
        "double"
    ) / F.col("n").cast("double")
    chi_term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    mi_term = F.round(
        (F.col("o").cast("double") / F.col("n").cast("double"))
        * F.log(
            (F.col("o").cast("decimal(38,0)") * F.col("n").cast("decimal(38,0)")).cast("double")
            / (F.col("rt").cast("decimal(38,0)") * F.col("ct").cast("decimal(38,0)")).cast("double")
        ),
        12,
    )
    rtct = F.col("rt").cast("decimal(38,0)") * F.col("ct").cast("decimal(38,0)")
    packed = tot.select(
        F.struct(
            F.col("a"),
            F.col("b"),
            chi_term.alias("chi_term"),
            mi_term.alias("mi_term"),
            F.col("n").alias("n"),
        ).alias("s"),
        rtct.alias("rtct"),
    )
    agg = packed.groupBy().agg(
        F.sort_array(F.collect_list("s")).alias("ss"),
        F.count_distinct("s.a").alias("n_a"),
        F.count_distinct("s.b").alias("n_b"),
        F.sum("rtct").alias("srtct"),
    )
    n_col = F.element_at("ss", 1)["n"]
    n_dec = n_col.cast("decimal(38,0)")
    # exact unobserved-cell mass: (n^2 - sum_observed rt*ct) / n;
    # coalesce keeps the empty-input contract chi2 = 0.0
    missing = F.coalesce(
        (n_dec * n_dec - F.col("srtct")).cast("double") / n_col.cast("double"),
        F.lit(0.0),
    )
    chi2_raw = (
        F.aggregate("ss", F.lit(0.0), lambda acc, s: acc + s["chi_term"])
        + missing
    )
    mi_raw = F.aggregate("ss", F.lit(0.0), lambda acc, s: acc + s["mi_term"])
    min_dim = F.least(F.col("n_a") - 1, F.col("n_b") - 1)
    return agg.select(
        n_col.alias("n"),
        F.col("n_a").cast("int").alias("n_a"),
        F.col("n_b").cast("int").alias("n_b"),
        ((F.col("n_a") - 1) * (F.col("n_b") - 1)).cast("int").alias("dof"),
        F.round(chi2_raw, 6).alias("chi2"),
        F.round(
            F.sqrt(chi2_raw / (n_col.cast("double") * min_dim.cast("double"))), 6
        ).alias("cramers_v"),
        F.round(mi_raw, 6).alias("mi_nats"),
    )


def referential_integrity(
    edges: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """One-shot referential-integrity sweep over a list of FK edges —
    the whole-schema generalization of the single-edge orphan check
    (``orphan_rows``): for each (name, child_df, fk_col, parent_df,
    pk_col) edge, counts child rows, distinct child keys, orphan rows
    (child keys with no parent — NULL fks are counted separately, not
    as orphans), and NULL fks. Returns one row per edge.

    Each edge pre-aggregates the child to (fk, count) BEFORE joining the
    parent's DISTINCT key set (r15 — the bench protocol-v2 fix exposed
    the real plan cost: the prior shape joined EVERY child row to the
    parent keys, so at 100 TB a fact-table edge shuffles the whole fact
    side once the parent outgrows broadcast; grouping first is map-side
    combined and shuffles only |distinct fks| rows, a ~fanout× cut on
    FK edges by construction). Orphan/NULL counts recover exactly from
    the per-key counts. Edges execute as independent unioned branches
    (one action, parallel stages); no child table is scanned more than
    once per edge. The reference's validation loop runs one COUNT
    query per table per check (`migrate_v3.py` checksum/count mode);
    this rolls the whole FK graph into one plan."""
    parts = []
    for name, child, fk, parent, pk in edges:
        keys = parent.select(F.col(pk).alias("__pk")).distinct()
        per_fk = (
            child.select(F.col(fk).alias("__fk"))
            .groupBy("__fk")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        joined = per_fk.join(keys, F.col("__fk") == F.col("__pk"), "left")
        parts.append(
            joined.agg(
                F.lit(name).alias("relation"),
                F.coalesce(F.sum("__n"), F.lit(0)).alias("child_rows"),
                F.count("__fk").alias("distinct_fks"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("__fk").isNotNull() & F.col("__pk").isNull(),
                            F.col("__n"),
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("orphan_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("__fk").isNull(), F.col("__n")).otherwise(0)),
                    F.lit(0),
                ).alias("null_fks"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def label_balance(df: DataFrame, label_col: str) -> DataFrame:
    """Class-balance audit of a labeled training set: per-label counts and
    exact shares plus the corpus-level imbalance scalars — Gini impurity
    (1 − Σ pᵢ²) and normalized entropy (H / ln k) — repeated on every row
    for a one-table readout. NULL labels surface as their own class
    (``<NULL>`` sentinel): silent drops hide exactly the labeling bugs
    this audit exists to catch.

    Portable arithmetic: counts exact; per-class terms (pᵢ², cᵢ·ln cᵢ)
    are fixed IEEE expressions rounded 12 and DECIMAL(38,12)-accumulated;
    each scalar is one final fixed expression rounded 6. A single-class
    corpus reports normalized entropy 0.0 (stated, not NULL — ln 1 = 0
    denominators are degenerate, not missing). One label-keyed shuffle,
    ≤ |classes| rows after it."""
    per = df.groupBy(
        F.coalesce(F.col(label_col).cast("string"), F.lit("<NULL>")).alias("label")
    ).agg(F.count(F.lit(1)).alias("n"))
    per = per.localCheckpoint(eager=True)  # referenced by totals + sums + output
    totals = per.agg(
        F.sum("n").alias("__total"), F.count(F.lit(1)).alias("__k")
    )
    p_i = F.col("n").cast("double") / F.col("__total").cast("double")
    tot = (
        per.join(F.broadcast(totals))
        .agg(
            F.any_value("__total").alias("__total"),
            F.any_value("__k").alias("__k"),
            F.sum(F.round(p_i * p_i, 12).cast("decimal(38,12)")).alias("__p2"),
            F.sum(
                F.round(
                    F.col("n").cast("double") * F.log(F.col("n").cast("double")), 12
                ).cast("decimal(38,12)")
            ).alias("__clnc"),
        )
    )
    n_d = F.col("__total").cast("double")
    ent = F.log(n_d) - F.col("__clnc").cast("double") / n_d
    return per.join(F.broadcast(tot)).select(
        "label",
        "n",
        F.round(F.col("n").cast("double") / n_d, 6).alias("share"),
        F.round(F.lit(1.0) - F.col("__p2").cast("double"), 6).alias("gini"),
        F.when(
            F.col("__k") > 1,
            F.round(ent / F.log(F.col("__k").cast("double")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )


def column_profile_diff(
    src: DataFrame,
    snk: DataFrame,
    cols: list[str],
    distinct_mode: str = "exact",
    hll_p: int = 12,
) -> DataFrame:
    """Schema-wide column-statistics diff between a source and a sink
    table — the per-COLUMN validation pass that catches what per-ROW
    checks miss cheaply: a replication pipeline that silently NULLs a
    column, drops a value range, or duplicates rows shifts a column's
    (rows, nulls, distincts, content fingerprint) profile long before
    anyone samples rows. The columnar complement to
    ``key_equality_compare`` (which needs the full key join; this is
    one aggregation pass per side). Reference anchor: the validation
    plane's table-compare checks (tests/validation.py semantics).

    Per column and side: exact BIGINT row/null/distinct counts plus an
    ORDER-FREE content fingerprint — Σ (portable_hash60(value) mod
    1e9+7) accumulated in DECIMAL(38,0) (exact at any row count) and
    reduced mod 2^60 at the end, so two tables with equal multisets of
    values fingerprint equal on any engine, with no sort anywhere.
    DOUBLE columns hash as ROUND(v·1e6) BIGINTs and TIMESTAMP columns
    as unix-microsecond BIGINTs (float/timestamp→string rendering never
    matches across engines); everything else hashes its string form.

    Returns one row per column: (column, src_rows, snk_rows, src_nulls,
    snk_nulls, src_distinct, snk_distinct, src_fingerprint,
    snk_fingerprint, profile_match).

    ``distinct_mode``: ``"exact"`` (default) uses count_distinct —
    exact BIGINTs, but each column's distinct VALUES shuffle, the one
    measured super-linear term at 10× (SCALING §4n). ``"hll"`` swaps
    the distinct columns for the HyperLogLog estimate (rounded DOUBLE)
    over ≤2^hll_p registers per column — shuffle traffic becomes
    |partitions|·|cols|·2^p register rows regardless of data size (the
    100 TB path), composed from the SAME ``column_profile_state`` +
    ``hll_estimate`` machinery the streaming monitor runs, so batch and
    stream agree estimate-for-estimate. Equal multisets hash to equal
    registers, so profile_match keeps its meaning; the fingerprint
    column remains the exact content check either way.

    Shape: ONE full-scan aggregation per side for rows/nulls/
    fingerprints; exact mode adds the per-column distinct-value
    shuffles on the same scan, hll mode adds a SECOND scan (the
    exploded (col, key) frame — still one scan for ALL columns) whose
    map-side-combined MAX lands in the bounded register table; then a
    |cols|-row join. No row-level join ever happens."""
    if distinct_mode not in ("exact", "hll"):
        raise ValueError(f"distinct_mode must be 'exact' or 'hll', got {distinct_mode!r}")
    if distinct_mode == "hll":
        from cdc_connector_spark.ops.sketch import hll_estimate

        def profile_hll(df: DataFrame, prefix: str) -> DataFrame:
            counts, regs = column_profile_state(df, cols, p=hll_p)
            est = hll_estimate(regs, p=hll_p).select(
                F.col("grp").alias("column"),
                F.col("est").alias(f"{prefix}_distinct"),
            )
            return counts.select(
                "column",
                F.col("rows").alias(f"{prefix}_rows"),
                F.col("nulls").alias(f"{prefix}_nulls"),
                F.col("fp").alias(f"{prefix}_fingerprint"),
            ).join(est, "column", "left").withColumn(
                # an all-NULL column has no registers: estimate 0.0,
                # matching exact mode's count_distinct = 0
                f"{prefix}_distinct",
                F.coalesce(F.col(f"{prefix}_distinct"), F.lit(0.0)),
            )

        out = profile_hll(src, "src").join(profile_hll(snk, "snk"), "column")
        match = (
            (F.col("src_rows") == F.col("snk_rows"))
            & (F.col("src_nulls") == F.col("snk_nulls"))
            & (F.col("src_distinct") == F.col("snk_distinct"))
            & (F.col("src_fingerprint") == F.col("snk_fingerprint"))
        )
        return out.select(
            "column",
            "src_rows",
            "snk_rows",
            "src_nulls",
            "snk_nulls",
            "src_distinct",
            "snk_distinct",
            "src_fingerprint",
            "snk_fingerprint",
            match.alias("profile_match"),
        ).orderBy("column")
    from pyspark.sql.types import DoubleType, FloatType, TimestampNTZType, TimestampType

    from cdc_connector_spark.ops.sketch import portable_hash60

    def profile(df: DataFrame, prefix: str) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias(f"{prefix}_rows")]
        fields = {f.name: f.dataType for f in df.schema.fields}
        for c in cols:
            if isinstance(fields[c], (DoubleType, FloatType)):
                keyed = F.round(F.col(c) * 1_000_000).cast("long")
            elif isinstance(fields[c], (TimestampType, TimestampNTZType)):
                # timestamp STRING rendering differs across engines —
                # hash the exact integer micros instead
                keyed = F.unix_micros(F.col(c).cast("timestamp"))
            else:
                keyed = F.col(c)
            h = F.pmod(portable_hash60(keyed), F.lit(1_000_000_007))
            aggs += [
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
                F.count_distinct(F.col(c)).alias(f"__dist_{c}"),
                F.pmod(
                    F.sum(F.when(F.col(c).isNotNull(), h).otherwise(0).cast("decimal(38,0)")),
                    F.lit(1 << 60).cast("decimal(38,0)"),
                ).cast("long").alias(f"__fp_{c}"),
            ]
        wide = df.groupBy().agg(*aggs)
        stacked = ", ".join(
            f"'{c}', __nulls_{c}, __dist_{c}, __fp_{c}" for c in cols
        )
        return wide.selectExpr(
            f"{prefix}_rows",
            f"stack({len(cols)}, {stacked}) AS "
            f"(column, {prefix}_nulls, {prefix}_distinct, {prefix}_fingerprint)",
        )
    out = profile(src, "src").join(profile(snk, "snk"), "column")
    match = (
        (F.col("src_rows") == F.col("snk_rows"))
        & (F.col("src_nulls") == F.col("snk_nulls"))
        & (F.col("src_distinct") == F.col("snk_distinct"))
        & (F.col("src_fingerprint") == F.col("snk_fingerprint"))
    )
    return out.select(
        "column",
        "src_rows",
        "snk_rows",
        "src_nulls",
        "snk_nulls",
        "src_distinct",
        "snk_distinct",
        "src_fingerprint",
        "snk_fingerprint",
        match.alias("profile_match"),
    ).orderBy("column")


def column_profile_state(
    df: DataFrame,
    cols: list[str],
    p: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """The MERGEABLE state behind a continuous column-profile monitor —
    the incremental decomposition of ``column_profile_diff``'s
    per-column statistics into two bounded tables:

    - counts: one row per column — (column, rows, nulls, fp) with fp
      the ORDER-FREE modular fingerprint sum (Σ portable_hash60 mod
      1e9+7, reduced mod 2^60). Row/null counts and the modular sum are
      LINEAR: state(A ∪ B) = state(A) + state(B) cell-by-cell (mod
      2^60 for fp), the CMS-linearity argument applied to profiling.
    - registers: HLL register rows (grp=column, bucket, mreg) for the
      per-column DISTINCT estimate — exact distinct counts are NOT
      mergeable (|A ∪ B| ≠ |A| + |B|), which is precisely why the
      streaming monitor carries the MAX-mergeable sketch instead
      (2^p rows per column forever).

    Column typing matches column_profile_diff: doubles hash/sketch as
    ROUND(v·1e6) BIGINTs, timestamps as unix micros, everything else
    by string form — so a batch-side diff and the streaming monitor
    agree on every fingerprint."""
    from pyspark.sql.types import DoubleType, FloatType, TimestampNTZType, TimestampType

    from cdc_connector_spark.ops.sketch import hll_registers, portable_hash60

    fields = {f.name: f.dataType for f in df.schema.fields}

    def keyed(c):
        if isinstance(fields[c], (DoubleType, FloatType)):
            return F.round(F.col(c) * 1_000_000).cast("long")
        if isinstance(fields[c], (TimestampType, TimestampNTZType)):
            return F.unix_micros(F.col(c).cast("timestamp"))
        return F.col(c)

    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in cols:
        h = F.pmod(portable_hash60(keyed(c)), F.lit(1_000_000_007))
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
            F.pmod(
                F.sum(F.when(F.col(c).isNotNull(), h).otherwise(0).cast("decimal(38,0)")),
                F.lit(1 << 60).cast("decimal(38,0)"),
            ).cast("long").alias(f"__fp_{c}"),
        ]
    wide = df.groupBy().agg(*aggs)
    stacked = ", ".join(f"'{c}', __nulls_{c}, __fp_{c}" for c in cols)
    counts = wide.selectExpr(
        "rows",
        f"stack({len(cols)}, {stacked}) AS (column, nulls, fp)",
    ).select("column", "rows", "nulls", "fp")
    # ONE scan for all columns: explode an array of (col, key) structs
    # per row — the per-column unionByName form re-scanned the source
    # once per column (Spark does not dedup identical scans across
    # union legs), which multiplied I/O by |cols| at exactly the scale
    # the sketch exists for (r11 review finding). The string cast is
    # explicit so mixed per-column types (BIGINT keys next to raw
    # strings) can never coerce; portable_hash60 stringifies its input
    # anyway so every register value is unchanged.
    tall = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("__col"),
                        keyed(c).cast("string").alias("__key"),
                    )
                    for c in cols
                ]
            )
        ).alias("__kv")
    ).select(F.col("__kv.__col").alias("__col"), F.col("__kv.__key").alias("__key"))
    registers = hll_registers(tall, "__key", "__col", p=p)
    return counts, registers

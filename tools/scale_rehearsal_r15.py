#!/usr/bin/env python
"""Round-15 rehearsal (verdict #1): the step PAST 10× — every SCALING
measurement so far stops at 10×, but shuffle spill, AQE partition-count
ceilings, fixed bucket counts, and hot-grid behavior only show past that.
This script replicates sf0.1 to 1×/10×/100× with SHIFTED KEYS and
REP-LOCAL text perturbation, then runs the heaviest op families
end-to-end at each scale, reporting wall-clock growth vs output growth.

Fixture design (the part that makes the measurement honest):
- Keys shift per replica (doc_id/c_custkey/event_id/user_id/o_orderkey
  += rep·OFFSET) so distinct/PK semantics hold at every scale.
- Text perturbation is REP-LOCAL: every whitespace token gets a
  4-char rep marker suffix (doubled base-26 digits, pairwise edit
  distance ≥ 2 between any two reps). Within a replica the token
  bijection preserves the base corpus's ENTIRE candidate structure
  (same shingle sets modulo renaming, same edit distances, same gram
  histograms); across replicas no shingle matches and name distance
  exceeds every max_dist used here — so the TRUE output grows ~linearly
  and any super-linear WALL growth is the engine's fault, not the
  fixture's. Naive replication without perturbation would instead
  create 100-way near-dup families (quadratic TRUE output) and the
  measurement would blame the operator for the data.
- customer additionally shifts c_nationkey by rep·100 so the
  golden-record attribute gate (nation, segment) cannot form cross-rep
  candidates even at distance ≤ 1.
- events shift ts by rep seconds (keyless as-of interleaves replicas —
  the global operator's honest shape; output stays = #purchases).

Families (the r14 verdict's list): fuzzy prefix (documents),
canonical_docs, minhash+components (neardup_groups), winnow pairs,
golden_record (customers), keyless global as-of (events), changelog
apply (orders).

Usage:
    python tools/scale_rehearsal_r15.py build           # write fixtures
    python tools/scale_rehearsal_r15.py run FAMILY SCALE  # one cell
    python tools/scale_rehearsal_r15.py report           # print table
Each `run` appends a JSON line to /tmp/r15_scale/results.jsonl so cells
can run in separate processes (fresh JVM per cell — no cross-family
page-cache/JIT bleed) and a crash loses one cell, not the run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
ROOT = "/tmp/r15_scale"
RESULTS = os.path.join(ROOT, "results.jsonl")
SCALES = {"1x": 1, "10x": 10, "100x": 100}
KEY_OFFSET = 1_000_000_000


def _marker(rep_col):
    """4-char rep marker c1·c2·c1·c2 (base-26 digit pair, interleaved):
    any two distinct reps differ in >= 2 positions (edit distance >= 2,
    so cross-rep names never match at max_dist=1), and EVERY character
    3-gram touching the marker contains both digits — no two reps share
    ANY marker-derived gram. The first cut used c1·c1·c2·c2, whose
    boundary grams (x, c1, c1) are shared by all reps with the same
    tens digit: on this 30-word synthetic vocabulary that made the
    'rarest' grams span ~10 reps (posting 38k instead of <=3.8k) and
    inflated prefix-mode candidate volume ~100x beyond what linear
    scaling produces — a fixture artifact, not an operator property."""
    hi = F.chr(F.lit(97) + (rep_col / 10).cast("int"))
    lo = F.chr(F.lit(97) + rep_col % 10)
    return F.concat(hi, lo, hi, lo)


def _perturb_tokens(text_col, rep_col):
    """Suffix EVERY whitespace token with the rep marker: a per-rep token
    bijection — within-rep similarity structure identical to base, no
    cross-rep shingle/gram ever matches."""
    return F.regexp_replace(text_col, r"(\S+)", F.concat(F.lit("$1"), _marker(rep_col)))


def build(spark) -> None:
    from cdc_connector_spark.tables import load_table

    for tag, reps in SCALES.items():
        out_dir = os.path.join(ROOT, f"sf{tag}")
        os.makedirs(out_dir, exist_ok=True)
        r = spark.range(reps).select(F.col("id").alias("rep"))

        docs = load_table(spark, BASE_SF, "documents").crossJoin(r)
        docs.select(
            (F.col("doc_id") + F.col("rep") * KEY_OFFSET).alias("doc_id"),
            _perturb_tokens(F.col("text"), F.col("rep")).alias("text"),
            "lang",
            "source",
        ).withColumn("n_chars", F.length("text")).repartition(
            max(4, 4 * reps)
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

        cust = load_table(spark, BASE_SF, "customer").crossJoin(r)
        cust_cols = []
        for c in cust.columns:
            if c == "rep":
                continue
            if c == "c_custkey":
                cust_cols.append((F.col(c) + F.col("rep") * KEY_OFFSET).alias(c))
            elif c == "c_name":
                cust_cols.append(F.concat(F.col(c), _marker(F.col("rep"))).alias(c))
            elif c == "c_nationkey":
                cust_cols.append((F.col(c) + F.col("rep") * 100).alias(c))
            else:
                cust_cols.append(F.col(c))
        cust.select(*cust_cols).repartition(max(4, 4 * reps)).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "customer.parquet"))

        ev = load_table(spark, BASE_SF, "events").crossJoin(r)
        ev.select(
            (F.col("event_id") + F.col("rep") * KEY_OFFSET).alias("event_id"),
            (F.col("ts") + F.make_interval(secs=F.col("rep").cast("double"))).alias("ts"),
            (F.col("user_id") + F.col("rep") * KEY_OFFSET).alias("user_id"),
            "event_type",
            "value",
            "props",
        ).repartition(max(4, 4 * reps)).write.mode("overwrite").parquet(
            os.path.join(out_dir, "events.parquet")
        )

        orders = load_table(spark, BASE_SF, "orders").crossJoin(r)
        orders.select(
            (F.col("o_orderkey") + F.col("rep") * KEY_OFFSET).alias("o_orderkey"),
            (F.col("o_custkey") + F.col("rep") * KEY_OFFSET).alias("o_custkey"),
            *[c for c in orders.columns if c not in ("o_orderkey", "o_custkey", "rep")],
        ).repartition(max(4, 4 * reps)).write.mode("overwrite").parquet(
            os.path.join(out_dir, "orders.parquet")
        )
        print(f"built {out_dir}", flush=True)


# --- family runners: (spark, sf_dir) -> (n_rows, extra) ------------------

def fam_fuzzy_prefix(spark, sf_dir):
    import __spark_entry__ as m

    return m.fuzzy_prefix_documents(spark, sf_dir).count(), {}


def fam_canonical_docs(spark, sf_dir):
    import __spark_entry__ as m

    return m.canonical_docs_documents(spark, sf_dir).count(), {}


def fam_neardup_groups(spark, sf_dir):
    import __spark_entry__ as m

    return m.neardup_groups_documents(spark, sf_dir).count(), {}


def fam_winnow_pairs(spark, sf_dir):
    import __spark_entry__ as m

    return m.winnow_pairs_documents(spark, sf_dir).count(), {}


def fam_golden_record(spark, sf_dir):
    import __spark_entry__ as m

    return m.golden_record_customers(spark, sf_dir).count(), {}


def fam_global_asof(spark, sf_dir):
    import __spark_entry__ as m

    return m.global_asof_purchase_click(spark, sf_dir).count(), {}


def fam_changelog_apply(spark, sf_dir):
    """ONE warmed overwrite + ONE timed apply of a 20%-of-keys batch
    (bench.py's shape without the variance batching — at 100x a single
    merge is minutes, and the quantity of interest is growth, not a
    tight median)."""
    import shutil
    import tempfile

    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    changes = (
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
            "o_orderdate",
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 20 == 0, "d").otherwise("u").alias("__op"),
            F.lit(1).cast("bigint").alias("__ts_ms"),
            F.col("o_orderkey").alias("__seq"),
        )
    )
    n_events = changes.count()
    root = tempfile.mkdtemp(prefix="r15_apply_")
    try:
        sink = TxLogMergeSink(spark, os.path.join(root, "orders"), ["o_orderkey"], num_buckets=64)
        sink.overwrite(orders)
        t0 = time.time()
        sink.apply(changes)
        dt = time.time() - t0
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return n_events, {"apply_sec": round(dt, 3), "events_per_sec": round(n_events / dt)}


FAMILIES = {
    "fuzzy_prefix": fam_fuzzy_prefix,
    "canonical_docs": fam_canonical_docs,
    "neardup_groups": fam_neardup_groups,
    "winnow_pairs": fam_winnow_pairs,
    "golden_record": fam_golden_record,
    "global_asof": fam_global_asof,
    "changelog_apply": fam_changelog_apply,
}


def run_cell(family: str, scale: str) -> dict:
    from cdc_connector_spark.session import get_spark

    spark = get_spark(f"r15-rehearsal-{family}-{scale}")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.path.join(ROOT, f"sf{scale}")
    fn = FAMILIES[family]
    # warm run only at 1x (codegen ~0.5s matters at seconds-scale cells,
    # is noise at minutes-scale ones; apply manages its own warm-up)
    if scale == "1x" and family != "changelog_apply":
        fn(spark, sf_dir)
    t0 = time.time()
    rows, extra = fn(spark, sf_dir)
    wall = time.time() - t0
    rec = {
        "family": family,
        "scale": scale,
        "wall_sec": round(wall, 2),
        "rows": rows,
        **extra,
    }
    with open(RESULTS, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec), flush=True)
    spark.stop()
    return rec


def report() -> None:
    cells: dict[tuple, dict] = {}
    for line in open(RESULTS):
        r = json.loads(line)
        cells[(r["family"], r["scale"])] = r  # last write wins
    print(f"{'family':<18}{'1x sec':>9}{'10x sec':>9}{'100x sec':>10}"
          f"{'t10/t1':>8}{'t100/t10':>10}{'rows 1x':>10}{'rows100x':>10}{'out100/1':>10}")
    for fam in FAMILIES:
        c1, c10, c100 = (cells.get((fam, s)) for s in ("1x", "10x", "100x"))
        if not c1:
            continue
        t1 = c1["wall_sec"]
        t10 = c10["wall_sec"] if c10 else None
        t100 = c100["wall_sec"] if c100 else None
        row = f"{fam:<18}{t1:>9.2f}"
        row += f"{t10:>9.2f}" if t10 else f"{'—':>9}"
        row += f"{t100:>10.2f}" if t100 else f"{'—':>10}"
        row += f"{(t10 / t1):>8.2f}" if t10 else f"{'—':>8}"
        row += f"{(t100 / t10):>10.2f}" if t100 and t10 else f"{'—':>10}"
        row += f"{c1['rows']:>10}"
        row += f"{c100['rows']:>10}" if c100 else f"{'—':>10}"
        row += f"{(c100['rows'] / max(1, c1['rows'])):>10.1f}" if c100 else f"{'—':>10}"
        print(row)


def main() -> int:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "report"
    if cmd == "build":
        from cdc_connector_spark.session import get_spark

        os.makedirs(ROOT, exist_ok=True)
        spark = get_spark("r15-rehearsal-build")
        spark.sparkContext.setLogLevel("ERROR")
        build(spark)
        spark.stop()
    elif cmd == "run":
        run_cell(sys.argv[2], sys.argv[3])
    elif cmd == "report":
        report()
    else:
        print(__doc__)
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

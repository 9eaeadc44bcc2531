"""Validation runner CLI — the Spark analogue of the reference's hourly
validation job (tests/validation.py:1079-1159): run all six checks for each
configured table pair, print a per-table report + summary, exit 1 when any
table is inconsistent.

Usage (parquet table pairs under two roots, same table names):

    python -m cdc_connector_spark.validation.runner \
        --source-root /data/source --sink-root /data/sink \
        --tables orders:o_orderkey,lineitem:l_orderkey+l_linenumber
"""

from __future__ import annotations

import argparse
import json
import sys

from cdc_connector_spark.session import get_spark
from cdc_connector_spark.tables import find_ts_column
from cdc_connector_spark.validation.checks import run_all_checks, summarize


def parse_tables(spec: str) -> list[tuple[str, list[str]]]:
    """``orders:o_orderkey,lineitem:l_orderkey+l_linenumber`` →
    [(table, [pk, ...]), ...]"""
    out = []
    for part in spec.split(","):
        name, _, pks = part.partition(":")
        out.append((name.strip(), [p.strip() for p in pks.split("+") if p.strip()]))
    return out


def load_validation_table(spark, root: str, table: str):
    """``<root>/<table>`` as a DataFrame: a transaction-log table (detected
    by its ``_log/`` directory) resolves through the log — snapshot
    isolation, MOR delta merge, column mapping all applied — so the sink
    side of the reconciliation can be the live lakehouse table, not an
    export of it; anything else reads as a plain parquet directory."""
    import os

    from cdc_connector_spark.changelog.txlog import TxLogMergeSink

    path = f"{root}/{table}"
    if os.path.isdir(os.path.join(path, "_log")):
        return TxLogMergeSink(spark, path).read()
    return spark.read.parquet(path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source-root", required=True)
    ap.add_argument("--sink-root", required=True)
    ap.add_argument("--tables", required=True, help="name:pk[+pk2][,name2:pk...]")
    ap.add_argument("--database", default="db", help="label for the report header")
    ap.add_argument(
        "--slack",
        action="store_true",
        help="emit the Slack Block-Kit payload (reference SlackNotifier parity, "
        "tests/validation.py:795-935) to stdout; POSTing it to "
        "$SLACK_WEBHOOK_URL is the deployer's wrapper's job — this tool "
        "never performs network IO",
    )
    args = ap.parse_args(argv)

    spark = get_spark("cdc-validation")
    reports = []
    for table, pks in parse_tables(args.tables):
        source = load_validation_table(spark, args.source_root, table)
        try:
            sink = load_validation_table(spark, args.sink_root, table)
        except Exception:  # noqa: BLE001 — missing sink is what check 1 reports
            sink = None
        ts_col = find_ts_column(source.columns)
        report = run_all_checks(table, source, sink, pks, ts_col)
        reports.append(report)
        for r in report.results:
            print(f"[{r.status:4s}] {table}.{r.check}  {json.dumps(r.metrics, default=str)}")
        print(f"[{report.verdict:4s}] {table} overall")

    s = summarize(reports)
    if args.slack:
        from cdc_connector_spark.validation.report import build_slack_summary, to_json

        payload_reports = [
            {
                "table": rep.table,
                "status": rep.verdict,
                "checks": [{"name": r.check, "status": r.status} for r in rep.results],
            }
            for rep in reports
        ]
        print(to_json(build_slack_summary(args.database, payload_reports)))
    print(json.dumps(s))
    return s["exit_code"]


if __name__ == "__main__":
    sys.exit(main())

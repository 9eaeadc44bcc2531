"""Quarantine (DLQ) operations CLI — list / replay / vacuum parked batches.

Operational complement to ChangelogStream's ST7 quarantine: after an
operator fix, ``replay`` drains the DLQ through the same flatten+MERGE path
the stream uses; ``vacuum`` enforces retention so dead batches return their
disk. Sink identity (key_cols, num_buckets) comes from the table
properties in the sink's transaction log — the CLI needs only the path.

Usage::

    python -m cdc_connector_spark.streaming.dlq list   --sink-path /data/t
    python -m cdc_connector_spark.streaming.dlq replay --sink-path /data/t [--batch-id 7]
    python -m cdc_connector_spark.streaming.dlq vacuum --sink-path /data/t --retention-hours 168

Exit codes: 0 = ok (replay: all drained), 1 = replay left batches parked,
2 = replay found no table at ``--sink-path`` (nothing is created there).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dlq", description=__doc__)
    p.add_argument("action", choices=["list", "replay", "vacuum"])
    p.add_argument("--sink-path", required=True)
    p.add_argument("--batch-id", type=int, default=None)
    p.add_argument("--retention-hours", type=float, default=168.0)
    args = p.parse_args(argv)

    from cdc_connector_spark.streaming.pipeline import (
        quarantined_batch_ids,
        vacuum_quarantine,
    )

    qdir = os.path.join(args.sink_path.rstrip("/"), "_quarantine")

    if args.action == "list":
        print(json.dumps({"quarantined": quarantined_batch_ids(qdir)}))
        return 0

    if args.action == "vacuum":
        removed = vacuum_quarantine(qdir, args.retention_hours * 3600.0)
        print(json.dumps({"removed": removed, "remaining": quarantined_batch_ids(qdir)}))
        return 0

    # replay: needs a session + the sink reopened from its own log
    import shutil

    from cdc_connector_spark.changelog.envelope import flatten_envelope
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.session import get_spark

    spark = get_spark("dlq-replay")
    try:
        sink = TxLogMergeSink(spark, args.sink_path)
    except ValueError as e:
        print(json.dumps({"error": str(e)}))
        return 2
    ids = [args.batch_id] if args.batch_id is not None else quarantined_batch_ids(qdir)
    replayed, failed = [], []
    for bid in ids:
        bdir = os.path.join(qdir, f"batch={bid}")
        try:
            batch = spark.read.parquet(bdir)
            sink.apply(flatten_envelope(batch, key_cols=sink.key_cols))
            shutil.rmtree(bdir)
            replayed.append(bid)
        except Exception as e:  # noqa: BLE001 — keep draining; report at exit
            failed.append({"batch_id": bid, "error": str(e).split("\n")[0][:200]})
    print(json.dumps({"replayed": replayed, "failed": failed}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

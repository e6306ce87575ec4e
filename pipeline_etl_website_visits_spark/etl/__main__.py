"""CLI for the visits ETL.

    python -m pipeline_etl_website_visits_spark.etl \
        --input /data/reports --warehouse /data/warehouse [--stream] \
        [--process-date YYYY-MM-DD] [--reprocess] [--checkpoint DIR]

Batch mode mirrors the reference's daily run (process everything new in the
input dir); --stream runs the Structured Streaming path with AvailableNow
(same outcome, checkpoint-tracked); --compact {estadisticas,errores}
[--cluster-by k1,k2] runs the warehouse maintenance job instead (crash-safe
compaction of a per-file partitioned table's small files, optionally
range-clustered for file skipping);
--forget EMAIL runs the GDPR erasure job.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pipeline_etl_website_visits_spark.etl")
    ap.add_argument("--input", default=None, help="directory of report_*.txt files (required unless --compact)")
    ap.add_argument("--warehouse", required=True, help="warehouse root directory")
    ap.add_argument("--process-date", default=None, help="pin 'current' date (tests/replays)")
    ap.add_argument("--reprocess", action="store_true", help="ignore bitacora completion markers")
    ap.add_argument("--stream", action="store_true", help="run via Structured Streaming (AvailableNow)")
    ap.add_argument("--checkpoint", default=None, help="checkpoint dir (stream mode)")
    ap.add_argument("--master", default=None, help="spark master override")
    ap.add_argument(
        "--compact",
        default=None,
        choices=("estadisticas", "errores"),
        help="run maintenance instead of the ETL: compact the table's small per-file partitions",
    )
    ap.add_argument(
        "--cluster-by",
        default=None,
        metavar="COLS",
        help="with --compact: comma-separated columns to range-cluster the rewrite by",
    )
    ap.add_argument("--target-mb", type=int, default=128, help="with --compact: target file size")
    ap.add_argument(
        "--forget",
        default=None,
        metavar="EMAIL",
        help="run maintenance instead of the ETL: GDPR-erase EMAIL from every warehouse table",
    )
    args = ap.parse_args(argv)

    from pipeline_etl_website_visits_spark.session import get_spark

    if args.input is None and not (args.compact or args.forget):
        ap.error("--input is required unless running --compact/--forget maintenance")
    spark = get_spark("visits-etl", master=args.master)
    if args.forget:
        from pipeline_etl_website_visits_spark.etl.load import Warehouse

        out = Warehouse(spark, args.warehouse).forget(args.forget)
        print(json.dumps({"mode": "forget", **out}))
        return 0
    if args.compact:
        from pipeline_etl_website_visits_spark.etl.load import Warehouse

        wh = Warehouse(spark, args.warehouse)
        out = wh.compact(
            args.compact,
            target_mb=args.target_mb,
            cluster_by=args.cluster_by.split(",") if args.cluster_by else None,
        )
        print(json.dumps({"mode": "compact", "table": args.compact, **out}))
        return 0
    if args.stream:
        from pipeline_etl_website_visits_spark.streaming.visits_stream import start_visits_stream

        ckpt = args.checkpoint or f"{args.warehouse.rstrip('/')}/_checkpoint"
        q = start_visits_stream(
            spark, args.input, args.warehouse, ckpt, process_date=args.process_date
        )
        q.awaitTermination()
        print(json.dumps({"mode": "stream", "checkpoint": ckpt}))
        return 0

    from pipeline_etl_website_visits_spark.etl.pipeline import process_directory

    results = process_directory(
        spark, args.input, args.warehouse, process_date=args.process_date, reprocess=args.reprocess
    )
    for r in results:
        print(
            json.dumps(
                {
                    "file": r.filename,
                    "status": r.status,
                    "ok": r.ok_count,
                    "errors": r.err_count,
                    "missing_columns": r.missing_columns,
                    "extra_columns": r.extra_columns,
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())

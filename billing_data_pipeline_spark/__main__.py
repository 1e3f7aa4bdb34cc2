"""CLI entry points — the reference's runnable workflows as one command
(SURVEY.md §3: `dagster job execute -j process_billing_data`,
`--config backfill.yaml`, `dagster dev` materialization all map here; see
MIGRATION.md).

    python -m billing_data_pipeline_spark run \
        --source /lake/root --warehouse /warehouse [--from 2025-04-23 --to 2025-04-25]

    python -m billing_data_pipeline_spark insights --warehouse /warehouse

    python -m billing_data_pipeline_spark stream \
        --source /lake/root --warehouse /warehouse --checkpoint /ckpt

`run` executes the full asset DAG (ingest -> aggregates -> insights) over
the Hive-partitioned CSV lake, with the backfill window as partition
predicates; `insights` re-renders the report from existing tables;
`stream` starts the checkpointed file-source ingest (AvailableNow
catch-up, the sensors' replacement). Scheduling stays external (cron /
Airflow calling `run`), exactly as the reference leaves it to the Dagster
daemon.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import date


def _parse_date(s: str | None) -> date | None:
    return date.fromisoformat(s) if s else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="billing_data_pipeline_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="full DAG: ingest -> aggregates -> insights")
    run.add_argument("--source", required=True, help="Hive-partitioned CSV lake root")
    run.add_argument("--warehouse", required=True, help="parquet warehouse dir")
    run.add_argument("--from", dest="from_date", help="backfill start YYYY-MM-DD")
    run.add_argument("--to", dest="to_date", help="backfill end YYYY-MM-DD")

    ins = sub.add_parser("insights", help="re-render the report from existing tables")
    ins.add_argument("--warehouse", required=True)

    st = sub.add_parser("stream", help="checkpointed streaming ingest (AvailableNow)")
    st.add_argument("--source", required=True)
    st.add_argument("--warehouse", required=True)
    st.add_argument("--checkpoint", required=True)

    cu = sub.add_parser(
        "curate", help="training-corpus curation: scrub -> filter -> chunk -> dedup -> shards"
    )
    cu.add_argument("--docs", required=True, help="documents parquet path")
    cu.add_argument("--out", required=True, help="sharded output dir")
    cu.add_argument("--lang", default="en", help="language filter ('' = all)")
    cu.add_argument("--sample-pct", type=int, default=100)
    cu.add_argument("--shards", type=int, default=8)

    args = ap.parse_args(argv)

    from .session import get_spark, one_pass_jit_conf

    # Each command is one pass in a fresh JVM: C1-only unless what it reads
    # (the warehouse too: aggregates are rebuilt over all of raw_billing)
    # is large enough for C2 to pay.
    reads = [getattr(args, a) for a in ("source", "warehouse", "docs") if hasattr(args, a)]
    spark = get_spark(app_name=f"bdp-{args.cmd}", extra_conf=one_pass_jit_conf(reads))

    if args.cmd == "run":
        from .pipeline import BillingPipeline

        metrics = BillingPipeline(spark, args.warehouse).run(
            args.source,
            from_date=_parse_date(args.from_date),
            to_date=_parse_date(args.to_date),
        )
        report = metrics.pop("report_markdown", "")
        json.dump(metrics, sys.stdout, default=str)
        print()
        print(report, file=sys.stderr)
        return 0

    if args.cmd == "insights":
        from .pipeline import BillingPipeline

        report, metrics = BillingPipeline(spark, args.warehouse).insights()
        json.dump(metrics, sys.stdout, default=str)
        print()
        print(report, file=sys.stderr)
        return 0

    if args.cmd == "curate":
        from .curate import curate_corpus

        metrics = curate_corpus(
            spark,
            spark.read.parquet(args.docs),
            args.out,
            lang=args.lang or None,
            sample_pct=args.sample_pct,
            n_shards=args.shards,
        )
        json.dump(metrics, sys.stdout, default=str)
        print()
        return 0

    if args.cmd == "stream":
        from .streaming.ingest_stream import stream_ingest_csv

        query = stream_ingest_csv(
            spark,
            source_glob=f"{args.source}/year=*/month=*/day=*",
            table_path=f"{args.warehouse}/raw_billing",
            checkpoint_dir=args.checkpoint,
            available_now=True,
        )
        query.awaitTermination()
        print(json.dumps({"stream": "drained", "id": str(query.id)}))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())

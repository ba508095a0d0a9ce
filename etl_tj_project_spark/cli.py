"""Command-line driver — the user surface the reference exposes through
Airflow DAG runs, as plain commands:

    python -m etl_tj_project_spark.cli load-dims --data-dir DATA --warehouse WH
    python -m etl_tj_project_spark.cli run-daily --ds 2025-07-15 \
        --data-dir DATA --warehouse WH
    python -m etl_tj_project_spark.cli backfill --start 2025-07-01 \
        --end 2025-07-31 --data-dir DATA --warehouse WH

``run-daily`` is DAG 2 for one logical date (stages the raw transaction
CSVs from ``--data-dir``, reads dims from the warehouse, writes the three
aggregates with dynamic partition overwrite); ``backfill`` loops it over a
date range (the reference's ``catchup`` equivalent — each day is
independently idempotent, so a crashed backfill just re-runs), staging the
CSVs once for the whole range. On a cluster, submit this
module via ``spark-submit``; locally it builds a ``local[*]`` session.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys

from etl_tj_project_spark import io as lake_io
from etl_tj_project_spark.cache import cache_scope
from etl_tj_project_spark.plans import daily
from etl_tj_project_spark.session import get_spark


def _dims_from_warehouse(spark, wh: daily.Warehouse):
    return {
        name: lake_io.read_table(spark, wh.dim(name))
        for name in ("routes", "shelter_corridor", "realisasi_bus")
    }


def _run_daily(spark, ds: str, trx, dims, wh: daily.Warehouse) -> dict[str, int]:
    bus, halte = trx
    out = daily.run_daily(
        spark,
        ds,
        bus_raw=bus,
        halte_raw=halte,
        routes=dims["routes"],
        realisasi_bus=dims["realisasi_bus"],
        shelter_corridor=dims["shelter_corridor"],
        wh=wh,
    )
    # The reference's post-load verification counts (dag_datapelangan.py:
    # 236-239) — read back what was written.
    return {
        name: lake_io.read_table(spark, wh.agg(name))
        .filter(f"tanggal = DATE '{ds}'")
        .count()
        for name in out
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_tj_project_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_dims = sub.add_parser("load-dims", help="stage + promote dimension CSVs")
    p_dims.add_argument("--data-dir", required=True)
    p_dims.add_argument("--warehouse", required=True)

    p_day = sub.add_parser("run-daily", help="one logical date of DAG 2")
    p_day.add_argument("--ds", required=True, help="YYYY-MM-DD")
    p_day.add_argument("--data-dir", required=True)
    p_day.add_argument("--warehouse", required=True)

    p_bf = sub.add_parser("backfill", help="run-daily over [start, end]")
    p_bf.add_argument("--start", required=True)
    p_bf.add_argument("--end", required=True)
    p_bf.add_argument("--data-dir", required=True)
    p_bf.add_argument("--warehouse", required=True)

    p_c = sub.add_parser(
        "build-corpus",
        help="curate JSONL document shards into a published training "
        "corpus snapshot (plans/corpus_pipeline)",
    )
    p_c.add_argument("--input", required=True, help="JSONL shard dir")
    p_c.add_argument("--out", required=True, help="manifest root to publish")
    p_c.add_argument(
        "--languages", default="en", help="comma-separated allowlist"
    )
    p_c.add_argument(
        "--boilerplate-min-docs",
        type=int,
        default=None,
        help="enable C4-style boilerplate removal at this threshold",
    )
    p_c.add_argument(
        "--classifier",
        action="store_true",
        help="enable the model-based quality filter (shipped weights)",
    )

    p_q = sub.add_parser(
        "query", help="run a registered query by name (see `query --list`)"
    )
    p_q.add_argument("name", nargs="?", help="query name from the registry")
    p_q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_q.add_argument("--show", type=int, default=20, help="rows to print")
    p_q.add_argument("--explain", action="store_true", help="print the plan")
    p_q.add_argument("--list", action="store_true", help="list query names")

    args = p.parse_args(argv)

    if args.cmd == "query" and args.list:
        from etl_tj_project_spark import harness

        for name in sorted(harness.REGISTRY):
            print(f"{name}\t{harness.REGISTRY[name].doc.splitlines()[0]}")
        return 0
    spark = get_spark("etl_tj_cli")
    wh = (
        daily.Warehouse(args.warehouse)
        if getattr(args, "warehouse", None)
        else None
    )
    try:
        if args.cmd == "load-dims":
            dims = daily.load_dims(spark, args.data_dir, wh)
            for name, df in dims.items():
                print(f"{name}: {df.count()} rows")
        elif args.cmd in ("run-daily", "backfill"):
            # One staged snapshot of the CSVs and one read of the dims serve
            # every day; the scope releases the snapshot when the command ends.
            with cache_scope(spark):
                trx = daily.raw_trx_from_csv(spark, args.data_dir)
                dims = _dims_from_warehouse(spark, wh)
                if args.cmd == "run-daily":
                    counts = _run_daily(spark, args.ds, trx, dims, wh)
                    for name, n in counts.items():
                        print(f"{name}[{args.ds}]: {n} rows")
                else:
                    d = dt.date.fromisoformat(args.start)
                    end = dt.date.fromisoformat(args.end)
                    while d <= end:
                        counts = _run_daily(spark, d.isoformat(), trx, dims, wh)
                        total = sum(counts.values())
                        print(f"{d.isoformat()}: {total} aggregate rows")
                        d += dt.timedelta(days=1)
        elif args.cmd == "query":
            from etl_tj_project_spark import harness

            if args.name not in harness.REGISTRY:
                print(f"unknown query: {args.name!r} (try --list)")
                return 2
            df = harness.REGISTRY[args.name].spark(spark, args.sf_dir)
            if args.explain:
                df.explain("formatted")
            df.show(args.show, truncate=40)
            print(f"{args.name}: {df.count()} rows")
        elif args.cmd == "build-corpus":
            from etl_tj_project_spark.plans.corpus_pipeline import (
                build_training_corpus,
            )

            weights = None
            if args.classifier:
                from etl_tj_project_spark.harness_llmdata import _CLF_WEIGHTS

                weights = _CLF_WEIGHTS
            stats = build_training_corpus(
                spark,
                args.input,
                args.out,
                languages=tuple(args.languages.split(",")),
                boilerplate_min_docs=args.boilerplate_min_docs,
                classifier_weights=weights,
            )
            for k, v in stats.items():
                print(f"{k}: {v}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())

"""CLI: the reference's command surface (``src/cli.py:15-135`` in
/root/reference) over the Spark engine.

    python -m beacon_indexer_spark load backfill --start-slot S --end-slot E
    python -m beacon_indexer_spark load realtime [--iterations N]
    python -m beacon_indexer_spark transform batch [--raw-table T]
    python -m beacon_indexer_spark curate run --docs PATH|TABLE [--prefix P]
    python -m beacon_indexer_spark maintain status|gaps|integrity|reset|fix|compact|rollup|profile

Lifecycle parity (SURVEY §3): backfill = chunk plan → distributed fetch →
raw lake → ledger; transform = discovery anti-join → parse fan-out →
structured lake → progress; maintain fix = reset failed → re-transform
with partition overwrite (the DELETE-free repair).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from beacon_indexer_spark.config import NETWORKS, default_config
from beacon_indexer_spark.control import ledger as L
from beacon_indexer_spark.plans.pipeline import BeaconPipeline
from beacon_indexer_spark.schemas.structured import RAW_TO_STRUCTURED
from beacon_indexer_spark.sources.beacon_api import (
    BeaconAPI,
    FetchConfig,
    LOADERS,
    bootstrap_schedule,
    fetch_slots_distributed,
)
from beacon_indexer_spark.sources.beacon_api import FetchMetrics
from beacon_indexer_spark.sources.storage import ParquetLake, make_sink
from beacon_indexer_spark.streaming.realtime import RealtimeLoop


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser("beacon_indexer_spark")
    p.add_argument("--lake-dir", default="./lake")
    p.add_argument("--beacon-url", default="http://localhost:5052")
    p.add_argument("--network", default="gnosis", choices=sorted(NETWORKS))
    p.add_argument("--bootstrap", action="store_true",
                   help="derive the fork schedule from the node's /config/spec "
                        "instead of the built-in network defaults")
    p.add_argument("--sink", default="parquet", choices=["parquet", "clickhouse"],
                   help="structured-table backend (reference storage_factory)")
    p.add_argument("--clickhouse-url", default=None,
                   help="ClickHouse host:port or jdbc: url (with --sink clickhouse)")
    p.add_argument("--metrics-port", type=int, default=None,
                   help="serve /metrics and /health on this port")
    sub = p.add_subparsers(dest="command", required=True)

    load = sub.add_parser("load").add_subparsers(dest="subcommand", required=True)
    bf = load.add_parser("backfill")
    bf.add_argument("--start-slot", type=int, required=True)
    bf.add_argument("--end-slot", type=int, required=True)
    bf.add_argument("--loaders", default="blocks")
    rt = load.add_parser("realtime")
    rt.add_argument("--iterations", type=int, default=None)

    tr = sub.add_parser("transform").add_subparsers(dest="subcommand", required=True)
    tb = tr.add_parser("batch")
    tb.add_argument("--raw-table", default="raw_blocks")
    tb.add_argument("--limit", type=int, default=50)

    cu = sub.add_parser("curate").add_subparsers(dest="subcommand", required=True)
    cr = cu.add_parser("run")
    cr.add_argument("--docs", required=True,
                    help="documents input: a parquet path (contains '/' or "
                         "ends in .parquet) or a lake table name")
    cr.add_argument("--id-col", default="doc_id")
    cr.add_argument("--text-col", default="text")
    cr.add_argument("--quality-threshold", type=float, default=0.5)
    cr.add_argument("--keep-policy", default="min_id",
                    choices=["min_id", "best_quality"],
                    help="which copy of a near-dup cluster survives: the "
                         "minimum id (canonical) or the highest quality "
                         "score (the Dolma/FineWeb policy)")
    cr.add_argument("--prefix", default="curation",
                    help="output tables: <prefix>_keep_list, "
                         "<prefix>_manifest, <prefix>_summary (plus the "
                         "reports enabled by --reports)")
    cr.add_argument("--reports", default="",
                    help="comma list of extra staged-spine reports to "
                         "write: size_dist, token_budget, dup_by_length, "
                         "leakage_split (each reads the SAME staged "
                         "cluster frame — no extra LSH/CC pass)")

    mt = sub.add_parser("maintain").add_subparsers(dest="subcommand", required=True)
    st = mt.add_parser("status")
    st.add_argument("--verbose", action="store_true",
                    help="add raw-vs-FINAL debug counts, stale claimed "
                         "chunks, recent failures/activity (reference "
                         "scripts/chunks.py + transformer_status.py)")
    st.add_argument("--stale-minutes", type=int, default=30)
    gp = mt.add_parser("gaps")
    gp.add_argument("--raw-table", default="raw_blocks")
    gp.add_argument("--start-slot", type=int, required=True)
    gp.add_argument("--end-slot", type=int, required=True)
    ig = mt.add_parser("integrity")
    ig.add_argument("--raw-table", default="raw_blocks")
    rs = mt.add_parser("reset")
    rs.add_argument("--statuses", default="claimed,failed")
    fx = mt.add_parser("fix")
    fx.add_argument("--raw-table", default="raw_blocks")
    cp = mt.add_parser("compact")
    cp.add_argument("--tables", required=True,
                    help="comma-separated lake tables to rewrite latest-wins")
    ru = mt.add_parser("rollup")
    ru.add_argument("--spec", default="daily_blocks",
                    choices=sorted(ROLLUP_SPECS),
                    help="registered rollup spec")
    pf = mt.add_parser("profile")
    pf.add_argument("--table", required=True, help="lake table to profile")
    pf.add_argument("--columns", default=None,
                    help="comma-separated columns (default: all)")
    return p


# Registered materialized rollups: spec -> (source table, rollup table,
# aggregation over the latest-version rows of the affected days). Extend by
# adding an entry; `maintain rollup` refreshes only the changed days.
ROLLUP_SPECS: dict = {
    "daily_blocks": (
        "raw_blocks",
        "rollup_daily_blocks",
        lambda df: df.groupBy("date").agg(
            F.countDistinct("slot").alias("n_blocks"),
            F.min("slot").alias("min_slot"),
            F.max("slot").alias("max_slot"),
        ),
    ),
}


def _services(args, spark: SparkSession):
    if args.bootstrap:
        schedule, _, _ = bootstrap_schedule(BeaconAPI(args.beacon_url))
    else:
        schedule = NETWORKS[args.network]
    lake = ParquetLake(spark, args.lake_dir, schedule)
    ledger = L.ChunkLedger(spark, f"{args.lake_dir}/_control/load_state_chunks")
    progress = L.ProgressManifest(spark, f"{args.lake_dir}/_control/transformer_progress")
    sink = make_sink(args.sink, lake, clickhouse_url=args.clickhouse_url)
    pipe = BeaconPipeline(lake, progress=progress, sink=sink)
    return lake, ledger, progress, pipe


def main(
    argv: list[str] | None = None,
    spark: SparkSession | None = None,
    api_factory=None,
) -> int:
    """``api_factory`` is the injectable (picklable) HTTP-client builder the
    distributed fetch stages use — tests drive backfill/fix with a fake."""
    args = build_parser().parse_args(argv)
    if spark is None:
        from beacon_indexer_spark.session import get_spark

        spark = get_spark(app_name="beacon-indexer-spark-cli")
    if args.metrics_port is not None:
        from beacon_indexer_spark.observability import start_metrics_server

        start_metrics_server(args.metrics_port)
    lake, ledger, progress, pipe = _services(args, spark)
    cfg = default_config()
    out: dict = {"command": f"{args.command} {args.subcommand}"}

    if (args.command, args.subcommand) == ("load", "backfill"):
        names = [n.strip() for n in args.loaders.split(",") if n.strip()]
        fetch_cfg = FetchConfig(base_url=args.beacon_url)
        for name in names:
            spec = LOADERS[name]
            chunks = L.generate_chunks(
                spark, args.start_slot, args.end_slot, cfg.chunk_size, name,
                completed=ledger.with_status(L.COMPLETED),
            )
            ledger.append(chunks)
            fm = FetchMetrics(spark, name)
            df = fetch_slots_distributed(
                spark, fetch_cfg, spec, args.start_slot, args.end_slot,
                lake.schedule, slots_per_task=cfg.chunk_size,
                api_factory=api_factory, metrics=fm,
            )
            lake.write(spec.raw_table, df)
            fm.fold()
            # mark ONLY this run's range completed — stale pending chunks
            # from an interrupted earlier backfill must stay pending
            ledger.mark(
                ledger.with_status(L.PENDING).filter(
                    (F.col("loader_name") == name)
                    & (F.col("start_slot") >= (args.start_slot // cfg.chunk_size)
                       * cfg.chunk_size)
                    & (F.col("end_slot") <= args.end_slot)
                ),
                L.COMPLETED,
            )
            out[name] = lake.table_stats(spec.raw_table)

    elif (args.command, args.subcommand) == ("load", "realtime"):
        loop = RealtimeLoop(
            api=BeaconAPI(args.beacon_url), lake=lake, pipeline=pipe, config=cfg
        )
        out["windows_processed"] = loop.run(max_iterations=args.iterations)

    elif (args.command, args.subcommand) == ("transform", "batch"):
        results = pipe.transform_pending(
            ledger.current(), args.raw_table, limit=args.limit
        )
        out["chunks"] = [
            {"start_slot": s, "end_slot": e, "rows": c} for s, e, c in results
        ]

    elif (args.command, args.subcommand) == ("curate", "run"):
        # production curation: the STAGED pipeline (plans/pipeline.py
        # CurationRun) computes LSH→connected-components ONCE and derives
        # keep-list / manifest / summary from that staged frame (each
        # standalone oracle query builds its own run for one output). The
        # progress manifest records the run like any transform batch.
        from beacon_indexer_spark.plans.pipeline import CurationRun

        if "/" in args.docs or args.docs.endswith(".parquet"):
            docs = spark.read.parquet(args.docs)
        else:
            docs = lake.read(args.docs)
        run = CurationRun(
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            quality_threshold=args.quality_threshold,
            keep_policy=args.keep_policy,
        )
        # curation outputs are REPORTS, not append-only facts: they carry
        # no key/version column for latest-wins reads, so a re-run with
        # the same --prefix must REPLACE the previous run's tables —
        # append would leave two conflicting keep verdicts per doc for
        # downstream readers
        lake.write(f"{args.prefix}_keep_list", run.keep_list(), mode="overwrite")
        lake.write(f"{args.prefix}_manifest", run.manifest(), mode="overwrite")
        summary = run.summary()
        lake.write(f"{args.prefix}_summary", summary, mode="overwrite")
        report_fns = {
            "size_dist": run.cluster_size_dist,
            "token_budget": run.token_budget,
            "dup_by_length": run.dup_rate_by_length,
            "leakage_split": run.leakage_split,
        }
        extra_tables = []
        requested = [r for r in args.reports.split(",") if r]
        for rep in requested:
            if rep not in report_fns:
                raise SystemExit(
                    f"unknown --reports entry {rep!r}; "
                    f"choose from {sorted(report_fns)}"
                )
            lake.write(f"{args.prefix}_{rep}", report_fns[rep](), mode="overwrite")
            extra_tables.append(f"{args.prefix}_{rep}")
        # a re-run with a narrower --reports set must not leave a prior
        # run's report tables beside the fresh keep_list/manifest —
        # downstream readers would pair the new manifest with stale reports
        dropped_tables = []
        for rep in report_fns:
            if rep not in requested and lake.drop(f"{args.prefix}_{rep}"):
                dropped_tables.append(f"{args.prefix}_{rep}")
        # read the summary from the in-memory frame, not the lake table —
        # a table re-read could pick up a stale row if anything appended
        srow = summary.collect()[0].asDict()
        srow.pop("inserted_at", None)
        progress.record(
            f"curate:{args.docs}", 0, 0, "completed",
            processed_count=int(srow["n_docs"]),
        )
        out["curate"] = {
            "docs": args.docs,
            "tables": [
                f"{args.prefix}_keep_list",
                f"{args.prefix}_manifest",
                f"{args.prefix}_summary",
                *extra_tables,
            ],
            "dropped_tables": dropped_tables,
            **srow,
        }

    elif (args.command, args.subcommand) == ("maintain", "status"):
        out["chunks"] = [r.asDict() for r in ledger.counts().collect()]
        out["transform"] = [r.asDict() for r in progress.stats().collect()]
        out["tables"] = [
            lake.table_stats(t)
            for t in ["raw_blocks", *RAW_TO_STRUCTURED.get("raw_blocks", [])]
            if lake.exists(t)
        ]
        if args.verbose:
            from datetime import timedelta

            stale_to = timedelta(minutes=args.stale_minutes)
            out["debug_counts"] = ledger.debug_counts()
            out["stale_claimed"] = [
                r.asDict() for r in ledger.stale_claimed(stale_to).collect()
            ]
            out["recent_failures"] = [
                r.asDict() for r in progress.failed_ranges().collect()
            ]
            out["recent_activity"] = [
                r.asDict() for r in progress.recent().collect()
            ]

    elif (args.command, args.subcommand) == ("maintain", "gaps"):
        raw = lake.read(args.raw_table)
        out["report"] = L.gap_report(raw, args.start_slot, args.end_slot)

    elif (args.command, args.subcommand) == ("maintain", "integrity"):
        out["report"] = L.integrity_check(ledger, progress, args.raw_table)

    elif (args.command, args.subcommand) == ("maintain", "reset"):
        statuses = tuple(s.strip() for s in args.statuses.split(","))
        out["reset"] = ledger.reset(statuses=statuses)

    elif (args.command, args.subcommand) == ("maintain", "fix"):
        # reference maintain fix full chain (src/services/maintenance.py:
        # 77-138): identify → reset → RELOAD failed load chunks → re-
        # transform failed ranges with partition overwrite → catch up
        # anything loaded-but-untransformed. One command, zero gaps after.
        loader_name = args.raw_table.removeprefix("raw_")
        spec = LOADERS[loader_name]
        failed_loads = ledger.with_status(L.FAILED).filter(
            F.col("loader_name") == loader_name
        )
        load_ranges = [
            (r["start_slot"], r["end_slot"])
            for r in failed_loads.select("start_slot", "end_slot").collect()
        ]
        if load_ranges:
            fetch_cfg = FetchConfig(base_url=args.beacon_url)
            from beacon_indexer_spark.plans.pipeline import _coalesce_ranges

            for run in _coalesce_ranges(load_ranges):
                s, e = run[0][0], run[-1][1]
                df = fetch_slots_distributed(
                    spark, fetch_cfg, spec, s, e, lake.schedule,
                    slots_per_task=cfg.chunk_size, api_factory=api_factory,
                )
                lake.write(spec.raw_table, df)
            ledger.mark(failed_loads, L.COMPLETED)
        out["reloaded_ranges"] = load_ranges
        failed = progress.current().filter(
            (F.col("raw_table_name") == args.raw_table)
            & (F.col("status") == L.FAILED)
        ).collect()
        fixed = []
        for r in failed:
            pipe.repair_range(args.raw_table, r["start_slot"], r["end_slot"])
            fixed.append((r["start_slot"], r["end_slot"]))
        out["fixed_ranges"] = fixed
        # reloaded chunks (and any other completed-but-untransformed work)
        # flow through the standard discovery anti-join
        caught_up = pipe.transform_pending(ledger.current(), args.raw_table, limit=None)
        out["transformed_ranges"] = [[s, e] for s, e, _ in caught_up]

    elif (args.command, args.subcommand) == ("maintain", "compact"):
        # ReplacingMergeTree background-merge analogue, run explicitly.
        # 'control' compacts the ledger + progress manifests (small-file
        # hygiene for the append-per-transition model).
        compacted = {}
        for t in (x.strip() for x in args.tables.split(",") if x.strip()):
            if t == "control":
                ledger.compact()
                progress.compact()
                compacted[t] = "ok"
                continue
            before = lake.read(t).count()
            lake.compact(t)
            compacted[t] = {"before": before, "after": lake.read(t).count()}
        out["compacted"] = compacted

    elif (args.command, args.subcommand) == ("maintain", "profile"):
        # drift detection on lake tables (operators/profile.py): one
        # aggregation pass per table; the JSON report is the go/no-go
        # input for promoting a backfill
        from beacon_indexer_spark.operators.profile import profile_columns

        try:
            df = lake.read_latest(args.table)
        except KeyError:
            # tables outside the key registry (rollups, ad-hoc frames)
            # have no latest-wins key — profile the raw rows
            df = lake.read(args.table)
        cols = (
            [c.strip() for c in args.columns.split(",") if c.strip()]
            if args.columns
            else list(df.columns)
        )
        out["profile"] = {
            "table": args.table,
            "columns": [
                r.asDict() for r in profile_columns(df, cols).collect()
            ],
        }

    elif (args.command, args.subcommand) == ("maintain", "rollup"):
        src, dst, agg = ROLLUP_SPECS[args.spec]
        out["rollup"] = {
            "spec": args.spec,
            "source": src,
            "table": dst,
            **lake.refresh_rollup(src, dst, agg),
        }

    print(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())

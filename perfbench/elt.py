"""``elt`` workload: bulk backfill, then dashboards, on a fresh lake.

Set-up renders the fake node's bodies (three times; the median counts).
The timed phase, one closed loop on the driver:

1. ``cli load backfill`` (distributed fetch through the picklable
   ``api_factory``) then ``cli transform batch`` over 1000 slots that
   straddle the deneb -> electra boundary, into a fresh lake. These are
   one-shot CLI commands, timed as a user of the CLI pays them: the first
   execution of their plans in the process is inside the number;
2. the dashboard functions of ``layers.TIMED_DASHBOARD`` (from
   ``plans.analytics``, over ``ParquetLake.read_latest``):
   ``WARMUP_CYCLES`` untimed cycles (counted in set-up) execute each plan
   for the first time and let the JVM compile its hot paths, then cycles
   are timed until they have run ``--seconds``, as a long-lived dashboard
   process runs them.

The traced run (``--trace 1``) goes on, after the end-to-end timings:

3. the other dashboard functions of ``layers.DASHBOARD``;
4. a live window: the node re-serves seeded slots of the last 100-slot
   window with a new payload, and ``RealtimeLoop.process_window`` (chunk
   size 100, the reference default) re-fetches the whole window -- the
   unchanged slots repeat their payload_hash -- and re-transforms it.
   Its latency runs until the window's rows are readable through
   ``read_latest``;
5. ``cli maintain compact`` of the raw and control tables;
6. the timed dashboard functions again, over the re-orged lake.

The output checks run after the timed phase.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import stats
from perfbench.harness import Ctx, Outcome, cli, cpu_steal_s, span, steal_since, tree_size
from perfbench.layers import DASHBOARD, TIMED_DASHBOARD
from perfbench.node import (
    BASE_URL, BLOCK_TABLES, ELECTRA_SLOT, Chain, FetchCounters,
    NodeAPIFactory, NodeTransport,
)

N_SLOTS = 1000
WINDOW = 100
WARMUP_CYCLES = 2
REORG_EVERY = 25  # one re-orged slot per 25 non-empty slots
START = (ELECTRA_SLOT // 1000) * 1000  # one ledger chunk, electra from slot 696
END = START + N_SLOTS - 1
WIN_START, WIN_END = END - WINDOW + 1, END


def dashboards(lake) -> dict:
    """The ten dashboard functions, each building its plan over
    ``read_latest`` when called."""
    from beacon_indexer_spark.plans import analytics as A

    def latest(t):
        return lake.read_latest(t)

    return {
        "recent_blocks": lambda: A.recent_blocks(latest("blocks")),
        "fork_distribution": lambda: A.fork_distribution(latest("blocks")),
        "top_proposers": lambda: A.top_proposers(latest("blocks")),
        "blob_commitment_check": lambda: A.blob_commitment_check(
            latest("blocks"), latest("blob_commitments")),
        "withdrawals_daily": lambda: A.withdrawals_daily(
            latest("blocks"), latest("withdrawals")),
        "execution_daily": lambda: A.execution_daily(
            latest("blocks"), latest("execution_payloads")),
        "network_health_hourly": lambda: A.network_health_hourly(latest("blocks")),
        "fork_transitions": lambda: A.fork_transitions(latest("blocks")),
        "sync_participation_daily": lambda: A.sync_participation_daily(
            latest("sync_aggregates")),
        "attestation_inclusion_delay": lambda: A.attestation_inclusion_delay(
            latest("attestations")),
    }


def setup(ctx: Ctx) -> tuple[Chain, str, list[float]]:
    path = os.path.join(ctx.work, "bodies.pkl")
    times, chain = [], None
    for _ in range(3):
        t0 = time.perf_counter()
        chain = Chain(ctx.seed, START, N_SLOTS, reorg_every=REORG_EVERY)
        chain.save(path)
        times.append(time.perf_counter() - t0)
    return chain, path, times


def run(ctx: Ctx, out: Outcome) -> None:
    from beacon_indexer_spark.config import GNOSIS
    from beacon_indexer_spark.sources.storage import ParquetLake

    chain, bodies_path, render_s = setup(ctx)
    out.details["render_s"] = render_s
    spark = ctx.spark
    counters = FetchCounters(spark.sparkContext) if ctx.tracer else None
    factory = NodeAPIFactory(bodies_path, counters)
    lake_dir = os.path.join(ctx.work, "lake")
    base = ["--lake-dir", lake_dir, "--network", "gnosis"]
    reorged: set[int] = set()
    if ctx.tracer:
        _instrument(ctx.tracer)

    lake = ParquetLake(spark, lake_dir, GNOSIS)
    dash = dashboards(lake)
    dash_s: dict[str, list[float]] = {f: [] for f in DASHBOARD}
    results: dict[str, list] = {}

    def cycle(names, into=dash_s):
        for name in names:
            build = dash[name]
            with span(ctx, f"analytics.{name}", engine=True):
                secs, rows = out.op(f"dashboard {name}", lambda b=build: b().collect())
            into.setdefault(name, []).append(secs)
            results[name] = rows

    with span(ctx, "timed", engine=True):
        t0 = time.perf_counter()
        load_s, _ = out.op("load backfill", cli, [
            *base, "load", "backfill", "--start-slot", str(START),
            "--end-slot", str(END)], spark, api_factory=factory)
        transform_s, _ = out.op("transform batch", cli,
                                [*base, "transform", "batch"], spark)
        bulk_s = time.perf_counter() - t0
        lake_bytes = tree_size(lake_dir)[1]
        warm_s: dict[str, list[float]] = {}
        for _ in range(WARMUP_CYCLES):  # first executions, JIT: set-up
            cycle(TIMED_DASHBOARD, into=warm_s)
        steal0, tq = cpu_steal_s(), time.perf_counter()
        while True:
            cycle(TIMED_DASHBOARD)
            if time.perf_counter() - tq >= ctx.seconds:
                break
        out.details["timed_window_steal_s"] = steal_since(steal0)
        timed_s = {f: list(dash_s[f]) for f in TIMED_DASHBOARD}
        if ctx.tracer:
            cycle([f for f in DASHBOARD if f not in TIMED_DASHBOARD])
            reorged = {s for s in chain.alt_bodies if WIN_START <= s <= WIN_END}
            _live(ctx, out, chain, lake, lake_dir, base, counters, reorged)
            cycle(TIMED_DASHBOARD)

    if ctx.tracer:
        ctx.tracer.restore()
    payload_bytes = chain.payload_bytes()
    q = stats.timing(timed_s)
    out.details["warmup_s"] = sum(x for xs in warm_s.values() for x in xs)
    out.metrics.update({
        "bulk_s": bulk_s,
        "query_p50_s": q["median"],
        "query_tail_s": q["tail"],
        "query_mix_s": sum(statistics.median(xs) for xs in timed_s.values()),
        "bytes_per_input_byte": lake_bytes / payload_bytes,
    })
    out.details.update({
        "backfill_slots_per_s": N_SLOTS / bulk_s,
        "load_backfill_s": load_s, "transform_batch_s": transform_s,
        "lake_bytes_per_payload_byte": lake_bytes / payload_bytes,
        "dashboard_query": q, "dashboard_fn_s": dash_s,
        "warmup_cycle_s": warm_s,
        "slots": [START, END], "reorged_slots": sorted(reorged),
    })
    if ctx.tracer:
        _layers(ctx, out, lake_dir, counters)
    _checks(out, chain, lake, lake_dir, reorged, results)


def _live(ctx: Ctx, out: Outcome, chain: Chain, lake, lake_dir: str,
          base: list[str], counters, reorged: set[int]) -> None:
    """Re-org window, then compaction (traced run only)."""
    from beacon_indexer_spark.config import EngineConfig
    from beacon_indexer_spark.control import ledger as L
    from beacon_indexer_spark.plans.pipeline import BeaconPipeline
    from beacon_indexer_spark.streaming.realtime import RealtimeLoop

    spark = lake.spark
    progress = L.ProgressManifest(spark, f"{lake_dir}/_control/transformer_progress")
    pipe = BeaconPipeline(lake, progress=progress)
    transport = NodeTransport(chain.bodies, chain.flaky, counters=counters)
    loop = RealtimeLoop(api=counters.wrap_api(BASE_URL, transport), lake=lake,
                        pipeline=pipe, config=EngineConfig(chunk_size=WINDOW),
                        loaders=("blocks",))
    transport.served.update({s: chain.alt_bodies[s] for s in reorged})
    want_blocks = sum(1 for s in range(WIN_START, WIN_END + 1) if s in chain.bodies)

    def window():
        loop.process_window(WIN_START, WIN_END)
        seen = lake.read_latest("blocks", (WIN_START, WIN_END)).count()
        if seen != want_blocks:
            raise RuntimeError(f"window rows readable {seen} != {want_blocks}")

    with span(ctx, "realtime.window", engine=True):
        window_s, _ = out.op("live window", window)
    # rows the latest() dedup reads per row it keeps, on the raw table
    # before compaction folds the repeats
    raw = lake.read("raw_blocks").count()
    out.layers["storage.latest_rows_in_per_out"] = raw / lake.read_latest("raw_blocks").count()
    out.layers["realtime.window_latency_s"] = window_s
    compact_s, _ = out.op("maintain compact", cli, [
        *base, "maintain", "compact", "--tables", "raw_blocks,control"], spark)
    out.details.update({"window_latency_s": window_s, "compact_s": compact_s,
                        "window": [WIN_START, WIN_END]})


# -- output checks ---------------------------------------------------------

def _checks(out: Outcome, chain: Chain, lake, lake_dir: str, reorged: set[int],
            results: dict) -> None:
    from pyspark.sql import functions as F

    from beacon_indexer_spark.control import ledger as L
    from beacon_indexer_spark.sources.storage import table_key_version

    spark = lake.spark

    def table_counts():
        """Rows per structured table against the truth. With re-orgs (the
        traced run) through ``read_latest``, also counting distinct keys;
        without, every key is written once, so the stored rows are the
        latest rows and one scan per table suffices. The sink writes no
        empty tables, so a table never written counts 0 rows."""
        frames = []
        for t in filter(lake.exists, BLOCK_TABLES):
            keys, _ = table_key_version(t)
            df = lake.read_latest(t) if reorged else lake.read(t)
            frames.append(df.select(
                F.lit(t).alias("t"),
                F.concat_ws("|", *[F.col(k).cast("string") for k in keys]).alias("k")))
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        aggs = [F.count(F.lit(1)).alias("n")]
        if reorged:
            aggs.append(F.count_distinct("k").alias("keys"))
        got = {r["t"]: (r["n"], r["keys"] if reorged else r["n"])
               for r in union.groupBy("t").agg(*aggs).collect()}
        want = chain.expected_rows(reorged=reorged)
        bad = {t: (got.get(t, (0, 0)), n) for t, n in want.items()
               if got.get(t, (0, 0)) != (n, n)}
        return None if not bad else f"(rows, distinct keys) vs truth: {bad}"

    def gaps():
        rep = L.gap_report(lake.read("raw_blocks"), START, END)
        empty = chain.empty_slots()
        if rep["missing"] != len(empty) or rep["sample_missing"] != empty[:20]:
            return f"gap report {rep} vs {len(empty)} empty slots"
        return None

    def chunks():
        ledger = L.ChunkLedger(spark, f"{lake_dir}/_control/load_state_chunks")
        st = [r.asDict() for r in ledger.current().select(
            "start_slot", "end_slot", "status").collect()]
        progress = L.ProgressManifest(spark, f"{lake_dir}/_control/transformer_progress")
        done = {(r["start_slot"], r["end_slot"]) for r in progress.current().filter(
            F.col("status") == L.COMPLETED).collect()}
        bad = [c for c in st if c["status"] != L.COMPLETED
               or (c["start_slot"], c["end_slot"]) not in done]
        return None if st and not bad else f"chunks not completed/transformed: {bad or st}"

    def reorg_payloads():
        rows = lake.read_latest("blocks", (WIN_START, WIN_END)).select(
            "slot", "proposer_index").collect()
        got = {r["slot"]: r["proposer_index"] for r in rows if r["slot"] in reorged}
        want = {s: chain.alt_truth[s].proposer for s in reorged}
        return None if got == want else f"re-orged proposers {got} != {want}"

    def dashboards_vs_truth():
        latest = {s: (chain.alt_truth.get(s) if s in reorged else t)
                  for s, t in chain.truth.items()}
        forks: dict[str, int] = {}
        props: dict[int, int] = {}
        for t in latest.values():
            forks[t.version] = forks.get(t.version, 0) + 1
            props[t.proposer] = props.get(t.proposer, 0) + 1
        want_forks = sorted(forks.items(), key=lambda kv: (-kv[1], kv[0]))
        want_top = sorted(props.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        got_forks = [(r["version"], r["block_count"]) for r in results["fork_distribution"]]
        got_top = [(r["proposer_index"], r["blocks_proposed"])
                   for r in results["top_proposers"]]
        if got_forks != want_forks or got_top != want_top:
            return f"forks {got_forks} vs {want_forks}; top {got_top} vs {want_top}"
        return None

    out.check("rows_per_table", table_counts)
    out.check("gap_report_empty_slots", gaps)
    out.check("chunks_completed", chunks)
    if reorged:
        out.check("reorg_new_payload", reorg_payloads)
    out.check("dashboards_vs_truth", dashboards_vs_truth)


# -- traced run --------------------------------------------------------------

def _instrument(t) -> None:
    from beacon_indexer_spark.control import ledger as L
    from beacon_indexer_spark.plans import pipeline as P
    from beacon_indexer_spark.sources import storage as S
    from beacon_indexer_spark.streaming import realtime as RT

    def table_tree(args, kwargs):
        lake, table = args[0], args[1]
        return tree_size(lake.path(table), ".parquet")

    def written(rec, result, args, kwargs, before):
        lake, table = args[0], args[1]
        mode = kwargs.get("mode", args[3] if len(args) > 3 else "append")
        files, size = tree_size(lake.path(table), ".parquet")
        if mode == "append":
            files, size = files - before[0], size - before[1]
        t.count("storage.files_written", files)
        t.count("storage.bytes_written", size)

    def rewritten(rec, result, args, kwargs, _):
        t.count("storage.compact_bytes_rewritten",
                tree_size(args[0].path(args[1]), ".parquet")[1])

    def transformed(rec, counts, args, kwargs, _):
        t.count("transform.raw_rows_in", counts.get("blocks", 0))
        t.count("transform.rows_out", sum(counts.values()))

    t.patch(S.ParquetLake, "write", "storage.write", before=table_tree, after=written)
    t.patch(S.ParquetLake, "read_latest", "storage.read_latest")
    t.patch(S.ParquetLake, "compact", "storage.compact", after=rewritten)
    for owner, names in (
        (L.ChunkLedger, ("append", "mark", "current", "with_status", "compact")),
        (L.ProgressManifest, ("record", "record_many", "current", "compact")),
        (L, ("generate_chunks",)),
        (P, ("untransformed_chunks",)),
    ):
        for n in names:
            t.patch(owner, n, f"ledger.{n}")
    t.patch(P, "transform_tables", "transform.build")
    t.patch(P.BeaconPipeline, "transform_range", "pipeline.transform_range",
            engine=True, after=transformed)
    t.patch(S.ParquetSink, "write", "pipeline.sink_write")
    t.patch(RT.RealtimeLoop, "process_window", "realtime.process_window")
    t.patch(RT, "fetch_slots_local", "realtime.fetch_local")


def _layers(ctx: Ctx, out: Outcome, lake_dir: str, counters) -> None:
    t = ctx.tracer
    L_ = out.layers
    req = counters.requests.value
    L_.update({
        "beacon_api.requests": req,
        "beacon_api.not_found": counters.not_found.value,
        "beacon_api.retries": counters.retries.value,
        "beacon_api.get_s": counters.get_ms.value / 1000.0,
        "beacon_api.rows_per_request": counters.ok.value / req if req else 0.0,
        "storage.write_calls": len(t.named("storage.write")),
        "storage.write_s": t.outermost_total("storage.write")[1],
        "storage.files_written": t.counts.get("storage.files_written", 0),
        "storage.bytes_written": t.counts.get("storage.bytes_written", 0),
        "storage.read_latest_build_s": t.total("storage.read_latest"),
        "storage.compact_s": t.total("storage.compact"),
        "storage.compact_bytes_rewritten": t.counts.get("storage.compact_bytes_rewritten", 0),
        "storage.lake_files": tree_size(lake_dir)[0],
        "ledger.calls": t.outermost_total("ledger.")[0],
        "ledger.s": t.outermost_total("ledger.")[1],
        "ledger.manifest_files": tree_size(os.path.join(lake_dir, "_control"))[0],
        "transform.build_s": t.total("transform.build"),
        "transform.raw_rows_in": t.counts.get("transform.raw_rows_in", 0),
        "transform.rows_out": t.counts.get("transform.rows_out", 0),
        "pipeline.transform_range_s": t.total("pipeline.transform_range"),
        "pipeline.transform_range_self_s": t.self_total("pipeline.transform_range"),
        "pipeline.transform_range_jobs": t.engine_sum("pipeline.transform_range", "jobs"),
        "pipeline.sink_write_s": t.total("pipeline.sink_write"),
        "realtime.process_window_self_s": t.self_total("realtime.process_window"),
        "realtime.fetch_local_s": t.total("realtime.fetch_local"),
    })
    rin = L_["transform.raw_rows_in"]
    L_["transform.fanout_ratio"] = L_["transform.rows_out"] / rin if rin else 0.0
    for f in DASHBOARD:
        L_[f"analytics.{f}_s"] = statistics.median(
            s["end"] - s["start"] for s in t.named(f"analytics.{f}"))

"""Benchmark entry point.

    python3 perfbench/run.py --workload elt|curation_mix --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout of the repository. One process drives
the program on ``local[nproc]`` (``SPARK_GRAFT_CPUS`` overrides nproc):
a closed loop with one client, no network. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of ``layers.END_TO_END`` with
``--trace 0``, the per-layer metrics of ``layers.PER_LAYER`` with
``--trace 1``. A fuller record (box stamp, every sample, check results,
spans) goes to ``.perfbench_results/`` in the checkout. Scratch files go to
``.perfbench_work/`` and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, ".perfbench_results")
WORK = os.path.join(ROOT, ".perfbench_work")


class RssSampler(threading.Thread):
    """Peak memory of this process and all its descendants (the JVM and
    its Python workers), sampled from /proc. Each process counts its
    proportional set size, so pages that forked Python workers share
    with their parent are counted once."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _descendants(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return 0

    def run(self) -> None:
        while not self._stop_evt.is_set():
            total = sum(self._pss_kb(p) for p in self._descendants(os.getpid()))
            self.peak_kb = max(self.peak_kb, total)
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak_kb / 1024.0


def _git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() or None if r.returncode == 0 else None


def _box(spark=None) -> dict:
    from perfbench.harness import cpu_steal_s

    stamp = {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
        "cpu_steal_s": cpu_steal_s(),
        "python": platform.python_version(),
        "git_commit": _git_commit(),
    }
    if spark is not None:
        stamp["spark"] = spark.version
        stamp["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return stamp


def _start_spark(work: str, cores: int):
    from beacon_indexer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temp files (native libraries it unpacks) in
            # the run's directory, and its perf-data file off /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process the run started (the JVM, the Python worker daemon and its
    workers) has ended."""
    from pyspark import SparkContext

    started = [p for p in RssSampler._descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie child of another parent counts
    as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _metric_value(v) -> float:
    """Unavailable per-layer values print as -1; the record says why."""
    return -1.0 if v is None else float(v)


def _overhead(workload: str, traced: dict) -> dict:
    """Traced minus untraced, per end-to-end metric, against the median of
    the untraced records of this workload already in the results dir."""
    vals: dict[str, list[float]] = {}
    for n in os.listdir(RESULTS):
        if not (n.startswith(f"{workload}-") and "-trace0-" in n):
            continue
        try:
            with open(os.path.join(RESULTS, n)) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        for k, v in rec.get("metrics", {}).items():
            vals.setdefault(k, []).append(v)
    return {k: {"traced": traced[k], "untraced_median": statistics.median(v),
                "overhead": traced[k] - statistics.median(v), "untraced_runs": len(v)}
            for k, v in vals.items() if k in traced}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser("perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_run = time.perf_counter()

    # the script's own directory must not shadow modules of the checkout
    sys.path[:] = [ROOT] + [x for x in sys.path if os.path.abspath(x or ".") !=
                            os.path.dirname(os.path.abspath(__file__))]
    try:
        import beacon_indexer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    from perfbench import curation, elt
    from perfbench.harness import Ctx, Outcome
    from perfbench.layers import END_TO_END, PER_LAYER, UNITS
    from perfbench.tracing import EngineProbe, Tracer

    workloads = {"elt": elt.run, "curation_mix": curation.run}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(WORK, run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(RESULTS, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a 2 GiB driver heap (the session's knob, default 8g) holds these
    # inputs and keeps the process tree's peak RSS from following GC timing
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    box_before = _box()
    rss = RssSampler()
    rss.start()
    out = Outcome()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, cores)
        jvm_s = time.perf_counter() - t0
        tracer = Tracer(run_id, EngineProbe(spark), cores) if args.trace else None
        ctx = Ctx(spark, args.seed, args.seconds, work, cores, tracer)
        workloads[args.workload](ctx, out)
        box = _box(spark)
    except Exception:  # noqa: BLE001 - report the crash, print no result
        traceback.print_exc()
        return 1
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop_spark(spark)
        stop_s = time.perf_counter() - t_stop
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)

    out.metrics["setup_s"] = (jvm_s + statistics.median(out.details["render_s"])
                              + out.details["warmup_s"])
    out.metrics["peak_rss_mb"] = peak_mb
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box_before": box_before, "box_after": box,
        "jvm_start_s": jvm_s, "stop_s": stop_s, "attempted": out.attempted, "failed": out.failed,
        "op_fail_ratio": out.failed / out.attempted if out.attempted else 0.0,
        "checks": out.checks, "check_s": out.check_s, "errors": out.errors, "metrics": out.metrics,
        "details": out.details,
    }
    if args.trace:
        t = ctx.tracer
        (timed,) = t.named("timed")
        eng = timed.get("engine", {})
        for k in ("jobs", "stages", "task_s", "gc_s", "shuffle_write_bytes",
                  "spill_bytes", "busy_ratio"):
            out.layers[f"session.{k}"] = eng.get(k)
        out.layers["trace.overhead_s"] = t.overhead_s
        layers = {n: out.layers.get(n, 0.0) for n, *_ in PER_LAYER}
        record.update({
            "layers": layers,
            "unavailable": {**t.probe.unavailable,
                            **{n: "accessor returned nothing" for n, v in layers.items()
                               if v is None}},
            "not_exercised": sorted(n for n, *_ in PER_LAYER if n not in out.layers),
            "tracing_overhead": _overhead(args.workload, out.metrics),
            "spans": t.spans,
        })
        shown = {n: _metric_value(v) for n, v in layers.items()}
    else:
        shown = {n: out.metrics[n] for n, *_ in END_TO_END}
    record["run_wall_s"] = time.perf_counter() - t_run
    with open(os.path.join(RESULTS, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for e in out.errors:
        print(e, file=sys.stderr)
    print(json.dumps({
        "correct": out.failed == 0 and all(out.checks.values()),
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": v, "unit": UNITS[n]} for n, v in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

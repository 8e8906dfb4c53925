"""Spans, counts and Spark engine counters recorded from the benchmark's
own files, around the calls into each module of the program.

``Tracer.patch(owner, attr, name)`` replaces ``owner.attr`` with a wrapper
that opens a span called ``name``; patch each function where the program
looks it up (a function imported into another module is patched in that
module). Spans
record name, start, end, parent and run id, stay in memory and are
written when the run ends. ``self_times`` subtracts the part of a span
covered by its child spans.

Engine counters come from Spark's AppStatusStore through the same
accessor style as ``bench.py::_exec_totals``: a moved private accessor
yields ``None`` counters and a recorded reason, never a failed run.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from contextlib import contextmanager

_EXCHANGE = re.compile(r"\bExchange\b")
_SCAN = re.compile(r"\bScan\b")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def plan_counts(plan: str) -> tuple[int, int]:
    """(Exchange nodes, scan nodes) in a physical plan description. Only
    the tree part is read: the formatted plan repeats every node in its
    numbered details section."""
    tree = plan.split("\n\n(1)", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(tree)), len(_SCAN.findall(tree))


class EngineProbe:
    """Cumulative engine counters of one SparkSession, and their deltas."""

    def __init__(self, spark):
        self.spark = spark
        self.unavailable: dict[str, str] = {}

    def _sc(self):
        return self.spark.sparkContext._jsc.sc()

    def _try(self, key: str, fn):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - counters must not kill a run
            self.unavailable.setdefault(key, f"{type(e).__name__}: {str(e)[:160]}")
            return None

    def drain(self) -> None:
        """Wait for the listener bus, so the status store has seen every
        task of the actions that already returned."""
        self._try("listener_bus", lambda: self._sc().listenerBus().waitUntilEmpty(10_000))

    def snapshot(self) -> dict:
        self.drain()
        sc = self._sc()
        snap = {
            "jobs": self._try("jobs", lambda: int(sc.dagScheduler().nextJobId())),
            "stages": self._try("stages", lambda: int(sc.dagScheduler().nextStageId())),
            "sql": self._try("sql", self._sql_count),
        }
        tot = self._try("executors", self._executor_totals)
        snap.update(tot or {"task_ms": None, "gc_ms": None, "shuffle_write": None})
        return snap

    def _executor_totals(self) -> dict:
        it = self._sc().statusStore().executorList(True).iterator()
        dur = gc = sw = 0
        while it.hasNext():
            e = it.next()
            dur += e.totalDuration()
            gc += e.totalGCTime()
            sw += e.totalShuffleWrite()
        return {"task_ms": dur, "gc_ms": gc, "shuffle_write": sw}

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _sql_count(self) -> int:
        return int(self._sql_store().executionsCount())

    def _spill_since(self, first_stage: int) -> int:
        gw = self.spark.sparkContext._gateway
        quantiles = gw.new_array(gw.jvm.double, 0)
        it = self._sc().statusStore().stageList(None, False, False, quantiles, None).iterator()
        total = 0
        while it.hasNext():
            s = it.next()
            if s.stageId() >= first_stage:
                total += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return total

    def _plans_since(self, first_sql: int, last_sql: int) -> tuple[int, int]:
        n = last_sql - first_sql
        if n <= 0:
            return 0, 0
        it = self._sql_store().executionsList(first_sql, n).iterator()
        ex = sc = 0
        while it.hasNext():
            e, s = plan_counts(it.next().physicalPlanDescription())
            ex, sc = ex + e, sc + s
        return ex, sc

    def delta(self, a: dict, b: dict, wall_s: float, cores: int) -> dict:
        def d(k):
            return None if a.get(k) is None or b.get(k) is None else b[k] - a[k]

        task_ms = d("task_ms")
        out = {
            "jobs": d("jobs"), "stages": d("stages"),
            "task_s": None if task_ms is None else task_ms / 1000.0,
            "gc_s": None if d("gc_ms") is None else d("gc_ms") / 1000.0,
            "shuffle_write_bytes": d("shuffle_write"),
            "spill_bytes": None, "exchanges": None, "scans": None,
            "busy_ratio": None if task_ms is None or wall_s <= 0
            else task_ms / 1000.0 / (wall_s * cores),
        }
        if a.get("stages") is not None:
            out["spill_bytes"] = self._try("spill", lambda: self._spill_since(a["stages"]))
        if a.get("sql") is not None and b.get("sql") is not None:
            plans = self._try("plans", lambda: self._plans_since(a["sql"], b["sql"]))
            if plans is not None:
                out["exchanges"], out["scans"] = plans
        return out


class Tracer:
    """In-memory span recorder for one run. ``probe`` (an EngineProbe)
    adds engine counter deltas to spans opened with ``engine=True``."""

    def __init__(self, run_id: str, probe: EngineProbe, cores: int):
        self.run_id = run_id
        self.probe = probe
        self.cores = cores
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0  # time spent recording, outside the spans
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    @contextmanager
    def span(self, name: str, engine: bool = False):
        t_rec = time.perf_counter()
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name, "run_id": self.run_id,
               "parent": stack[-1] if stack else None}
        before = self.probe.snapshot() if engine else None
        stack.append(rec["id"])
        self.overhead_s += time.perf_counter() - t_rec
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t_rec = time.perf_counter()
            stack.pop()
            if before is not None:
                after = self.probe.snapshot()
                rec["engine"] = self.probe.delta(
                    before, after, rec["end"] - rec["start"], self.cores)
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t_rec

    def patch(self, owner, attr: str, name: str, engine: bool = False,
              before=None, after=None) -> None:
        """Wrap ``owner.attr`` in a span called ``name``. ``before(args,
        kwargs)`` returns a token and ``after(rec, result, args, kwargs,
        token)`` adds counts at the same boundary; both run outside the
        span and count as recording overhead."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            token = None
            if before is not None:
                t0 = time.perf_counter()
                token = before(args, kwargs)
                tracer.overhead_s += time.perf_counter() - t0
            with tracer.span(name, engine=engine) as rec:
                result = orig(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(rec, result, args, kwargs, token)
                tracer.overhead_s += time.perf_counter() - t0
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- aggregation ------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def outermost_total(self, prefix: str) -> tuple[int, float]:
        """(calls, seconds) of spans named ``prefix*`` whose ancestors are
        not ``prefix*`` spans: nested calls inside one layer count once."""
        by_id = {s["id"]: s for s in self.spans}
        calls, secs = 0, 0.0
        for s in self.spans:
            if not s["name"].startswith(prefix):
                continue
            p = by_id.get(s["parent"])
            nested = False
            while p is not None:
                if p["name"].startswith(prefix):
                    nested = True
                    break
                p = by_id.get(p["parent"])
            if not nested:
                calls += 1
                secs += s["end"] - s["start"]
        return calls, secs

    def self_total(self, name: str) -> float:
        st = self_times(self.spans)
        return sum(st[s["id"]] for s in self.named(name))

    def engine_sum(self, name: str, key: str):
        vals = [s.get("engine", {}).get(key) for s in self.named(name)]
        if not vals or any(v is None for v in vals):
            return None
        return sum(vals)

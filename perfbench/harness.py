"""What every workload shares: the run context, operation and check
bookkeeping, CLI calls with captured output, and lake size helpers."""

from __future__ import annotations

import contextlib
import io
import json
import os
import time
import traceback
from dataclasses import dataclass, field

from perfbench.tracing import Tracer


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str  # scratch directory of this run, inside the checkout
    cores: int
    tracer: Tracer | None = None


@dataclass
class Outcome:
    """Operations attempted and failed (a failed output check counts as a
    failed operation), plus the metrics and details a workload reports."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    checks: dict[str, bool] = field(default_factory=dict)
    check_s: dict[str, float] = field(default_factory=dict)
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float | None] = field(default_factory=dict)
    details: dict = field(default_factory=dict)

    def op(self, name: str, fn, *args, **kwargs):
        """Run one timed operation; returns (seconds, result). A failure is
        counted and recorded, and the result is None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed op is a measured outcome
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=4)}")
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, result

    def check(self, name: str, fn) -> None:
        """Run one output check: ``fn`` returns None when the output is
        right, or a message saying what is wrong."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            problem = fn()
        except Exception:  # noqa: BLE001 - a crashed check is a failed check
            problem = traceback.format_exc(limit=4)
        self.check_s[name] = time.perf_counter() - t0
        self.checks[name] = problem is None
        if problem is not None:
            self.failed += 1
            self.errors.append(f"check {name}: {problem}")


def span(ctx: Ctx, name: str, engine: bool = False):
    """A tracer span when tracing, else a no-op context."""
    if ctx.tracer is None:
        return contextlib.nullcontext()
    return ctx.tracer.span(name, engine=engine)


def cli(argv: list[str], spark, **kwargs) -> dict:
    """``beacon_indexer_spark.cli.main`` with its JSON report captured."""
    from beacon_indexer_spark import cli as C

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = C.main(argv, spark=spark, **kwargs)
    if rc != 0:
        raise RuntimeError(f"cli {argv} exited {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def cpu_steal_s() -> float | None:
    """CPU time the host gave to other guests instead of this machine's
    CPUs, summed over them, since boot (``steal`` in /proc/stat); None
    where the kernel does not report it. Latency-bound operations slow
    down far more than this share while it grows."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def steal_since(before: float | None) -> float | None:
    after = cpu_steal_s()
    return None if before is None or after is None else after - before


def tree_size(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end in ``suffix``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size

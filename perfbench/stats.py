"""Summary statistics shared by the workloads and the tests."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_MIN_BEYOND) -> dict:
    """The highest percentile with at least ``beyond`` samples above it.

    With n sorted samples, the value at 0-based rank k has n - k - 1
    samples beyond it, so the tail is rank n - 1 - beyond and its
    percentile is 100 * (k + 1) / n. With too few samples that rank falls
    below the median; the median stands in, ``percentile`` says 50 and
    ``enough`` is false, so a reader sees the tail was not resolvable.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    k = n - 1 - beyond
    if 100.0 * (k + 1) / n < 50.0:
        return {"value": median(xs), "percentile": 50.0, "samples": n,
                "enough": False}
    return {"value": float(xs[k]), "percentile": round(100.0 * (k + 1) / n, 3),
            "samples": n, "enough": True}


def timing(by_op: dict[str, list[float]]) -> dict:
    """Median and tail of a mix of operations timed in whole passes (each
    operation once per pass, so each counts alike), both over all samples.
    The tail falls back to the median when no percentile above it has ten
    samples beyond it."""
    samples = [x for xs in by_op.values() for x in xs]
    mid = median(samples)
    t = tail(samples)
    return {"median": mid, "tail": t["value"] if t["enough"] else mid,
            "tail_percentile": t["percentile"], "samples": t["samples"],
            "tail_resolved": t["enough"]}

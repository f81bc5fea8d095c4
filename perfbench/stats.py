"""Summary statistics and the like-with-like guard for benchmark results."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10

#: result fields that must match before two results may be compared
SHAPE_KEYS = ("workload", "cpus", "master", "default_parallelism", "sf", "passes", "trace")


def percentile(samples: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100).

    Raises ValueError unless at least ``min_beyond`` samples rank above it,
    so a tail figure is never read off a handful of points."""
    n = len(samples)
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < min_beyond:
        raise ValueError(
            f"p{q:g} of {n} samples has {n - rank} beyond it; need {min_beyond}"
        )
    return sorted(samples)[rank - 1]


def min_samples_for(q: float, min_beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count whose ``q``-th percentile has ``min_beyond``
    samples beyond it."""
    n = min_beyond + 1
    while n - max(1, math.ceil(q / 100.0 * n)) < min_beyond:
        n += 1
    return n


def quartile_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (the acceptance
    rule for run-to-run steadiness)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def shape(record: dict) -> dict:
    return {k: record.get(k) for k in SHAPE_KEYS}


def metrics_of(record: dict) -> dict[str, float]:
    return record["layers"] if record.get("trace") else record["e2e"]


def same_shape(records: list[dict]) -> None:
    """Raise ValueError unless every record has the first one's shape: a
    run on another core count, master, scale or pass count is not a
    baseline."""
    first = shape(records[0])
    for r in records[1:]:
        diff = {k: (first[k], r.get(k)) for k in SHAPE_KEYS if r.get(k) != first[k]}
        if diff:
            raise ValueError(f"results differ in shape: {diff}")


def compare_results(base: dict, head: dict) -> dict:
    """Per-metric head/base ratio for two records of the same shape."""
    same_shape([base, head])
    a, b = metrics_of(base), metrics_of(head)
    return {k: {"base": a[k], "head": v, "ratio": v / a[k] if a[k] else None}
            for k, v in b.items() if k in a}


def spread(records: list[dict]) -> dict[str, dict]:
    """Median and quartile spread (share of the median) per metric over
    records of one shape, e.g. one workload's runs over ten seeds."""
    same_shape(records)
    out = {}
    for k in metrics_of(records[0]):
        vals = [metrics_of(r)[k] for r in records]
        out[k] = {"median": statistics.median(vals), "spread": quartile_spread(vals),
                  "n": len(vals)}
    return out

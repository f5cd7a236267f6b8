"""Percentiles, metric-name rules and the result printer.

The printer takes the metric names and units from ``BENCHMARK.json`` so
the declared contract and the printed line cannot drift apart.
"""

from __future__ import annotations

import json
import math
import re

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME_RE.fullmatch(name) is not None


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile {p} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie above the p-th percentile rank."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least MIN_BEYOND samples beyond
    it, or None when n is too small for any of them."""
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def latency_summary(values: list[float]) -> dict:
    """Median of one run's samples, the sample count, and the tail at
    ``tail_percentile(n)``; the tail is None when no ladder percentile has
    MIN_BEYOND samples beyond it."""
    n = len(values)
    tail_pct = tail_percentile(n)
    return {
        "n": n,
        "p50": percentile(values, 50.0),
        "tail_pct": tail_pct,
        "tail": percentile(values, tail_pct) if tail_pct is not None else None,
        "beyond_tail": samples_beyond(n, tail_pct) if tail_pct is not None else None,
    }


def kind_medians(samples: list[tuple[str, float]]) -> dict[str, float]:
    """Median latency of each operation kind, from (kind, seconds) samples."""
    by_kind: dict[str, list[float]] = {}
    for kind, dt in samples:
        by_kind.setdefault(kind, []).append(dt)
    return {k: percentile(v, 50.0) for k, v in sorted(by_kind.items())}


def load_spec(path: str) -> dict:
    with open(path) as f:
        spec = json.load(f)
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            if not valid_metric_name(m["name"]):
                raise ValueError(f"invalid metric name {m['name']!r}")
            if not UNIT_RE.fullmatch(m["unit"]):
                raise ValueError(f"invalid unit {m['unit']!r} for {m['name']}")
    return spec


def result_line(
    declared: list[dict],
    values: dict[str, float],
    correct: bool,
    attempted: int,
    failed: int,
) -> str:
    """The final stdout line: every declared metric, by name, with its unit.

    Raises if a declared metric has no value, a value is not a finite
    number, or a value names an undeclared metric."""
    names = [m["name"] for m in declared]
    missing = [n for n in names if n not in values]
    extra = sorted(set(values) - set(names))
    if missing or extra:
        raise ValueError(f"metrics missing {missing} / undeclared {extra}")
    metrics = {}
    for m in declared:
        v = values[m["name"]]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {m['name']} has non-numeric value {v!r}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if attempted < 1:
        raise ValueError("a run attempts at least one operation")
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
         "metrics": metrics}
    )

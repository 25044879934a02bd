"""Small statistics and naming rules for the benchmark."""

from __future__ import annotations

import math
import re

import numpy as np

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    return float(np.percentile(values, pct))


def tail_percentile(n: int, candidates=(99, 95, 90, 75, 50)) -> int | None:
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the median lacks them."""
    for pct in candidates:
        if n * (100 - pct) / 100.0 >= 10:
            return pct
    return None


def tail(values: list[float]) -> tuple[int | None, float | None, int]:
    """(percentile, value, sample count) under the ten-beyond rule."""
    pct = tail_percentile(len(values))
    return pct, (percentile(values, pct) if pct is not None else None), len(values)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def lag_slope(times_s: list[float], lags_ms: list[float]) -> float:
    """Least-squares slope of lag (ms) against time (s), in ms per s.

    About zero when the load is sustainable; positive when a backlog
    grows. Fewer than two points, or no spread in time, give 0."""
    if len(times_s) < 2 or np.ptp(times_s) == 0:
        return 0.0
    return float(np.polyfit(times_s, lags_ms, 1)[0])


def check_metrics(metrics: dict) -> list[str]:
    """Problems with a {name: {"value", "unit"}} map; empty when valid."""
    problems = []
    for name, m in metrics.items():
        if not NAME_RE.fullmatch(name):
            problems.append(f"bad metric name {name!r}")
        unit = m.get("unit") if isinstance(m, dict) else None
        if not isinstance(unit, str) or not UNIT_RE.fullmatch(unit):
            problems.append(f"metric {name!r} has no valid unit")
        value = m.get("value") if isinstance(m, dict) else None
        if not isinstance(value, (int, float)) or isinstance(value, bool) or not math.isfinite(value):
            problems.append(f"metric {name!r} has no finite value")
    return problems

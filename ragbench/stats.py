"""Summary statistics and the result line."""

from __future__ import annotations

import json
import math
import re
from statistics import median

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n: int, wanted: float = 90.0, beyond: int = TAIL_SAMPLES) -> "float | None":
    """The highest percentile, at most ``wanted``, that leaves at least
    ``beyond`` samples above it among ``n``; None when even the median
    does not. A p90 therefore needs at least 100 samples."""
    if n <= 0:
        return None
    q = min(wanted, 100.0 * (n - beyond) / n)
    return q if q >= 50.0 else None


def describe(values: list[float]) -> dict:
    """Median plus the highest percentile, up to p90, the sample count
    supports."""
    out = {"n": len(values), "p50": median(values) if values else None}
    q = tail_percentile(len(values))
    out["tail_q"] = q
    out["tail"] = percentile(values, q) if q is not None else None
    return out


def check_names(names) -> None:
    bad = [n for n in names if not NAME_RE.match(n)]
    if bad:
        raise ValueError(f"metric names outside [A-Za-z0-9_.-]: {bad}")


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    check_names(metrics)
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )

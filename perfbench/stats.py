"""Order statistics and span arithmetic shared by the benchmark.

Pure Python, no Spark: the run harness, the steadiness report and the
tests all import it.
"""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method), 0 <= pct <= 100."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= pct <= 100.0:
        raise ValueError(f"percentile out of range: {pct}")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


#: percentiles a tail latency may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def supported_tail(n: int, beyond: int = 10) -> float | None:
    """Highest percentile of :data:`TAIL_LADDER` that still leaves at least
    ``beyond`` of ``n`` samples strictly above it, or None if not even the
    median does. A p99 of 300 samples rests on 3 values; this picks p95."""
    for pct in TAIL_LADDER:
        # in tenths of a percent, so 100 - 99.9 is exact
        if n * round((100.0 - pct) * 10) >= beyond * 1000:
            return pct
    return None


def median_per_kind(groups: dict[str, list[float]]) -> float:
    """Geometric mean over kinds of each kind's median. A median over a
    mix of kinds whose costs differ would fall on the boundary between two
    kinds and jump between them from run to run; the geometric mean weighs
    a change in each kind alike. Kinds without samples are left out."""
    medians = [statistics.median(v) for v in groups.values() if v]
    if not medians:
        raise ValueError("no samples")
    return statistics.geometric_mean(medians)


def quartile_spread(values: list[float]) -> dict[str, float]:
    """Median, first and third quartile (``statistics.quantiles(n=4)``, the
    exclusive method) and the quartile distance as a share of the median."""
    if len(values) < 2:
        raise ValueError("quartiles need at least two values")
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / abs(med) if med else math.inf
    return {"median": med, "q1": q1, "q3": q3, "spread": spread}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    covered by the union of its direct children's intervals.

    Children may overlap each other (work on a thread pool) or run past the
    parent's end; only the covered part inside the parent is subtracted,
    and overlapping children are not subtracted twice. Spans are dicts with
    ``id``, ``parent`` (id or None), ``start`` and ``end`` in seconds."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out

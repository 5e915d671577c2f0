"""Statistics for the benchmark: medians, tail percentiles, failure
fractions and the result line. The harness writes raw per-op records;
everything reported is computed here."""

import json
import math

MIN_BEYOND = 10  # samples a tail percentile needs beyond it


def median(values):
    """Median; an even count averages the two middle values."""
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail_percentile(values, p):
    """The p-th percentile (nearest rank), or None when fewer than
    MIN_BEYOND samples lie beyond it."""
    s = sorted(values)
    if not s:
        return None
    rank = max(1, math.ceil(p / 100 * len(s)))
    if len(s) - rank < MIN_BEYOND:
        return None
    return s[rank - 1]


def fail_frac(ops, checks):
    """Ops that failed or failed their output check, plus failed
    run-level checks, over everything attempted."""
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return failed, attempted


def op_latencies(ops):
    """Op latencies, with a failed op counted as missing every limit."""
    return [o["latency_s"] if o["ok"] else math.inf for o in ops]


def result_line(correct, attempted, failed, metrics, units):
    """The final JSON line: every metric keeps its name and unit."""
    missing = set(units) - set(metrics)
    if missing:
        raise ValueError(f"metrics not measured: {sorted(missing)}")
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units}})

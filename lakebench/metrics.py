"""Turns the harness's raw samples into the benchmark's metrics."""
import math
import statistics

# Levels the tail helper may pick, highest first.
TAIL_LEVELS = (99, 95, 90, 75, 50)


def median(values):
    return statistics.median(values) if values else float("nan")


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default), p in
    [0, 100]."""
    if not values:
        return float("nan")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n, beyond=10):
    """The highest percentile in TAIL_LEVELS with at least `beyond` of the
    n samples above it, or None when even the median has fewer."""
    for level in TAIL_LEVELS:
        if n * (100 - level) / 100.0 >= beyond:
            return level
    return None


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else float("nan")


def end_to_end(result):
    """End-to-end metrics of one run."""
    samples = result["samples"]
    by_op, by_iter = {}, {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["seconds"])
        by_iter.setdefault(s["iteration"], []).append(s["seconds"])
    walls = [sum(v) for v in by_iter.values()]
    return {
        "setup_s": result["setup_s"],
        "wall_s": median(walls),
        "op_geomean_s": geomean([median(v) for v in by_op.values()]),
    }


def rows_per_s(result):
    """Rows read by Spark tasks per second of timed operations."""
    seconds = sum(s["seconds"] for s in result["samples"])
    return result["timed_counters"]["input_records"] / seconds if seconds > 0 else 0.0


def latency_summary(result):
    """Median and the highest supported percentile of operation latency."""
    xs = [s["seconds"] for s in result["samples"]]
    level = tail_level(len(xs))
    return {"n": len(xs), "p50_s": median(xs),
            "tail_level": level, "tail_s": percentile(xs, level) if level else None}

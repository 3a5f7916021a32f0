"""Percentile and spread helpers for the runner, the tests and the steadiness
check:  python3 perfbench/stats.py <result-lines.jsonl>..."""
import math
import statistics

# Tail percentiles tried, highest first, in per-mille (exact arithmetic).
TAIL_LEVELS = (999, 990, 950, 900, 800, 750, 500)


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 0.5)


def gmean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values, beyond=10):
    """(q, value, samples beyond): the highest level in TAIL_LEVELS with at
    least `beyond` samples above it. With too few samples for any level,
    the median, and the count beyond it is below `beyond`."""
    n = len(values)
    for pm in TAIL_LEVELS:
        if n * (1000 - pm) >= beyond * 1000:
            return pm / 1000, percentile(values, pm / 1000), n * (1000 - pm) // 1000
    return 0.5, median(values), n // 2


def spread(values):
    """Quartile distance as a share of the median (the acceptance rule)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main(paths):
    """Median and spread of each metric over result lines (one run per line,
    as run.py prints them last): the steadiness check of BENCHMARK.json."""
    import json
    runs = [json.loads(line) for p in paths for line in open(p) if line.strip()]
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        print(f"{name:24s} runs={len(vals)} median={median(vals):.6g} "
              f"spread={spread(vals):.3f}" if len(vals) >= 2 else f"{name}: one run")


if __name__ == "__main__":
    import sys
    main(sys.argv[1:])

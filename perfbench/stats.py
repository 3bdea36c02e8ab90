"""Statistics helpers for the graft benchmark (pure Python, unit-tested)."""
import math

# Percentiles the benchmark may report, highest first.
PERCENTILES = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """Number of samples strictly above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_supported(n, min_beyond=MIN_BEYOND, candidates=PERCENTILES):
    """The highest candidate percentile with at least `min_beyond` samples
    beyond it, as (percentile, n); (None, n) when not even the median is
    supported. A p90 needs n >= 100, a median n >= 20."""
    for p in candidates:
        if beyond(n, p) >= min_beyond:
            return p, n
    return None, n


def self_times(spans):
    """Self time of each span: its duration minus the durations of its
    direct children. `spans` are dicts with id, parent, start_ns, end_ns;
    returns {id: seconds}."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    return {s["id"]: (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e9
            for s in spans}


def by_name(spans):
    """Total span seconds per span name."""
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    return out

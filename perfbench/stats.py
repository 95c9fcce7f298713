"""The benchmark's own arithmetic: medians, the reportable tail percentile,
span self time, tracing overhead, error rate and metric-name validation."""
import math
import re
import statistics

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def valid_name(name):
    """A metric name: a letter or digit, then up to 63 of [A-Za-z0-9_.-]."""
    return bool(NAME.match(name))


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    values = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - rank(n, p)


def tail_percentile(n, min_beyond=10):
    """The highest of PERCENTILES that still has `min_beyond` samples beyond
    it, or None when not even the median has."""
    ok = [p for p in PERCENTILES if beyond(n, p) >= min_beyond]
    return max(ok) if ok else None


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[rank(len(s), p) - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the part its children cover}. Children are
    clipped to their parent, and overlapping children count once."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None:
            lo, hi = max(s["start"], parent["start"]), min(s["end"], parent["end"])
            if hi > lo:
                kids.setdefault(parent["id"], []).append((lo, hi))
    return {s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], [])) for s in spans}


def overhead(plain, traced):
    """Tracing overhead from alternated operations: the geometric mean over
    the items sampled both ways of median(traced) / median(plain), less 1.
    `plain` and `traced` map an item to its samples."""
    ratios = [median(traced[k]) / median(v) for k, v in plain.items()
              if v and traced.get(k) and median(v) > 0]
    return geomean(ratios) - 1 if ratios else 0.0


def error_rate(attempted, failed):
    """Failed over attempted operations; nothing attempted is all failed."""
    if attempted <= 0:
        return 1.0
    return min(1.0, failed / attempted)

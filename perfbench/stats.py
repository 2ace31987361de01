"""The benchmark's arithmetic: percentiles, span self time, and the
sustained-rate decision of the ingest lane. Pure functions, tested in
perfbench/tests/test_stats.py."""
import math

# A tail percentile is only reported when at least this many samples lie
# beyond it; otherwise the highest percentile that has them is used.
MIN_BEYOND = 10
# An offered rate is sustained when the backlog grows by at most this
# share of the offered rate per second ...
BACKLOG_GROWTH_TOL = 0.1
# ... over at least this many commits.
MIN_COMMITS = 3


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n, wanted):
    """The quantile to report for a tail percentile `wanted` over n
    samples: `wanted` itself when n * (1 - wanted) >= MIN_BEYOND,
    else the highest quantile (in steps of 0.01, never below the
    median) that keeps MIN_BEYOND samples beyond it."""
    q = wanted
    while q > 0.5 and n * (1 - q) < MIN_BEYOND - 1e-9:
        q = round(q - 0.01, 2)
    return max(q, 0.5)


def tail(values, wanted):
    """(value, quantile used) of the tail percentile `wanted`."""
    q = tail_quantile(len(values), wanted)
    return percentile(values, q), q


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them
    (the 'exclusive' method)."""
    import statistics
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def covered(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    end = -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it its
    children cover (children clipped to the parent). `spans` are dicts
    with id, parent, start_ms, dur_ms. Returns {id: self_ms}."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        p0, p1 = s["start_ms"], s["start_ms"] + s["dur_ms"]
        iv = [(max(c["start_ms"], p0), min(c["start_ms"] + c["dur_ms"], p1))
              for c in kids.get(s["id"], [])]
        out[s["id"]] = s["dur_ms"] - covered([i for i in iv if i[1] > i[0]])
    return out


def uniform_latencies(end_ms, min_ts, max_ts, rows):
    """Per-row latencies of a batch whose `rows` rows were created evenly
    over [min_ts, max_ts] (the rate source spaces them evenly) and all
    became visible at end_ms."""
    if rows <= 1:
        return [end_ms - max_ts]
    step = (max_ts - min_ts) / (rows - 1)
    return [end_ms - (min_ts + i * step) for i in range(rows)]


def slope(points):
    """Least-squares slope of (x, y) points."""
    n = len(points)
    mx = sum(p[0] for p in points) / n
    my = sum(p[1] for p in points) / n
    sxx = sum((p[0] - mx) ** 2 for p in points)
    if sxx == 0:
        return 0.0
    return sum((p[0] - mx) * (p[1] - my) for p in points) / sxx


def backlog_points(commits, rps):
    """(seconds, backlog rows) at each commit return: the rows offered
    after the newest committed row and before the commit returned. The
    first commit of a stream is the start-up batch and is skipped."""
    return [(c["end_ms"] / 1000.0, rps * (c["end_ms"] - c["max_ts"]) / 1000.0)
            for c in commits[1:]]


def committed_rate(commits):
    """Rows per second a stream committed once running: the source
    offsets committed between the first and the last commit's return,
    over the time between them. It equals the offered rate when the
    backlog stays flat and falls below it when the backlog grows."""
    first, last = commits[0], commits[-1]
    span_s = (last["end_ms"] - first["end_ms"]) / 1000.0
    return (last["max_id"] - first["max_id"]) / span_s if span_s > 0 else 0.0


def sustained(commits, rps, p99_ms, limit_ms):
    """(sustained?, backlog growth rows/s). Sustained means enough
    commits landed, the backlog does not grow by more than
    BACKLOG_GROWTH_TOL of the offered rate per second, and the p99
    commit latency stays under `limit_ms`."""
    pts = backlog_points(commits, rps)
    if len(pts) < MIN_COMMITS:
        return False, float("nan")
    growth = slope(pts)
    ok = growth <= BACKLOG_GROWTH_TOL * rps and p99_ms <= limit_ms
    return ok, growth

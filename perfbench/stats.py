"""The benchmark's arithmetic: percentiles, span self time, stream backlog
and due-time latency. Pure functions over plain lists, tested in
perfbench/tests/test_stats.py."""
import math

# Percentiles a tail may be reported at, highest first; below p90 the
# maximum is reported instead.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def op_medians(samples):
    """{operation: median duration} from an iterable of iterations, each an
    iterable of (operation, duration) pairs."""
    by_op = {}
    for it in samples:
        for op, d in it:
            by_op.setdefault(op, []).append(d)
    return {op: median(ds) for op, ds in by_op.items()}


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def tail(xs, beyond=10):
    """(p, value): the highest percentile in TAIL_LADDER that leaves at least
    `beyond` samples above it. With too few samples for p90 (fewer than
    100 when `beyond` is 10), the maximum is returned as p = 100."""
    n = len(xs)
    for p in TAIL_LADDER:
        k = max(1, math.ceil(p / 100 * n))
        if n - k >= beyond:
            return p, percentile(xs, p)
    return 100.0, max(xs)


def geomean(xs):
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s or e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """{span id: self time}: each span's duration minus the part of its
    interval that its children cover (overlapping children count once).
    `spans` are dicts with id, parent, start_ms and end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def due_latencies(due_ms, commit_ms):
    """Due-time latency of every file: its docs are due when the file is
    scheduled, not when the generator got to it, and done when the
    micro-batch holding the file committed. One sample per file, not per
    doc: a file's docs share both times, so copies would add no support to
    a tail percentile."""
    return [done - due for due, done in zip(due_ms, commit_ms)]


def lateness(due_ms, moved_ms):
    """How late the generator delivered each file (never negative)."""
    return [max(0, m - d) for d, m in zip(due_ms, moved_ms)]


def backlog_series(due_ms, commit_ms):
    """(time, files due but not yet committed) after every due and commit
    event, in time order."""
    events = sorted([(t, 1) for t in due_ms] + [(t, -1) for t in commit_ms],
                    key=lambda e: (e[0], -e[1]))
    series, level = [], 0
    for t, d in events:
        level += d
        series.append((t, level))
    return series


def theil_sen(xs, ys):
    """Median of the slopes between every two points with distinct x: a
    trend that one outlier (a GC pause, a slow commit) cannot tip."""
    n = len(xs)
    slopes = [(ys[j] - ys[i]) / (xs[j] - xs[i])
              for i in range(n) for j in range(i + 1, n) if xs[j] != xs[i]]
    return median(slopes) if slopes else 0.0


def batch_lags(due_ms, commit_ms):
    """[(commit time, lag)], one per micro-batch, in commit order: the files
    that share a commit time form one batch, and its lag is the commit time
    minus the due time of the oldest file it holds."""
    oldest = {}
    for d, c in zip(due_ms, commit_ms):
        oldest[c] = min(d, oldest.get(c, d))
    return [(c, c - d) for c, d in sorted(oldest.items())]


def lag_slope(due_ms, commit_ms):
    """Theil-Sen slope of the micro-batches' lag over their commit time:
    near 0 while the stream keeps up, (1 - commit rate / due rate) when it
    commits files more slowly than they fall due (0.09 at a 10% overload)."""
    lags = batch_lags(due_ms, commit_ms)
    return theil_sen([c for c, _ in lags], [g for _, g in lags])


def backlog_flat(due_ms, commit_ms, tolerance=0.07):
    """True when the backlog does not grow across the phase: every file was
    committed and the lag slope is at most `tolerance`. While the stream
    keeps up, each micro-batch's lag is about one trigger interval plus its
    busy time wherever the batch falls in the phase; 0.07 sits above the
    slopes measured on such streams (-0.075 to 0.029 over thirty 6 s phases
    of seven 1 s triggers) and below a 10% overload's 0.09."""
    if any(math.isinf(c) for c in commit_ms):
        return False
    return lag_slope(due_ms, commit_ms) <= tolerance

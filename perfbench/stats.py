"""The benchmark's own arithmetic: percentiles, interval unions, self times
and result fingerprints. Kept free of I/O so `test_stats.py` can pin every
rule."""
import hashlib
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
TAIL_SAMPLES = 10


def min_samples(p):
    """Fewest samples for which percentile `p` (0 < p < 1) has
    TAIL_SAMPLES samples strictly above its rank."""
    return math.ceil(TAIL_SAMPLES / (1.0 - p) - 1e-9)


def percentile(values, p):
    """Nearest-rank percentile; raises ValueError when fewer than
    `min_samples(p)` values were measured."""
    xs = sorted(values)
    if len(xs) < min_samples(p):
        raise ValueError(f"p{round(p * 100)} needs {min_samples(p)} samples, got {len(xs)}")
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (t0, t1) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's self time: its length minus the union of its children
    (each clipped to the span)."""
    t0, t1 = span
    return (t1 - t0) - union_length(children, t0, t1)


def inside(t0, t1, items):
    """Items (dicts with t0) that started inside [t0, t1]."""
    return [x for x in items if t0 <= x["t0"] <= t1]


def quartile_spread(values):
    """(Q3 - Q1) / median, as the acceptance check computes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def row_hash(text):
    """64-bit hash of one row's text: MD5, first 8 bytes big-endian. The
    pipeline harness (`Pipeline.fingerprint`) computes the same on the JVM."""
    return int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")


def fingerprint(texts):
    """Order-insensitive fingerprint of rows given as text: (row count, sum
    of the row hashes mod 2^64)."""
    n = total = 0
    for t in texts:
        total = (total + row_hash(t)) % (1 << 64)
        n += 1
    return n, total

"""Order statistics and interval arithmetic for the benchmark report."""
import math
import statistics

# A percentile is reported as supported only when at least this many
# samples lie beyond it (p90 then needs 100 samples).
TAIL_SAMPLES = 10


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q3) as `statistics.quantiles(xs, n=4)` gives them; a single
    sample is its own quartiles."""
    if len(xs) < 2:
        return (xs[0], xs[0])
    q = statistics.quantiles(xs, n=4)
    return (q[0], q[2])


def percentile(xs, p):
    """The p-quantile (0 <= p <= 1) with linear interpolation between
    closest ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for num in (m * (b - m) * x / ((a + m2 - 1) * (a + m2)),
                    -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a, b, x):
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(xs, p):
    """The Harrell-Davis estimate of the p-quantile: a weighted mean of
    all order statistics, weights from Beta(p(n+1), (1-p)(n+1)). Latency
    samples come in clusters, one per op, and a plain quantile reads one
    or two clusters; this one averages over the neighbouring ones too,
    so it varies less between runs."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("quantile of no samples")
    if n == 1:
        return s[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def highest_supported_percentile(n, tail=TAIL_SAMPLES):
    """The highest p for which at least `tail` of `n` samples lie beyond
    the p-quantile; 0 when there are too few samples for any."""
    return max(0.0, 1.0 - tail / n) if n > 0 else 0.0


def union(intervals):
    """Merged, sorted, non-overlapping cover of (start, end) intervals."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in union(intervals))

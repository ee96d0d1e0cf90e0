"""Arithmetic of the benchmark: medians, the tail-percentile rule, interval
unions and span self times. Pure functions, tested by test_stats.py."""
import math

# Percentiles the tail rule may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(xs)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def tail(xs):
    """The highest percentile of the ladder that leaves at least ten samples
    beyond it. Returns (value, percentile, sample count); with fewer than
    twenty samples no percentile qualifies and the median is reported as
    the p50."""
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= TAIL_BEYOND:
            return percentile(xs, p), p, n
    return median(xs), 50.0, n


def beta_inc(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by the continued
    fraction of Numerical Recipes (betacf), for a, b > 0 and 0 <= x <= 1."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - beta_inc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            f *= c * d
        if abs(c * d - 1.0) < 1e-15:
            break
    return front * f


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-th percentile: a weighted mean of
    all order statistics, the weights being Beta((n+1)q, (n+1)(1-q)) mass
    over each rank's share of [0, 1]. Unlike a single order statistic it
    moves smoothly when samples from distinct queries trade ranks."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("quantile of no samples")
    q = p / 100
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [beta_inc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, outer):
    return max(interval[0], outer[0]), min(interval[1], outer[1])


def assign_parents(spans, candidates):
    """Give every span whose `parent` is -1 the innermost candidate span of
    the same query and pass whose interval contains its start. `spans` and
    `candidates` are lists of dicts with id, start, end, query, pass."""
    by_key = {}
    for c in candidates:
        by_key.setdefault((c["query"], c["pass"]), []).append(c)
    for s in spans:
        if s["parent"] != -1:
            continue
        best = None
        for c in by_key.get((s["query"], s["pass"]), ()):
            if c["id"] != s["id"] and c["start"] <= s["start"] < c["end"]:
                if best is None or c["end"] - c["start"] < best["end"] - best["start"]:
                    best = c
        if best is not None:
            s["parent"] = best["id"]


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once, and
    a child reaching outside its parent counts only inside it)."""
    children = {}
    for s in spans:
        if s["parent"] != -1:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        outer = (s["start"], s["end"])
        covered = union_length(clip((c["start"], c["end"]), outer)
                               for c in children.get(s["id"], ()))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    import statistics
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3

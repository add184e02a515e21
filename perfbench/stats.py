"""The benchmark's statistics: medians, quartiles, the tail-percentile rule
and the backlog-growth detector."""
import math
import statistics

# Candidate tail percentiles, highest first.
LADDER = [99.99, 99.9, 99.5] + list(range(99, 49, -1))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return (v, v, v)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, q2, q3)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Returns (value, samples beyond it)."""
    s = sorted(xs)
    rank = max(1, math.ceil(round(p * len(s) / 100.0, 6)))
    return s[rank - 1], len(s) - rank


# The tail rule's minimum count of samples beyond the reported percentile.
BEYOND = 10
# A segment's backlog grows when it rises by more than this many seconds
# of arrivals.
BACKLOG_WINDOW_S = 0.5


def tail(xs, groups=None):
    """The highest ladder percentile with at least BEYOND samples above
    it: returns (percentile, value, samples beyond, n). With `groups` (one
    key per sample), samples that share a key count once: events emitted
    by one micro-batch are one sample of the batch's delay, not hundreds.
    When even the median has fewer than BEYOND samples above it, no
    percentile meets the rule: no tail is measured, and the median (as
    `median` gives it) is returned as percentile 50 with the samples
    beyond the nearest-rank median."""
    if not xs:
        return (50, 0.0, 0, 0)
    order = sorted(range(len(xs)), key=lambda i: xs[i])

    def at(p):
        rank = max(1, math.ceil(round(p * len(xs) / 100.0, 6)))
        above = order[rank:]
        n_beyond = len({groups[i] for i in above}) if groups else len(above)
        return xs[order[rank - 1]], n_beyond
    for p in LADDER:
        v, n_beyond = at(p)
        if n_beyond >= BEYOND:
            return (p, v, n_beyond, len(xs))
    return (50, median(xs), at(50)[1], len(xs))


def backlog_grows(ts, backlog, rate):
    """True when the backlog at the end of a fixed-rate segment exceeds its
    level at the start by more than BACKLOG_WINDOW_S seconds of arrivals:
    the mean of the last third of the samples against the mean of the
    first third. `ts` are sample times in seconds, `backlog` event counts."""
    pairs = sorted(zip(ts, backlog))
    if len(pairs) < 3:
        return False
    k = len(pairs) // 3
    first = statistics.mean(b for _, b in pairs[:k])
    last = statistics.mean(b for _, b in pairs[-k:])
    return last - first > rate * BACKLOG_WINDOW_S


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0

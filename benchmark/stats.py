"""Statistics the benchmark reports: percentiles, the tail rule, latency
from due time, backlog detection and the highest rate that meets the
latency limit."""
import math
import statistics

# A tail percentile is reported only where at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10


def quantile(values, p):
    """The p-th percentile (0-100) of `values`, interpolating linearly
    between closest ranks."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    if pos == lo or s[hi] == s[lo]:
        return s[lo]
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n, wanted):
    """The highest percentile, at most `wanted`, with at least
    TAIL_SAMPLES of `n` samples beyond it; never below the median."""
    if n <= 0:
        raise ValueError("no samples")
    supported = 100.0 * (1.0 - TAIL_SAMPLES / n)
    return max(50.0, min(wanted, supported))


def tail(values, wanted):
    """(percentile used, its value) under the tail rule."""
    p = tail_percentile(len(values), wanted)
    return p, quantile(values, p)


def latency_from_due(due_ms, done_ms):
    """Open-loop latency: from when the request was due to be sent, so a
    stall also charges the requests queued behind it."""
    if done_ms < 0:
        return math.inf
    return done_ms - due_ms


def backlog_growing(samples, slack):
    """True when the queue of not-yet-sent requests grows over a step.

    `samples` are (ms, queued) pairs in time order. The backlog grows
    when the second half of the step holds a longer queue on average than
    the first half, by more than `slack` requests, and the step ends with
    more than `slack` requests waiting."""
    if len(samples) < 4:
        return bool(samples) and samples[-1][1] > slack
    half = len(samples) // 2
    first = statistics.fmean(q for _, q in samples[:half])
    second = statistics.fmean(q for _, q in samples[half:])
    return second - first > slack and samples[-1][1] > slack


def max_rate(steps, limit_ms, wanted=99.0, slack=4):
    """The highest offered rate at which the scoring tail stays within
    `limit_ms` with no growing backlog, at that rate and every lower one.
    `steps` are dicts with `rate`, `latencies` (ms; a failed or refused
    request is math.inf, so it misses the limit) and `backlog` samples.
    0.0 when the lowest rate already misses."""
    best = 0.0
    for s in sorted(steps, key=lambda s: s["rate"]):
        lat = s["latencies"]
        if not lat or tail(lat, wanted)[1] > limit_ms or \
                backlog_growing(s["backlog"], slack):
            break
        best = s["rate"]
    return best


def spread(values):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf

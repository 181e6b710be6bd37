"""The benchmark's arithmetic, one implementation each: percentiles, the
backlog-growth test and span self time."""
import math

import numpy as np

# Candidate percentiles, highest last. A percentile is reported only when at
# least TAIL_MIN samples lie beyond it.
PERCENTILES = (50, 75, 90, 99, 99.9)
TAIL_MIN = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def summary(values, tail_p):
    """Sample count, median, the tail_p-th percentile (None unless at least
    TAIL_MIN samples lie beyond it) and the highest candidate percentile
    that the samples support."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50) if n else None, "tail_p": tail_p,
           "tail": percentile(values, tail_p) if n and beyond(n, tail_p) >= TAIL_MIN else None,
           "highest_p": None}
    for p in PERCENTILES:
        if n and beyond(n, p) >= TAIL_MIN:
            out["highest_p"] = p
    return out


def median(values):
    s = sorted(values)
    n = len(s)
    return (s[(n - 1) // 2] + s[n // 2]) / 2.0


def slope(xs, ys):
    """Least-squares slope of ys against xs."""
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0


def backlog_grows(times_s, backlog, rate, window_s=1.2, share=0.1):
    """True when a queue backlog rises during a phase. Micro-batches make the
    backlog a sawtooth, so the test follows its troughs: the minimum over a
    sliding window at least one batch long. The backlog grows when the
    troughs' fitted slope exceeds `share` of the offered rate."""
    t = np.asarray(times_s, dtype=np.float64)
    b = np.asarray(backlog, dtype=np.float64)
    ends = np.nonzero(t >= t[0] + window_s)[0] if len(t) else []
    if len(ends) < 3:
        return False
    troughs = [b[(t > t[i] - window_s) & (t <= t[i])].min() for i in ends]
    return bool(slope(list(t[ends]), troughs) > share * rate)


def self_times(spans):
    """Map span id -> self time: its duration minus the part of it that its
    children cover (overlapping children count once). Spans are dicts with
    id, parent, start and end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out

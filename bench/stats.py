"""The benchmark's arithmetic: percentiles, the tail rule and span self time.

Kept free of I/O so `test_bench.py` can check it on synthetic inputs.
"""
import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def above(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, want=90, need=10):
    """The percentile to report as the tail for n samples: `want` when at
    least `need` samples lie above it, else the highest whole percentile
    that has `need` samples above it. None when n is too small for any."""
    for p in range(want, 0, -1):
        if above(n, p) >= need:
            return p
    return None


def paired_overhead(passes):
    """Tracing overhead from a run's warm passes, given in order as
    (seconds, traced) pairs: for each traced pass with an untraced pass on
    either side, its time minus the mean of those two; the median of these
    differences. Pairing with both neighbours cancels a steady speed-up
    (JIT) across the run. 0.0 when no traced pass has two such neighbours."""
    diffs = [t - (passes[i - 1][0] + passes[i + 1][0]) / 2.0
             for i, (t, traced) in enumerate(passes)
             if traced and 0 < i < len(passes) - 1
             and not passes[i - 1][1] and not passes[i + 1][1]]
    return median(diffs) if diffs else 0.0


def self_times(spans):
    """Map span id -> self time: the span's duration minus the part of its
    interval covered by its direct children (overlapping children count
    once; a child's part outside its parent is ignored)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out

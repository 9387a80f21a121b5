"""Metric arithmetic for the benchmark: one definition of each statistic the
results use, kept apart from the runner so it has its own tests
(test_stats.py).
"""
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n): the value with exactly `beyond` samples
    above it, the percentile that value sits at, and the sample count. With
    too few samples for any such percentile, the median stands in
    (percentile 50) and the caller reports n so the reader sees why.
    """
    s = sorted(xs)
    n = len(s)
    if n <= 2 * beyond:
        return median(s), 50.0, n
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def open_loop_latencies(t0, interval, received):
    """Open-loop latency: each sample is timed from when it was DUE to be
    sent (t0 + i * interval), not from when the generator got round to it,
    so a stall is charged to every sample queued behind it.

    `received` maps sample index -> receipt time (same clock as t0).
    Returns {index: latency}.
    """
    return {i: at - (t0 + i * interval) for i, at in received.items()}


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it that
    its child spans cover (overlapping children are counted once).

    `spans` rows are (id, parent, name, layer, start, end); parent -1 is a
    root. Returns {layer: total self time}.
    """
    children = {}
    for sid, parent, _name, _layer, start, end in spans:
        children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _parent, _name, layer, start, end in spans:
        covered = 0.0
        cur_s = cur_e = None
        for cs, ce in sorted(children.get(sid, [])):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[layer] = out.get(layer, 0.0) + (end - start) - covered
    return out


# A run is invalid when the generator ran more than one trigger interval late
# at its p99: the offered load was then not the open loop the workload states.
GEN_LAG_BOUND_MS = 1000.0


def run_valid(gen_lag_ms):
    """(valid, p99 lag). No generator (batch, backlog) is always valid."""
    if not gen_lag_ms:
        return True, 0.0
    lag = tail(gen_lag_ms)[0]
    return lag <= GEN_LAG_BOUND_MS, lag

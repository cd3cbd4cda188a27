"""Arithmetic of the graft benchmark, kept free of I/O so that
test_stats.py can check it: medians and percentiles, span self time,
subtractive-leg attribution and the agreement rule for two run sets."""

import statistics

TAIL_SUPPORT = 10  # samples that must lie beyond a reported percentile


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    """Geometric mean: every operation type weighs the same, whatever
    its size, and a fixed-ratio gain on any one of them moves it."""
    return statistics.geometric_mean(xs)


def tail(xs, support=TAIL_SUPPORT):
    """The highest percentile of `xs` with at least `support` samples
    beyond it: returns (percentile, value), or None when there are
    fewer than support + 1 samples."""
    n = len(xs)
    if n <= support:
        return None
    k = n - 1 - support
    return 100.0 * (k + 1) / n, sorted(xs)[k]


def self_times(spans):
    """Self time per span id: its duration minus the part of its
    interval that its children cover (overlapping children count once).
    `spans` are dicts with id, parent, start_ns and end_ns."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
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
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


LEGS = ["scan", "parse", "decrypt", "validate", "sanitise", "write"]


def leg_layers(legs):
    """Subtractive attribution: each leg runs the previous leg plus one
    layer, so a layer's time is its leg minus the previous leg. The
    accounting leg is a pass of its own. Differences are reported as
    measured, negative ones included."""
    out, prev = {}, 0.0
    for name in LEGS:
        out[name] = legs[name] - prev
        prev = legs[name]
    out["accounting"] = legs["accounting"]
    return out


def layer_sum(legs, control_s, end_to_end_s):
    """(sum of the layers, residual, sum / end-to-end). The residual
    is what the layers leave unexplained; it is never folded into one."""
    total = sum(leg_layers(legs).values()) + control_s
    return total, end_to_end_s - total, (total / end_to_end_s if end_to_end_s else 0.0)


LAYER_SUM_TOLERANCE = 0.10


def layer_sum_holds(ratio, tolerance=LAYER_SUM_TOLERANCE):
    """The layer-sum check: the layers explain the end-to-end time to
    within `tolerance` of it, in either direction."""
    return abs(ratio - 1.0) <= tolerance


def spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(first, second, better):
    """How much worse the median of `second` is than that of `first`,
    as a share of the first median (negative when it is better)."""
    m1, m2 = statistics.median(first), statistics.median(second)
    if m1 == 0:
        return 0.0 if m2 == m1 else float("inf")
    return (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1


def agreement(first, second, metrics):
    """The rule two run sets of the same code must pass. `first` and
    `second` map metric name to a list of per-run values; `metrics` are
    the end-to-end entries of BENCHMARK.json. Returns a list of
    (metric, problem) pairs; empty means the sets agree."""
    problems = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        for label, values in (("first", first[name]), ("second", second[name])):
            if spread(values) > bound:
                problems.append((name, "%s set spread %.3f > bound %.3f"
                                 % (label, spread(values), bound)))
        w = worse_by(first[name], second[name], m["better"])
        if w > bound:
            problems.append((name, "second median worse by %.3f > bound %.3f" % (w, bound)))
    return problems

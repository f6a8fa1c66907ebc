"""The benchmark's own arithmetic: order statistics, span unions, self
time and the pairwise comparison rule. Pure functions, no I/O."""

import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quartiles(xs):
    """First quartile, median, third quartile, as statistics.quantiles
    gives them (the exclusive method)."""
    if len(xs) < 2:
        x = xs[0] if xs else float("nan")
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs):
    """The highest-percentile sample that still has at least ten samples
    beyond it: (value, percentile, samples beyond, n). With ten samples or
    fewer no sample qualifies, and the largest is given with 0 beyond."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan"), 0, 0
    if n <= 10:
        return s[-1], 100.0, 0, n
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n - 1 - i, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals]


def self_time(start, end, children):
    """A span's duration minus the part of it that its children cover."""
    return (end - start) - union_length(clip(children, start, end))


def compare(parent, change, better, bound=None):
    """Verdict on a change from two lists of runs paired by position, and
    the share of pairs each side won.

    improved:   the change wins at least 9/10 of the pairs and the medians
                differ by more than the parent's interquartile range;
    no worse:   the change's median is within `bound` (a share of the
                parent's median) and the parent's spread is within it too,
                or every change run beats every parent run;
    worse:      the change's median is worse by more than `bound` and the
                parent's spread is within it;
    unresolved: anything else."""
    sign = -1.0 if better == "lower" else 1.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    n = len(pairs)
    pq1, pmed, pq3 = quartiles(parent)
    cmed = median(change)
    spread = pq3 - pq1
    verdict = "unresolved"
    if n and wins >= 0.9 * n and abs(cmed - pmed) > spread:
        verdict = "improved"
    elif bound is not None and pmed:
        worse_by = sign * (pmed - cmed) / abs(pmed)
        if all(sign * (c - p) > 0 for c in change for p in parent):
            verdict = "no worse"
        elif spread / abs(pmed) <= bound:
            verdict = "no worse" if worse_by <= bound else "worse"
    return {"verdict": verdict, "pairs": n,
            "change_won": wins / n if n else 0.0,
            "parent_won": losses / n if n else 0.0}

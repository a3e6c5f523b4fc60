"""Reductions from raw measurements to reported figures: percentiles,
failure accounting, span self time and the two-set comparison."""
import math
import statistics

# The tail percentile reported for a timing is the highest of these
# that still has at least MIN_BEYOND samples above it.
TAIL_CANDIDATES = (99, 95, 90, 75)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of an empty sample")
    k = max(1, math.ceil(p / 100.0 * len(v)))
    return v[k - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, cap=90):
    """Highest percentile ≤ `cap` with at least MIN_BEYOND samples beyond
    it, or None when the sample is too small for any."""
    for p in TAIL_CANDIDATES:
        if p <= cap and beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def timing_summary(values):
    """Median, sample count and the rule's tail percentile of a timing."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = percentile(values, p)
    return out


def failures(ops, checks):
    """(attempted, failed). `ops` are {'name', 'error'}; `checks` are
    {'ok', 'scope'} where scope names the ops a check covers ('*' for
    all). An op counts as failed when it raised or when any check
    covering it failed; each op counts once."""
    bad = {c["scope"] for c in checks if not c["ok"]}
    failed = sum(1 for o in ops
                 if o.get("error") or "*" in bad or o["name"] in bad)
    return len(ops), failed


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(nodes):
    """Self time per node name: a node's duration minus the part of its
    interval that its children cover. `nodes` are dicts with id, parent,
    name, start, end (any time unit); returns {name: total self time}."""
    children = {}
    for n in nodes:
        children.setdefault(n["parent"], []).append(n)
    out = {}
    for n in nodes:
        s, e = n["start"], n["end"]
        covered = union_length([(max(c["start"], s), min(c["end"], e))
                                for c in children.get(n["id"], [])
                                if min(c["end"], e) > max(c["start"], s)])
        out[n["name"]] = out.get(n["name"], 0) + (e - s) - covered
    return out


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]


def compare(parent, change, lower_is_better=True):
    """Compare two sets of runs of one metric (choosing-metrics §8).

    Pairs are formed in run order. `won` is the change's share of the
    pairs it wins, ties counting for neither side. The difference is
    `unresolved` when the medians differ by no more than the parent's
    own spread (its interquartile distance) or when the change wins
    fewer than nine tenths of the pairs."""
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    pairs = list(zip(parent, change))
    sign = 1 if lower_is_better else -1
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    won = wins / len(pairs) if pairs else 0.0
    lost = losses / len(pairs) if pairs else 0.0
    spread = pq3 - pq1
    decided = abs(cmed - pmed) > spread and (won >= 0.9 or lost >= 0.9)
    return {"parent": {"q1": pq1, "median": pmed, "q3": pq3, "n": len(parent)},
            "change": {"q1": cq1, "median": cmed, "q3": cq3, "n": len(change)},
            "delta_frac": (cmed - pmed) / pmed if pmed else None,
            "won": won, "lost": lost, "unresolved": not decided}

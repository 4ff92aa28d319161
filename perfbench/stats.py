"""Pure statistics of the CDC benchmark: percentiles, freshness from the
open-loop schedule, span self time and the backlog-growth check. `run.py`
applies them to the run record the JVM driver writes; `test_stats.py`
tests them.
"""

import math

# Percentiles reported as a tail, highest first; a percentile is supported
# when at least MIN_BEYOND samples lie beyond it.
TAIL_LADDER = (99.99, 99.9, 99.0, 90.0, 50.0)
MIN_BEYOND = 10


def median(values):
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def weighted_percentile(samples, p):
    """Nearest-rank percentile of (value, weight) samples: the smallest
    value whose cumulative weight reaches p% of the total."""
    s = sorted(samples)
    total = sum(w for _, w in s)
    if total <= 0:
        raise ValueError("percentile of no samples")
    target = p / 100.0 * total
    acc = 0
    for v, w in s:
        acc += w
        if acc >= target:
            return v
    return s[-1][0]


def tail_percentile(n):
    """The highest percentile of TAIL_LADDER with at least MIN_BEYOND of n
    samples beyond it, or None when even the median is unsupported."""
    for p in TAIL_LADDER:
        if n * (1 - p / 100.0) >= MIN_BEYOND - 1e-9:
            return p
    return None


def created_at(window, pos):
    """Creation time of the event at per-shard position `pos` of an open
    loop: the head reaches `pos` at origin + (pos - p0) / rate."""
    return window["origin"] + (pos - window["p0"]) / window["ratePerShard"]


def freshness(window):
    """(freshness seconds, events) samples of a window. Freshness is the
    return time of the sync that committed an event minus the event's
    creation time. In the open loop creation follows the offered-rate
    schedule, every one of `shards` shards holds an event at each position,
    and only events created within the window count: older ones waited on
    syncs outside it. In a closed loop the backlog exists when the sync is
    called, so every event of a sync has that sync's wall time."""
    out = []
    for s in window["syncs"]:
        if not s["ok"]:
            continue
        if window["loop"] == "open":
            for pos in range(s["from"] + 1, s["to"] + 1):
                created = created_at(window, pos)
                if created >= window["start"]:
                    out.append((s["end"] - created, window["shards"]))
        elif s["events"] > 0:
            out.append((s["end"] - s["start"], s["events"]))
    return out


def start_lateness(window):
    """Per open-loop sync: how long after its first event was created the
    sync started (the wait the previous sync imposed on it)."""
    if window["loop"] != "open":
        return []
    return [s["start"] - created_at(window, s["from"] + 1)
            for s in window["syncs"] if s["to"] > s["from"]]


def lag_events(window):
    """Head minus committed position, in events, at each sync's start. The
    open loop hands each sync the head it peeked, so this is the sync's
    batch; a closed loop's sync starts with its whole backlog."""
    return [s["events"] for s in window["syncs"]]


def backlog_growing(lags, limit=0.5):
    """True when the backlog grows across the run: the least-squares line
    through the lags rises, from the first sync to the last, by more than
    `limit` times their mean. One sync cannot show growth."""
    n = len(lags)
    if n < 2:
        return False
    mx = (n - 1) / 2.0
    my = sum(lags) / n
    sxx = sum((i - mx) ** 2 for i in range(n))
    slope = sum((i - mx) * (y - my) for i, y in enumerate(lags)) / sxx
    return my > 0 and slope * (n - 1) > limit * my


def self_times(spans):
    """Span id -> its duration minus the part of it its child spans cover
    (children clipped to the parent, overlaps counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
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


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives
    them."""
    import statistics
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else math.inf

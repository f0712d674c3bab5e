"""Statistics and span arithmetic for the benchmark's run records."""

import bisect
import math
import statistics

# Percentiles the tail rule picks from, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _rank(n, p):
    """1-based nearest rank of percentile p among n sorted samples."""
    return max(1, math.ceil(n * p / 100.0 - 1e-9))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not xs:
        return 0.0
    return sorted(xs)[_rank(len(xs), p) - 1]


def tail_percentile(n):
    """The highest percentile of LADDER that has at least ten of n
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in LADDER:
        if n - _rank(n, p) >= 10:
            best = p
    return best


def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    its children cover. `spans` maps id -> dict with start, end and
    parent (an id or None). Each instant goes to the deepest span that
    covers it, so overlapping siblings are counted once and the self
    times of a tree add up to its root's duration. A span's optional
    `carve` (layer, ms) moves up to that much of its self time to
    another layer, for work known only as a duration (codegen compile
    time). Returns a list of (span id, layer, self ms)."""
    depth = {}
    for sid in spans:
        n, p = 0, spans[sid].get("parent")
        while p is not None:
            n, p = n + 1, spans[p].get("parent")
        depth[sid] = n
    events = []
    for sid, s in spans.items():
        if s["end"] > s["start"]:
            events += [(s["start"], 1, sid), (s["end"], 0, sid)]
    events.sort(key=lambda e: (e[0], e[1]))
    own = dict.fromkeys(spans, 0.0)
    active, prev = set(), None
    for t, starting, sid in events:
        if active and t > prev:
            top = max(active, key=lambda x: (depth[x], spans[x]["start"], x))
            own[top] += t - prev
        if starting:
            active.add(sid)
        else:
            active.discard(sid)
        prev = t
    out = []
    for sid, s in spans.items():
        rest = own[sid]
        carve = s.get("carve")
        if carve:
            moved = min(rest, carve[1])
            out.append((sid, carve[0], moved))
            rest -= moved
        out.append((sid, s["layer"], rest))
    return out


class Enclosers:
    """Non-overlapping (start, end, id) intervals, sorted, searchable by
    a point: the innermost candidate parent for a listener event."""

    def __init__(self, intervals):
        self.iv = sorted(intervals)
        self.starts = [i[0] for i in self.iv]

    def find(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and self.iv[i][0] <= t <= self.iv[i][1]:
            return self.iv[i][2]
        return None

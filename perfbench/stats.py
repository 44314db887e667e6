"""Pure helpers for the benchmark's metrics: order statistics, interval
unions, span attribution and the printed metric-line format."""
import re

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
METRIC_LINE_RE = re.compile(
    r"^metric (?P<name>[A-Za-z0-9_.-]+) (?P<value>-?[0-9.eE+-]+|nan) "
    r"(?P<unit>[A-Za-z0-9_/%.-]+)(?: (?P<note>.*))?$")


def valid_name(name):
    """Metric and workload names: letters, digits, `_`, `.` and `-`."""
    return bool(NAME_RE.match(name)) and len(name) <= 64


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it: `(value, percentile, n)`, or None when `n <= beyond`."""
    xs = sorted(xs)
    n = len(xs)
    if n <= beyond:
        return None
    i = n - beyond - 1
    return xs[i], 100.0 * (i + 1) / n, n


def union(intervals):
    """Merge `(start, end)` intervals; overlapping and nested ones
    collapse, so concurrent work is never counted twice."""
    merged = []
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def union_length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's wall minus the part its children cover (never negative)."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def depths(spans):
    """`{id: nesting depth}` of spans given as dicts with `id` and
    `parent` (-1 for a root)."""
    parent = {sp["id"]: sp["parent"] for sp in spans}
    out = {}

    def depth(i):
        if i not in out:
            out[i] = 0 if parent.get(i, -1) not in parent else \
                depth(parent[i]) + 1
        return out[i]

    for i in parent:
        depth(i)
    return out


def innermost(spans, t, depth):
    """Id of the innermost span whose interval holds time `t`, else None:
    the deepest one (`depth` from `depths`), so a child that starts in the
    same instant as its parent still wins."""
    best = None
    for sp in spans:
        if sp["start"] <= t <= sp["end"] and (
                best is None or depth[sp["id"]] > depth[best["id"]]):
            best = sp
    return None if best is None else best["id"]


def metric_line(name, value, unit, note=""):
    line = f"metric {name} {value!r} {unit}"
    return f"{line} {note}" if note else line


def parse_metric_lines(text):
    """`{name: (value, unit, note)}` from the `metric ...` lines of a run's
    output; other lines are ignored."""
    out = {}
    for line in text.splitlines():
        m = METRIC_LINE_RE.match(line.strip())
        if m:
            out[m["name"]] = (float(m["value"]), m["unit"], m["note"] or "")
    return out

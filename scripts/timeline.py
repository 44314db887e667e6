#!/usr/bin/env python3
"""The SQL executions inside one span of a traced benchmark run record.

    python3 scripts/timeline.py <run.json> <span> [k]

`run.json` is the record `perfbench/run.py --trace 1` leaves in
`.bench_build/perfbench/last/<workload>-trace1.json`. For the k-th
instance (1-based, default 1) of the span named `<span>` (for example
`operators.delete`), it prints every SQL execution that started inside
it, in start order: start and end offsets from the span's start in
seconds, planning ms, job count, the task count of each stage of its
jobs, the action that ran it and whether it wrote. Then it prints the
jobs that started inside the span outside any execution with their call
site, and a summary line.
"""
import json
import sys


def span_window(rec, name, k=1):
    """`(start_ms, end_ms)` of the k-th span named `name`, in start
    order; ValueError if there are fewer than k."""
    spans = sorted((s for s in rec["spans"] if s["name"] == name),
                   key=lambda s: s["start_us"])
    if not 1 <= k <= len(spans):
        raise ValueError(f"span {name!r} #{k}: the record has "
                         f"{len(spans)} such spans")
    s = spans[k - 1]
    return s["start_us"] / 1e3, s["end_us"] / 1e3


def timeline(rec, lo, hi):
    """`(execs, orphans)` for the window `[lo, hi]` (ms): one dict per
    execution that started in it and one per job with no execution that
    started in it, both in start order, offsets in seconds from `lo`."""
    tr = rec["trace"]
    stages = {s["id"]: s["tasks"] for s in tr["stages"]}
    planned = {p["id"]: p for p in tr["planned"]}

    def inside(x):
        return lo <= x["start_ms"] <= hi

    def off(ms):
        return None if ms < 0 else (ms - lo) / 1e3

    def tasks(jobs):
        return [stages[s] for j in jobs for s in j["stages"] if s in stages]

    jobs_of = {}
    for j in sorted(tr["jobs"], key=lambda j: j["start_ms"]):
        jobs_of.setdefault(j["exec"], []).append(j)
    execs = []
    for e in sorted((e for e in tr["execs"] if inside(e)),
                    key=lambda e: e["start_ms"]):
        p = planned.get(e["id"], {})
        jobs = jobs_of.get(e["id"], [])
        execs.append(dict(id=e["id"], start=off(e["start_ms"]),
                          end=off(e["end_ms"]), plan_ms=p.get("plan_ms"),
                          jobs=len(jobs), tasks=tasks(jobs),
                          func=p.get("func", "?"),
                          write=bool(p.get("write", False))))
    orphans = [dict(id=j["id"], start=off(j["start_ms"]),
                    end=off(j["end_ms"]), site=j["site"], tasks=tasks([j]))
               for j in jobs_of.get(-1, []) if inside(j)]
    return execs, orphans


def _s(x):
    return "   -  " if x is None else f"{x:6.2f}"


def render(name, k, lo, hi, execs, orphans):
    out = [f"{name} #{k}: {(hi - lo) / 1e3:.2f} s"]
    out.append("  start    end  plan_ms  jobs  write  func             tasks")
    for e in execs:
        plan = "-" if e["plan_ms"] is None else e["plan_ms"]
        out.append(f"{_s(e['start'])} {_s(e['end'])} {plan:>8} "
                   f"{e['jobs']:>5}  {'W' if e['write'] else '.':>5}  "
                   f"{e['func']:<16} {e['tasks']}")
    if orphans:
        out.append("jobs outside any execution:")
        for j in orphans:
            out.append(f"{_s(j['start'])} {_s(j['end'])}  {j['site']}  "
                       f"{j['tasks']}")
    every = [t for e in execs for t in e["tasks"]] + \
        [t for j in orphans for t in j["tasks"]]
    out.append(f"executions {len(execs)}  jobs "
               f"{sum(e['jobs'] for e in execs) + len(orphans)}  "
               f"stages {len(every)}  tasks {sum(every)}  "
               f"max tasks/stage {max(every, default=0)}")
    return "\n".join(out)


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__.strip().splitlines()[2].strip())
    with open(argv[1]) as f:
        rec = json.load(f)
    if "trace" not in rec or not rec["trace"]:
        sys.exit(f"{argv[1]}: not a traced run record (run with --trace 1)")
    k = int(argv[3]) if len(argv) == 4 else 1
    try:
        lo, hi = span_window(rec, argv[2], k)
    except ValueError as e:
        sys.exit(str(e))
    print(render(argv[2], k, lo, hi, *timeline(rec, lo, hi)))


if __name__ == "__main__":
    main(sys.argv)

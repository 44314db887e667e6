"""Per-layer analysis of a traced run record (`run.json` with a `trace`).

Times in the record are epoch microseconds (spans) and milliseconds
(jobs, executions); everything here works in milliseconds. Jobs and SQL
executions belong to the innermost span holding their start. Every time
that adds up intervals is an interval union, so jobs `Par.run` overlaps
never count twice and no self time can be negative.
"""
import stats

TRUNCATION_SITES = ("localCheckpoint", "checkpoint")


def _iv(x):
    return x["start_ms"], x["end_ms"]


class Trace:
    def __init__(self, rec):
        tr = rec["trace"]
        self.ops = rec["ops"]
        self.spans = [dict(s, start=s["start_us"] / 1e3,
                           end=s["end_us"] / 1e3) for s in rec["spans"]]
        self.jobs = [j for j in tr["jobs"] if j["end_ms"] >= 0]
        self.stages = {s["id"]: s for s in tr["stages"]}
        self.execs = {e["id"]: e for e in tr["execs"] if e["end_ms"] >= 0}
        self.planned = {p["id"]: p for p in tr["planned"]}
        self.triggers = tr["triggers"]
        self.depth = stats.depths(self.spans)
        self.jobs_of = {}
        for j in self.jobs:
            self.jobs_of.setdefault(j["exec"], []).append(_iv(j))

    def commit_ms(self, eid):
        """A write execution's wall minus the union of its jobs."""
        lo, hi = _iv(self.execs[eid])
        return (hi - lo) - stats.union_length(
            stats.clip(self.jobs_of.get(eid, []), lo, hi))

    def is_write(self, eid):
        return eid in self.planned and self.planned[eid]["write"]


def totals(rec):
    """The per-layer metrics of the run's timed operations, as
    `{name: (value, unit)}`."""
    t = Trace(rec)
    op_spans = [s for s in t.spans if s["name"].startswith("op.")]
    op_iv = [(s["start"], s["end"]) for s in op_spans]

    def in_ops(x):
        return any(a <= x["start_ms"] <= b for a, b in op_iv)

    def wall(name):
        return sum(s["end"] - s["start"] for s in t.spans
                   if s["name"] == name) / 1e3

    jobs = [j for j in t.jobs if in_ops(j)]
    execs = [eid for eid, e in t.execs.items() if in_ops(e)]
    planned = [t.planned[eid] for eid in execs if eid in t.planned]
    writes = [eid for eid in execs if t.is_write(eid)]
    job_iv = [_iv(j) for j in jobs]
    job_union = stats.union_length(job_iv) / 1e3
    stages = [t.stages[s] for j in jobs for s in j["stages"]
              if s in t.stages]
    trunc = [_iv(j) for j in jobs if j["site"].startswith(TRUNCATION_SITES)]
    exec_iv = [_iv(t.execs[eid]) for eid in execs]
    window_rows = sum(p["window_rows"] for p in planned)
    returned = sum(s["rows"] for s in op_spans)
    trigger_s = sum(x["trigger_ms"] for x in t.triggers) / 1e3
    failed = sum(1 for o in t.ops if o["error"])
    return {
        "model.load_s": (wall("model.load"), "s"),
        "model.run_s": (wall("model.run"), "s"),
        "model.test_s": (wall("model.test"), "s"),
        "model.writes": (len(writes), "count"),
        "model.commit_s": (sum(map(t.commit_ms, writes)) / 1e3, "s"),
        "model.written_mb": (sum(t.planned[w]["out_bytes"]
                                 for w in writes) / 1e6, "MB"),
        "model.files_written": (sum(t.planned[w]["files"] for w in writes),
                                "count"),
        "operators.history_s": (wall("operators.history"), "s"),
        "operators.append_s": (wall("operators.append"), "s"),
        "operators.delete_s": (wall("operators.delete"), "s"),
        "operators.manifest_s": (wall("operators.manifest"), "s"),
        "streaming.triggers": (len(t.triggers), "count"),
        "streaming.trigger_s": (trigger_s, "s"),
        "streaming.overhead_s": (trigger_s - wall("operators.append"), "s"),
        "spark.plan_s": (sum(p["plan_ms"] for p in planned) / 1e3, "s"),
        "spark.executions": (len(execs), "count"),
        "spark.jobs": (len(jobs), "count"),
        "spark.tasks": (sum(s["tasks"] for s in stages), "count"),
        "spark.job_s": (job_union, "s"),
        "spark.job_concurrency": (
            sum(b - a for a, b in job_iv) / 1e3 / job_union
            if job_union else 0.0, "ratio"),
        "spark.shuffle_write_mb": (
            sum(s["shuffle_write"] for s in stages) / 1e6, "MB"),
        "spark.spill_mb": (sum(s["spill"] for s in stages) / 1e6, "MB"),
        "spark.window_rows": (window_rows, "count"),
        "spark.window_rows_per_result": (
            window_rows / returned if returned else 0.0, "ratio"),
        "core.truncate_jobs": (len(trunc), "count"),
        "core.truncate_s": (stats.union_length(trunc) / 1e3, "s"),
        "core.pinned_mb": (max(s["pinned_mb"] for s in t.spans), "MB"),
        "driver.outside_s": (sum(stats.self_time((s["start"], s["end"]),
                                                 exec_iv)
                                 for s in op_spans) / 1e3, "s"),
        "failed_ratio": (failed / len(t.ops), "ratio"),
    }


def by_span(rec):
    """Per span name: calls, wall, self time (wall minus the union of its
    child spans) and the five layers attributed to the span as the
    innermost one — planning, job execution, truncation, commit, and
    driver time outside its children and any execution — in seconds."""
    t = Trace(rec)
    kids = {}
    for s in t.spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    by_id = {s["id"]: s for s in t.spans}
    rows = {}
    for s in t.spans:
        r = rows.setdefault(s["name"], dict(
            n=0, wall=0.0, self=0.0, plan=0.0, job=[], trunc=[], commit=0.0,
            outside=0.0))
        r["n"] += 1
        r["wall"] += s["end"] - s["start"]
        r["self"] += stats.self_time((s["start"], s["end"]),
                                     kids.get(s["id"], []))

    def owner(x):
        sid = stats.innermost(t.spans, x["start_ms"], t.depth)
        return None if sid is None else rows[by_id[sid]["name"]]

    for eid, e in t.execs.items():
        r = owner(e)
        if r is not None and eid in t.planned:
            r["plan"] += t.planned[eid]["plan_ms"]
            if t.is_write(eid):
                r["commit"] += t.commit_ms(eid)
    for j in t.jobs:
        r = owner(j)
        if r is not None:
            r["job"].append(_iv(j))
            if j["site"].startswith(TRUNCATION_SITES):
                r["trunc"].append(_iv(j))
    exec_iv = [_iv(e) for e in t.execs.values()]
    for s in t.spans:
        rows[s["name"]]["outside"] += stats.self_time(
            (s["start"], s["end"]), kids.get(s["id"], []) + exec_iv)
    return {name: dict(n=r["n"], wall_s=r["wall"] / 1e3,
                       self_s=r["self"] / 1e3, plan_s=r["plan"] / 1e3,
                       job_s=stats.union_length(r["job"]) / 1e3,
                       trunc_s=stats.union_length(r["trunc"]) / 1e3,
                       commit_s=r["commit"] / 1e3,
                       outside_s=r["outside"] / 1e3)
            for name, r in rows.items()}

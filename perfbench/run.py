#!/usr/bin/env python3
"""graft's benchmark: one seeded workload per run, end-to-end metrics
untraced, per-layer metrics from a separate traced run.

    python3 perfbench/run.py --workload dag_refresh --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The first run builds the JVM driver
(`perfbench/build.sbt`, which compiles graft's sources with the driver's
own) and caches the classpath under `.bench_build/`; later runs reuse it
until a source file changes. Each run generates its inputs from the seed
(`perfbench/gen.py`), runs the workload in one JVM with one closed-loop
client, checks the outputs, and prints human-readable lines followed by
one JSON result line. It exits non-zero when an output is wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("dag_refresh", "corpus_takedown", "query_serving")
HEAP = "8g"
# C1 only, with the tiered code cache (alone, C1 gets 48 MB, which Spark's
# generated classes fill). A run is a one-minute JVM: under C2 the JIT kept
# compiling through the whole run, competing with the workload for the
# cores, so each operation's time followed how much CPU the host left it.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Per workload: what its cold first phase and its repeated operation are.
OP_NAMES = {
    "dag_refresh": ("full-refresh build of the scheduled selection + data tests",
                    "refresh cycle"),
    "corpus_takedown": ("buildHistoryFull + streamed append", "deleteFull"),
    "query_serving": ("first call of every pool gate", "sql or topk call"),
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    paths = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            paths += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(paths)


def run_group(cmd, cwd, env, log_path, timeout):
    """Run `cmd` in its own process group with output to `log_path`; on
    timeout, or when this process is told to stop, kill the whole group.
    Returns the exit code, or None on timeout; either way every process
    it started has ended on return."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        handlers = {s: signal.signal(s, stop)
                    for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for s, h in handlers.items():
                signal.signal(s, h)


def spark_jars():
    """The Spark distribution's jar directory: `$SPARK_HOME/jars`, else
    the one next to the `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark jars not found: set SPARK_HOME", 3)
    return os.path.join(home, "jars")


def build(root, work):
    """Compile the driver with graft's sources; returns the classpath."""
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    log = os.path.join(work, "build.log")
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      f"-Dspark.jars.dir={spark_jars()}", "compile",
                      "export runtime:fullClasspath"], HERE, env, log, 800)
    with open(log) as f:
        out = f.read()
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed ({'timed out' if code is None else code})", 3)
    cp = out.strip().splitlines()[-1]
    with open(cp_file, "w") as f:
        f.write(f"{stamp}\n{cp}")
    print(f"built driver in {time.time() - t0:.1f} s")
    return cp, stamp


def generate(workload, seed, run_dir, repeats=3):
    """Generate the inputs `repeats` times; the median time counts to
    set-up, and every repeat must reproduce the same bytes."""
    times, manifest = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        m = gen.generate(workload, seed, os.path.join(run_dir, "input"))
        times.append(time.perf_counter() - t0)
        if manifest is not None and m["tables"] != manifest["tables"]:
            fail("generator is not deterministic", 4)
        manifest = m
    return manifest, stats.median(times)


def plan_args(workload, m):
    if workload == "dag_refresh":
        return [f"slices={m['slices']}"]
    if workload == "corpus_takedown":
        return [f"history_cut={m['history_cut']}",
                "batches=" + ",".join(f"{a}-{b}" for a, b in m["batches"]),
                "victims=" + ";".join(",".join(map(str, v))
                                      for v in m["victim_sets"])]
    return []


def cpu_steal_s():
    """Seconds of CPU time the hypervisor gave to other guests since boot
    (Linux `/proc/stat`; None elsewhere)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(cp, args, run_dir, cpus, root, budget):
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, *JIT, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-cp", cp, "graft.perfbench.Main", args["workload"],
           os.path.join(run_dir, "input"), out, str(args["seconds"]),
           str(args["trace"]), str(args["seed"]), str(cpus), *args["plan"]]
    code = run_group(cmd, root, None, os.path.join(run_dir, "jvm.log"),
                     budget)
    if code is None:
        return None, "timed out"
    if code != 0 or not os.path.exists(os.path.join(out, "run.json")):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            return None, f"exit {code}: " + f.read()[-3000:]
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f), None


def oracle_checks(rec, run_dir, data_dir):
    """DuckDB checks of the outputs the JVM wrote; appended to the
    record's checks, failing the operation each one checks."""
    import oracle
    info = rec["info"]
    results = os.path.join(run_dir, "out", "results")
    con = oracle.connect(data_dir)
    todo = []
    if rec["workload"] == "dag_refresh":
        for mart, sql in info["oracle_sql"].items():
            todo.append((f"mart_{mart}", info["verify_op"], mart, sql))
    elif rec["workload"] == "corpus_takedown":
        todo.append(("manifest", info["manifest_op"], "manifest",
                     info["oracle_sql"]))
    elif rec["workload"] == "query_serving":
        for gate, op in info["first_ops"].items():
            todo.append((f"oracle_{gate}", op, gate,
                         info["oracle_sql"][gate]))
    ops = {o["id"]: o for o in rec["ops"]}
    for name, op, result, sql in todo:
        why = oracle.check(con, os.path.join(results, result), sql)
        rec["checks"].append({"name": name, "op": op, "ok": why is None,
                              "detail": why or ""})
        if why and not ops[op]["error"]:
            ops[op]["error"] = f"check {name}: {why}"


def dur(o):
    return (o["end_us"] - o["start_us"]) / 1e6


def end_to_end(rec, gen_s):
    ops = rec["ops"]
    first = [dur(o) for o in ops if o["phase"] == "first"]
    loop = [dur(o) for o in ops if o["phase"] == "loop"]
    return {
        "setup_s": (gen_s + rec["setup"]["session_s"]
                    + rec["setup"]["warmup_s"], "s"),
        "first_s": (sum(first), "s"),
        "op_p50_s": (stats.median(loop), "s"),
    }


def workload_metrics(rec):
    """The workload's own measurements by name, as `(name, value, unit,
    note)`. Printed for reading; the result line carries the end-to-end
    metrics every workload shares."""
    ops, info, w = rec["ops"], rec["info"], rec["workload"]

    def times(kind, phase=None):
        return [dur(o) for o in ops
                if o["kind"] == kind and phase in (None, o["phase"])]

    def p50(name, xs):
        return [(name, stats.median(xs), "s", f"n={len(xs)}")] if xs else []

    def tail(name, xs):
        t = stats.tail(xs)
        return [(name, t[0], "s", f"p{t[1]:.0f} n={t[2]}")] if t else []

    if w == "dag_refresh":
        return p50("build_s", times("build")) + p50("refresh_s",
                                                    times("refresh"))
    if w == "corpus_takedown":
        return (p50("history_s", times("history"))
                + [("append_docs_per_s",
                    info["appended_docs"] / info["append_wall_s"], "docs/s",
                    f"docs={info['appended_docs']}")]
                + p50("delete_s", times("takedown")))
    sql, topk = times("sql", "loop"), times("topk", "loop")
    return (p50("sql_p50_s", sql) + tail("sql_tail_s", sql)
            + p50("topk_p50_s", topk) + tail("topk_tail_s", topk))


def span_lines(rec):
    """The traced run's per-span table, one printed line per span name."""
    cols = ("n", "wall_s", "self_s", "plan_s", "job_s", "trunc_s",
            "commit_s", "outside_s")
    lines = [f"{'span':<22}" + "".join(f"{c:>10}" for c in cols)]
    rows = layers.by_span(rec)
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["wall_s"]):
        lines.append(f"{name:<22}{r['n']:>10}" + "".join(
            f"{r[c]:>10.3f}" for c in cols[1:]))
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("models", "tpch")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    cp, stamp = build(root, work)
    t_run = time.time()

    run_dir = os.path.join(work, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cpus = min(4, os.cpu_count() or 1)
    try:
        manifest, gen_s = generate(a.workload, a.seed, run_dir)
        budget = JVM_TIMEOUT_S - (time.time() - t_run)
        steal0, wall0 = cpu_steal_s(), time.time()
        rec, err = run_jvm(cp, dict(workload=a.workload, seed=a.seed,
                                    seconds=a.seconds, trace=a.trace,
                                    plan=plan_args(a.workload, manifest)),
                           run_dir, cpus, root, budget)
        if rec is None:
            fail(f"{a.workload} run failed: {err}", 5)
        steal = None if steal0 is None else cpu_steal_s() - steal0
        jvm_wall = time.time() - wall0
        oracle_checks(rec, run_dir, manifest["data_dir"])
    finally:
        detail_dir = os.path.join(work, "last")
        os.makedirs(detail_dir, exist_ok=True)
        for f, dest in (("jvm.log", f"{a.workload}-trace{a.trace}.log"),
                        (os.path.join("out", "run.json"),
                         f"{a.workload}-trace{a.trace}.json")):
            if os.path.exists(os.path.join(run_dir, f)):
                shutil.copy(os.path.join(run_dir, f),
                            os.path.join(detail_dir, dest))
        shutil.rmtree(run_dir, ignore_errors=True)

    env = rec["env"]
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} "
          f"trace {a.trace} source_sha256 {stamp[:16]}")
    print(f"env nproc={env['nproc']} cpus={cpus} master={env['master']} "
          f"default_parallelism={env['default_parallelism']} "
          f"shuffle_partitions={env['shuffle_partitions']} "
          f"jvm=\"{env['jvm']}\" jit=\"{' '.join(JIT)}\" "
          f"heap_mb={env['max_heap_mb']} "
          f"spark={env['spark']} scala={env['scala']} "
          f"client=closed-loop x1")
    if steal is not None:
        print(f"host cpu_steal_s={steal:.2f} over jvm_wall_s={jvm_wall:.1f}")
    print("conf " + " ".join(f"{k}={v}" for k, v in
                             sorted(env["session_conf"].items())))
    for path, t in sorted(manifest["tables"].items()):
        print(f"input {path} rows={t['rows']} bytes={t['bytes']} "
              f"sha256={t['sha256'][:16]}")
    total_bytes = sum(t["bytes"] for t in manifest["tables"].values())
    print(f"input_total bytes={total_bytes} (generated {gen_s:.3f} s)")
    first_name, op_name = OP_NAMES[a.workload]
    print(f"ops first_s=<{first_name}> op=<{op_name}>")
    print(f"setup generate_s={gen_s:.3f} "
          f"session_s={rec['setup']['session_s']:.3f} "
          f"warmup_s={rec['setup']['warmup_s']:.3f}")
    for o in rec["ops"]:
        print(f"op {o['id']} {o['phase']} {o['kind']} {o['name']} "
              f"{dur(o):.3f} s")
        if o["error"]:
            print(f"FAILED op {o['id']} {o['kind']} {o['name']}: "
                  f"{o['error'][:1000]}")
    for c in rec["checks"]:
        print(f"check {c['name']} {'ok' if c['ok'] else 'FAIL ' + c['detail']}")

    e2e = end_to_end(rec, gen_s)
    for name, (v, unit) in e2e.items():
        print(stats.metric_line(name, v, unit))
    for name, v, unit, note in workload_metrics(rec):
        print(stats.metric_line(name, v, unit, note))
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if o["error"])
    correct = failed == 0 and all(c["ok"] for c in rec["checks"])
    print(stats.metric_line("failed_ratio", failed / attempted, "ratio",
                            f"failed={failed} attempted={attempted}"))

    e2e_file = os.path.join(work, "last", f"e2e-{a.workload}-{a.seed}.json")
    if a.trace:
        metrics = layers.totals(rec)
        for line in span_lines(rec):
            print("layers " + line)
        for name, (v, unit) in metrics.items():
            print(stats.metric_line(name, v, unit))
        if os.path.exists(e2e_file):
            with open(e2e_file) as f:
                base = json.load(f)
            if base.get("stamp") == stamp:
                for name, (v, _) in e2e.items():
                    b = base["e2e"][name][0]
                    print(f"tracing_overhead {name} traced={v:.4f} "
                          f"untraced={b:.4f} delta={v - b:+.4f}")
    else:
        metrics = e2e
        with open(e2e_file, "w") as f:
            json.dump({"stamp": stamp, "e2e": e2e}, f)
    print(f"run_wall_s {time.time() - t_start:.1f}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

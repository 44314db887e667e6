#!/usr/bin/env python3
"""Back-to-back A/B pairs of the benchmark between two checkouts.

    python3 scripts/ab_pairs.py --parent ../parent --change . \
        --workload dag_refresh --seeds 971-980

For each seed it runs `perfbench/run.py --workload W --seed S --seconds N
--trace 0` once in each checkout, the two runs of a pair back to back and
their order alternating from pair to pair, so host drift falls on both
sides alike. It then prints, per end-to-end metric of `BENCHMARK.json`,
the parent and change medians, the parent's interquartile range and how
many pairs the change won. It exits non-zero if any run was incorrect,
had a failed operation or printed no result line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    """`"971-975"` → [971, ..., 975]; `"3"` → [3]."""
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise ValueError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


def result_line(output):
    """The JSON result line `perfbench/run.py` prints last, else None."""
    for line in reversed(output.splitlines()):
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                return None
    return None


def iqr(xs):
    """Interquartile range (inclusive quartiles); 0 for fewer than two."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def summary(pairs, metrics):
    """Per metric `(name, parent median, change median, parent IQR, wins,
    n)` over `pairs`, a list of `(parent, change)` metric dicts
    `{name: value}`. `metrics` is `[(name, better)]` with `better` either
    "lower" or "higher"; a pair where either side lacks the metric is
    left out of that metric's row."""
    rows = []
    for name, better in metrics:
        both = [(p[name], c[name]) for p, c in pairs
                if name in p and name in c]
        if not both:
            continue
        ps = [p for p, _ in both]
        cs = [c for _, c in both]
        wins = sum(1 for p, c in both
                   if (c < p if better == "lower" else c > p))
        rows.append((name, statistics.median(ps), statistics.median(cs),
                     iqr(ps), wins, len(both)))
    return rows


def run_once(checkout, workload, seed, seconds):
    """One untraced run: `(metrics {name: value}, ok, detail)`."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    res = result_line(p.stdout)
    if res is None:
        tail = (p.stdout + p.stderr).strip().splitlines()[-5:]
        return {}, False, f"exit {p.returncode}, no result: {tail}"
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    ok = p.returncode == 0 and res["correct"] and res["failed"] == 0
    return metrics, ok, f"correct={res['correct']} failed={res['failed']}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--seconds", type=float, default=20)
    a = ap.parse_args(argv)
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"])
                   for m in json.load(f)["end_to_end"]]
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    pairs, bad = [], 0
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            m, ok, detail = run_once(sides[side], a.workload, seed, a.seconds)
            bad += not ok
            got[side] = m
            shown = " ".join(f"{k}={m[k]:.3f}" for k, _ in metrics if k in m)
            print(f"seed {seed} {side}: {shown} {detail}"
                  f"{'' if ok else ' INCORRECT'}", flush=True)
        pairs.append((got["parent"], got["change"]))
    print(f"{a.workload}, {len(pairs)} pairs "
          "(metric: parent median -> change median, parent IQR, wins)")
    for name, pm, cm, q, wins, n in summary(pairs, metrics):
        print(f"{name}: {pm:.3f} -> {cm:.3f} ({(cm - pm) / pm * 100:+.1f} %), "
              f"parent IQR {q:.3f}, change better in {wins}/{n}")
    if bad:
        print(f"{bad} run(s) incorrect", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

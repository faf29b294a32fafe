#!/usr/bin/env python3
"""Record sets of benchmark runs and compare two sets.

    python3 perfbench/compare.py record <dir> [--seeds 1-10] [--workloads a,b]
    python3 perfbench/compare.py diff <dir_a> <dir_b>
    python3 perfbench/compare.py spread <dir>

`record` runs `perfbench/run.py --trace 0` once per workload and seed (from
the root of a checkout) and keeps each run's result line as
`<dir>/<workload>.s<seed>.json`. `diff` prints, per workload and
end-to-end metric, each set's median and quartiles and whether B's median is
within the metric's bound of A's (BENCHMARK.json). `spread` prints each
metric's quartile spread as a share of its median against the bound; the
spread of `setup_s` is informational only.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def record(a):
    b = bench()
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    os.makedirs(a.dir, exist_ok=True)
    for w in names:
        for s in seeds(a.seeds):
            cmd = b["command"] + ["--workload", w, "--seed", str(s),
                                  "--seconds", str(b["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            last = lines[-1] if lines else ""
            ok = p.returncode == 0 and last.startswith("{")
            if ok:
                with open(os.path.join(a.dir, f"{w}.s{s}.json"), "w") as f:
                    f.write(last + "\n")
            print(f"{w} seed={s} exit={p.returncode} {'ok' if ok else 'FAILED'} "
                  f"{time.time() - t0:.1f}s", flush=True)


def load(d):
    """{workload: {metric: [values]}} plus {workload: [correct flags]}."""
    vals, correct = {}, {}
    for path in sorted(glob.glob(os.path.join(d, "*.s*.json"))):
        w = os.path.basename(path).split(".")[0]
        with open(path) as f:
            r = json.load(f)
        correct.setdefault(w, []).append(r["correct"] and r["failed"] == 0)
        for k, m in r["metrics"].items():
            vals.setdefault(w, {}).setdefault(k, []).append(m["value"])
    return vals, correct


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(a):
    vals, correct = load(a.dir)
    for m in bench()["end_to_end"]:
        for w in sorted(vals):
            xs = vals[w].get(m["name"])
            if not xs:
                continue
            q1, med, q3 = quart(xs)
            s = (q3 - q1) / med if med else float("inf")
            verdict = "info" if m["name"] == "setup_s" else (
                "ok" if s <= m["bound"] / 3 else "within bound" if s <= m["bound"] else "TOO WIDE")
            print(f"{w:14s} {m['name']:14s} n={len(xs):2d} median={med:.6g} "
                  f"iqr/median={s:.4f} bound={m['bound']} {verdict}")
    for w in sorted(correct):
        print(f"{w:14s} correct in {sum(correct[w])}/{len(correct[w])} runs")


def diff(a):
    va, _ = load(a.a)
    vb, _ = load(a.b)
    worse_all = False
    for m in bench()["end_to_end"]:
        for w in sorted(set(va) & set(vb)):
            xa, xb = va[w].get(m["name"]), vb[w].get(m["name"])
            if not xa or not xb:
                continue
            qa, qb = quart(xa), quart(xb)
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            worse = change if m["better"] == "lower" else -change
            ok = worse <= m["bound"]
            worse_all |= not ok
            print(f"{w:14s} {m['name']:14s} A {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}]  "
                  f"B {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}]  change {change:+.2%}  "
                  f"bound {m['bound']:.0%} {'within' if ok else 'WORSE'}")
    return 1 if worse_all else 0


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("dir")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    s = sub.add_parser("spread")
    s.add_argument("dir")
    a = ap.parse_args()
    if a.cmd == "record":
        record(a)
    elif a.cmd == "spread":
        spread(a)
    else:
        sys.exit(diff(a))


if __name__ == "__main__":
    main()

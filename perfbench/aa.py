#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/aa.py --runs 10                  # A/A: this checkout twice
    python3 perfbench/aa.py --runs 10 --sets 1         # one set: spreads only
    python3 perfbench/aa.py --a ../parent --b . --runs 10   # parent vs change

Each set runs `perfbench/run.py` once per seed (`--seed0`, `--seed0`+1,
...) on every workload, in the checkout given for it; the two sets
alternate which goes first. For each workload and end-to-end metric it
prints each set's median and quartiles, the spread (interquartile
distance over the median) and the change of B's median against A's, and
flags:

- `SPREAD` when a set's spread exceeds the metric's bound in
  BENCHMARK.json;
- `WORSE` when B's median is worse than A's by more than the bound.

`--trace-overhead` adds one traced run per seed to set A and reports
the traced pass or replay time against the untraced `wall_s`.
Raw results go to `perfbench/out/aa-<time>.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    elapsed = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} in {checkout} failed ({p.returncode})")
    out = json.loads(lines[-1])
    if not out["correct"]:
        print(f"  ! {workload} seed {seed} in {checkout}: {out['failed']} failed "
              f"of {out['attempted']}: {lines[-2][:500]}", file=sys.stderr)
    return dict({k: v["value"] for k, v in out["metrics"].items()}, elapsed_s=elapsed)


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return med, q1, q3, ((q3 - q1) / med if med else float("inf"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", default=ROOT, help="checkout for set A (default: this one)")
    ap.add_argument("--b", default=ROOT, help="checkout for set B (default: this one)")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated subset (default: all)")
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(args.a, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    sets = {"A": args.a, "B": args.b} if args.sets == 2 else {"A": args.a}
    res = {w: {s: [] for s in list(sets) + ["trace"]} for w in workloads}
    for w in workloads:
        for i in range(args.runs):
            seed = args.seed0 + i
            order = list(sets) if i % 2 == 0 else list(reversed(list(sets)))
            for s in order:
                res[w][s].append(run(sets[s], w, seed, bench["run_seconds"], 0))
            if args.trace_overhead:
                res[w]["trace"].append(run(args.a, w, seed, bench["run_seconds"], 1))
            print(f"  {w} seed {seed} done", file=sys.stderr, flush=True)

    flagged = 0
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':<22}{'set':>4}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            meds = {}
            for s in sets:
                med, q1, q3, spread = summary([r[name] for r in res[w][s]])
                meds[s] = med
                flag = " SPREAD" if spread > bound else ""
                flagged += bool(flag)
                print(f"  {name:<22}{s:>4}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>8.1%}{bound:>8.0%}{flag}")
            if "B" in meds:
                d = (meds["B"] - meds["A"]) / meds["A"]
                worse = d if m["better"] == "lower" else -d
                flag = " WORSE" if worse > bound else ""
                flagged += bool(flag)
                print(f"  {name:<22}{'B/A':>4}{d:>+12.2%}{flag}")
        if res[w]["trace"]:
            traced = statistics.median(r["trace.wall_s"] for r in res[w]["trace"])
            plain = statistics.median(r["wall_s"] for r in res[w]["A"])
            print(f"  tracing overhead: traced wall {traced:.3f} s vs untraced {plain:.3f} s "
                  f"({(traced - plain) / plain:+.1%})")

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    path = os.path.join(HERE, "out", f"aa-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump({"sets": sets, "runs": res}, f)
    print(f"\n{flagged} flag(s); raw results in {os.path.relpath(path, ROOT)}")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()

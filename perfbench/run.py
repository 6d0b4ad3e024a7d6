#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the harness and
the library from source with sbt (later runs reuse the build while the
sources are unchanged), then every run:

1. generates the input tables from `--seed` (`gen.py`);
2. starts one JVM that sets up, warms up, checks and measures the
   workload (`src/main/scala/perfbench`), writing a raw record file;
3. compares the outputs with their DuckDB oracles through the repo's
   oracle gate, `tools/check_oracle.py`;
4. turns the raw records into metrics (`metrics.py`).

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The line before it carries the
run's detail: box state before the run, sample counts, failures. Each
run works in a fresh directory under `perfbench/.work`, removed at the
end; a traced run also leaves its spans in `perfbench/out`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("corpus_dedup", "cdc_stream")
ORACLE_GATE = os.path.join(ROOT, "tools", "check_oracle.py")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench.classpath")
STAMP_FILE = os.path.join(HERE, "target", "perfbench.stamp")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads; a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        raise SystemExit(f"no library sources under {roots[0]}: run from a full checkout")
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, _, fn in os.walk(r):
            files += [os.path.join(dp, f) for f in fn]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(STAMP_FILE) and os.path.exists(CLASSPATH_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g -Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")
    log("building harness and library (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [ln for ln in p.stdout.splitlines() if CLASSES in ln][-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)


def box_state():
    """Load average, CPU count and available memory before the run."""
    state = {"nproc": len(os.sched_getaffinity(0)), "load_avg_1m": os.getloadavg()[0]}
    try:
        with open("/proc/meminfo") as f:
            mem = dict(ln.split(":", 1) for ln in f)
        state["mem_available_mb"] = int(mem["MemAvailable"].split()[0]) // 1024
    except (OSError, KeyError, ValueError):
        pass
    return state


def run_jvm(args, work, data, cpus):
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    raw_file = os.path.join(work, "raw.json")
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
            "--data", data, "--work", work, "--out", raw_file]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness timed out")
    if p.returncode != 0 or not os.path.exists(raw_file):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed with code {p.returncode}")
    with open(raw_file) as f:
        return json.load(f)


def oracle_failures(data, outputs):
    """{output: reason} for every output that differs from its DuckDB
    oracle, as the repo's oracle gate judges them: it compares each
    output named in `<outputs>/oracle_sql.json` with its statement run
    over the same tables, and prints a `[FAIL] <name>: <reason>` line per
    mismatch."""
    p = subprocess.run([sys.executable, ORACLE_GATE, data, outputs],
                       capture_output=True, text=True, timeout=120)
    bad = {}
    for ln in p.stdout.splitlines():
        if ln.startswith("[FAIL] "):
            name, _, reason = ln[len("[FAIL] "):].partition(": ")
            bad.setdefault(name, reason)
    if p.returncode != 0 and not bad:
        bad["oracle_gate"] = (p.stderr or p.stdout).strip()[-500:]
    return bad


def outcome(raw, data):
    """(attempted, failed, reasons) for the run's operations and checks."""
    if raw["workload"] == "cdc_stream":
        bad = oracle_failures(data, raw["outputs_dir"])
        reads = raw["reads"]
        attempted = len(raw["files"]) + len(reads) + 1
        failed = sum(not r["ok"] for r in reads) + len(bad)
        consumed = sum(p["rows"] for p in raw["stream_progress"])
        if consumed != sum(f["rows"] for f in raw["files"]):
            bad["stream"] = f"consumed {consumed} rows of {sum(f['rows'] for f in raw['files'])}"
            failed += 1
        return attempted, failed, bad
    ops = raw["checks"] + raw["ops"]
    # a query that threw in the check pass is already counted, and left
    # no output for the gate
    threw = {c["name"] for c in raw["checks"] if not c["ok"]}
    bad = oracle_failures(data, raw["outputs_dir"])
    failed = sum(not o["ok"] for o in ops) + sum(1 for q in bad if q not in threw)
    bad.update({o["name"]: o.get("error", "failed") for o in ops if not o["ok"]})
    return len(ops), failed, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    box = box_state()
    build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        gen.generate(args.seed, data)
        raw = run_jvm(args, work, data, box["nproc"])
        attempted, failed, bad = outcome(raw, data)
        ms = metrics.per_layer(raw) if args.trace else metrics.end_to_end(raw)
        if args.trace:
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            spans, _ = metrics.trace_spans(raw)
            with open(os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(spans, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = {"box": box, "workload": args.workload, "seed": args.seed, "scale": gen.SCALE,
              "failures": bad, "setup_s": raw["setup_s"], "warmup_s": raw.get("warmup_s"),
              "samples": {"ops": len(raw.get("ops", [])), "files": len(raw.get("files", [])),
                          "reads": len(raw.get("reads", []))}}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ms.items()},
    }))


if __name__ == "__main__":
    main()

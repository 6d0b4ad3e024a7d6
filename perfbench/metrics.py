"""Calculations that turn the harness's raw record file into metrics.

Kept free of I/O so `test_metrics.py` can pin each rule on small inputs.
"""
import math
import re
from statistics import median

MODULES = ("StandingIndex", "CdcTable", "BucketedLake", "ConnectedComponents", "LlmQueries")


def percentile(values, p):
    """The p-th percentile (0 < p < 100) of `values`, nearest-rank.

    A percentile is only reported when at least 10 samples lie beyond
    it; with fewer the tail is a single outlier's reading, so this
    raises instead of returning a number that would not repeat.
    """
    n = len(values)
    need = min_samples(p)
    if n < need:
        raise ValueError(f"p{p:g} needs {need} samples, got {n}")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    return s[rank - 1]


def min_samples(p):
    """Smallest sample count that leaves 10 samples above the p-th percentile."""
    return math.ceil(10 / (1 - p / 100.0) - 1e-9)


def freshness_ms(due_us, returned_us):
    """Latency of one operation on the open-loop clock.

    Measured from when the operation was *due*, not from when the
    generator got round to sending it, so a stall that delays later
    sends is charged to every operation it delays.
    """
    return (returned_us - due_us) / 1000.0


def self_times(spans):
    """Self time per span id, in microseconds.

    A span's self time is its duration minus the part of its interval
    that its children cover (children clipped to the parent, overlaps
    between children counted once).
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        iv = sorted((max(lo, c["start_us"]), min(hi, c["end_us"]))
                    for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0, hi - lo) - covered
    return out


_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([\w.$]+)\(")


def graft_class(details):
    """Class of the innermost `graft.*` frame of a stage's call site, or
    None. `details` is Spark's long-form call site, innermost frame
    first; the class is returned without package or `$` suffixes."""
    for line in (details or "").splitlines():
        m = _FRAME.match(line)
        if m:
            parts = m.group(1).split(".")
            return (parts[-2] if len(parts) >= 2 else parts[0]).split("$")[0]
    return None


def module_of(cls):
    return cls if cls in MODULES else "other"


def callsite_module(details):
    """Tracked module of a call site's innermost `graft.*` frame; classes
    outside the tracked modules, and call sites with no `graft` frame,
    map to `other`."""
    return module_of(graft_class(details))


def job_modules(jobs):
    """Module per job id, from `(job_id, exec_id, details)` triples.

    A job takes the module of its own call site. Jobs that Spark submits
    from its own threads (adaptive query stages, broadcasts) carry no
    `graft` frame; they take the module of a job of the same SQL
    execution that does.
    """
    by_exec = {}
    for _, ex, d in jobs:
        cls = graft_class(d)
        if cls and ex >= 0:
            by_exec.setdefault(ex, module_of(cls))
    out = {}
    for jid, ex, d in jobs:
        cls = graft_class(d)
        out[jid] = module_of(cls) if cls else by_exec.get(ex, "other")
    return out


# ---- end-to-end metrics ----------------------------------------------

# Latency sample of a failed operation: it misses every latency limit.
FAILED = float("inf")

def _ms(a_us, b_us):
    return (b_us - a_us) / 1000.0


def file_batches(files, progress):
    """Batch id that consumed each change file, by file index.

    The file source takes every file present when a micro-batch plans, in
    arrival order, so file i belongs to the first batch whose cumulative
    row count reaches the cumulative row count of files 0..i.
    """
    files = sorted(files, key=lambda f: f["file"])
    batches = sorted(progress, key=lambda p: p["batch_id"])
    out, cum_b, bi, cum_f = {}, 0, 0, 0
    for f in files:
        cum_f += f["rows"]
        while cum_b < cum_f:
            if bi == len(batches):
                raise ValueError(f"file {f['file']} was never consumed")
            cum_b += batches[bi]["rows"]
            bi += 1
        out[f["file"]] = batches[bi - 1]["batch_id"]
    return out


def cdc_freshness(raw):
    """Freshness samples (ms): each change file's due time to the return
    of the upsert of the batch that carried it."""
    done = {b["batch_id"]: b["upsert_end_us"] for b in raw["batches"]}
    of = file_batches(raw["files"], raw["stream_progress"])
    return [freshness_ms(f["due_us"], done[of[f["file"]]]) for f in raw["files"]]


def max_lag_files(raw):
    """Largest number of files sent but not yet upserted, at any moment."""
    of = file_batches(raw["files"], raw["stream_progress"])
    done = {b["batch_id"]: b["upsert_end_us"] for b in raw["batches"]}
    events = [(f["sent_us"], 1) for f in raw["files"]]
    events += [(done[of[f["file"]]], -1) for f in raw["files"]]
    lag = worst = 0
    for _, d in sorted(events, key=lambda e: (e[0], -e[1])):
        lag += d
        worst = max(worst, lag)
    return worst


def end_to_end(raw):
    """The end-to-end metrics of one untraced run, keyed by name."""
    m = {"setup_s": (median(raw["setup_s"]), "s")}
    lake = raw["lake"]
    if raw["workload"] == "cdc_stream":
        rep = raw["replay"]
        last = max(b["upsert_end_us"] for b in raw["batches"])
        m["wall_s"] = ((last - rep["t0_us"]) / 1e6, "s")
        m["cpu_s"] = (rep["cpu_ns"] / 1e9, "s")
        m["peak_heap_mb"] = (raw["peak_old_gen_bytes"] / 2**20, "MB")
        disk = sum(b["table_bytes"] for b in raw["batches"]) / len(raw["batches"])
        m["bytes_per_live_byte"] = (disk / lake["live_bytes"], "ratio")
        m["freshness_ms_p50"] = (percentile(cdc_freshness(raw), 50), "ms")
        reads = [_ms(r["due_us"], r["end_us"]) if r["ok"] else FAILED for r in raw["reads"]]
        m["read_ms_p50"] = (percentile(reads, 50), "ms")
    else:
        passes = raw["passes"]
        m["wall_s"] = (median([(p["end_us"] - p["start_us"]) / 1e6 for p in passes]), "s")
        m["cpu_s"] = (median([p["cpu_ns"] / 1e9 for p in passes]), "s")
        m["peak_heap_mb"] = (max(p["peak_old_gen_bytes"] for p in passes) / 2**20, "MB")
        m["bytes_per_live_byte"] = (lake["disk_bytes"] / lake["live_bytes"], "ratio")
        # closed loop: a query is due when it is issued, and its result is
        # as fresh as its latency
        lat = [_ms(o["start_us"], o["end_us"]) if o["ok"] else FAILED for o in raw["ops"]]
        m["freshness_ms_p50"] = (percentile(lat, 50), "ms")
        m["read_ms_p50"] = (percentile(lat, 50), "ms")
    return m


# ---- per-layer metrics -----------------------------------------------

JOB_BASE, STAGE_BASE = 10**12, 2 * 10**12
SPAN_KINDS = ("run", "workload", "setup", "check", "pass", "query", "build", "exec",
              "batch", "upsert", "compact", "read", "job", "stage")
STREAM_PHASES = (("latest_offset_ms", "latestOffset"), ("query_planning_ms", "queryPlanning"),
                 ("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
                 ("commit_offsets_ms", "commitOffsets"))


def trace_spans(raw):
    """Harness spans plus one span per Spark job (parented by the job's
    span property) and per stage (parented by the job that ran it)."""
    spans = list(raw["spans"])
    stage_job = {}
    for j in sorted(raw["jobs"], key=lambda j: j["id"]):
        spans.append({"id": JOB_BASE + j["id"], "parent": j["span"], "kind": "job",
                      "name": str(j["id"]), "start_us": j["start_us"], "end_us": j["end_us"]})
        for s in j["stages"]:
            stage_job.setdefault(s, j["id"])
    for s in raw["stages"]:
        if s["id"] in stage_job:
            spans.append({"id": STAGE_BASE + s["id"], "parent": JOB_BASE + stage_job[s["id"]],
                          "kind": "stage", "name": str(s["id"]),
                          "start_us": s["start_us"], "end_us": s["end_us"]})
    return spans, stage_job


def per_layer(raw):
    """The per-layer metrics of one traced run, keyed by name.

    Counters cover the measured work only — the timed passes of a batch
    workload (divided by their number) or the whole replay of
    `cdc_stream` — found by walking each job's span ancestry.
    """
    spans, stage_job = trace_spans(raw)
    by_id = {s["id"]: s for s in spans}
    measured_kinds = {"pass", "batch", "read"}

    def measured(sid):
        while sid in by_id:
            if by_id[sid]["kind"] in measured_kinds:
                return True
            sid = by_id[sid]["parent"]
        return False

    cdc = raw["workload"] == "cdc_stream"
    units = 1 if cdc else len(raw["passes"])
    jobs = [j for j in raw["jobs"] if measured(j["span"])]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in raw["stages"] if stage_job.get(s["id"]) in job_ids]
    exec_ids = {j["exec_id"] for j in jobs}
    exec_plans = [p for p in raw["exec_plans"] if p["exec_id"] in exec_ids]
    windows = [(s["start_us"], s["end_us"]) for s in raw["spans"] if s["kind"] in measured_kinds]
    plans = [p for p in raw["plans"] if any(a <= p["start_us"] <= b for a, b in windows)]
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    def span_ms(kind):
        return sum(_ms(s["start_us"], s["end_us"]) for s in raw["spans"]
                   if s["kind"] == kind and measured(s["parent"]))

    put("queries.build_ms", span_ms("build") / units, "ms")
    put("queries.plan_ms", sum(p["plan_ms"] for p in plans) / units, "ms")
    put("queries.exec_ms", span_ms("exec") / units, "ms")
    for k in ("exchanges", "broadcasts", "scans"):
        put(f"plan.{k}", sum(p[k] for p in exec_plans) / units, "count")
    put("engine.jobs", len(jobs) / units, "count")
    put("engine.stages", len(stages) / units, "count")
    put("engine.tasks", sum(s["tasks"] for s in stages) / units, "count")
    for k in ("task_ms", "cpu_ms", "gc_ms", "sched_delay_ms"):
        put(f"engine.{k}", sum(s[k] for s in stages) / units, "ms")
    for name, k, unit in (("io.input_bytes", "input_bytes", "bytes"),
                          ("io.input_records", "input_records", "count"),
                          ("io.output_bytes", "output_bytes", "bytes"),
                          ("shuffle.write_bytes", "shuffle_write_bytes", "bytes"),
                          ("shuffle.write_records", "shuffle_write_records", "count"),
                          ("shuffle.read_bytes", "shuffle_read_bytes", "bytes"),
                          ("shuffle.fetch_wait_ms", "fetch_wait_ms", "ms"),
                          ("spill.bytes", "spill_bytes", "bytes")):
        put(name, sum(s[k] for s in stages) / units, unit)

    stage_by_id = {s["id"]: s for s in raw["stages"]}
    ran = {j["id"]: [stage_by_id[s] for s in j["stages"]
                     if stage_job.get(s) == j["id"] and s in stage_by_id] for j in jobs}
    mods = job_modules([(j["id"], j["exec_id"],
                         max(ran[j["id"]], key=lambda s: s["id"])["details"] if ran[j["id"]] else "")
                        for j in jobs])
    calls = {mod: [0, 0] for mod in MODULES + ("other",)}
    for j in jobs:
        c = calls[mods[j["id"]]]
        c[0] += 1
        c[1] += sum(s["task_ms"] for s in ran[j["id"]])
    for mod, (n, t) in calls.items():
        put(f"callsite.{mod}.jobs", n / units, "count")
        put(f"callsite.{mod}.task_ms", t / units, "ms")

    prog = raw["stream_progress"]
    put("stream.batches", len(prog), "count")
    put("stream.rows", sum(p["rows"] for p in prog), "count")
    wall = 0.0
    if cdc:
        wall = (max(b["upsert_end_us"] for b in raw["batches"]) - raw["replay"]["t0_us"]) / 1e6
    put("stream.busy_frac", sum(p.get("triggerExecution", 0) for p in prog) / 1000.0 / wall
        if wall else 0.0, "ratio")
    for name, k in STREAM_PHASES:
        put(f"stream.{name}", median([p.get(k, 0) for p in prog]) if prog else 0.0, "ms")

    b = raw.get("batches", [])
    rd = [r for r in raw.get("reads", []) if r["ok"]]

    def med(xs):
        return median(xs) if xs else 0.0

    put("cdc.upsert_ms", med([x["upsert_ns"] / 1e6 for x in b]), "ms")
    put("cdc.compact_ms", med([x["compact_ns"] / 1e6 for x in b if x["compacted"]]), "ms")
    put("cdc.compactions", sum(1 for x in b if x["compacted"]), "count")
    put("cdc.realtime_ms", med([_ms(r["start_us"], r["end_us"]) for r in rd if r["kind"] == "realtime"]), "ms")
    put("cdc.incremental_ms", med([_ms(r["start_us"], r["end_us"]) for r in rd if r["kind"] == "incremental"]), "ms")
    put("cdc.log_deltas_max", max([x["log_deltas"] for x in b], default=0), "count")
    put("cdc.table_bytes", raw["lake"]["disk_bytes"] if cdc else 0, "bytes")
    put("cdc.freshness_ms_p90", percentile(cdc_freshness(raw), 90) if cdc else 0.0, "ms")
    put("loadgen.late_ms_max", max([_ms(f["due_us"], f["sent_us"]) for f in raw.get("files", [])], default=0.0), "ms")
    put("lag.files_max", max_lag_files(raw) if cdc else 0, "count")

    selfs = self_times(spans)
    for kind in SPAN_KINDS:
        put(f"self_ms.{kind}", sum(selfs[s["id"]] for s in spans if s["kind"] == kind) / 1000.0, "ms")
    known = {s["id"] for s in raw["spans"]}
    put("trace.unparented_jobs", sum(1 for j in raw["jobs"] if j["span"] not in known), "count")
    put("trace.hook_ms", raw["hook_ms"], "ms")
    put("trace.wall_s", end_to_end(raw)["wall_s"][0], "s")
    return m

#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine together
with the harness (perfbench/build.sbt) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run starts one JVM
with a local session of `nproc` worker threads, drives the workload,
checks its outputs, and prints as its last stdout line one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json when --trace is 0, the per-layer metrics when
it is 1. Logs, raw records and traces go to .bench_build/logs/.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import hostprobe  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
WORKLOADS = ("batch", "stream_ingest")
HEAP = "3g"
# stream latency is measured on the ticks due from STEADY_SKIP_MS after
# the first tick to STEADY_END_MS (one trigger interval) before the first
# stop was due, a fixed count of ticks per run
STEADY_SKIP_MS = 2000
STEADY_END_MS = 1000
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, env, log_path, limit_s):
    """Run `cmd` in its own process group with output to `log_path`;
    on timeout or exit, no process of the group is left running.
    Returns the exit code (-1 on timeout)."""
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                                stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            log(f"{cmd[0]} exceeded {limit_s} s; stopping it")
            return -1
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


# ---------------------------------------------------------------- build

def source_stamp():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    inputs = [os.path.join(d, f) for d in (ROOT, HERE)
              for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (offline); return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.insert(1, f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt")
    t0 = time.time()
    build_log = os.path.join(BUILD, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], HERE, env, build_log, BUILD_LIMIT_S)
    with open(build_log) as f:
        cps = [l.strip() for l in f if l.startswith("/") and "classes" in l]
    if rc != 0 or not cps:
        log(f"build failed (exit {rc}); see {build_log}")
        sys.exit(3)
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, batch, seed, seconds, trace, work, raw, trace_out, jvm_log):
    keys = list(batch["keys"]) if workload == "batch" else []
    random.Random(seed).shuffle(keys)
    artifacts = batch["artifacts"] if workload == "batch" else []
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(os.cpu_count() or 1), "--fixtures", FIXTURES,
            "--keys", ",".join(keys), "--artifacts", ",".join(artifacts),
            "--work", work, "--out", raw, "--trace-out", trace_out,
            "--launch-ms", str(int(time.time() * 1000))]
    # everything the JVM writes stays under the work directory
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "HADOOP_", "PYSPARK"))}
    return run_group(cmd, work, env, jvm_log, RUN_LIMIT_S)


def read_records(path):
    recs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            recs.setdefault(r["rec"], []).append(r)
    return recs


# ---------------------------------------------------------------- metrics

def setup_seconds(recs):
    s = recs["setup"][0]
    return s["jvm_s"] + s["session_s"] + s["resolve_s"] + sum(w["s"] for w in recs["warmup"])


def batch_summary(recs, goldens):
    """The warm-up passes' times are set-up, and pass 0 checks the
    outputs. Latencies and wall time come from the measured passes."""
    ops = recs.get("op", [])
    passes = recs.get("pass", [])
    attempted = len(ops)
    failed_runs = [o for o in ops if not o["ok"]]
    checked = {f"{o['kind']}:{o['name']}": (o["rows"], o["hash"]) for o in ops if "hash" in o}
    mismatches = benchlib.golden_mismatches(checked, goldens)
    for o in failed_runs:
        log(f"FAILED {o['kind']} {o['name']} (pass {o['pass']}): {o['error']}")
    for name, why in mismatches:
        log(f"OUTPUT MISMATCH {name}: {why}")
    measured = {p["pass"] for p in passes}
    lat = [1e3 * (o["construct_s"] + o["execute_s"]) for o in ops
           if o["ok"] and o["pass"] in measured]
    p_tail, v_tail = benchlib.tail_percentile(lat) if lat else (50.0, 0.0)
    e2e = {
        "wall_s": statistics.median(p["wall_s"] for p in passes) if passes else 0.0,
        "latency_p50_ms": benchlib.hd_quantile(lat, 0.5) if lat else 0.0,
        "latency_tail_ms": v_tail,
    }
    notes = {"passes": len(passes), "ops": attempted, "latency_tail_percentile": p_tail,
             "latency_samples": len(lat)}
    failed = len(failed_runs) + len(mismatches)
    return e2e, notes, attempted, failed, checked


def batch_layers(recs):
    measured = {p["pass"] for p in recs.get("pass", [])}
    ops = [o for o in recs.get("op", []) if o["pass"] in measured]
    by_pass = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o)

    def per_pass(fn):
        return statistics.median(fn(v) for v in by_pass.values()) if by_pass else 0.0

    def total(field, scale=1.0):
        return per_pass(lambda os_: sum(o.get(field, 0) for o in os_) * scale)

    # blocks each query left cached, counted from the post-artifact baseline
    baseline = {b["pass"]: b["cached_blocks"] for b in recs.get("baseline", [])}
    leaked = {}
    for p, os_ in by_pass.items():
        before = baseline.get(p, 0)
        for o in (o for o in os_ if o["kind"] == "query"):
            leaked[p] = leaked.get(p, 0) + max(0, o["cached_blocks"] - before)
            before = o["cached_blocks"]
    m = {
        "ops.construct_s": total("construct_s"),
        "ops.construct_jobs": total("construct_jobs"),
        "ops.analysis_ms": total("analysis_ms"),
        "ops.optimize_ms": total("optimize_ms"),
        "ops.plan_ms": total("plan_ms"),
        "ops.jobs": total("jobs"),
        "ops.stages": total("stages"),
        "ops.tasks": total("tasks"),
        "ops.task_run_s": total("task_run_ms", 1e-3),
        "ops.task_cpu_s": total("task_cpu_ns", 1e-9),
        "ops.gc_s": total("gc_ms", 1e-3),
        "ops.shuffle_read_bytes": total("shuffle_read_bytes"),
        "ops.shuffle_write_bytes": total("shuffle_write_bytes"),
        "ops.spill_bytes": total("spill_bytes"),
        "ops.peak_exec_mem_bytes": total("peak_exec_mem_bytes"),
        "ops.cached_blocks_leaked": max(leaked.values(), default=0),
    }
    for o in ops:
        if o["kind"] == "artifact":
            key = f"artifact.{o['name']}.build_s"
            m.setdefault(key, [])
            m[key].append(o.get("construct_s", 0) + o.get("execute_s", 0))
    return {k: (statistics.median(v) if isinstance(v, list) else v) for k, v in m.items()}


def steady_window(recs, seconds):
    """[lo, hi) in epoch ms, see STEADY_SKIP_MS. It ends earlier if need
    be, 100 ms before the start of the last trigger of the first run, so
    every tick due inside it was appended in time for that run."""
    ticks = recs.get("tick", [])
    run1 = [p for p in recs.get("progress", []) if p["run"] == 1 and p["input_rows"] > 0]
    lo = (ticks[0]["due_ms"] if ticks else 0) + STEADY_SKIP_MS
    hi = min(lo + seconds * 1000 - STEADY_SKIP_MS - STEADY_END_MS,
             max((p["start_ms"] for p in run1), default=lo + 100) - 100)
    return lo, hi


def cycles(recs):
    """(restart, caught_up) event pairs, one per outage cycle."""
    ev = recs.get("stream_event", [])
    by = {(e["name"], e.get("cycle")): e for e in ev}
    return [(by[("restart", c)], by.get(("caught_up", c), {}))
            for c in sorted({e["cycle"] for e in ev if e["name"] == "restart"})]


def stream_summary(recs, seconds):
    ticks = recs.get("tick", [])
    progress = recs.get("progress", [])
    lo, hi = steady_window(recs, seconds)

    def end_ms(p):
        return p["start_ms"] + p["durations"].get("triggerExecution", 0)

    commits = [(end_ms(p), p["end_offset"]) for p in progress if p["end_offset"] >= 0]
    lat_all = benchlib.tick_latencies([(t["offset"], t["due_ms"]) for t in ticks], commits)
    steady = [t for t in ticks if lo <= t["due_ms"] < hi]
    lat = [lat_all[t["offset"]] for t in steady if t["offset"] in lat_all]
    uncommitted = [t["offset"] for t in ticks if t["offset"] not in lat_all]
    p_tail, v_tail = benchlib.tail_percentile(lat) if lat else (50.0, 0.0)
    # a restart that never caught up ends at its limit and counts as failed
    recover = [(c["end_ms"] - r["start_ms"]) / 1e3 for r, c in cycles(recs)]
    stuck = sum(1 for _, c in cycles(recs) if not c.get("ok"))
    gaps = benchlib.readback_gaps(recs.get("readback", []))
    sink = recs["sink"][0]
    sink_bad = benchlib.sink_problems(sink)
    for g in gaps:
        log(f"OFFSET STORE GAP: {g}")
    for s in sink_bad:
        log(f"SINK MISMATCH: {s}")
    if uncommitted:
        log(f"{len(uncommitted)} ticks never committed")
    if stuck or not recover:
        log(f"{stuck} of {len(recover)} restarts did not catch up within the limit")
    e2e = {"wall_s": statistics.median(recover) if recover else 0.0,
           "latency_p50_ms": benchlib.hd_quantile(lat, 0.5) if lat else 0.0,
           "latency_tail_ms": v_tail}
    notes = {"ticks": len(ticks), "steady_ticks": len(lat), "latency_tail_percentile": p_tail,
             "triggers": len(progress), "recover_s": recover}
    failed = len(uncommitted) + len(gaps) + len(sink_bad) + stuck + (0 if recover else 1)
    return e2e, notes, len(ticks), failed


def stream_layers(recs, seconds):
    ticks = recs.get("tick", [])
    lo, hi = steady_window(recs, seconds)
    progress = recs.get("progress", [])
    run1 = [p for p in progress if p["run"] == 1]
    steady = [p for p in run1 if p["input_rows"] > 0 and lo <= p["start_ms"] < hi]

    def med(vals):
        vals = list(vals)
        return statistics.median(vals) if vals else 0.0

    def phase(k):
        return med(p["durations"].get(k, 0) for p in steady)

    lags = benchlib.lag_at_trigger_end(
        [(t["offset"], t["added_ms"]) for t in ticks],
        [(p["start_ms"] + p["durations"].get("triggerExecution", 0), p["end_offset"])
         for p in steady])
    late = [t["added_ms"] - t["due_ms"] for t in ticks]
    # the first data trigger of each restarted run
    first_after = {}
    for p in sorted(progress, key=lambda p: p["start_ms"]):
        if p["run"] > 1 and p["input_rows"] > 0:
            first_after.setdefault(p["run"], p["durations"].get("triggerExecution", 0))
    sink = recs["sink"][0]
    writes = [w["ms"] for w in recs.get("mirror_write", []) if lo <= w["end_ms"] < hi]
    return {
        "stream.trigger_ms": phase("triggerExecution"),
        "stream.latest_offset_ms": phase("latestOffset"),
        "stream.add_batch_ms": phase("addBatch"),
        "stream.wal_commit_ms": phase("walCommit"),
        "stream.commit_offsets_ms": phase("commitOffsets"),
        "stream.mirror_write_ms": med(writes),
        "stream.state_commit_ms": med(p["state_commit_ms"] for p in steady),
        "stream.state_rows": max((p["state_rows"] for p in run1), default=0),
        "stream.state_mem_bytes": max((p["state_mem_bytes"] for p in run1), default=0),
        "stream.lag_ticks": med(lags),
        "stream.gen_late_ms": benchlib.tail_percentile(late)[1] if late else 0.0,
        "stream.recover_readback_ms": med(r["readback_ms"] for r, _ in cycles(recs)),
        "stream.recover_first_trigger_ms": med(first_after.values()),
        "stream.pair_recall": sink["found_planted"] / sink["planted"] if sink["planted"] else 0.0,
    }


def layer_metrics(workload, recs, spec, seconds):
    """Every per-layer metric of BENCHMARK.json; a layer the workload
    does not reach reports 0."""
    loads = [r["ms"] for r in recs.get("table_load", [])]
    m = {
        "session.create_s": recs["setup"][0]["session_s"],
        "io.table_load_ms": statistics.median(loads) if loads else 0.0,
    }
    if workload == "batch":
        m.update(batch_layers(recs))
    else:
        m.update(stream_layers(recs, seconds))
    return {x["name"]: m.get(x["name"], 0.0) for x in spec["per_layer"]}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="write this run's checked outputs to goldens.json (only when "
                         "the benchmark itself is being defined)")
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        batch = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in WORKLOADS:
        log(f"unknown workload {a.workload}; known: {list(WORKLOADS)}")
        sys.exit(2)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a repository checkout")
        sys.exit(2)

    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    logs = os.path.join(BUILD, "logs")
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    raw = os.path.join(logs, tag + ".records.jsonl")
    trace_out = os.path.join(logs, tag + ".trace.json")

    host = hostprobe.probe()
    log(f"host window: {json.dumps(host)}")
    rc = run_jvm(cp, a.workload, batch, a.seed, a.seconds, a.trace, work, raw, trace_out,
                 os.path.join(logs, tag + ".jvm.log"))
    recs = read_records(raw) if os.path.exists(raw) else {}
    if rc != 0 or "done" not in recs:
        log(f"benchmark process failed (exit {rc}); see {os.path.join(logs, tag + '.jvm.log')}")
        sys.exit(1)

    with open(os.path.join(HERE, "goldens.json")) as f:
        goldens = json.load(f)
    if a.workload == "batch":
        e2e, notes, attempted, failed, checked = batch_summary(recs, goldens)
        if a.record_goldens:
            for name, (rows, digest) in checked.items():
                goldens[name] = {"rows": rows, "hash": digest}
            with open(os.path.join(HERE, "goldens.json"), "w") as f:
                json.dump(goldens, f, indent=1, sort_keys=True)
                f.write("\n")
            log(f"recorded {len(checked)} goldens")
    else:
        e2e, notes, attempted, failed = stream_summary(recs, a.seconds)
    e2e["setup_s"] = setup_seconds(recs)

    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "notes": notes,
               "end_to_end": e2e, "host": host}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    untraced = os.path.join(results, f"{a.workload}-seed{a.seed}.json")
    if a.trace:
        summary["per_layer"] = layer_metrics(a.workload, recs, spec, a.seconds)
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["wall_s"]
            summary["tracing_overhead_s"] = e2e["wall_s"] - base
            log(f"tracing overhead: {summary['tracing_overhead_s']:+.3f} s wall_s "
                f"(traced {e2e['wall_s']:.3f} vs untraced {base:.3f}, seed {a.seed})")
        else:
            log("tracing overhead: no untraced run of this seed to compare with")
        if os.path.exists(trace_out):
            with open(trace_out) as f:
                tr = json.load(f)
            tr["summary"] = summary
            with open(trace_out, "w") as f:
                json.dump(tr, f)
    else:
        with open(untraced, "w") as f:
            json.dump(summary, f)
    with open(os.path.join(logs, tag + ".summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    log(f"notes: {json.dumps(notes)}")

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = summary["per_layer"] if a.trace else e2e
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the library
and the harness from source (perfbench/build.py); every run then starts
the harness JVM (perfbench/harness) on inputs made from the seed, checks
the outputs, and prints one detail line (`perfbench {...}`) and, last, one
JSON object: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end metrics, measured untraced;
with `--trace 1` they are the per-layer metrics of a traced run.

Workloads (why each exists: BENCHMARK.json and perfbench/README.md):
  sf01-mix       closed loop, 7 queries over the sf0.1 fixture
  x10-mix        closed loop, 2 queries over a seeded 10-copy enlargement
  stream-events  open-loop generator feeding two streaming twins

`--smoke` runs the same code at the smallest size (sf0.001, a low event
rate); the benchmark's own tests use it.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import xgen  # noqa: E402

FIXTURES = "/root/testdata"  # the read-only fixture root (TESTDATA.md)
RUN_LIMIT_S = 170  # a run must end within 180 s (the building run aside)

WORKLOADS = {
    "sf01-mix": {
        "kind": "batch", "base": "sf0.1", "copies": 1,
        # q153 reads the span-index artifact, whose build is the repeated
        # set-up; q100's k-means loop is eager work at DataFrame build
        "queries": ["q131_", "q143_", "q46_", "q60_", "q153_", "q100_", "q122_"],
        "setup": ["q153_"],
    },
    "x10-mix": {
        "kind": "batch", "base": "sf0.1", "copies": 10,
        # q152 rebuilds its artifact on every call: sources writes
        "queries": ["q01_", "q152_"],
        "setup": [],
    },
    "stream-events": {
        # fixture event content replayed at a fixed reference rate
        "kind": "stream", "base": "sf0.1", "rate": 2000, "trigger_ms": 1000, "ref_seconds": 8,
        "burst": 60000, "drains": 3,
    },
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_geomean_s": "s"}

PER_LAYER = {
    "operators.build_s": "s", "operators.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimizer_s": "s",
    "catalyst.planning_s": "s", "catalyst.plan_nodes": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_deser_s": "s", "exec.sched_delay_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.peak_mem_bytes": "B", "exec.stage_skew": "ratio", "exec.slot_util": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "B",
    "sources.input_rows": "count", "sources.input_bytes": "B",
    "sources.artifact_builds": "count", "sources.artifact_bytes": "B",
    "functions.cache_rdds_peak": "count", "functions.cache_bytes_peak": "B",
    "functions.cache_bytes_after_settle": "B",
    "streaming.latest_offset_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.trigger_tail_ms": "ms", "streaming.offset_log_bytes": "B",
    "streaming.batch_rows": "count", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B", "streaming.late_dropped": "count",
    "streaming.backlog_shards": "count",
    "bench.settle_s": "s", "bench.gen_late_ms": "ms", "bench.trace_overhead": "ratio",
    "bench.span_coverage": "ratio",
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def harness(root, cp, run_dir, args, timeout, jvm=()):
    """Run the harness JVM to completion in its own process group (killed
    if it outlives `timeout`); returns its exit code, None on timeout."""
    os.makedirs(os.path.join(run_dir, "tmp0"), exist_ok=True)
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           list(jvm) +
           ["-Xms4g", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp0",
            "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Harness", "--work", run_dir,
            "--out", os.path.join(run_dir, "raw.json"), "--cores", str(cores())] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    with open(os.path.join(run_dir, "harness.log"), "w") as f:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                             stdout=f, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def train(root):
    """After a build: one small batch run that writes the class-data
    archive at exit. Without an archive, runs just start slower."""
    def go(cp, archive):
        work = os.path.join(root, build.BUILD_DIR, "train")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            harness(root, cp, work, [
                "--mode", "batch", "--data", os.path.join(FIXTURES, "sf0.001"),
                "--queries", "q60_,q143_,q153_", "--setup-queries", "",
                "--setup-reps", "0", "--seconds", "0", "--trace", "1"],
                150, jvm=[f"-XX:ArchiveClassesAtExit={archive}"])
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return go


def run_harness(root, cp, run_dir, args, timeout):
    """Run the harness for one measurement and return its raw record."""
    rc = harness(root, cp, run_dir, args, timeout, jvm=build.jvm_flags(root))
    log = os.path.join(run_dir, "harness.log")
    if rc != 0:
        with open(log, errors="replace") as f:
            tail = [ln for ln in f.read().splitlines()
                    if "perfbench" in ln or "Exception" in ln or "Error" in ln][-15:]
        die(("harness timed out" if rc is None else f"harness exited {rc}") +
            "\n" + "\n".join(tail))
    with open(os.path.join(run_dir, "raw.json")) as f:
        raw = json.load(f)
    with open(log, errors="replace") as f:
        raw["notes"] = [ln for ln in f.read().splitlines() if ln.startswith("[perfbench]")]
    return raw


def batch(w, a, root, cp, run_dir, deadline):
    base = os.path.join(FIXTURES, "sf0.001" if a.smoke else w["base"])
    gen_s = 0.0
    data = base
    if w["copies"] > 1:
        data = os.path.join(run_dir, "data")
        t0 = time.monotonic()
        xgen.generate(base, data, w["copies"], a.seed)
        gen_s = time.monotonic() - t0
    sizes = xgen.sizes(data)
    raw = run_harness(root, cp, run_dir, [
        "--mode", "batch", "--data", data, "--queries", ",".join(w["queries"]),
        "--setup-queries", ",".join(w["setup"]), "--setup-reps", "1" if a.smoke else "3",
        "--seconds", str(a.seconds), "--trace", str(a.trace)],
        deadline - time.monotonic())
    names = raw["queries"]
    t0 = time.monotonic()
    wrong, report = oracle.check(data, os.path.join(run_dir, "out"), names,
                                 tmp=os.path.join(run_dir, "duckdb"))
    oracle_s = time.monotonic() - t0
    runs = [q for p in raw["passes"] for q in p["queries"]]
    attempted = len(names) + len(runs)
    failed = len(raw["check_failed"]) + sum(1 for q in runs if not q["ok"])
    e2e, detail = metrics.batch_end_to_end(raw, gen_s)
    layer, trace = metrics.batch_per_layer(raw) if a.trace else ({}, {})
    detail.update({
        "input": {k: {"rows": r, "bytes": b} for k, (r, b) in sorted(sizes.items())},
        "input_rows": sum(r for r, _ in sizes.values()),
        "input_bytes": sum(b for _, b in sizes.values()),
        "gen_s": gen_s, "session_start_s": raw["session_start_s"],
        "setup_reps_s": [r["s"] for r in raw["setup"]],
        "setup_artifacts": [r["artifacts"] for r in raw["setup"]],
        "check_pass_s": raw["check_s"],
        "oracle_s": oracle_s,
        "passes": len(raw["passes"]), "check": report, "notes": raw["notes"],
        "wrong": wrong, "spans": trace,
    })
    return e2e, layer, detail, attempted, failed, len(wrong)


def stream(w, a, root, cp, run_dir, deadline):
    rate = 200 if a.smoke else w["rate"]
    burst = 2000 if a.smoke else w["burst"]
    events = os.path.join(FIXTURES, "sf0.001" if a.smoke else w["base"], "events.parquet")
    raw = run_harness(root, cp, run_dir, [
        "--mode", "stream", "--seed", str(a.seed), "--events", events,
        "--ref-rate", str(rate),
        "--ref-seconds", str(min(a.seconds, 3) if a.smoke else max(a.seconds, w["ref_seconds"])),
        "--trigger-ms", str(w["trigger_ms"]), "--burst-events", str(burst),
        "--drain-reps", "1" if a.smoke else str(w["drains"]),
        "--setup-reps", "1" if a.smoke else "3", "--trace", str(a.trace),
        "--local1", "0" if a.smoke else "1"],
        deadline - time.monotonic())
    chk = raw["check"]
    wrong = [t for t in ("dedup", "totals") if not chk[t]]
    e2e, detail = metrics.stream_end_to_end(raw)
    layer, trace = metrics.stream_per_layer(raw) if a.trace else ({}, {})
    detail.update({
        "events": raw["events"], "distinct_events": raw["distinct_ids"],
        "too_late_events": raw["too_late_ids"],
        "late_dropped": sum(b["dropped"] for b in raw["progress"]),
        "shards": raw["shards"], "session_start_s": raw["session_start_s"],
        "setup_reps_s": [r["s"] for r in raw["setup"]],
        "drains_s": [d["s"] for d in raw["drains"]], "check": chk, "wrong": wrong,
        "notes": raw["notes"],
        "spans": trace,
    })
    if raw.get("local1"):
        l1 = raw["local1"]
        l1lat = metrics.stream_latencies(l1, l1["phases"][0])
        p, v, n = metrics.tail(l1lat)
        detail["local1"] = {"lat_p50_ms": metrics.median(l1lat), "lat_tail_ms": v,
                            "lat_tail_pct": p, "lat_samples": n,
                            "check": l1["check"]}
    # a phase or drain whose events the twins did not emit within the
    # harness's timeout counts as failed
    stalled = sum(1 for p in raw["phases"] + raw["drains"] if not p["caught_up"])
    batches = [b for b in raw["progress"] if b["rows"] > 0]
    return e2e, layer, detail, max(1, len(batches)), stalled, len(wrong)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    started = time.monotonic()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala"))):
        die("run from the root of a graft checkout (build.sbt and src/ not found)", 2)
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}", 2)
    w = WORKLOADS[a.workload]
    base = os.path.join(FIXTURES, "sf0.001" if a.smoke else w["base"])
    if not os.path.isdir(base):
        die(f"fixture dir {base} not found", 2)
    try:
        cp = build.classpath(root, log=os.path.join(root, build.BUILD_DIR, "build.log"),
                             train=train(root))
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        die(str(e))
    built = time.monotonic()
    # a run that had to build gets the full limit after the build
    deadline = (built if built - started > 30 else started) + RUN_LIMIT_S
    run_dir = os.path.join(root, build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        fn = batch if w["kind"] == "batch" else stream
        e2e, layer, detail, attempted, failed, wrong_n = fn(w, a, root, cp, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if a.trace:
        # the span record of the traced run; the detail line keeps its summary
        path = os.path.join(root, build.BUILD_DIR, f"trace-{a.workload}.json")
        with open(path, "w") as f:
            json.dump(detail["spans"].pop("spans"), f)
        detail["spans"]["file"] = os.path.relpath(path, root)
    detail.update({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "wrong_n": wrong_n, "fail_frac": failed / attempted,
                   "end_to_end": e2e if not a.trace else None})
    print("perfbench " + json.dumps(detail, sort_keys=True, default=str))
    chosen = PER_LAYER if a.trace else END_TO_END
    values = layer if a.trace else e2e
    out = {"correct": wrong_n == 0 and failed == 0, "attempted": attempted,
           "failed": failed,
           "metrics": {k: {"value": values[k], "unit": u} for k, u in chosen.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()

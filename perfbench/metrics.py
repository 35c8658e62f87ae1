"""Metric arithmetic for the benchmark: percentiles, geomean, span trees,
and the reduction of the harness's raw record into the end-to-end and
per-layer metrics named in BENCHMARK.json.

Everything here is a pure function of the raw record, so it can be tested
without a JVM (tests/test_metrics.py).
"""
import math
import statistics

# --------------------------------------------------------------------------
# basic statistics


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    xs = list(xs)
    if not xs:
        return (0.0, 0.0, 0.0)
    if len(xs) == 1:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, q2, q3)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs, want=0.99, beyond=10):
    """The highest percentile up to `want` that has at least `beyond`
    samples above it, by nearest rank. Returns (percentile, value, n).
    With too few samples for any percentile at or above the median, the
    median is returned and the percentile says so (0.5)."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return (0.0, 0.0, 0)
    p = min(want, math.floor(100 * (1 - beyond / n)) / 100) if n > beyond else 0.0
    if p < 0.5:
        return (0.5, median(xs), n)
    rank = math.ceil(p * n)  # 1-based nearest rank
    return (p, xs[rank - 1], n)


# --------------------------------------------------------------------------
# spans: (start, end) intervals in epoch ms


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, clipped to [lo, hi]."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    segs.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def coverage(span, children):
    """Share of a span's duration that its children cover."""
    s, e = span
    return union_length(children, s, e) / (e - s) if e > s else 1.0


def slot_util(task_run_s, action_s, cores):
    """Executor-slot utilization while actions run."""
    return task_run_s / (action_s * cores) if action_s > 0 and cores > 0 else 0.0


def within(t, span):
    return span[0] <= t <= span[1]


# --------------------------------------------------------------------------
# batch workloads


def hull(intervals, lo, hi):
    """The smallest (start, end) holding every interval, clipped to
    [lo, hi]; None for no intervals."""
    if not intervals:
        return None
    return (max(lo, min(s for s, _ in intervals)), min(hi, max(e for _, e in intervals)))


def query_spans(q, qes, execs):
    """build / plan / action spans of one timed query execution. `build`
    is the harness's timer around the call into the query function; `plan`
    is the hull of the QueryPlanningTracker phases of the query executions
    that began planning after the DataFrame was built (the action's);
    `action` is the hull of the SQL executions Spark reports as started
    after it. Driver time none of them covers stays uncovered."""
    start, built, end = q["start"], q["built_at"], q["end"]
    spans = {"build": (start, built)}
    plan = hull([(p["start"], p["end"]) for qe in qes for p in qe["phases"].values()
                 if built <= p["start"] <= end and p["end"] > 0], built, end)
    action = hull([(x["start"], x["end"]) for x in execs if built <= x["start"] <= end],
                  built, end)
    if plan:
        spans["plan"] = plan
    if action:
        spans["action"] = action
    return spans


def build_trace(raw):
    """Span records of the traced passes: run -> workload -> query ->
    build/plan/action -> job -> stage. Spans of one query execution share
    its id."""
    tr = raw.get("trace") or {}
    qes = tr.get("qes", [])
    execs = tr.get("execs", [])
    jobs = tr.get("jobs", [])
    stages = {(s["stage"], s["attempt"]): s for s in tr.get("stages", [])}
    spans = []
    queries = []
    for pi, p in enumerate(raw["passes"]):
        if not p["traced"]:
            continue
        for q in p["queries"]:
            qid = f"p{pi}:{q['name']}"
            mine = [qe for qe in qes if within(qe["begin"], (q["start"], q["end"]))]
            ph = query_spans(q, mine, execs)
            spans.append({"id": qid, "kind": "query", "name": q["name"],
                          "parent": "workload", "start": q["start"], "end": q["end"]})
            for k, (s, e) in ph.items():
                spans.append({"id": qid, "kind": k, "name": k, "parent": q["name"],
                              "start": s, "end": e})
            # the DataFrame's own (eager) analysis, inside the build
            for k, p in q.get("build_phases", {}).items():
                spans.append({"id": qid, "kind": k, "name": k, "parent": "build",
                              "start": p["start"], "end": p["end"]})
            queries.append((qid, q, ph))
    for j in jobs:
        owner = None
        for qid, q, ph in queries:
            for k, sp in ph.items():
                if within(j["start"], sp):
                    owner = (qid, k)
        if owner is None:
            continue
        spans.append({"id": owner[0], "kind": "job", "name": f"job{j['job']}",
                      "parent": owner[1], "start": j["start"], "end": j["end"] or j["start"]})
        for sid in j["stages"]:
            for (st, att), s in stages.items():
                if st == sid and s["submit"]:
                    spans.append({"id": owner[0], "kind": "stage", "name": f"stage{st}.{att}",
                                  "parent": f"job{j['job']}", "start": s["submit"],
                                  "end": s["end"] or s["submit"]})
    return spans, queries


def stages_in(raw, window_spans):
    tr = raw.get("trace") or {}
    return [s for s in tr.get("stages", [])
            if any(within(s["submit"], w) for w in window_spans)]


def jobs_in(raw, window_spans):
    tr = raw.get("trace") or {}
    return [j for j in tr.get("jobs", [])
            if any(within(j["start"], w) for w in window_spans)]


def exec_metrics(stages, jobs, action_s, cores, action_stages):
    run_s = sum(s["run_ms"] for s in stages) / 1000
    skews = []
    for s in stages:
        rt = s["run_times"]
        if len(rt) >= 2 and median(rt) >= 1:
            skews.append(max(rt) / median(rt))
    act_run_s = sum(s["run_ms"] for s in action_stages) / 1000
    return {
        "exec.action_s": action_s,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["n"] for s in stages),
        "exec.task_deser_s": sum(s["deser_ms"] for s in stages) / 1000,
        "exec.sched_delay_s": sum(s["sched_ms"] for s in stages) / 1000,
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1000,
        "exec.peak_mem_bytes": max([s["peak_mem"] for s in stages] or [0]),
        "exec.stage_skew": max(skews or [1.0]),
        "exec.slot_util": slot_util(act_run_s, action_s, cores),
        "shuffle.write_bytes": sum(s["sh_write_bytes"] for s in stages),
        "shuffle.read_bytes": sum(s["sh_read_bytes"] for s in stages),
        "shuffle.records": sum(s["sh_write_records"] for s in stages),
        "shuffle.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1000,
        "shuffle.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "sources.input_rows": sum(s["in_records"] for s in stages),
        "sources.input_bytes": sum(s["in_bytes"] for s in stages),
    }


def catalyst_metrics(phase_maps, nodes):
    """QueryPlanningTracker phase seconds summed over `phase_maps` (one
    {phase: {start, end}} per query execution or built DataFrame)."""
    def phase(name):
        return sum(max(0, m[name]["end"] - m[name]["start"])
                   for m in phase_maps if name in m) / 1000
    return {
        "catalyst.analysis_s": phase("analysis"),
        "catalyst.optimizer_s": phase("optimization"),
        "catalyst.planning_s": phase("planning"),
        "catalyst.plan_nodes": nodes,
    }


STREAM_ZERO = {
    "streaming.latest_offset_ms": 0.0, "streaming.get_batch_ms": 0.0,
    "streaming.planning_ms": 0.0, "streaming.add_batch_ms": 0.0,
    "streaming.wal_commit_ms": 0.0, "streaming.trigger_ms": 0.0,
    "streaming.trigger_tail_ms": 0.0, "streaming.offset_log_bytes": 0,
    "streaming.batch_rows": 0, "streaming.state_rows": 0,
    "streaming.state_mem_bytes": 0, "streaming.late_dropped": 0,
    "streaming.backlog_shards": 0,
}


def batch_pass_times(raw):
    """Per untraced pass: wall seconds (sum of query times, settles
    excluded) and per-query seconds of the successful executions."""
    out = []
    for p in raw["passes"]:
        if p["traced"]:
            continue
        qs = {q["name"]: (q["end"] - q["start"]) / 1000 for q in p["queries"] if q["ok"]}
        wall = sum((q["end"] - q["start"]) / 1000 for q in p["queries"])
        out.append((wall, qs))
    return out


def batch_end_to_end(raw, gen_s=0.0):
    passes = batch_pass_times(raw)
    per_query = {}
    for _, qs in passes:
        for k, v in qs.items():
            per_query.setdefault(k, []).append(v)
    return {
        "setup_s": raw["session_start_s"] + median(r["s"] for r in raw["setup"]) + gen_s,
        "pass_s": median(w for w, _ in passes),
        "query_geomean_s": geomean(median(v) for v in per_query.values()),
    }, {"per_query": {k: quartiles(v) for k, v in per_query.items()},
        "rss_peak_mb": raw["rss_peak_mb"]}


def batch_per_layer(raw):
    spans, queries = build_trace(raw)
    cores = raw["cores"]
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    tr = raw.get("trace") or {}
    per_pass = []
    for pi, p in enumerate(raw["passes"]):
        if not p["traced"]:
            continue
        mine = [(qid, q, ph) for qid, q, ph in queries if qid.startswith(f"p{pi}:")]
        qspans = [(q["start"], q["end"]) for _, q, _ in mine]
        build = [ph["build"] for _, _, ph in mine]
        action = [ph["action"] for _, _, ph in mine if "action" in ph]
        qes = [qe for qe in tr.get("qes", []) if any(within(qe["begin"], w) for w in qspans)]
        stages = stages_in(raw, qspans)
        jobs = jobs_in(raw, qspans)
        action_s = sum(e - s for s, e in action) / 1000
        m = {
            "operators.build_s": sum(e - s for s, e in build) / 1000,
            "operators.build_jobs": len(jobs_in(raw, build)),
        }
        m.update(catalyst_metrics([qe["phases"] for qe in qes] +
                                  [q.get("build_phases", {}) for _, q, _ in mine],
                                  sum(qe["nodes"] for qe in qes)))
        m.update(exec_metrics(stages, jobs, action_s, cores, stages_in(raw, action)))
        qs = p["queries"]
        m.update({
            "sources.artifact_builds": sum(q["artifact_builds"] for q in qs),
            "sources.artifact_bytes": sum(q["artifact_bytes"] for q in qs),
            "functions.cache_rdds_peak": max(q["cache_rdds"] for q in qs),
            "functions.cache_bytes_peak": max(q["cache_bytes"] for q in qs),
            "functions.cache_bytes_after_settle": max(q["cache_bytes_after_settle"] for q in qs),
            "bench.settle_s": p["settle_s"],
        })
        per_pass.append(m)
    layer = {k: median(m[k] for m in per_pass) for k in per_pass[0]} if per_pass else {}
    layer.update(STREAM_ZERO)
    layer["bench.gen_late_ms"] = 0.0
    t_wall = median(sum((q["end"] - q["start"]) for q in p["queries"]) for p in traced)
    u_wall = median(sum((q["end"] - q["start"]) for q in p["queries"]) for p in untraced)
    layer["bench.trace_overhead"] = t_wall / u_wall - 1 if u_wall else 0.0
    # the 20 slowest traced query executions: share of each covered by its
    # build / plan / action spans; the reported figure is the worst of them
    slowest = sorted(queries, key=lambda t: t[1]["start"] - t[1]["end"])[:20]
    covs = [coverage((q["start"], q["end"]), list(ph.values())) for _, q, ph in slowest]
    layer["bench.span_coverage"] = min(covs) if covs else 0.0
    return layer, {"spans": spans, "self_s": self_times(spans)}


def self_times(spans):
    """Self time per span kind, summed, in seconds."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault((s["id"], s["parent"]), []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = by_parent.get((s["id"], s["name"]), [])
        out[s["kind"]] = out.get(s["kind"], 0.0) + self_time((s["start"], s["end"]), kids) / 1000
    return out


# --------------------------------------------------------------------------
# streaming workload


def stream_latencies(raw, phase):
    return [end - created for created, end in raw["latency"]
            if phase["start"] <= created <= phase["end"]]


def stream_batches(progress, phase):
    lo, hi = phase["start"], phase["drained_at"]
    return [b for b in progress if lo <= b["ts"] <= hi and b["rows"] > 0]


def stream_end_to_end(raw):
    phase = [p for p in raw["phases"] if not p["traced"]][0]
    lat = stream_latencies(raw, phase)
    tp, tv, n = tail(lat)
    batches = stream_batches(raw["progress"], phase)
    per_twin = {}
    for b in batches:
        per_twin.setdefault(b["name"], []).append(b["duration"].get("triggerExecution", 0) / 1000)
    drains = [d["s"] for d in raw["drains"]]
    pass_s = median(drains)
    return {
        "setup_s": raw["session_start_s"] + median(r["s"] for r in raw["setup"]),
        "pass_s": pass_s,
        "query_geomean_s": geomean(median(v) for v in per_twin.values()),
    }, {"stream_lat_p50_ms": median(lat), "stream_lat_tail_ms": tv,
        "lat_tail_pct": tp, "lat_samples": n, "rss_peak_mb": raw["rss_peak_mb"],
        "stream_sustain_eps": (raw["drains"][0]["events"] / pass_s) if pass_s else 0.0,
        "ref_rate_eps": raw["rate"], "batches": len(batches),
        "gen_late_ms": gen_late(raw, phase)}


def gen_late(raw, phase):
    late = [a - d for d, a in raw["ticks"] if phase["start"] <= d <= phase["end"]]
    return max(late) if late else 0.0


def stream_per_layer(raw):
    phase = [p for p in raw["phases"] if p["traced"]][0]
    base = [p for p in raw["phases"] if not p["traced"]]
    tr = raw.get("trace") or {}
    progress = raw["progress"]
    batches = stream_batches(progress, phase)

    def dur(key):
        return median(b["duration"].get(key, 0) for b in batches)
    trig = [b["duration"].get("triggerExecution", 0) for b in batches]
    window = [(phase["start"], phase["drained_at"])]
    stages = stages_in(raw, window)
    jobs = jobs_in(raw, window)
    qes = [qe for qe in tr.get("qes", []) if within(qe["begin"], window[0])]
    busy_s = sum(trig) / 1000
    m = {
        "operators.build_s": raw["setup"][-1]["build_s"],
        "operators.build_jobs": 0,
    }
    m.update(catalyst_metrics([qe["phases"] for qe in qes], sum(qe["nodes"] for qe in qes)))
    m.update(exec_metrics(stages, jobs, busy_s, raw["threads"], stages))
    shards_at = sorted(a for d, a in raw["ticks"])
    backlog = 0
    for b in [b for b in progress if phase["start"] <= b["ts"] <= phase["drained_at"]]:
        published = 1 + sum(1 for a in shards_at if a <= b["ts"])
        backlog = max(backlog, published - b["end_files"])
    parts = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
             "commitOffsets")
    covs = [sum(b["duration"].get(k, 0) for k in parts) / b["duration"]["triggerExecution"]
            for b in batches if b["duration"].get("triggerExecution")]
    m.update({
        "sources.artifact_builds": 0, "sources.artifact_bytes": 0,
        "functions.cache_rdds_peak": 0, "functions.cache_bytes_peak": 0,
        "functions.cache_bytes_after_settle": 0,
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.get_batch_ms": dur("getBatch"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.trigger_ms": median(trig),
        "streaming.trigger_tail_ms": tail(trig)[1],
        "streaming.offset_log_bytes": raw["offset_log_bytes"],
        "streaming.batch_rows": median(b["rows"] for b in batches),
        "streaming.state_rows": max([b["state_rows"] for b in batches] or [0]),
        "streaming.state_mem_bytes": max([b["state_mem"] for b in batches] or [0]),
        "streaming.late_dropped": sum(b["dropped"] for b in batches),
        "streaming.backlog_shards": max(0, backlog),
        "bench.settle_s": 0.0,
        "bench.gen_late_ms": gen_late(raw, phase),
    })
    base_trig = [b["duration"].get("triggerExecution", 0)
                 for ph in base for b in stream_batches(raw["progress"], ph)]
    bt = median(base_trig)
    m["bench.trace_overhead"] = median(trig) / bt - 1 if bt else 0.0
    m["bench.span_coverage"] = median(covs) if covs else 0.0
    spans = [{"id": b["name"], "kind": "batch", "name": f"{b['name']}#{b['batch']}",
              "parent": "workload", "start": b["ts"],
              "end": b["ts"] + b["duration"].get("triggerExecution", 0)} for b in batches]
    return m, {"spans": spans, "self_s": self_times(spans)}

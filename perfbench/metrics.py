"""Metrics of one run record.

`end_to_end` reads the timed ops of an untraced run. `trace_tree` turns a
traced run's spans and Spark listener events into one span tree, and
`per_layer` reports each layer's counters and self time from it. Per-op
figures are means over the timed ops the run attempted.
"""
import glob
import json
import os
import statistics

# Per-layer metrics of a traced run: name -> (unit, better, the end-to-end
# metric it should move, the workload it moves on, the workloads on which
# the prediction is no change). README.md renders the same table.
A, B, S = "athena_sql", "batch_pipeline", "stream_drains"
LAYER_METRICS = {
    "core.session_s": ("s", "lower", "setup_s", "all", ""),
    "core.artifact_build_s": ("s", "lower", "setup_s", B, A),
    "core.warmup_s": ("s", "lower", "setup_s", "all", ""),
    "sources.extract_s": ("s", "lower", "setup_s", A, f"{B}, {S}"),
    "sources.bytes_per_row": ("bytes", "lower", "setup_s", A, f"{B}, {S}"),
    "catalog.crawl_s": ("s", "lower", "setup_s", A, f"{B}, {S}"),
    "catalog.partitions": ("count", "lower", "setup_s", A, f"{B}, {S}"),
    "exec.queue_ms": ("ms", "lower", "latency_p50_s, latency_p90_s, ops_per_s", A, f"{B}, {S}"),
    "exec.artifact_ms": ("ms", "lower", "latency_p50_s, ops_per_s", A, f"{B}, {S}"),
    "exec.jobs_per_query": ("count", "lower", "latency_p50_s, ops_per_s", A, f"{B}, {S}"),
    "exec.await_slack_ms": ("ms", "lower", "latency_p50_s", A, f"{B}, {S}"),
    "exec.page_ms": ("ms", "lower", "latency_p50_s", A, f"{B}, {S}"),
    "exec.artifact_bytes_per_row": ("bytes", "lower", "latency_p50_s", A, f"{B}, {S}"),
    "exec.scan_bytes": ("bytes", "lower", "latency_p50_s", A, f"{B}, {S}"),
    "operators.build_ms": ("ms", "lower", "latency_p90_s", B, S),
    "operators.eager_jobs": ("count", "lower", "latency_p90_s", B, S),
    "operators.action_ms": ("ms", "lower", "latency_p50_s", B, S),
    "spark.plan_ms": ("ms", "lower", "latency_p50_s", A, f"{B} (much less)"),
    "spark.jobs": ("count", "lower", "latency_p50_s", "all", ""),
    "spark.stages": ("count", "lower", "latency_p50_s", "all", ""),
    "spark.tasks": ("count", "lower", "latency_p50_s", "all", ""),
    "spark.task_run_ms": ("ms", "lower", "latency_p50_s, ops_per_s", "all", ""),
    "spark.task_cpu_ms": ("ms", "lower", "latency_p50_s, ops_per_s", "all", ""),
    "spark.gc_ms": ("ms", "lower", "latency_p90_s", "all", ""),
    "spark.slot_util": ("ratio", "higher", "ops_per_s, latency_p90_s", f"{A}, {B}", ""),
    "spark.scheduler_delay_ms": ("ms", "lower", "ops_per_s, latency_p90_s", A, ""),
    "spark.shuffle_write_bytes": ("bytes", "lower", "latency_p50_s", f"{B}, {A}", ""),
    "spark.shuffle_read_bytes": ("bytes", "lower", "latency_p50_s", f"{B}, {A}", ""),
    "spark.shuffle_fetch_wait_ms": ("ms", "lower", "latency_p50_s", f"{B}, {A}", ""),
    "spark.spill_bytes": ("bytes", "lower", "latency_p50_s", f"{B}, {A}", ""),
    "spark.scan_bytes": ("bytes", "lower", "latency_p50_s", "all", ""),
    "spark.scan_rows": ("rows", "lower", "latency_p50_s", "all", ""),
    "spark.skew": ("ratio", "lower", "latency_p90_s", B, ""),
    "spark.single_task_stage_ms": ("ms", "lower", "latency_p90_s", B, ""),
    "streaming.batches": ("count", "lower", "latency_p50_s, rows_per_s", S, f"{A}, {B}"),
    "streaming.input_rows": ("rows", "higher", "rows_per_s", S, f"{A}, {B}"),
    "streaming.trigger_ms": ("ms", "lower", "latency_p50_s, rows_per_s", S, f"{A}, {B}"),
    "streaming.add_batch_ms": ("ms", "lower", "latency_p50_s, rows_per_s", S, f"{A}, {B}"),
    "streaming.wal_commit_ms": ("ms", "lower", "latency_p50_s", S, f"{A}, {B}"),
    "streaming.commit_offsets_ms": ("ms", "lower", "latency_p50_s", S, f"{A}, {B}"),
    "streaming.query_planning_ms": ("ms", "lower", "latency_p50_s", S, f"{A}, {B}"),
    "streaming.state_rows": ("rows", "lower", "latency_p50_s", f"{S} (stateful drains)",
                             f"{A}, {B}, stateless drains"),
    "streaming.state_mem_bytes": ("bytes", "lower", "latency_p50_s", f"{S} (stateful drains)",
                                  f"{A}, {B}, stateless drains"),
    "streaming.state_commit_ms.hdfs": ("ms", "lower", "latency_p50_s, rows_per_s",
                                       f"{S} (default provider)", f"{A}, {B}, stateless drains"),
    "streaming.state_commit_ms.rocksdb": ("ms", "lower", "latency_p50_s, rows_per_s",
                                          f"{S} (RocksDB)", f"{A}, {B}, stateless drains"),
    "streaming.drain_floor_ms.hdfs": ("ms", "lower", "latency_p50_s, rows_per_s",
                                      f"{S} (default provider)", f"{A}, {B}"),
    "streaming.drain_floor_ms.rocksdb": ("ms", "lower", "latency_p50_s, rows_per_s",
                                         f"{S} (RocksDB)", f"{A}, {B}"),
    "streaming.drain_floor_ms.stateless": ("ms", "lower", "latency_p50_s, rows_per_s",
                                           f"{S} (stateless drains)", f"{A}, {B}"),
    "self_ms.bench": ("ms", "lower", "latency_p50_s", "all", ""),
    "self_ms.exec": ("ms", "lower", "latency_p50_s", A, f"{B}, {S}"),
    "self_ms.operators": ("ms", "lower", "latency_p50_s", B, f"{A}, {S}"),
    "self_ms.streaming": ("ms", "lower", "latency_p50_s", S, f"{A}, {B}"),
    "self_ms.spark.job": ("ms", "lower", "latency_p50_s", "all", ""),
    "self_ms.spark.stage": ("ms", "lower", "latency_p50_s", "all", ""),
    "self_ms.streaming.batch": ("ms", "lower", "latency_p50_s", S, f"{A}, {B}"),
    "trace.spans": ("count", "lower", "(tracing overhead)", "all", ""),
    "trace.latency_p50_s": ("s", "lower", "(tracing overhead: vs latency_p50_s)", "all", ""),
    "trace.ops_per_s": ("1/s", "higher", "(tracing overhead: vs ops_per_s)", "all", ""),
}

# span layers whose self time is reported per op
SELF_LAYERS = ["bench", "exec", "operators", "streaming", "spark.job",
               "spark.stage", "streaming.batch"]
PROVIDERS = ["hdfs", "rocksdb", "stateless"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def step_s(run, name):
    return [(s["end_us"] - s["start_us"]) / 1e6 for s in run["steps"] if s["name"] == name]


def setup_s(run, launch_us):
    """Process start to the first timed op. The athena ingest + crawl runs
    several times; only its median repetition is counted."""
    reps = run.get("extra", {}).get("setup_reps_s") or []
    extra = sum(reps) - median(reps) if reps else 0.0
    return (run["loop_start_us"] - launch_us) / 1e6 - extra


def wall_s(run):
    ops = run["ops"]
    return (max(o["end_us"] for o in ops) - run["loop_start_us"]) / 1e6 if ops else 0.0


def latencies(run):
    return [(o["end_us"] - o["start_us"]) / 1e6 for o in run["ops"] if o["ok"]]


def end_to_end(run, launch_us):
    ok = [o for o in run["ops"] if o["ok"]]
    wall = wall_s(run)
    return {
        "setup_s": (setup_s(run, launch_us), "s"),
        "ops_per_s": (len(ok) / wall if wall else 0.0, "1/s"),
        "latency_p50_s": (median(latencies(run)), "s"),
        "rows_per_s": (sum(o["rows"] for o in ok) / wall if wall else 0.0, "rows/s"),
    }


# ---------------------------------------------------------------- tracing

def _contains(span, t_us):
    return span["start_us"] <= t_us <= span["end_us"]


def _innermost(spans, t_us):
    best = None
    for s in spans:
        if _contains(s, t_us) and (best is None or s["start_us"] >= best["start_us"]):
            best = s
    return best


def _by_op(spans):
    out = {}
    for s in spans:
        out.setdefault(s["op"], []).append(s)
    return out


def _child(parent, **span):
    span.update(parent=parent["id"] if parent else 0, op=parent["op"] if parent else "")
    return span


def trace_tree(run):
    """All spans of the run with parents and op ids resolved: the
    benchmark's own spans, streaming micro-batches, Spark jobs and stages.
    A job belongs to the op whose job group it carries (an athena op's
    group is its execution id) and hangs under the innermost span of that
    op enclosing its start; jobs of other groups (a stream's own) and
    micro-batches hang under whichever span encloses their start."""
    events = run["events"]
    out = [dict(s) for s in run["spans"]]
    for i, e in enumerate(x for x in events if x["kind"] == "batch"):
        start = e["t_ms"] * 1000
        out.append(_child(_innermost(out, start), id=3 * 10**9 + i, layer="streaming.batch",
                          name=f"batch {e['batch']}", start_us=start,
                          end_us=start + e["duration_ms"].get("triggerExecution", 0) * 1000,
                          attrs={k: v for k, v in e.items() if k != "kind"}))
    by_op = _by_op(out)
    group_op = {o["tags"]["exec_id"]: o["id"] for o in run["ops"] if "exec_id" in o.get("tags", {})}
    group_op.update({o["id"]: o["id"] for o in run["ops"]})
    ends = {e["job"]: e["t_ms"] for e in events if e["kind"] == "job_end"}
    candidates = list(out)
    jobs = {}
    for e in events:
        if e["kind"] == "job_start":
            start = e["t_ms"] * 1000
            own = by_op.get(group_op.get(e["group"]), [])
            parent = _innermost(own, start) or _innermost(candidates, start)
            jobs[e["job"]] = _child(parent, id=10**9 + e["job"], layer="spark.job",
                                    name=f"job {e['job']}", start_us=start,
                                    end_us=ends.get(e["job"], e["t_ms"]) * 1000,
                                    attrs={"group": e["group"]})
    out += jobs.values()
    for e in events:
        if e["kind"] == "stage" and 0 <= e["submit_ms"] <= e["end_ms"]:
            out.append(_child(jobs.get(e["job"]), id=2 * 10**9 + e["stage"] * 100 + e["attempt"],
                              layer="spark.stage", name=f"stage {e['stage']}",
                              start_us=e["submit_ms"] * 1000, end_us=e["end_ms"] * 1000,
                              attrs={k: v for k, v in e.items() if k != "kind"}))
    return out


def self_times(spans):
    """Span id -> its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cut = sorted((max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                     for c in kids.get(s["id"], []))
        covered, hi = 0, s["start_us"]
        for a, b in cut:
            a = max(a, hi)
            if b > a:
                covered += b - a
                hi = b
        out[s["id"]] = max(0, s["end_us"] - s["start_us"] - covered)
    return out


def _dir_bytes(path):
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(f) and not f.endswith(".crc"))


def per_layer(run, tree, cores):
    ops = run["ops"]
    n = max(1, len(ops))
    timed = {o["id"]: o for o in ops}
    op_spans = [s for s in tree if s["op"] in timed]
    named = lambda name: [s for s in op_spans if s["name"] == name]
    dur_ms = lambda s: (s["end_us"] - s["start_us"]) / 1000
    m = {}

    # core, sources, catalog: set-up steps
    m["core.session_s"] = sum(step_s(run, "session"))
    m["core.artifact_build_s"] = sum((s["end_us"] - s["start_us"]) / 1e6 for s in run["steps"]
                                     if s["name"].startswith("artifact:"))
    m["core.warmup_s"] = sum(step_s(run, "warmup"))
    m["sources.extract_s"] = median(step_s(run, "extract"))
    m["catalog.crawl_s"] = median(step_s(run, "crawl"))
    raw = run.get("extra", {}).get("raw_root")
    parts = glob.glob(os.path.join(raw, "year=*", "month=*", "day=*")) if raw else []
    raw_rows = run.get("extra", {}).get("raw_rows", 0)
    m["sources.bytes_per_row"] = (sum(_dir_bytes(p) for p in parts) / raw_rows) if raw_rows else 0.0
    m["catalog.partitions"] = len(parts)

    # exec: the athena lifecycle
    jobs = [s for s in op_spans if s["layer"] == "spark.job"]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["op"], []).append(j)
    athena = [o for o in ops if "exec_id" in o.get("tags", {})]
    queue, slack, metas, art_bytes, art_rows = [], [], [], 0, 0
    awaits = {s["op"]: s for s in named("exec.await")}
    for o in athena:
        js = [j for j in jobs_of.get(o["id"], []) if j["attrs"]["group"] == o["tags"]["exec_id"]]
        if js:
            queue.append((min(j["start_us"] for j in js) - o["start_us"]) / 1000)
            if o["id"] in awaits:
                slack.append((awaits[o["id"]]["end_us"] - max(j["end_us"] for j in js)) / 1000)
        results = run["extra"]["results_dir"]
        meta = os.path.join(results, o["tags"]["exec_id"] + ".csv.metadata")
        if os.path.exists(meta):
            md = json.loads(open(meta).read())
            metas.append(md)
            art_rows += md["rowCount"]
            art_bytes += _dir_bytes(os.path.join(results, o["tags"]["exec_id"] + ".csv"))
    m["exec.queue_ms"] = mean(queue)
    m["exec.artifact_ms"] = mean([md["durationMs"] for md in metas])
    m["exec.jobs_per_query"] = mean([
        sum(1 for j in jobs_of.get(o["id"], []) if j["attrs"]["group"] == o["tags"]["exec_id"])
        for o in athena])
    m["exec.await_slack_ms"] = mean(slack)
    m["exec.page_ms"] = mean([dur_ms(s) for s in named("exec.page")])
    m["exec.artifact_bytes_per_row"] = art_bytes / art_rows if art_rows else 0.0
    m["exec.scan_bytes"] = mean([md["bytesScanned"] for md in metas])

    # operators: the entry-point call and the materializing action
    builds = named("operators.build")
    m["operators.build_ms"] = mean([dur_ms(s) for s in builds])
    m["operators.eager_jobs"] = mean([
        sum(1 for j in jobs if j["parent"] == b["id"]) for b in builds])
    m["operators.action_ms"] = mean([dur_ms(s) for s in named("operators.action")])

    # Spark runtime under the ops
    stages = [s["attrs"] for s in op_spans if s["layer"] == "spark.stage"]
    per_op = lambda key: sum(st.get(key, 0) for st in stages) / n
    loop_lo = run["loop_start_us"] / 1000
    loop_hi = max((o["end_us"] for o in ops), default=run["loop_start_us"]) / 1000
    queries = [e for e in run["events"] if e["kind"] == "query" and loop_lo <= e["t_ms"] <= loop_hi]
    m["spark.plan_ms"] = sum(e["plan_ms"] for e in queries) / n
    m["spark.jobs"] = len(jobs) / n
    m["spark.stages"] = len(stages) / n
    m["spark.tasks"] = per_op("tasks")
    m["spark.task_run_ms"] = per_op("run_ms")
    m["spark.task_cpu_ms"] = per_op("cpu_ms")
    m["spark.gc_ms"] = per_op("gc_ms")
    wall_ms = max(1.0, loop_hi - loop_lo)
    m["spark.slot_util"] = sum(sum(st["task_ms"]) for st in stages) / (cores * wall_ms)
    m["spark.scheduler_delay_ms"] = per_op("sched_delay_ms")
    m["spark.shuffle_write_bytes"] = per_op("shuffle_write_bytes")
    m["spark.shuffle_read_bytes"] = per_op("shuffle_read_bytes")
    m["spark.shuffle_fetch_wait_ms"] = per_op("fetch_wait_ms")
    m["spark.spill_bytes"] = per_op("spill_bytes")
    m["spark.scan_bytes"] = per_op("scan_bytes")
    m["spark.scan_rows"] = per_op("scan_rows")
    skews = [max(st["task_ms"]) / statistics.median(st["task_ms"]) for st in stages
             if len(st["task_ms"]) >= 2 and statistics.median(st["task_ms"]) > 0]
    m["spark.skew"] = mean(skews)
    m["spark.single_task_stage_ms"] = sum(
        st["end_ms"] - st["submit_ms"] for st in stages if st.get("tasks") == 1) / n

    # streaming: micro-batches of the timed drains
    batches = [s for s in op_spans if s["layer"] == "streaming.batch"]
    drains = named("streaming.drain")
    nd = max(1, len(drains))
    d = lambda key: sum(b["attrs"]["duration_ms"].get(key, 0) for b in batches) / nd
    m["streaming.batches"] = len(batches) / nd if drains else 0.0
    m["streaming.input_rows"] = sum(b["attrs"]["input_rows"] for b in batches) / nd
    m["streaming.trigger_ms"] = d("triggerExecution")
    m["streaming.add_batch_ms"] = d("addBatch")
    m["streaming.wal_commit_ms"] = d("walCommit")
    m["streaming.commit_offsets_ms"] = d("commitOffsets")
    m["streaming.query_planning_ms"] = d("queryPlanning")
    m["streaming.state_rows"] = sum(b["attrs"]["state_rows"] for b in batches) / nd
    m["streaming.state_mem_bytes"] = sum(b["attrs"]["state_mem_bytes"] for b in batches) / nd
    for prov in PROVIDERS:
        mine = [s for s in drains if timed[s["op"]]["name"].endswith("@" + prov)]
        floors, commits = [], []
        for s in mine:
            bs = [b for b in batches if b["parent"] == s["id"]]
            floors.append(dur_ms(s) - sum(b["attrs"]["duration_ms"].get("triggerExecution", 0)
                                          for b in bs))
            commits.append(sum(b["attrs"]["state_commit_ms"] for b in bs))
        m[f"streaming.drain_floor_ms.{prov}"] = mean(floors)
        if prov != "stateless":
            m[f"streaming.state_commit_ms.{prov}"] = mean(commits)

    # self time per layer, per op
    selfs = self_times(tree)
    for layer in SELF_LAYERS:
        m[f"self_ms.{layer}"] = sum(selfs[s["id"]] for s in op_spans if s["layer"] == layer) / 1000 / n
    m["trace.spans"] = len(tree)
    return m

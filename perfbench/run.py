#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <athena_sql|batch_pipeline|stream_drains>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark driver from source when they are not
built yet (perfbench/build.sbt), starts one JVM that sets up the workload,
warms it and runs the timed closed loop, then checks every output against
DuckDB outside the timed interval. Prints a readable table and, as the last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the span tree is written to perfbench/out/.
See perfbench/README.md.
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

import check  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["athena_sql", "batch_pipeline", "stream_drains"]
DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    for top in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build(root):
    """Compiles the engine and the driver with sbt (offline), once per
    source state."""
    digest = hashlib.sha256()
    for p in sources(root):
        digest.update(p.encode())
        digest.update(open(p, "rb").read())
    stamp = os.path.join(TARGET, "graftbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    if not shutil.which("sbt"):
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine + driver (sbt compile)", file=sys.stderr)
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())


def run_jvm(args, work, out_json):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{SPARK_JARS}/*",
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", DATA, "--work", work, "--out", out_json, "--cores", str(cores)]
    log_path = os.path.join(work, "jvm.log")
    launch_us = time.time() * 1e6
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out_json):
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"benchmark JVM ended with {code}")
    return launch_us, cores


def table(title, rows):
    print(title)
    for name, value, unit in rows:
        print(f"  {name:<36} {value:>14.4f} {unit}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    if not os.path.exists(os.path.join(DATA, "lineitem.parquet")):
        fail(f"benchmark tables missing under {DATA}")
    build(root)

    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}")
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    run_json = os.path.join(work, "run.json")
    launch_us, cores = run_jvm(args, work, run_json)
    run = json.load(open(run_json))

    n_checks, failures = check.apply(run, DATA)
    ops = run["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    for name, why in failures[:10]:
        print(f"WRONG {name}: {why}")
    for o in [o for o in ops if not o["ok"]][:10]:
        print(f"FAILED {o['id']}: {o['error'][:200]}")
    correct = not failures and failed == 0

    e2e = metrics.end_to_end(run, launch_us)
    box = run["box"]
    print(f"graft benchmark: workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} clients={run['clients']} "
          f"cores={box['cores']} loadavg_start={box['loadavg_start']} "
          f"heap_max={box['heap_max_bytes'] / 2**30:.1f}GiB")
    # printed, not in the result: failed_frac is 0 on a healthy tree, and a
    # run has too few samples for ten to lie beyond its 90th percentile
    lat = metrics.latencies(run)
    table("end to end" + (" (traced)" if args.trace else ""),
          [(k, v, u) for k, (v, u) in e2e.items()] +
          [("latency_p90_s", metrics.p90(lat), "s"),
           ("failed_frac", failed / max(1, len(ops)), "ratio"),
           ("latency_samples", len(lat), "count")])
    print(f"  checks: {n_checks} outputs compared with DuckDB, {len(failures)} wrong; "
          f"correct={correct}")

    if args.trace:
        tree = metrics.trace_tree(run)
        layer = metrics.per_layer(run, tree, cores)
        layer["trace.latency_p50_s"] = e2e["latency_p50_s"][0]
        layer["trace.ops_per_s"] = e2e["ops_per_s"][0]
        trace_path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": tree}, f)
        table("per layer", [(k, v, metrics.LAYER_METRICS[k][0]) for k, v in layer.items()])
        print(f"  trace: {trace_path} ({len(tree)} spans)")
        untraced = os.path.join(OUT, f"last-{args.workload}-trace0.json")
        if os.path.exists(untraced):
            base = json.load(open(untraced))
            for k in ("latency_p50_s", "ops_per_s"):
                b = base["metrics"][k]["value"]
                print(f"  tracing overhead on {k}: {(e2e[k][0] - b) / b:+.1%} "
                      f"(untraced {b:.4f}, seed {base['seed']})")
        out_metrics = {k: {"value": v, "unit": metrics.LAYER_METRICS[k][0]}
                       for k, v in layer.items()}
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    result = {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": out_metrics}
    with open(os.path.join(OUT, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(dict(result, seed=args.seed, box=box, ops=[
            {"name": o["name"], "client": o["client"], "round": o["round"], "ok": o["ok"],
             "latency_s": (o["end_us"] - o["start_us"]) / 1e6} for o in ops]), f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

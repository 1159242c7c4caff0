#!/usr/bin/env python3
"""Steadiness runner for the graft benchmark.

Repeats each workload with a run of consecutive seeds and writes, for every
metric, its values, median, quartiles and spread (the distance between the
quartiles as a share of the median, as statistics.quantiles(n=4) gives
them), with each run's box state (nproc, loadavg at start, JVM heap).

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--first-seed 1]
        [--trace 0|1] [--out FILE]
    python3 perfbench/steady.py --compare FIRST.json SECOND.json

--compare checks that the second set's medians are no worse than the first's
by more than each metric's bound; given an untraced and a traced set, it
also reports the tracing overhead (trace.latency_p50_s and trace.ops_per_s
against their untraced metrics).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def run_set(args):
    cfg = bench()
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in cfg["workloads"]]
    out = {"trace": args.trace, "seconds": cfg["run_seconds"], "workloads": {}}
    for w in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = cfg["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(cfg["run_seconds"]), "--trace", str(args.trace)]
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if res.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{res.stderr[-3000:]}")
            result = json.loads(res.stdout.strip().splitlines()[-1])
            box = json.load(open(os.path.join(HERE, "out", f"last-{w}-trace{args.trace}.json")))["box"]
            runs.append({"seed": seed, "box": box, **result})
            print(f"{w} seed {seed}: correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                             if k in bounds or args.trace == 0), flush=True)
        metrics = {k: summarize([r["metrics"][k]["value"] for r in runs])
                   for k in runs[0]["metrics"]}
        for k, s in metrics.items():
            if k in bounds:
                s["bound"] = bounds[k]
        out["workloads"][w] = {"runs": runs, "metrics": metrics,
                               "all_correct": all(r["correct"] for r in runs)}
        print_set(w, out["workloads"][w])
    path = args.out or os.path.join(HERE, "out", f"steady-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}")


def print_set(w, ws):
    print(f"== {w}: {len(ws['runs'])} runs, all correct: {ws['all_correct']}")
    for k, s in ws["metrics"].items():
        flag = ""
        if "bound" in s:
            flag = "ok" if s["spread"] <= s["bound"] / 3 else (
                "within bound" if s["spread"] <= s["bound"] else "OVER BOUND")
            if k == "setup_s":
                flag += " (spread not gated)"
        print(f"  {k:<34} median {s['median']:<12.5g} q1 {s['q1']:<12.5g} q3 {s['q3']:<12.5g} "
              f"spread {s['spread']:.3f} {flag}")


def compare(a_path, b_path):
    cfg = bench()
    better = {m["name"]: m["better"] for m in cfg["end_to_end"] + cfg["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    a, b = json.load(open(a_path)), json.load(open(b_path))
    ok = True
    for w, wa in a["workloads"].items():
        wb = b["workloads"].get(w)
        if not wb:
            continue
        print(f"== {w}")
        if a["trace"] == b["trace"]:
            for k, bound in bounds.items():
                ma, mb = wa["metrics"][k]["median"], wb["metrics"][k]["median"]
                worse = (mb - ma) / ma if better[k] == "lower" else (ma - mb) / ma
                verdict = "ok" if worse <= bound else "WORSE THAN BOUND"
                ok &= worse <= bound
                print(f"  {k:<16} {ma:<12.5g} -> {mb:<12.5g} worse by {worse:+.3f} "
                      f"(bound {bound}) {verdict}")
        else:
            plain, traced = (wa, wb) if a["trace"] == 0 else (wb, wa)
            for k in ("latency_p50_s", "ops_per_s"):
                base = plain["metrics"][k]["median"]
                t = traced["metrics"][f"trace.{k}"]["median"]
                print(f"  tracing overhead on {k}: {(t - base) / base:+.1%} "
                      f"(untraced {base:.4g}, traced {t:.4g})")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    if args.compare:
        sys.exit(0 if compare(*args.compare) else 1)
    run_set(args)


if __name__ == "__main__":
    main()

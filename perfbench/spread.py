#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each end-to-end
metric's median and quartile spread; optionally records the result as
the baseline.

    python3 perfbench/spread.py --seeds 1-10 [--workloads relational,dedup]
                                [--trace-seed 1] [--record]

The spread of a metric is (Q3 - Q1) / median over the seeds, with the
quartiles of statistics.quantiles(values, n=4). --trace-seed adds one
traced run per workload for the per-layer numbers and, when that seed is
among --seeds, the tracing overhead (--seeds none runs only the traced
run). --record writes the medians, spreads, per-layer figures and host
stamp into perfbench/BASELINE.json, keeping the entries of workloads not
run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    if spec == "none":
        return []
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".bench_build", "perfbench", "results",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return last, json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    path = os.path.join(HERE, "BASELINE.json")
    record = {"run_seconds": bench["run_seconds"], "workloads": {}}
    if args.record and os.path.exists(path):
        with open(path) as f:
            record = json.load(f)
    for w in names:
        values, hosts, correct = {}, [], True
        for seed in seeds_of(args.seeds):
            last, art = run(w, seed, bench["run_seconds"], 0)
            correct &= last["correct"]
            hosts.append(art["host"])
            for k, m in last["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(w, seed, {k: round(m["value"], 4)
                            for k, m in last["metrics"].items()}, flush=True)
        rec = record["workloads"].get(w, {})
        if hosts:
            rec.update(seeds=args.seeds, correct_every_run=correct, metrics={},
                       overloaded_runs=sum(h["overloaded"] for h in hosts),
                       host=hosts[-1])
        for k, vs in values.items():
            if len(vs) < 2:
                rec["metrics"][k] = {"median": vs[0], "values": vs}
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            rec["metrics"][k] = {"median": med, "q1": q1, "q3": q3,
                                 "spread": spread, "values": vs}
            flag = "" if k == "setup_s" or spread < bounds[k] / 3 else "  WIDE"
            print(f"{w:11s} {k:12s} median {med:10.4f} spread {spread:.4f}"
                  f" (bound {bounds[k]}){flag}", flush=True)
        if args.trace_seed is not None:
            _, art = run(w, args.trace_seed, bench["run_seconds"], 1)
            rec["per_layer_seed"] = args.trace_seed
            rec["per_layer"] = {k: v["value"] for k, v in art["metrics"].items()}
            rec["per_layer_correct"] = art["failed"] == 0
            # tracing overhead: the traced pass against the untraced run
            # of the same seed
            if args.trace_seed in seeds_of(args.seeds):
                plain = values["pass_s"][seeds_of(args.seeds).index(
                    args.trace_seed)]
                rec["trace_overhead"] = (
                    rec["per_layer"]["trace.traced_pass_s"] / plain - 1.0)
                print(f"{w:11s} trace overhead {rec['trace_overhead']:+.3f}")
        record["workloads"][w] = rec
    if args.record:
        record["stamp"] = {k: art[k] for k in (
            "git_head", "java_version", "spark_version",
            "spark_graft_env_run")}
        record["stamp"]["nproc"] = art["host"]["nproc"]
        with open(path, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one seeded run of one named workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the harness
with sbt (offline); later runs reuse the build while the sources are
unchanged. A run then

  1. derives seeded inputs from the parquet fixture (gen.py),
  2. starts the Scala harness on them: one SparkSession from
     graft.BenchSession, one warm-up pass whose outputs are kept, then
     closed-loop timed passes for --seconds (one query in flight),
  3. checks every kept output against its DuckDB oracle with
     scripts/verify_local.py,
  4. prints each metric by name and unit, and as its last line one JSON
     object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics; --trace 1 times the passes with
a Spark listener attached and reports the per-layer metrics. The full
artifact (host stamp, inputs, per-query latencies, errors) is written to
.bench_build/perfbench/results/.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE = os.environ.get("PERFBENCH_FIXTURE",
                         os.path.expanduser("~/testdata/sf0.1"))
RUN_LIMIT_S = 170  # a benchmark run must end within 180 s
ON_DEMAND_LIMIT_S = 900  # workloads BENCHMARK.json does not run
# A fixed heap and young generation: G1's adaptive sizing otherwise makes
# peak RSS and GC frequency differ from run to run on identical work.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn512m"]

sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_stamp():
    def read(p):
        try:
            with open(p) as f:
                return f.read()
        except OSError:
            return ""
    mem = {}
    for line in read("/proc/meminfo").splitlines():
        k, _, v = line.partition(":")
        mem[k] = v.strip()
    load = read("/proc/loadavg").split()
    up = read("/proc/uptime").split()
    return {"load1": float(load[0]) if load else None,
            "uptime_s": float(up[0]) if up else None,
            "mem_available_kb": int(mem.get("MemAvailable", "0 kB").split()[0])}


def source_digest():
    """Digest of everything the build compiles, to reuse a build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            for f in files if "target" not in d.split(os.sep))
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness once per source state; returns the
    harness's JVM arguments."""
    for need in ("build.sbt", "src", "scripts/verify_local.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} missing: run from the root of a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(HERE, "target", "build.stamp")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["digest"] == digest:
            # the launch file names the checkout it was built in; a moved
            # checkout carries its build along
            with open(launch) as f:
                return [line.replace(built["root"] + os.sep, ROOT + os.sep)
                        for line in f.read().splitlines()]
    # graft's build reads SPARK_GRAFT_* (extra JVM options) into the launch
    # file, which later runs reuse: build without them, as the harness runs
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "launchFile"], 850, cwd=HERE, env=env,
                         stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(launch):
        die(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "root": ROOT}, f)
    with open(launch) as f:
        return f.read().splitlines()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def benchmark():
    """BENCHMARK.json, or an empty dict where there is none."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the harness it started (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        die(f"unknown workload {args.workload!r}; known: {sorted(workloads)}")
    wl = workloads[args.workload]
    if not os.path.isdir(FIXTURE):
        die(f"fixture {FIXTURE} not found (set PERFBENCH_FIXTURE)")
    jvm_args = build()

    t0 = time.time()
    host_start = host_stamp()
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, dump = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    input_stats = gen.generate(FIXTURE, inputs, args.seed)
    t_gen = time.time() - t0

    graft_env = {k: v for k, v in os.environ.items()
                 if k.startswith("SPARK_GRAFT_")}
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)
    raw_path = os.path.join(run_dir, "raw.json")
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dlog4j2.level=warn"] +
           # whole call sites, so a job started deep inside Spark ML still
           # shows the graft frame that made it
           (["-Dspark.callstack.depth=1000"] if args.trace else []) +
           jvm_args +
           ["--inputs", inputs, "--queries", ",".join(wl["queries"]),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--dump", dump, "--out", raw_path])
    bench = benchmark()
    in_benchmark = any(w["name"] == args.workload
                       for w in bench.get("workloads", []))
    limit = RUN_LIMIT_S if in_benchmark else ON_DEMAND_LIMIT_S
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as out:
        rc = run_bounded(cmd, limit - (time.time() - t0) - 20,
                         cwd=run_dir, env=env, stdout=out,
                         stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(raw_path):
        die(f"harness exited {rc}; see {log}")
    with open(raw_path) as f:
        raw = json.load(f)

    verify = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "verify_local.py"),
         inputs, dump, ",".join(wl["queries"])],
        cwd=run_dir, capture_output=True, text=True,
        env=dict(os.environ, GRAFT_VERIFY_STRICT="1"),
        timeout=max(limit - (time.time() - t0), 5))
    oracle_failed = metrics.oracle_verdicts(verify.stdout, wl["queries"])
    warm_failed = [k for k, _ in raw["failures"] if k in wl["queries"]]
    failed, attempted, err_rate = metrics.error_rate(
        raw["attempted"], raw["failures"], oracle_failed, warm_failed)

    if args.trace:
        shown, latency = metrics.per_layer(raw), None
    else:
        shown, latency = metrics.end_to_end(raw, t0)
    shown["error_rate"] = (err_rate, "ratio")
    # the result line carries the metrics BENCHMARK.json names, when there
    listed = [m["name"] for m in
              bench.get("per_layer" if args.trace else "end_to_end", [])]
    reported = {k: shown[k] for k in listed} if listed else shown
    host_end = host_stamp()
    artifact = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "queries": wl["queries"], "fraction": gen.FRACTION,
        "host": {"nproc": cpus, "start": host_start, "end": host_end,
                 "overloaded": max(host_start["load1"] or 0,
                                   host_end["load1"] or 0) > cpus},
        "git_head": git_head(), "java_version": raw["java_version"],
        "spark_version": raw["spark_version"],
        "spark_graft_env_outside": graft_env,
        "spark_graft_env_run": {"SPARK_GRAFT_CPUS": str(cpus)},
        "inputs": {"fixture": FIXTURE, "tables": input_stats},
        "attempted": attempted, "failed": failed,
        "failures": raw["failures"], "oracle_failed": oracle_failed,
        "setup": {"gen_s": t_gen, "session_build_s": raw["session_build_s"],
                  "warm_s": raw["warm_s"], "warm_query_s": raw["warm_query_s"]},
        "latency": latency,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
        "passes": raw["passes"],
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(artifact, f, indent=1)

    for k, (v, u) in shown.items():
        print(f"{k} {v:.6g} {u}")
    print(f"attempted {attempted} failed {failed}"
          + (f" oracle_failed {oracle_failed}" if oracle_failed else ""))
    if artifact["host"]["overloaded"]:
        print(f"WARN load1 above {cpus} cores during the run")
    print(json.dumps({
        "correct": failed == 0 and verify.returncode == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in reported.items()}}))


if __name__ == "__main__":
    main()

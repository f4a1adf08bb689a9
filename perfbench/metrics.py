"""Turns one harness run's raw measurements into the benchmark's metrics.

Pure functions over the JSON the Scala harness writes; run.py calls
`end_to_end` for untraced runs and `per_layer` for traced ones.
"""
import math
import statistics


def percentile(samples, q, min_beyond=10):
    """Nearest-rank q-quantile (0 < q < 1) of `samples` and the number of
    samples that lie beyond it, or (None, count) when fewer than
    `min_beyond` samples do: a tail figure resting on a handful of
    samples is not reported."""
    xs = sorted(samples)
    if not xs:
        return None, 0
    k = max(0, math.ceil(q * len(xs)) - 1)
    beyond = len(xs) - (k + 1)
    return (xs[k] if beyond >= min_beyond else None), beyond


def _frame_module(frame):
    """`graft.ops.*`, `graft.sources.*`, `graft.streaming.*` and
    `graft.functions.*` map to their package; a class in another
    sub-package (`graft.ext.Dedup`, `graft.ml.Recsys`) to its class name;
    a top-level `graft.*Queries` class (a registered query body) to
    `QueryRegistry`; any other top-level class to its name."""
    cls = frame.split("(", 1)[0].rsplit(".", 1)[0]
    parts = [p.split("$", 1)[0] for p in cls.split(".")]
    if len(parts) >= 3:
        if parts[1] in ("ops", "sources", "streaming", "functions"):
            return parts[1]
        return parts[2]
    return "QueryRegistry" if parts[1].endswith("Queries") else parts[1]


def module_of(stack):
    """Module of a job, from its call site (innermost frame first).

    The job belongs to the outermost graft library frame below the query
    body: the public call the query made. A Dedup call that persists
    through `RelationalOps.materialized` is Dedup's job, not ops'. Jobs
    with no graft frame -- a final write, or Spark's own threads -- map
    to `other`."""
    mods = []
    for line in (stack or "").splitlines():
        line = line.strip()
        if line.startswith("at "):
            line = line[3:]
        if line.startswith("graft."):
            mods.append(_frame_module(line))
    if not mods:
        return "other"
    lib = []
    for m in mods:
        if m == "QueryRegistry":
            break
        lib.append(m)
    return lib[-1] if lib else "QueryRegistry"


def error_rate(attempted, harness_failures, oracle_failed, warm_failed):
    """(failed, attempted, rate). A thrown query and an oracle mismatch
    each count as one failed operation; a query that threw in the checked
    pass is not counted a second time for its missing output."""
    failed = len(harness_failures) + len(set(oracle_failed) - set(warm_failed))
    attempted = max(attempted, failed, 1)
    return failed, attempted, failed / attempted


def oracle_verdicts(verify_stdout, names):
    """Queries scripts/verify_local.py did not report as PASS."""
    passed = {line.split()[1].rstrip(":")
              for line in verify_stdout.splitlines()
              if line.startswith("PASS ")}
    return sorted(set(names) - passed)


def end_to_end(raw, setup_start_s):
    """The untraced run's user-facing metrics, plus the latency
    percentiles that have enough samples behind them."""
    passes = raw["passes"]
    lat = [e["build_s"] + e["final_s"] for p in passes for e in p["execs"]]
    p50, beyond50 = percentile(lat, 0.5)
    p90, beyond90 = percentile(lat, 0.9)
    metrics = {
        "setup_s": (raw["first_timed_ms"] / 1e3 - setup_start_s, "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "rss_peak_mb": (raw["rss_peak_kb"] / 1024.0, "MB"),
    }
    latency = {"samples": len(lat),
               "query_p50_s": p50, "beyond_p50": beyond50,
               "query_p90_s": p90, "beyond_p90": beyond90}
    return metrics, latency


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# per-layer span names of the composed pipelines -> metric names
STEP_SPANS = {
    "Dedup.shingles": "Dedup.shingles_s",
    "Dedup.signatures": "Dedup.signatures_s",
    "Dedup.candidates": "Dedup.candidates_s",
    "Dedup.jaccard": "Dedup.jaccard_s",
    "Recsys.fitAls": "Recsys.fitAls_s",
    "Recsys.fitAlsGrid": "Recsys.fitAlsGrid_s",
    "Recsys.recommendTopK": "Recsys.recommendTopK_s",
    "Classifiers.fit": "Classifiers.fit_s",
}
JOB_MODULES = {"ops": True, "Dedup": True, "Recsys": False,
               "Classifiers": False, "FeaturePipeline": False,
               "sources": False, "Staging": False, "streaming": False}


def per_layer(raw):
    """Per-layer metrics of the traced passes, each averaged per pass.
    `trace.traced_pass_s` against the `pass_s` of an untraced run is the
    tracing overhead."""
    passes = raw["passes"]
    n = max(len(passes), 1)
    spans = {s["id"]: s for s in raw["spans"]}
    jobs = [j for j in raw["jobs"] if j["end"] >= 0]
    cores = raw["cpus"]
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    def phase(span_id):
        while span_id in spans:
            s = spans[span_id]
            if s["name"] in ("build", "final"):
                return s["name"]
            span_id = s["parent"]
        return None

    def children(sid):
        return [s for s in spans.values() if s["parent"] == sid]

    put("session.build_s", raw["session_build_s"], "s")
    put("session.warm_s", raw["warm_s"], "s")

    for ph in ("build", "final"):
        ph_spans = [s for s in spans.values() if s["name"] == ph]
        ph_jobs = [j for j in jobs if phase(j["span"]) == ph]
        dur = sum(s["end"] - s["start"] for s in ph_spans)
        covered = sum(_union_ms([(j["start"], j["end"]) for j in jobs],
                                s["start"], s["end"]) for s in ph_spans)
        put(f"{ph}.s", dur / 1e3 / n, "s")
        put(f"{ph}.jobs", len(ph_jobs) / n, "count")
        put(f"{ph}.driver_s", (dur - covered) / 1e3 / n, "s")

    def total(key):
        return sum(j[key] for j in jobs)

    mb = 1024.0 * 1024.0
    wall = sum(p["wall_s"] for p in passes)
    put("Tables.scan_mb", total("in_bytes") / mb / n, "MB")
    put("Tables.scan_rows", total("in_rows") / n, "count")
    put("exec.stages", total("stages_run") / n, "count")
    put("exec.stages_skipped",
        sum(j["stages"] - j["stages_run"] for j in jobs) / n, "count")
    put("exec.tasks", total("tasks") / n, "count")
    put("exec.tasks_failed", total("tasks_failed") / n, "count")
    put("exec.task_run_s", total("run_ms") / 1e3 / n, "s")
    put("exec.task_cpu_s", total("cpu_ns") / 1e9 / n, "s")
    put("exec.gc_s", total("gc_ms") / 1e3 / n, "s")
    put("exec.core_util",
        total("run_ms") / 1e3 / (wall * cores) if wall else 0.0, "ratio")
    put("exec.task_wait_s", total("wait_ms") / 1e3 / n, "s")
    put("shuffle.write_mb", total("sw_bytes") / mb / n, "MB")
    put("shuffle.read_mb", total("sr_bytes") / mb / n, "MB")
    put("shuffle.fetch_wait_s", total("fetch_wait_ms") / 1e3 / n, "s")
    put("spill.mb", total("spill_bytes") / mb / n, "MB")
    put("cache.mb", raw["cache_bytes"] / mb / n, "MB")

    by_module = {}
    for j in jobs:
        by_module.setdefault(module_of(j["site"]), []).append(j)
    for mod, with_count in JOB_MODULES.items():
        js = by_module.get(mod, [])
        if with_count:
            put(f"{mod}.jobs", len(js) / n, "count")
        put(f"{mod}.job_s", sum(j["end"] - j["start"] for j in js) / 1e3 / n, "s")

    steps = {v: 0.0 for v in STEP_SPANS.values()}
    for s in spans.values():
        metric = STEP_SPANS.get(s["name"])
        if metric:
            kids = [(c["start"], c["end"]) for c in children(s["id"])]
            own = (s["end"] - s["start"]) - _union_ms(kids, s["start"], s["end"])
            steps[metric] += own / 1e3 / n
    for k, v in steps.items():
        put(k, v, "s")
    cand = raw["counters"].get("candidate_pairs", 0)
    verified = raw["counters"].get("verified_pairs", 0)
    put("Dedup.candidate_pairs", cand, "count")
    put("Dedup.verified_pairs", verified, "count")
    put("Dedup.candidate_yield", verified / cand if cand else 0.0, "ratio")

    written, scanned = total("out_bytes"), total("in_bytes")
    put("sources.write_mb", written / mb / n, "MB")
    put("sources.files_written", raw["files_written"] / n, "count")
    put("sources.write_amp", written / scanned if scanned else 0.0, "ratio")

    batches = raw["stream_batches"]
    put("streaming.batches", len(batches) / n, "count")
    put("streaming.batch_s", statistics.mean(
        b["duration_ms"] for b in batches) / 1e3 if batches else 0.0, "s")
    put("streaming.state_rows", statistics.mean(
        b["state_rows"] for b in batches) if batches else 0.0, "count")

    put("jvm.gc_s", statistics.mean(p["gc_s"] for p in passes), "s")
    put("jvm.jit_s", statistics.mean(p["jit_s"] for p in passes), "s")
    put("jvm.jit_warm_s", raw["jit_warm_s"], "s")

    put("trace.traced_pass_s",
        statistics.median(p["wall_s"] for p in passes), "s")
    return m

"""Turns the harness's raw record into the benchmark's metrics.

Every function here is pure (a raw record or parts of it in, numbers
out) so that `test_metrics.py` can pin the definitions.
"""
import hashlib
import re
import statistics

CORES = 4
TAIL_BEYOND = 10

FUNCTIONS = ["minhash_sig", "simhash64", "cosine_sim", "word_shingle_hashes",
             "rolling_hash", "sliding_min", "bigram_poly_buckets"]


def _unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(".ns_per_row"):
        return "ns/row"
    if name.endswith("_rows"):
        return "rows"
    if name == "skew.max_over_median":
        return "ratio"
    return "count"


LAYER_NAMES = [
    "sources.scan_bytes", "sources.scan_rows", "sources.load_ms",
    "frontend.sqlite_compat_ms", "frontend.spark_sql_ms", "frontend.dsl_ms",
    "queries.build_ms", "queries.build_jobs", "queries.execute_ms",
    "planning.analysis_ms", "planning.optimization_ms", "planning.physical_ms",
    "planning.rule_ms", "planning.plans",
    "ladder.jobs", "ladder.stages", "ladder.tasks", "ladder.task_retries",
    "ladder.idle_ms",
    "compute.task_ms", "compute.cpu_ms", "compute.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.write_ms",
    "shuffle.spill_bytes",
    "skew.max_over_median", "skew.straggler_ms",
    "materialize.persisted_rdds", "materialize.stored_bytes",
    "materialize.release_ms",
] + [f"functions.{f}.ns_per_row" for f in FUNCTIONS]

# The per-layer metrics the result line carries, with their units.
# `per_layer` also returns shuffle.fetch_wait_ms for the report: in local
# mode every shuffle block is local, so it reads 0 on every run.
LAYER_UNITS = {n: _unit(n) for n in LAYER_NAMES}


def tail_percentile(values, beyond=TAIL_BEYOND):
    """The highest sample that has at least `beyond` samples strictly above
    it, with its percentile (100 * rank / n). None when there is none."""
    xs = sorted(values)
    n = len(xs)
    for rank in range(n - beyond, 0, -1):
        v = xs[rank - 1]
        if sum(1 for x in xs if x > v) >= beyond:
            return {"value": v, "percentile": 100.0 * rank / n, "samples": n,
                    "beyond": sum(1 for x in xs if x > v)}
    return None


def skew(stages, cores=CORES):
    """Slowest task against the median task, over stages that have at
    least as many tasks as cores (a smaller stage cannot keep every core
    busy, so its spread is not skew). Returns (max_over_median,
    straggler_ms): the ratio of the summed per-stage maxima to the summed
    per-stage medians, and the summed time each stage waited on its
    slowest task beyond the median one."""
    maxima = medians = 0.0
    for s in stages:
        tasks = s["task_ms"]
        if s["num_tasks"] < cores or len(tasks) < cores:
            continue
        maxima += max(tasks)
        medians += statistics.median(tasks)
    if medians == 0:
        return 1.0, maxima - medians
    return maxima / medians, maxima - medians


_PLAN_IDS = [
    (re.compile(r"#\d+L?"), ""),                        # expression ids
    (re.compile(r"\bplan_id=\d+"), "plan_id"),
    (re.compile(r"\bid=\d+"), "id"),
    (re.compile(r"\*\(\d+\)"), "*"),                    # codegen stage ids
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1"),
    (re.compile(r"file:[^\s,\]]+"), "file:"),           # checkout-dependent paths
]


def strip_plan(tree):
    """The executed plan's operator tree with run-dependent ids removed."""
    for pattern, repl in _PLAN_IDS:
        tree = pattern.sub(repl, tree)
    return tree


def fingerprint(tree):
    return hashlib.sha256(strip_plan(tree).encode()).hexdigest()[:16]


def failed_calls(calls, bad_kinds):
    """A call fails when it raised, when its rows differ from its kind's
    reference, or when that reference failed its correctness check."""
    return sum(1 for c in calls
               if c["error"] is not None or not c["matches_reference"]
               or c["kind"] in bad_kinds)


def latency_s(call):
    return (call["build_ns"] + call["execute_ns"]) / 1e9


def end_to_end(raw):
    lat = [latency_s(c) for c in raw["calls"]]
    setup = raw["setup"]
    tail = tail_percentile(lat)
    return {
        "setup_s": setup["session_s"] + statistics.median(setup["data_s"])
        + setup["warmup_s"],
        "run_s": raw["run_ns"] / 1e9,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail["value"],
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }, tail


def per_layer(raw):
    t = raw["trace"]
    calls = t["calls"]
    spans = t["spans"]
    stages = [s for s in spans["stages"] if s["span"]]
    jobs = [j for j in spans["jobs"] if j["span"]]
    plans = spans["plans"]
    task_ms = sum(s["run_ms"] for s in stages)
    run_ms = t["run_ns"] / 1e6
    max_over_median, straggler_ms = skew(stages)
    m = {
        "sources.scan_bytes": sum(s["input_bytes"] for s in stages),
        "sources.scan_rows": sum(s["input_records"] for s in stages),
        "sources.load_ms": statistics.median(raw["setup"]["data_s"]) * 1e3,
        "frontend.sqlite_compat_ms": t["frontend_ms"]["sqlite_compat"],
        "frontend.spark_sql_ms": t["frontend_ms"]["spark_sql"],
        "frontend.dsl_ms": t["frontend_ms"]["dsl"],
        "queries.build_ms": sum(c["build_ns"] for c in calls) / 1e6,
        "queries.build_jobs": sum(1 for j in jobs if j["span"].endswith("/build")),
        "queries.execute_ms": sum(c["execute_ns"] for c in calls) / 1e6,
        "planning.analysis_ms": sum(p["analysis_ms"] for p in plans),
        "planning.optimization_ms": sum(p["optimization_ms"] for p in plans),
        "planning.physical_ms": sum(p["planning_ms"] for p in plans),
        "planning.rule_ms": t["rule_ns"] / 1e6,
        "planning.plans": len(plans),
        "ladder.jobs": len(jobs),
        "ladder.stages": len(stages),
        "ladder.tasks": sum(len(s["task_ms"]) for s in stages),
        "ladder.task_retries": sum(s["retries"] for s in stages),
        "ladder.idle_ms": run_ms - task_ms / CORES,
        "compute.task_ms": task_ms,
        "compute.cpu_ms": sum(s["cpu_ns"] for s in stages) / 1e6,
        "compute.gc_ms": sum(s["gc_ms"] for s in stages),
        "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "shuffle.write_ms": sum(s["shuffle_write_ns"] for s in stages) / 1e6,
        "shuffle.fetch_wait_ms": sum(s["fetch_wait_ms"] for s in stages),
        "shuffle.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "skew.max_over_median": max_over_median,
        "skew.straggler_ms": straggler_ms,
        "materialize.persisted_rdds": sum(c["persisted_rdds"] for c in calls),
        "materialize.stored_bytes": sum(c["stored_bytes"] for c in calls),
        "materialize.release_ms": sum(c["cleanup_ns"] for c in calls) / 1e6,
    }
    m.update(function_costs(t["functions"]))
    return m


def per_kind(raw):
    """Traced-run breakdown per call kind: how a workload total splits."""
    t = raw["trace"]
    out = {}
    for c in t["calls"]:
        k = out.setdefault(c["kind"], {"calls": 0, "latency_ms": 0.0, "task_ms": 0,
                                       "cpu_ms": 0.0, "jobs": 0, "stages": 0})
        k["calls"] += 1
        k["latency_ms"] += latency_s(c) * 1e3
    for s in t["spans"]["stages"]:
        kind = s["span"].rsplit("/", 1)[0]
        if kind in out:
            out[kind]["task_ms"] += s["run_ms"]
            out[kind]["cpu_ms"] += s["cpu_ns"] / 1e6
            out[kind]["stages"] += 1
    for j in t["spans"]["jobs"]:
        kind = j["span"].rsplit("/", 1)[0]
        if kind in out:
            out[kind]["jobs"] += 1
    return out


def function_costs(probe):
    """ns of task CPU per input row for each kernel probe, the median over
    its repetitions (span `fn:<name>/<rep>`)."""
    per_rep = {}
    for s in probe["spans"]["stages"]:
        if s["span"].startswith("fn:"):
            per_rep[s["span"]] = per_rep.get(s["span"], 0) + s["cpu_ns"]
    out = {}
    for f in FUNCTIONS:
        reps = [ns for span, ns in per_rep.items() if span.startswith(f"fn:{f}/")]
        out[f"functions.{f}.ns_per_row"] = statistics.median(reps) / probe["rows"]
    return out

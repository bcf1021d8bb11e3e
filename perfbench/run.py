#!/usr/bin/env python3
"""The repo benchmark: closed-loop workloads over the program's public entry
points, one client thread on local[4]. See perfbench/README.md.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload exercises|curation \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source on first use (sbt, offline),
runs the harness JVM, checks its answers (Comparator checks for the
exercises, the DuckDB oracle for catalog entries), and prints a report line
and, last, one JSON result line. `--trace 0` reports the end-to-end
metrics; `--trace 1` reruns the timed section under Spark listeners and
reports the per-layer metrics and the tracing overhead.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

import metrics

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
DATA = BENCH / "data" / "sf0.1"

# Seconds per pass at the seed commit on 4 cores: sizes the timed section.
# A pass calls every kind once; the section runs whole passes, at least
# enough for a tail percentile (11 calls), otherwise about `--seconds`.
WORKLOADS = {
    "exercises": {"kinds": 18, "pass_s": 7.0},
    "curation": {"kinds": 9, "pass_s": 12.5},
}
SETUP_REPS = 2
# A fixed heap and young generation: with G1's adaptive sizing the peak
# RSS of one workload varied by a fifth between runs; fixed, it moves with
# retained memory (old generation, native) only.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
JVM_TIMEOUT_S = 160

UNITS_E2E = {"setup_s": "s", "run_s": "s", "latency_p50_s": "s",
             "latency_tail_s": "s", "peak_rss_mb": "MB"}

# Spark 4 on JDK 17 needs these outside spark-submit; the root build.sbt
# passes the same list to the program's own forked runs.
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def passes_for(workload, seconds):
    w = WORKLOADS[workload]
    return max(math.ceil((metrics.TAIL_BEYOND + 1) / w["kinds"]),
               round(seconds / w["pass_s"]))


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def source_digest():
    files = [p for d in (ROOT / "src" / "main", BENCH / "src") for p in d.rglob("*")
             if p.is_file()]
    builds = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    return digest(files + builds)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the harness; returns the runtime classpath.
    Rebuilds only when a source file changed."""
    stamp = source_digest()
    cp_file = BUILD / "classpath.txt"
    if cp_file.exists():
        old, cp = cp_file.read_text().split("\n", 1)
        if old == stamp:
            return cp.strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=f, text=True,
            stdin=subprocess.DEVNULL, timeout=780)
        f.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if "scala-2.13" in ln and ":" in ln
             and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"build failed (log: {log})")
    cp = lines[-1].strip()
    cp_file.write_text(stamp + "\n" + cp)
    return cp


def java(cp, args, log, timeout):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *ADD_OPENS, *HEAP, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, *args]
    with open(log, "w") as f:
        try:
            return subprocess.run(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            return None


# ---- DuckDB oracle, canonicalised as tools/selfcheck.py does

def oracle_expected(checks):
    """The oracle's canonical answer per catalog kind, cached under the
    build directory by (oracle SQL, data) digest: the answers depend on
    nothing else, and some take DuckDB tens of seconds, so a checkout
    computes each once (several at a time)."""
    from concurrent.futures import ThreadPoolExecutor
    import duckdb
    import pandas as pd
    from selfcheck import canon

    cache = BUILD / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    data_digest = digest(list(DATA.glob("*.parquet")))

    def path(c):
        key = hashlib.sha256((c["oracle"] + data_digest).encode()).hexdigest()[:16]
        return cache / f"{c['kind']}-{key}.parquet"

    def compute(c):
        con = duckdb.connect()
        for p in sorted(DATA.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        canon(con.execute(c["oracle"]).df()).to_parquet(path(c))
        con.close()

    todo = [c for c in checks if c["oracle"] is not None and not path(c).exists()]
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(compute, todo))
    return {c["kind"]: pd.read_parquet(path(c)) if c["oracle"] is not None else None
            for c in checks}


def oracle_verdicts(checks):
    """{kind: None if the Spark rows equal the oracle's, else why not}."""
    import pandas as pd
    from selfcheck import canon

    expected = oracle_expected(checks)
    out = {}
    for c in checks:
        exp = expected[c["kind"]]
        if exp is None:
            out[c["kind"]] = "no oracle SQL"
            continue
        got = canon(pd.concat([pd.read_parquet(f)
                               for f in glob.glob(f"{c['parquet']}/*.parquet")]))
        if list(got.columns) != list(exp.columns):
            out[c["kind"]] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            out[c["kind"]] = f"rows {len(got)} != {len(exp)}"
        elif not got.equals(exp):
            out[c["kind"]] = "values differ"
        else:
            out[c["kind"]] = None
    return out


def stamp_extra():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                                capture_output=True, text=True, timeout=10)
        commit = commit.stdout.strip() if commit.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {"git_commit": commit, "source_sha256": source_digest()[:16]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT}/src/main/scala; run from a checkout")
    sys.path.insert(0, str(ROOT / "tools"))  # selfcheck: the oracle canonicalisation

    cp = build()

    run_dir = BUILD / f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    passes = passes_for(a.workload, a.seconds)
    code = java(cp, ["perfbench.Harness", a.workload, str(a.seed), str(passes),
                     str(a.trace), str(run_dir), str(DATA), str(SETUP_REPS)],
                run_dir / "jvm.log", JVM_TIMEOUT_S)
    raw_path = run_dir / "raw.json"
    if code != 0 or not raw_path.exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-3000:])
        fail(f"harness exited with {code} (log kept in {run_dir})")
    raw = json.loads(raw_path.read_text())

    # correctness: every reference must pass its check; every timed call
    # must reproduce its kind's reference
    if a.workload == "exercises":
        verdicts = {}
        for c in raw["checks"]:
            for k in c["kinds"]:
                if not c["ok"]:
                    verdicts[k] = c["check"] + " failed"
                verdicts.setdefault(k, None)
    else:
        verdicts = oracle_verdicts(raw["checks"])
    for r in raw["references"]:
        if r["error"] is not None:
            verdicts[r["kind"]] = r["error"]
    bad = {k for k, v in verdicts.items() if v is not None}
    bad |= {k for k in raw["kinds"] if k not in verdicts}
    calls = raw["calls"] + (raw["trace"]["calls"] if a.trace else [])
    failed = metrics.failed_calls(calls, bad)
    correct = failed == 0 and not bad

    e2e, tail = metrics.end_to_end(raw)
    report = {
        "workload": a.workload,
        "stamp": {**raw["stamp"], **stamp_extra()},
        "correct": correct, "attempted": len(calls), "failed": failed,
        "failed_frac": failed / len(calls),
        "checks": {k: (v or "ok") for k, v in sorted(verdicts.items())},
        "end_to_end": {k: {"value": v, "unit": UNITS_E2E[k]} for k, v in e2e.items()},
        "latency_tail": tail,
        "setup": raw["setup"],
        "calls": [[c["kind"], round(metrics.latency_s(c), 4)] for c in raw["calls"]],
    }
    if a.trace:
        layers = metrics.per_layer(raw)
        t = raw["trace"]
        report["per_layer"] = layers
        report["per_kind"] = metrics.per_kind(raw)
        report["tracing_overhead"] = {
            "traced_run_s": t["run_ns"] / 1e9, "untraced_run_s": t["untraced_run_ns"] / 1e9,
            "overhead_s": (t["run_ns"] - t["untraced_run_ns"]) / 1e9,
            "overhead_frac": t["run_ns"] / t["untraced_run_ns"] - 1}
        report["plan_fingerprints"] = {k: metrics.fingerprint(v)
                                       for k, v in sorted(t["plans"].items())}
        report["plans"] = {k: metrics.strip_plan(v) for k, v in sorted(t["plans"].items())}
        out = {k: {"value": layers[k], "unit": u} for k, u in metrics.LAYER_UNITS.items()}
    else:
        out = report["end_to_end"]

    stem = f"{a.workload}-trace{a.trace}-seed{a.seed}"
    (BUILD / f"report-{stem}.json").write_text(json.dumps(report, indent=1))
    if a.trace:  # the raw spans: jobs, stages and tasks of every call
        shutil.copy(raw_path, BUILD / f"spans-{stem}.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    summary = {k: v for k, v in report.items() if k != "plans"}
    print("perfbench report " + json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": len(calls), "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Sensitivity pair: one traced run per workload with the default settings
and one with SPARK_GRAFT_MATERIALIZE=cache (an existing knob; no source
change), recorded side by side in perfbench/results/sensitivity.json.

Usage (from the root of a checkout): python3 perfbench/sensitivity.py [seed]

Prediction, from the measurements behind the localCheckpoint default
(Materialize.scala): under `cache`, `compute.task_ms` on `curation` rises,
on the d12, d3, d4 and t12_zipf calls above all; `exercises` never
materializes, so its end-to-end metrics stay within their bounds.
"""
import json
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
NAMED = ["d12_delta_neardup", "d3_minhash_lsh", "d4_simhash", "t12_surprisal_zipf"]


def traced(workload, seed, mode):
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MATERIALIZE", None)
    if mode != "default":
        env["SPARK_GRAFT_MATERIALIZE"] = mode
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "22", "--trace", "1"],
                       cwd=ROOT, env=env, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload}/{mode} failed:\n{r.stderr[-2000:]}")
    line = next(ln for ln in r.stdout.splitlines() if ln.startswith("perfbench report "))
    rep = json.loads(line[len("perfbench report "):])
    return {
        "materialize_mode": rep["stamp"]["materialize_mode"],
        "correct": rep["correct"],
        "end_to_end": {k: v["value"] for k, v in rep["end_to_end"].items()},
        "compute.task_ms": rep["per_layer"]["compute.task_ms"],
        "materialize": {k: v for k, v in rep["per_layer"].items()
                        if k.startswith("materialize.")},
        "task_ms_per_kind": {k: v["task_ms"] for k, v in sorted(rep["per_kind"].items())},
        "tracing_overhead": rep["tracing_overhead"],
    }


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 101
    out = {"seed": seed, "named_entries": NAMED, "runs": {}}
    for workload in ["curation", "exercises"]:
        for mode in ["default", "cache"]:
            out["runs"][f"{workload}/{mode}"] = traced(workload, seed, mode)
    cur_d, cur_c = out["runs"]["curation/default"], out["runs"]["curation/cache"]
    out["curation_task_ms_ratio"] = cur_c["compute.task_ms"] / cur_d["compute.task_ms"]
    out["named_task_ms_ratio"] = {
        k: cur_c["task_ms_per_kind"][k] / cur_d["task_ms_per_kind"][k] for k in NAMED}
    ex_d, ex_c = out["runs"]["exercises/default"], out["runs"]["exercises/cache"]
    out["exercises_end_to_end_ratio"] = {
        k: ex_c["end_to_end"][k] / ex_d["end_to_end"][k] for k in ex_d["end_to_end"]}
    path = BENCH / "results" / "sensitivity.json"
    path.parent.mkdir(exist_ok=True)
    path.write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps({k: out[k] for k in ("curation_task_ms_ratio", "named_task_ms_ratio",
                                          "exercises_end_to_end_ratio")}, indent=1))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness proof and reference numbers for the benchmark.

Runs every workload of BENCHMARK.json once per seed (untraced), then one
traced run per workload, and writes a summary: per workload and
end-to-end metric the ten values, their median and the quartile spread
(statistics.quantiles(values, n=4): (Q3 - Q1) / median), and the
traced run's per-layer figures with the tracing overhead (traced minus
untraced end-to-end values, same seed). The traced runs' full results,
spans included, are written beside the summary.

Usage (from the repository root):
    python3 perfbench/proof.py --runs 10 --out perfbench/results
    python3 perfbench/proof.py --workload batch_curation   # redo one workload
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace, save):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--save", save]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed:\n{out.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "results"))
    ap.add_argument("--workload", help="run only this workload; keep the others' entries in the summary")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(a.out, exist_ok=True)
    scratch = os.path.join(ROOT, ".bench_build", "proof.json")
    summary = {"run_seconds": spec["run_seconds"], "workloads": {}}
    summary_file = os.path.join(a.out, "summary.json")
    if a.workload and os.path.isfile(summary_file):
        with open(summary_file) as f:
            summary["workloads"] = json.load(f)["workloads"]
    for w in [x["name"] for x in spec["workloads"] if a.workload in (None, x["name"])]:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            head, res = run(w, seed, spec["run_seconds"], 0, scratch)
            runs.append({"seed": seed, "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"], "figures": head["figures"], "env": head["env"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(w, seed, runs[-1]["metrics"], flush=True)
        stats = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            stats[m["name"]] = {"unit": m["unit"], "median": med, "q1": q[0], "q3": q[2],
                                "spread": (q[2] - q[0]) / med, "bound": m["bound"], "values": vals}
        traced_file = os.path.join(a.out, f"trace_{w}.json")
        head, res = run(w, a.first_seed, spec["run_seconds"], 1, traced_file)
        with open(traced_file) as f:
            traced = json.load(f)
        untraced = runs[0]["metrics"]
        summary["workloads"][w] = {
            "e2e": stats,
            "failed_share": sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs),
            "contended_runs": sum(r["env"]["contended"] for r in runs),
            "runs": runs,
            "traced": {"seed": a.first_seed, "correct": res["correct"], "figures": head["figures"],
                       "per_layer": {k: v["value"] for k, v in res["metrics"].items()},
                       "layers_file": os.path.basename(traced_file),
                       "tracing_overhead": {k: traced["e2e"][k] - untraced[k] for k in untraced}},
        }
        for k, s in stats.items():
            print(f"{w:15s} {k:18s} median {s['median']:.4f} spread {s['spread']:.4f} (bound {s['bound']})")
    with open(summary_file, "w") as f:
        json.dump(summary, f, indent=1)
    os.remove(scratch)


if __name__ == "__main__":
    main()

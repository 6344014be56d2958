#!/usr/bin/env python3
"""Run sets of benchmark runs and summarise them into a baseline.

    python3 perfbench/sets.py --set A --seeds 100-109
    python3 perfbench/sets.py --traced --seeds 7

Each untraced set runs every workload once per seed (`run.py --trace 0`)
and records, per end-to-end metric, the ten values, their median,
quartiles (`statistics.quantiles(n=4)`) and spread (Q3 - Q1 over the
median), with each run's steal seconds beside them. `--traced` runs each
workload once with `--trace 1` and records its per-layer split. Results
are merged into `perfbench/baseline.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASELINE = os.path.join(HERE, "baseline.json")

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def seeds(spec):
    if "-" in spec:
        lo, hi = map(int, spec.split("-"))
        return list(range(lo, hi + 1))
    return [int(s) for s in spec.split(",")]


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run failed")
    return json.loads(lines[-2]), json.loads(lines[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--set", help="name of an untraced set, e.g. A")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--seeds", required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    base = json.load(open(BASELINE)) if os.path.exists(BASELINE) else {}
    base["run_seconds"] = seconds
    for wl in WORKLOADS:
        entry = base.setdefault("workloads", {}).setdefault(wl, {})
        if a.traced:
            info, res = run(wl, seeds(a.seeds)[0], seconds, 1)
            entry["traced"] = {"seed": info["seed"], "steal_s": info["steal_s"],
                               "correct": res["correct"],
                               "per_layer": {k: v["value"] for k, v in
                                             res["metrics"].items()},
                               "named_layers": info["named_layers"]}
        else:
            runs = []
            for seed in seeds(a.seeds):
                info, res = run(wl, seed, seconds, 0)
                runs.append({"seed": seed, "steal_s": info["steal_s"],
                             "correct": res["correct"],
                             "attempted": res["attempted"],
                             "failed": res["failed"],
                             "metrics": {k: v["value"] for k, v in
                                         res["metrics"].items()}})
                print(wl, seed, json.dumps(runs[-1]["metrics"]), flush=True)
            names = runs[0]["metrics"].keys()
            entry.setdefault("sets", {})[a.set] = {
                "runs": runs,
                "summary": {k: summary([r["metrics"][k] for r in runs])
                            for k in names}}
            pooled = [r for s in entry["sets"].values() for r in s["runs"]]
            for k in names:
                entry[k] = summary([r["metrics"][k] for r in pooled])
        with open(BASELINE, "w") as f:
            json.dump(base, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()

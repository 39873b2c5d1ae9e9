"""Run sets of benchmark runs and write one JSON record per set.

    python3 perfbench/record.py --runs 10 --first-seed 1 --out perfbench/results/set1.json
    python3 perfbench/record.py --runs 1 --first-seed 1 --trace --out perfbench/results/trace.json

Each run is a separate ``run.py`` process with its own seed.  For every
end-to-end metric the record holds the values, their median and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, which
BENCHMARK.json's bounds are checked against.  ``--trace`` adds one
traced run per workload and the tracing overhead: the traced run's
fastest pass minus the set's median untraced fastest pass, in wall time
and in CPU time (``cpu_s``).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["elapsed_s"] = time.perf_counter() - t0
    # the run's full record: pass wall times are not in the result line
    pattern = os.path.join(BENCH_DIR, ".work", "records",
                           f"{workload}-seed{seed}-trace{trace}-*.json")
    with open(max(glob.glob(pattern), key=os.path.getmtime)) as fh:
        result["pass_wall_s"] = min(json.load(fh)["passes_s"])
    return result


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--trace", action="store_true")
    p.add_argument("--out", required=True)
    args = p.parse_args()

    names = [m["name"] for m in spec["end_to_end"]]
    record = {"run_seconds": spec["run_seconds"], "runs": args.runs,
              "first_seed": args.first_seed, "workloads": {}}
    for workload in args.workloads.split(","):
        results = [run_once(workload, args.first_seed + i, spec["run_seconds"], 0)
                   for i in range(args.runs)]
        entry = {
            "correct": all(r["correct"] for r in results),
            "op_fail_ratio": sum(r["failed"] for r in results)
            / sum(r["attempted"] for r in results),
            "elapsed_s": [round(r["elapsed_s"], 1) for r in results],
            "pass_wall_s": [r["pass_wall_s"] for r in results],
            "metrics": {},
        }
        for name in names:
            values = [r["metrics"][name]["value"] for r in results]
            entry["metrics"][name] = {"values": values, "median": statistics.median(values)}
            if len(values) >= 2:
                entry["metrics"][name]["spread"] = spread(values)
        if args.trace:
            traced = run_once(workload, args.first_seed, spec["run_seconds"], 1)
            layers = {k: v["value"] for k, v in traced["metrics"].items()}
            entry["trace"] = {
                "seed": args.first_seed,
                "layers": layers,
                "overhead_wall_s":
                    layers["trace.wall_s"] - statistics.median(entry["pass_wall_s"]),
                "overhead_cpu_s": layers["trace.cpu_s"] - entry["metrics"]["cpu_s"]["median"],
            }
        record["workloads"][workload] = entry
        print(workload, json.dumps({k: (round(v["median"], 4), round(v.get("spread", 0), 4))
                                    for k, v in entry["metrics"].items()}), flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

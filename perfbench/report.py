"""Runs every workload of BENCHMARK.json, untraced then traced, and prints
each metric by name with its unit plus the tracing overhead. Exits 1 when
any repetition's output check failed. Each run lasts BENCHMARK.json's
``run_seconds``.

    python3 perfbench/report.py --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, check=False, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    ok = True
    for wl in bench["workloads"]:
        name = wl["name"]
        plain, traced = (run(name, args.seed, bench["run_seconds"], t) for t in (0, 1))
        for label, res in (("untraced", plain), ("traced", traced)):
            print(f"{name} {label}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}")
            for metric, m in res["metrics"].items():
                print(f"  {metric} = {m['value']:.6g} {m['unit']}")
            ok &= res["correct"]
        if "job_s" in plain["metrics"] and "trace.job_s" in traced["metrics"]:
            overhead = (traced["metrics"]["trace.job_s"]["value"]
                        - plain["metrics"]["job_s"]["value"])
            print(f"  tracing overhead = {overhead:.6g} s (traced job_s - job_s)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

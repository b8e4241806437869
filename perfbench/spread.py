#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance check
computes it: for each workload, run the benchmark once per seed, then give
each metric's median and its interquartile range as a share of the median
(`statistics.quantiles(values, n=4)`).

Usage (from the repository root):

    python3 perfbench/spread.py --runs 10 --first-seed 100
    python3 perfbench/spread.py --runs 5 --workload iq_reads

Each run's result line is appended to `<build dir>/spread.jsonl`.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", choices=WORKLOADS, action="append")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    log = os.path.join(build_dir, "spread.jsonl")
    ok = True
    for w in args.workload or [w["name"] for w in bench["workloads"]]:
        values = {}
        for i in range(args.runs):
            seed = args.first_seed + i
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], stdout=subprocess.PIPE, text=True)
            lines = [l for l in p.stdout.splitlines() if l.strip()]
            res = json.loads(lines[-1]) if lines else {}
            os.makedirs(build_dir, exist_ok=True)
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "code": p.returncode,
                                     "result": res}) + "\n")
            if p.returncode != 0 or not res.get("correct"):
                print(f"{w} seed {seed}: failed (exit {p.returncode})")
                ok = False
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med
            flag = "" if k == "setup_s" or share <= bounds[k] / 3 else \
                "  above a third of the bound" if share <= bounds[k] else "  ABOVE THE BOUND"
            print(f"{w:13s} {k:17s} median {med:12.4f}  iqr/median {share:.4f}"
                  f"  bound {bounds[k]}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run the benchmark over several seeds and print each end-to-end
metric's median and spread (interquartile range as a share of the
median, from ``statistics.quantiles(values, n=4)``), next to its bound.

    python3 perfbench/spread.py --workload crawl_kg --seeds 1-10

Run from the root of a source checkout. Every run's result line is
appended to ``.perfbench_run/spread.jsonl``, with the set-up and pass
records (wall, CPU, steal) of the run's report.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    log_path = os.path.join(ROOT, ".perfbench_run", "spread.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds_of(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        walls.append(time.perf_counter() - t0)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
        report = {}
        if result:
            with open(os.path.join(ROOT, json.loads(lines[-2])["report"])) as fh:
                report = json.load(fh)
        with open(log_path, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": walls[-1],
                                 "rc": p.returncode, "result": result,
                                 "setup": report.get("setup"),
                                 "passes": report.get("passes")}) + "\n")
        got = {k: round(v["value"], 3) for k, v in result.get("metrics", {}).items()}
        print(f"seed {seed}: rc={p.returncode} wall={walls[-1]:.1f}s "
              f"correct={result.get('correct')} {got}", flush=True)
        for k, v in result.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{args.workload} {name:20s} median {med:10.3f}  spread {spread:.3f}  "
              f"bound {bounds.get(name)}")
    print(f"{args.workload} run wall: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s, total {sum(walls):.0f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())

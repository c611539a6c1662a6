"""Run the benchmark over several seeds and report each metric's median
and spread (interquartile range as a share of the median).

    python3 perfbench/spread.py --workload analytics --seeds 1-10 [--trace 1] [--seconds 10]

Run from the repository root. Each run's last stdout line is appended to
``.bench_work/spread/<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    secs = args.seconds or str(bench["run_seconds"])
    out_dir = os.path.join(".bench_work", "spread")
    os.makedirs(out_dir, exist_ok=True)
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", secs, "--trace", args.trace]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = p.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        with open(os.path.join(out_dir, f"{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": seed, "trace": args.trace, **last,
                                **json.loads(lines[-2])}) + "\n")
        runs.append(last)
        print(f"seed {seed}: correct={last['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()
                         if args.trace == "0"), flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for name in runs[0]["metrics"]:
        med, sp = spread([r["metrics"][name]["value"] for r in runs])
        bound = bounds.get(name)
        flag = "" if bound is None else ("  ok" if sp < bound / 3 else "  WIDE")
        print(f"{name:34s} median={med:<12.5g} spread={sp:.4f}"
              + ("" if bound is None else f" bound={bound}") + flag)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run-to-run spread of the benchmark: runs one workload once per seed and
prints, for each metric, the median and the distance between the first
and third quartile as a share of the median (the regression bounds in
BENCHMARK.json are checked against this).

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--trace 0|1]

Run from the repository root.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    first, last = (int(x) for x in args.seeds.split("-"))
    values = {}
    for seed in range(first, last + 1):
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(args.trace)], capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{r.stdout[-2000:]}\n{r.stderr[-2000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()
                                           if k in ("iter_s_p50", "setup_s")), flush=True)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(k)
        note = "" if b is None else f"  bound {b}  {'ok' if spread < b / 3 else 'WIDE'}"
        print(f"{k:40s} median {med:12.5g}  spread {spread:7.3f}{note}")


if __name__ == "__main__":
    main()

"""Steadiness check: run one workload K times on the same code and
report, per end-to-end metric, the median, the quartiles and whether
the spread (IQR over median) is inside that metric's bound.

    python3 lakeperf/steady.py --workload po_nightly --runs 10 --seed0 1

Each run gets its own seed (seed0, seed0+1, ...), as a regression check
does. Run from the root of a checkout. Prints one line per metric and a
JSON summary as the last line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    failed = 0
    for k in range(args.runs):
        seed = args.seed0 + k
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        context = json.loads(lines[-2])["context"]
        probe = context["host_probe"]
        failed += result["failed"]
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} probe_loop_s={probe['python_loop_s']:.4f} "
              f"probe_spark_s={probe['spark_agg_s']:.4f} " + " ".join(
                  f"{n}={m['value']:.5g}" for n, m in result["metrics"].items()), flush=True)
        for err in context["errors"]:
            print(f"  {err}", flush=True)
        for name in values:
            values[name].append(result["metrics"][name]["value"])
    summary = {}
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        summary[m["name"]] = {
            "median": med, "q1": q1, "q3": q3, "spread": spread, "bound": m["bound"],
            "within_bound": spread <= m["bound"], "within_third": spread <= m["bound"] / 3,
        }
        print(f"{m['name']:28s} median={med:.5g} q1={q1:.5g} q3={q3:.5g} "
              f"spread={spread:.4f} bound={m['bound']} "
              f"{'ok' if spread <= m['bound'] else 'OUTSIDE'}"
              f"{'' if spread <= m['bound'] / 3 else ' (above a third of the bound)'}")
    print(json.dumps({"workload": args.workload, "runs": args.runs, "failed_ops": failed, "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

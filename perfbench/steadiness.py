"""Run the benchmark once per seed and report how much each end-to-end
metric spreads across the runs.

    python3 perfbench/steadiness.py --workload dedup --seeds 1-10 \
        --out perfbench/results/dedup.json

The spread of a metric is the distance between the first and third
quartile of its values (``statistics.quantiles(values, n=4)``) as a
share of their median; a metric is steady when that stays within its
``bound`` in BENCHMARK.json.  Runs are made one after another, never in
parallel, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, hi = (int(x) for x in text.split("-"))
    return list(range(lo, hi + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="an inclusive range, e.g. 1-10")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, *bench["command"][1:], "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(p.stderr[-2000:], file=sys.stderr)
            return 1
        run = {"seed": seed, "run_s": time.perf_counter() - t0,
               "result": json.loads(lines[-1]),
               "summary": json.loads(lines[-2][2:])}
        runs.append(run)
        vals = {k: round(v["value"], 3) for k, v in run["result"]["metrics"].items()}
        steal = [round(x, 3) for x in run["summary"]["steal_frac"]]
        print(seed, f"{run['run_s']:.1f}s", run["result"]["correct"], vals,
              "pass steal", steal, flush=True)

    report = {}
    for name, bound in bounds.items():
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        report[name] = {"median": statistics.median(values),
                        "spread": spread(values), "bound": bound}
        print(f"{name}: median {report[name]['median']:.3f} "
              f"spread {report[name]['spread']:.3f} (bound {bound})")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump({"workload": args.workload, "runs": runs, "spread": report},
                  fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

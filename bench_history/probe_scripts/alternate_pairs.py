"""Run perfbench on two checkouts in alternating pairs and keep every result.

    python bench_history/probe_scripts/alternate_pairs.py PARENT_DIR CHANGE_DIR \
        --workload pandance_joins --seeds 101-110 --out pairs.json [--trace]

Each seed is one pair: odd seeds run the parent first, even seeds the
change first.  Every run is ``python3 perfbench/run.py --workload W
--seed S --seconds 6 --trace T`` from the checkout's root; the output
keeps its command, exit code, the ``# `` summary line and the final
JSON line.  The file is rewritten after every pair.

    python bench_history/probe_scripts/alternate_pairs.py --summarize pairs.json ...

prints, per file and end-to-end metric, both medians, the parent's
quartile spread, the change's wins and any failed or incorrect run.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time


def run(cwd, workload, seed, trace):
    cmd = ["python3", "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "6", "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    out = {
        "command": cmd,
        "returncode": p.returncode,
        "elapsed_s": round(time.time() - t0, 1),
        "summary": json.loads(lines[-2][2:]) if len(lines) > 1 and lines[-2].startswith("# ") else None,
        "result": json.loads(lines[-1]) if lines else None,
    }
    if p.returncode:
        out["stderr_tail"] = p.stderr[-2000:]
    return out


def summarize(path):
    with open(path) as fh:
        pairs = json.load(fh)["pairs"]
    out = {"file": path, "pairs": len(pairs)}
    for metric in ("wall_s", "setup_s", "peak_rss_mb"):
        par = [p["parent"]["result"]["metrics"][metric]["value"] for p in pairs]
        chg = [p["change"]["result"]["metrics"][metric]["value"] for p in pairs]
        q1, _, q3 = statistics.quantiles(par, n=4)
        out[metric] = {
            "parent_median": round(statistics.median(par), 4),
            "change_median": round(statistics.median(chg), 4),
            "parent_iqr": round(q3 - q1, 4),
            "change_wins": sum(c < p for p, c in zip(par, chg)),
        }
    out["failed_or_incorrect"] = [
        (p["seed"], s) for p in pairs for s in ("parent", "change")
        if p[s]["result"]["failed"] or not p[s]["result"]["correct"]
    ]
    return out


def main():
    if sys.argv[1:2] == ["--summarize"]:
        print(json.dumps([summarize(f) for f in sys.argv[2:]], indent=1))
        return
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="an inclusive range, e.g. 101-110")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    dirs = {"parent": args.parent, "change": args.change}
    res = {"workload": args.workload, "trace": int(args.trace), "pairs": []}
    for seed in range(lo, hi + 1):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        pair = {"seed": seed, "order": order}
        for side in order:
            pair[side] = run(dirs[side], args.workload, seed, int(args.trace))
        res["pairs"].append(pair)
        with open(args.out, "w") as fh:
            json.dump(res, fh, indent=1)
        print(seed, {s: pair[s]["returncode"] for s in order}, flush=True)


if __name__ == "__main__":
    main()

"""Phase-timed per-query breakdown (guide §1: measure first).

For each query: time (a) Python DataFrame BUILD (py4j expression-tree
construction + analysis), (b) OPTIMIZE (optimizedPlan force), and
(c) EXECUTE (noop write).  Repeats REPS times, reports medians.

Usage: SPARK_GRAFT_BENCH_ONLY=a,b,c python scripts/phase_time_r11.py
       (no env = every queries() entry)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import release_blocks, session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_REPS", "3"))


def main() -> None:
    spark = session("phase_time_r11")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    names = (
        [s.strip() for s in only.split(",") if s.strip()]
        if only
        else list(qs)
    )

    warm_dir = SF_DIR.replace("sf0.1", "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = SF_DIR

    out = {}
    for name in names:
        if name not in qs:
            continue
        try:
            qs[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
        release_blocks(spark)
        builds, opts, execs = [], [], []
        try:
            for _ in range(REPS):
                t0 = time.time()
                df = qs[name](spark, SF_DIR)
                t1 = time.time()
                df._jdf.queryExecution().optimizedPlan()
                t2 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.time()
                builds.append(t1 - t0)
                opts.append(t2 - t1)
                execs.append(t3 - t2)
        except Exception as e:
            out[name] = {"err": repr(e)[:200]}
            continue
        out[name] = {
            "build": round(statistics.median(builds), 3),
            "optimize": round(statistics.median(opts), 3),
            "exec": round(statistics.median(execs), 3),
            "total": round(
                statistics.median(builds)
                + statistics.median(opts)
                + statistics.median(execs),
                3,
            ),
        }
        print(json.dumps({name: out[name]}), flush=True)

    path = os.environ.get(
        "SPARK_GRAFT_PHASE_OUT", "/tmp/phase_time_r11.json"
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()

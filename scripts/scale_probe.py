"""Standing parameterized scaling probe (VERDICT r9 item 5: one script
instead of a new one-shot per round).

Runs each named ``queries()`` entry at each sf dir, best-of-REPS wall
plus output row count, and prints wall ratio vs rows-out ratio per
decade step — the honest grade for joins whose OUTPUT grows with
scale: wall tracking rows_out is linear-in-work; wall outrunning BOTH
input and output growth is the super-linear smell the probe exists to
catch.

Usage:
  python scripts/scale_probe.py --queries q1,q2 \\
      [--sfs /root/testdata/sf0.01,/root/testdata/sf0.1] \\
      [--reps 2] [--json OUT.json] [--max-ratio R]

``--max-ratio R`` exits 1 when any per-step wall ratio exceeds
R x max(input ratio, rows-out ratio) — wire it into a gate; without it
the probe only reports.  A dir named ``@sf1`` is materialized on the
fly via scripts/make_scaled_fixture.py (10x sf0.1, /tmp cache), so
``--queries record_linkage --sfs /root/testdata/sf0.1,@sf1`` measures
the edit-distance linkage's second decade on scaled customer names.
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SFS = "/root/testdata/sf0.01,/root/testdata/sf0.1"
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/pandance_sf1")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sfs", default=DEFAULT_SFS)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--json", default=None)
    ap.add_argument("--max-ratio", type=float, default=None)
    args = ap.parse_args()

    import __spark_entry__ as e
    from harness import duck_views, session

    spark = session("scale_probe")

    sfs = []
    for s in args.sfs.split(","):
        s = s.strip()
        if s == "@sf1":
            from make_scaled_fixture import make_scaled_fixture

            s = make_scaled_fixture(spark, SF1_DIR)
        sfs.append(s)

    def n_input_rows(sf):
        # documents+events proxy for input volume (the tables every
        # probe-class query scans)
        con = duck_views(sf)
        return sum(
            con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in ("documents", "events")
            if os.path.exists(os.path.join(sf, f"{t}.parquet"))
        )

    inputs = {sf: n_input_rows(sf) for sf in sfs}
    qs = e.queries()
    names = [q.strip() for q in args.queries.split(",") if q.strip()]
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    results = {}
    violations = []
    for name in names:
        row = {}
        for sf in sfs:
            best, rows_out = None, None
            for _ in range(max(1, args.reps)):
                t0 = time.time()
                df = qs[name](spark, sf)
                # count() instead of a noop write: the probe needs
                # rows_out anyway and count's agg-only consumption is
                # the same full evaluation for these query shapes
                rows_out = df.count()
                w = time.time() - t0
                best = w if best is None else min(best, w)
            row[sf] = {"wall": round(best, 3), "rows_out": rows_out}
        results[name] = row
        line = f"{name:22s}"
        prev = None
        for sf in sfs:
            r = row[sf]
            tag = os.path.basename(sf.rstrip("/"))
            line += f"  {tag}: {r['wall']:7.2f}s /{r['rows_out']:>9}r"
            if prev is not None:
                wall_r = r["wall"] / max(prev["wall"], 1e-9)
                in_r = inputs[sf] / max(inputs[prev_sf], 1)
                out_r = r["rows_out"] / max(prev["rows_out"], 1)
                line += f" [x{wall_r:.1f} wall, x{in_r:.0f} in, x{out_r:.1f} out]"
                if args.max_ratio is not None and wall_r > args.max_ratio * max(
                    in_r, out_r
                ):
                    violations.append((name, sf, wall_r, in_r, out_r))
            prev, prev_sf = r, sf
        print(line, flush=True)

    if args.json:
        with open(args.json, "w") as f:
            json.dump({"inputs": inputs, "queries": results}, f, indent=2)
            f.write("\n")
        print(f"wrote {args.json}")
    if violations:
        for v in violations:
            print(f"SUPER-LINEAR: {v}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()

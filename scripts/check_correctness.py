"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares against
``oracle_sql()`` via DuckDB: row count, column-name set, and an
order-insensitive value hash (columns sorted by name, rows sorted,
values canonicalized).  Exit code 1 if anything mismatches.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import duck_views, session, value_hash  # noqa: E402


def main():
    # --json PATH writes a CORRECTNESS_r{N}.json-shaped artifact so the
    # entries beyond the driver's 50-query window still have committed,
    # regenerable correctness evidence
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("usage: check_correctness.py [--json PATH] [sf_dir] [query ...]")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    spark = session("correctness_check")
    con = duck_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(name)
            err = f"spark error: {type(e).__name__}: {str(e)[:200]}"
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": err,
            }
            print(f"FAIL  {name}: {err}")
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            results[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(rows),
                "oracle_rows": None, "err": None,
            }
            print(f"rows-only  {name}: {len(rows)} rows ({spark_s:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            err = f"duckdb error: {str(e)[:200]}"
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(rows),
                "oracle_rows": None, "err": err,
            }
            print(f"FAIL  {name}: {err}")
            continue
        rows_match = len(rows) == len(orows)
        schema_match = sorted(cols) == sorted(ocols)
        hash_match = schema_match and value_hash(cols, rows) == value_hash(
            ocols, orows
        )
        results[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": len(rows),
            "oracle_rows": len(orows), "err": None,
        }
        problems = []
        if not rows_match:
            problems.append(f"rows {len(rows)} != {len(orows)}")
        if not schema_match:
            problems.append(f"cols {sorted(cols)} != {sorted(ocols)}")
        elif not hash_match:
            problems.append("value hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(rows)} rows ({spark_s:.1f}s)")

    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {json_out} ({len(results)} entries)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match the oracle")


if __name__ == "__main__":
    main()

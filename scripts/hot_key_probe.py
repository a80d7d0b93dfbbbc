"""Adversarial HOT-KEY scale probe for the r12 re-guarded
join->aggregation dedup paths (VERDICT r11 item 9): a boilerplate-heavy
synthetic corpus where ONE shingle/fingerprint key occurs in EVERY
document, demonstrating with numbers (not prose) that

- the CAPPED paths drop the hot key for a per-decade cost that tracks
  input size (the count pre-pass + anti-join guard: no collected row
  ever exceeds min(cap, _HOT_GROUP_CAP) entries, so wall must scale
  with corpus size, never with hot-key frequency^2);
- the UNCAPPED paths route the hot key through the AQE-splittable
  self-join branch and their wall tracks the f^2/2 PAIR OUTPUT (the
  work is inherent: every pair is in the result), spread across
  reducers instead of materializing on one aggregation row.

Usage:
  python scripts/hot_key_probe.py [--docs 2000,8000] [--reps 2]
      [--json OUT.json]

Each doc = unique filler tokens + the SAME boilerplate span, so the
boilerplate shingle key's frequency f == n_docs.  Capped runs use
cap=64 << f; uncapped runs report pairs-out so wall/pairs ratios are
comparable across decades.
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default="2000,8000")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from harness import session
    from pandance_spark.operators.dedup import (
        dedup_substrings,
        fingerprint_overlap_join,
    )

    spark = session("hot_key_probe")

    def corpus(n_docs: int):
        # unique filler (doc-id-salted tokens) + one shared boilerplate
        # sentence long enough to yield full 8-token shingles and full
        # char-8-gram fingerprint runs; deterministic, no rand()
        boiler = "the quick brown fox jumps over the lazy dog again and again"
        uniq = F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"u{j}x"), (F.col("id") * (j + 7)).cast("string"))
                for j in range(8)
            ],
        )
        return (
            spark.range(n_docs)
            .select(
                F.col("id").alias("doc_id"),
                F.concat(uniq, F.lit(" " + boiler + " "), uniq).alias("text"),
            )
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )

    def timed(fn):
        best, rows = None, None
        for _ in range(args.reps):
            t0 = time.time()
            rows = fn().count()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return best, rows

    results = {}
    for n_docs in [int(x) for x in args.docs.split(",")]:
        df = corpus(n_docs)
        df.count()
        row = {}
        row["substr_capped"] = timed(
            lambda: dedup_substrings(
                df, "doc_id", "text", min_tokens=8, max_occurrences=64
            )
        )
        row["fp_capped"] = timed(
            lambda: fingerprint_overlap_join(
                df, "doc_id", "text", k=8, mod=16, min_shared=2, max_df=64
            )
        )
        # uncapped only at the smaller sizes: output is f^2/2 pairs by
        # construction — the probe grades wall-vs-pairs, so a decade of
        # docs means ~100x pairs and the wall may legitimately follow
        row["substr_uncapped"] = timed(
            lambda: dedup_substrings(df, "doc_id", "text", min_tokens=8)
        )
        results[n_docs] = row
        for k, (w, r) in row.items():
            print(f"docs={n_docs} {k}: wall {w:.2f}s rows_out {r}", flush=True)

    sizes = sorted(results)
    for a, b in zip(sizes, sizes[1:]):
        print(f"\n== decade {a} -> {b} (input x{b/a:.1f})")
        for k in results[a]:
            wa, ra = results[a][k]
            wb, rb = results[b][k]
            rr = (rb / ra) if ra else float("inf")
            print(
                f"  {k}: wall x{wb/wa:.2f}  rows_out x{rr:.2f}"
                f"  (wall/input {wb/wa/(b/a):.2f})",
                flush=True,
            )
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(
                {str(k): {q: list(v) for q, v in row.items()} for k, row in results.items()},
                fh,
                indent=1,
            )


if __name__ == "__main__":
    main()

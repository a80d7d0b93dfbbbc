"""Capture .explain("formatted") output for declared queries into
plans/<round>/<query>_<tag>.txt — before/after evidence files for a
change to the plans.

Usage: python scripts/capture_plans.py <round> <tag> [query ...]
       (no query args = the default heavy-hitter list)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = [
    "record_linkage",
    "minhash_eval",
    "minhash_eval_sampled",
    "kmeans_assign",
    "char_entropy",
    "embed_pc1",
    "semdedup_prune",
    "winnow_long_grams",
    "winnow_fingerprints",
    "decontam_composed",
    "dedup_ngram_jaccard",
    "dedup_substrings",
    "rollup_qsketch",
    "dsir_select",
    "ineq_band_autoskew",
    "dedup_clusters",
    "ppl_buckets_kn",
    "semantic_dedup",
    "cms_heavy",
    "containment_quotes",
    "ineq_lt_balances",
    "rollup_bottomk",
    "keep_best",
    "keywords_tfidf",
    "ngram_novelty",
    "graph_summary",
    "simhash_eval",
]


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    round_, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT

    spark = session(f"capture_plans_{round_}")

    import __spark_entry__ as entrymod
    from pandance_spark.plans.mem import explain_str

    qs = entrymod.queries()
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        round_,
    )
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        if name not in qs:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        try:
            df = qs[name](spark, SF_DIR)
            plan = explain_str(df, "formatted")
        except Exception as e:  # capture the failure as evidence too
            plan = f"ERROR building plan: {e!r}"
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan.strip() + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()

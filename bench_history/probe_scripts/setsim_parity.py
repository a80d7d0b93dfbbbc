"""Row-for-row output hashes of the set-similarity operators, or of any
registered queries.

    python bench_history/probe_scripts/setsim_parity.py CHECKOUT_DIR SF_DIR OUT.json [QUERY ...]

Imports ``pandance_spark`` and ``__spark_entry__`` from CHECKOUT_DIR, runs
each operator (or each named ``queries()`` entry instead, when QUERY
names are given) on SF_DIR at local[3], and writes, per operator, the row
count and the order-insensitive value hash of ``scripts/check_correctness.py``
(columns sorted by name, rows sorted, values canonicalized), the jobs run
while the DataFrame is built, and node counts of the executed (final AQE)
plan.  Run it on two checkouts and compare the files with
``--compare A.json B.json``.
"""

import json
import os
import re
import sys
import tempfile
import time


def registered(name):
    return lambda spark, sf, entry: entry.queries()[name](spark, sf)


def minhash_eval_direct(portable):
    def build(spark, sf, entry):
        from pandance_spark.operators.dedup import minhash_eval

        docs = entry.load_table(spark, sf, "documents").select("doc_id", "text")
        return minhash_eval(docs, "doc_id", "text", threshold=0.5, portable=portable)

    return build


CASES = {
    "ngram_jaccard_join": registered("dedup_ngram_jaccard"),
    "jaccard_topk": registered("jaccard_topk"),
    "overlap_set_join": registered("overlap_set"),
    "containment_join": registered("containment_quotes"),
    "edit_distance_join": registered("edit_distance"),
    "record_linkage": registered("record_linkage"),
    "dedup_minhash": registered("dedup_minhash"),
    "dedup_against_index": registered("dedup_incremental"),
    "minhash_eval_portable": registered("minhash_eval"),
    "minhash_eval_sampled_portable": registered("minhash_eval_sampled"),
    "minhash_eval_xxhash": minhash_eval_direct(False),
    "simhash_eval": registered("simhash_eval"),
}


PLAN_NODES = ("Exchange", "ExistingRDD", "Window", "SortMergeJoin", "BroadcastHashJoin")


def plan_nodes(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {n: len(re.findall(r"\b%s\b" % n, plan)) for n in PLAN_NODES}


def compare(a_path, b_path):
    a, b = (json.load(open(p))["ops"] for p in (a_path, b_path))
    same = {k: a[k]["rows"] == b[k]["rows"] and a[k]["hash"] == b[k]["hash"] for k in a}
    shape = {
        k: {f: [a[k][f], b[k][f]] for f in ("build_jobs", "plan_nodes") if a[k][f] != b[k][f]}
        for k in a
    }
    print(json.dumps({
        "identical": all(same.values()),
        "per_op": same,
        "shape_differences": {k: v for k, v in shape.items() if v},
    }, indent=1))
    return all(same.values())


def main():
    if sys.argv[1] == "--compare":
        sys.exit(0 if compare(sys.argv[2], sys.argv[3]) else 1)
    checkout, sf, out = sys.argv[1:4]
    cases = {n: registered(n) for n in sys.argv[4:]} or CASES
    sys.path.insert(0, os.path.abspath(checkout))
    sys.path.insert(1, os.path.join(os.path.abspath(checkout), "scripts"))
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from check_correctness import value_hash

    spark = (
        SparkSession.builder.master("local[3]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="parity-wh-"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ops = {}
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    for name, build in cases.items():
        t0 = time.time()
        jobs0 = scheduler.numTotalJobs()
        df = build(spark, sf, entry)
        build_jobs = scheduler.numTotalJobs() - jobs0
        rows = [tuple(r) for r in df.collect()]
        ops[name] = {
            "rows": len(rows),
            "hash": value_hash(df.columns, rows),
            "build_jobs": build_jobs,
            "plan_nodes": plan_nodes(df),
            "seconds": round(time.time() - t0, 2),
        }
        print(name, ops[name], flush=True)
    with open(out, "w") as fh:
        json.dump({"sf": os.path.basename(sf.rstrip("/")), "ops": ops}, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()

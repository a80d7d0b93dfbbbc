"""Window rank vs sorted-array prefix for edit_distance_join's gram order.

    python bench_history/probe_scripts/edit_distance_order.py SF_DIR > OUT.json

Run from the repository root.  Builds a variant of ``edit_distance_join``
whose rarest-first prefix comes from one ``sort_array(collect_list(...))``
per string sliced to the prefix length (the form the other set-similarity
joins share) instead of the ``row_number()`` window, checks that both give
the same rows on the registered ``edit_distance`` query (customer names,
max_dist 1), then times 5 alternating noop-sink runs of each at local[3].
"""

import inspect
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))

import pandance_spark.operators.dedup as dedup  # noqa: E402

_SORTED_PREFIX = '''    ranked = (
        grams.join(freq, "__g")
        .groupBy("__id")
        .agg(
            F.first("__len").alias("__len"),
            F.first("__s").alias("__s"),
            F.sort_array(F.collect_list(F.struct("__df", "__g", "__p"))).alias("__arr"),
        )
    )
    prefix = (
        ranked.filter(F.col("__len") - q + 1 > q * max_dist)
        .select("__id", "__len", "__s", F.explode(F.slice("__arr", 1, prefix_len)).alias("__x"))
        .select("__id", "__len", "__s", F.col("__x.__g").alias("__g"), F.col("__x.__p").alias("__p"))
        .localCheckpoint(eager=True)
    )
'''


def sorted_array_variant():
    src = inspect.getsource(dedup.edit_distance_join)
    a = src.index('    ranked = grams.join(freq, "__g").withColumn(')
    b = src.index("    # AQE sizes the window exchange above by BYTES")
    src = src[:a] + _SORTED_PREFIX + src[b:]
    ns = dict(vars(dedup))
    exec(src.replace("def edit_distance_join(", "def variant("), ns)
    return ns["variant"]


def main():
    from pyspark.sql import SparkSession

    from check_correctness import value_hash
    from pandance_spark.sources import load_table

    spark = (
        SparkSession.builder.master("local[3]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = sys.argv[1]
    cust = load_table(spark, sf, "customer")
    impls = {"window": dedup.edit_distance_join, "sorted_array": sorted_array_variant()}
    out = {"sf": os.path.basename(sf.rstrip("/")), "hash": {}, "runs": {k: [] for k in impls}}
    for k, f in impls.items():
        df = f(cust, "c_custkey", "c_name", max_dist=1)
        rows = [tuple(r) for r in df.collect()]
        out["hash"][k] = [len(rows), value_hash(df.columns, rows)]
    for rep in range(5):
        for k in list(impls) if rep % 2 == 0 else list(impls)[::-1]:
            t0 = time.time()
            df = impls[k](cust, "c_custkey", "c_name", max_dist=1)
            df.write.format("noop").mode("overwrite").save()
            out["runs"][k].append(round(time.time() - t0, 3))
    out["median_s"] = {k: statistics.median(v) for k, v in out["runs"].items()}
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

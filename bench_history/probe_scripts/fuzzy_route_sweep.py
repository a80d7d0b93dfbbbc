"""Build jobs and wall time of ``fuzzy_join(strategy="band")`` over input
shapes a min/max short-circuit would or would not catch.

    PYTHONPATH=<checkout> python bench_history/probe_scripts/fuzzy_route_sweep.py > out.json

Three shapes, each at 30,000 and 300,000 left rows, tol 0.6, on cached
``(id long, val double)`` frames in a local[3] session:

- ``disjoint``: left ``val = id``, right ``val = 10^7 + id`` (n rows);
  no pair matches;
- ``all_within_tol``: left ``val = (id % 1000) * 10^-4``, right the same
  on 100 rows; every pair matches (100 n output rows);
- ``overlapping``: left ``val = id``, right ``val = id + 0.5`` (n rows);
  each left row matches two right rows.

Each call is built and run once to warm up, then 5 times measured.  A
run is the build (driver-side DataFrame construction, with the Spark
jobs it starts) plus a noop-sink write.  The JSON reports the build
jobs of the last build, the median build, exec and total seconds, every
total, and the output row count.
"""

import json
import os
import statistics
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[3]")
    .config("spark.sql.shuffle.partitions", "6")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from pandance_spark import fuzzy_join  # noqa: E402

TOL = 0.6
scheduler = spark.sparkContext._jsc.sc().dagScheduler()


def cached(n, val):
    df = spark.range(n).select("id", val.alias("val")).repartition(3).cache()
    df.count()
    return df


def shapes(n):
    ident = F.col("id").cast("double")
    yield "disjoint", cached(n, ident), cached(n, ident + 1e7)
    tiny = (F.col("id") % 1000).cast("double") * 1e-4
    yield "all_within_tol", cached(n, tiny), cached(100, tiny)
    yield "overlapping", cached(n, ident), cached(n, ident + 0.5)


def measure(shape, n, left, right, reps=5):
    def run():
        j0 = scheduler.numTotalJobs()
        t0 = time.perf_counter()
        df = fuzzy_join(left, right, on="val", tol=TOL, strategy="band")
        t1 = time.perf_counter()
        jobs = scheduler.numTotalJobs() - j0
        df.write.format("noop").mode("overwrite").save()
        return df, jobs, t1 - t0, time.perf_counter() - t1

    run()
    runs = [run() for _ in range(reps)]
    df, jobs = runs[-1][0], runs[-1][1]
    return {
        "shape": shape,
        "left_rows": n,
        "build_jobs": jobs,
        "build_s_median": round(statistics.median(r[2] for r in runs), 4),
        "exec_s_median": round(statistics.median(r[3] for r in runs), 4),
        "total_s_median": round(statistics.median(r[2] + r[3] for r in runs), 4),
        "total_s_all": [round(r[2] + r[3], 4) for r in runs],
        "out_rows": df.count(),
    }


results = []
for n in (30_000, 300_000):
    for shape, left, right in shapes(n):
        results.append(measure(shape, n, left, right))
        left.unpersist()
        right.unpersist()
print(json.dumps({
    "pyspark": __import__("pyspark").__version__,
    "host_cores": os.cpu_count(),
    "tol": TOL,
    "results": results,
}, indent=1))
spark.stop()

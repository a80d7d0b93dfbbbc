"""Driver-side cost of building band-join DataFrames: py4j commands,
Spark jobs and wall time of the build alone (no sink).

    PYTHONPATH=<checkout> python bench_history/probe_scripts/band_build_calls.py > out.json

Runs ``overlap_join(strategy="band")`` and ``ineq_join(strategy="band")``
at 16 and 64 bands on two cached 3,000-row integer frames (left
[0, 3000), right [1500, 4500), the ``pandance_joins`` ineq shape) in a
local[2] session.  Each call is built once to warm up, then 7 times
measured; the JSON reports the median build time, every build time, the
py4j commands and jobs of the last build, and the result's row count.
"""

import json
import os
import statistics
import time

import py4j.clientserver
import py4j.java_gateway
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from pandance_spark import ineq_join  # noqa: E402
from pandance_spark.operators.overlap import overlap_join  # noqa: E402

sent = [0]
for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
    def counted(self, command, _send=cls.send_command):
        sent[0] += 1
        return _send(self, command)

    cls.send_command = counted

left = spark.range(3000).selectExpr("id AS v", "id AS s", "id + 5 AS e").cache()
right = spark.range(1500, 4500).selectExpr("id AS v", "id AS s", "id + 7 AS e").cache()
left.count()
right.count()
scheduler = spark.sparkContext._jsc.sc().dagScheduler()


def measure(label, build, reps=7):
    build()
    times = []
    for _ in range(reps):
        c0, j0 = sent[0], scheduler.numTotalJobs()
        t0 = time.perf_counter()
        df = build()
        times.append(time.perf_counter() - t0)
        calls, jobs = sent[0] - c0, scheduler.numTotalJobs() - j0
    return {
        "call": label,
        "build_s_median": round(statistics.median(times), 4),
        "build_s_all": [round(t, 4) for t in times],
        "py4j_commands": calls,
        "jobs": jobs,
        "rows": df.count(),
    }


results = []
for nb in (16, 64):
    results.append(measure(
        f"overlap_join band num_bands={nb}",
        lambda nb=nb: overlap_join(left, right, "s", "e", "s", "e", strategy="band", num_bands=nb),
    ))
for nb in (16, 64):
    for fast in (True, False):
        results.append(measure(
            f"ineq_join band num_bands={nb} disjoint_fast_path={fast}",
            lambda nb=nb, fast=fast: ineq_join(
                left, right, how="<", on="v", strategy="band",
                num_bands=nb, disjoint_fast_path=fast,
            ),
        ))
print(json.dumps({
    "pyspark": __import__("pyspark").__version__,
    "host_cores": os.cpu_count(),
    "results": results,
}, indent=1))
spark.stop()

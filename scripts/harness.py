"""The one Spark session and DuckDB oracle harness for ``bench.py`` and
every script under ``scripts/``.

- ``session(app)`` is the only place outside the library that names a
  Spark master or a driver heap.  It sizes the session to the host:
  ``local[$SPARK_GRAFT_CPUS]`` (default: the cores this process may run
  on), a driver heap of ``$SPARK_GRAFT_MEM`` (default: a quarter of
  physical memory, 1-16 GB, so the OS and the Python workers keep the
  rest) and two shuffle partitions per core.
- ``duck_views(sf_dir)`` is a DuckDB connection with one view per
  fixture table.
- ``canon`` / ``value_hash`` are the one order-insensitive row
  canonicalization the oracle checks compare.
- ``release_blocks(spark)`` frees every cached or checkpointed block
  between two measured queries.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import gc
import hashlib
import math
import os
import sys

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def session_conf(env=None, cores=None, ram_bytes=None) -> dict:
    """The Spark conf ``session()`` starts with, computed without a JVM:
    ``env`` defaults to ``os.environ``, ``cores`` to the affinity core
    count and ``ram_bytes`` to physical memory."""
    env = os.environ if env is None else env
    if env.get("SPARK_GRAFT_CPUS"):
        cores = int(env["SPARK_GRAFT_CPUS"])
    elif cores is None:
        cores = len(os.sched_getaffinity(0))
    heap = env.get("SPARK_GRAFT_MEM")
    if not heap:
        if ram_bytes is None:
            ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        heap = f"{max(1, min(16, (ram_bytes >> 30) // 4))}g"
    return {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": heap,
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def session(app: str):
    """Start (or return) the host-sized session and print its settings
    to stderr.  Python workers get one BLAS thread each unless the
    environment says otherwise: every core already runs a worker."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(app)
    for key, value in session_conf().items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    print(f"session: {settings(spark)}", file=sys.stderr, flush=True)
    return spark


def settings(spark) -> dict:
    """The master, driver heap and shuffle partitions a session runs with."""
    return {
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


def release_blocks(spark) -> None:
    """Drop every cached table and persisted RDD block (caches and
    localCheckpoints) and ask the JVM to collect.  The ContextCleaner
    alone frees blocks asynchronously, so blocks of one query would
    survive into the next one's timing and evict its inputs."""
    gc.collect()
    try:
        spark.catalog.clearCache()
        it = spark.sparkContext._jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def duck_views(sf_dir: str):
    """A DuckDB connection with a view per fixture table found in
    ``sf_dir`` (a ``<table>.parquet`` file or directory of parts)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def canon(v) -> str:
    """One value's canonical text: floats rounded to 9 places, decimals
    normalized, time zones dropped, bytes in hex, lists element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows) -> str:
    """Order-insensitive hash of ``rows`` (tuples in ``cols`` order):
    columns sorted by name, values canonicalized, lines sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()

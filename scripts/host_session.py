"""A local SparkSession sized to the host, shared by the probe scripts:
every core, two shuffle partitions per core, and a driver heap of a
quarter of physical memory (1-16 GB) so a probe leaves room for the OS
and Python."""

import os


def host_session():
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    heap_gb = max(1, min(16, ram_gb // 4))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{heap_gb}g")
        .getOrCreate()
    )
    print(f"local[{cores}], driver heap {heap_gb} GB", flush=True)
    spark.sparkContext.setLogLevel("ERROR")
    return spark

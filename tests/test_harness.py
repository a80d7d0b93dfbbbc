"""The host-sized session factory of ``scripts/harness.py``: its conf is
a pure function of the environment, the core count and physical
memory, so it is checked without starting a JVM."""

import os

import pytest

from scripts.harness import session_conf

GB = 1 << 30


def test_env_overrides_cores_and_heap():
    conf = session_conf(
        {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_MEM": "5g"}, cores=16, ram_bytes=64 * GB
    )
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.driver.memory"] == "5g"
    assert conf["spark.sql.shuffle.partitions"] == "6"


def test_defaults_to_affinity_cores():
    conf = session_conf({}, ram_bytes=16 * GB)
    cores = len(os.sched_getaffinity(0))
    assert conf["spark.master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(2 * cores)
    assert session_conf({}, cores=5, ram_bytes=16 * GB)["spark.master"] == "local[5]"


@pytest.mark.parametrize(
    "ram_gb, heap",
    [(2, "1g"), (4, "1g"), (15, "3g"), (16, "4g"), (40, "10g"), (64, "16g"), (512, "16g")],
)
def test_heap_is_a_quarter_of_ram_clamped_to_1_16_gb(ram_gb, heap):
    conf = session_conf({}, cores=4, ram_bytes=ram_gb * GB)
    assert conf["spark.driver.memory"] == heap


def test_fixed_settings():
    conf = session_conf({}, cores=4, ram_bytes=16 * GB)
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.ui.enabled"] == "false"

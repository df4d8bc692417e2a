"""The session factory's default driver heap fits the memory the
process may use (the full suite runs without SPARK_DRIVER_MEMORY), and
its sessions carry every LAUNCH_CONF setting: PySpark's per-call
call-site capture off, Spark's compiled-code cache sized up."""

from pyspark.errors.utils import is_debugging_enabled

from linkgraph.session import (
    DRIVER_MEMORY_CAP_MB,
    LAUNCH_CONF,
    default_driver_memory,
    memory_budget_mb,
)

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def _mb(value: str) -> int:
    assert value.endswith("m")
    return int(value[:-1])


def test_default_driver_memory_within_host_budget():
    budget = memory_budget_mb()
    assert budget is not None  # Linux: /proc/meminfo is readable
    assert _mb(default_driver_memory(budget)) <= min(budget, DRIVER_MEMORY_CAP_MB)


def test_driver_memory_budget_follows_cgroup_limit(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16000000 kB\nMemFree:  1 kB\n")
    v2, v1 = tmp_path / "memory.max", tmp_path / "limit_in_bytes"
    v2.write_text("max\n")
    host = memory_budget_mb(str(meminfo), (str(v2), str(tmp_path / "absent")))
    assert host == 16000000 // 1024
    v1.write_text(f"{2 * 1024**3}\n")
    limited = memory_budget_mb(str(meminfo), (str(v2), str(v1)))
    assert limited == 2048
    assert _mb(default_driver_memory(limited)) <= 2048
    assert _mb(default_driver_memory(10**7)) == DRIVER_MEMORY_CAP_MB


def test_launch_conf_reaches_session(spark):
    assert LAUNCH_CONF[DEBUGGING] == "false"
    for key, value in LAUNCH_CONF.items():
        assert spark.conf.get(key) == value, key
    assert is_debugging_enabled() is False

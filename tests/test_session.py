"""The default session conf is sized to the host, and explicit values win.

These check the conf :func:`get_spark` would build from, so they start no
second JVM."""

import os

import pytest

from events_validator_spark import session

GIB = 1 << 30


@pytest.fixture
def host(monkeypatch, tmp_path):
    """A fake host: 3 usable CPUs, 16 GiB of RAM, and cgroup limit files
    the test writes (absent until written)."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {16 * GIB // 1024} kB\n"
                       "MemFree:         1024 kB\n")
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(v2), str(v1)))
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    return v2, v1


def test_session_conf_sized_to_host(host):
    v2, v1 = host
    conf = session._session_conf()
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "8"
    # no cgroup files: half of MemTotal
    assert conf["spark.driver.memory"] == "8192m"
    # cgroup v1 "no limit" sentinel: still MemTotal
    v1.write_text("9223372036854771712\n")
    assert session._session_conf()["spark.driver.memory"] == "8192m"
    # a cgroup v1 limit
    v1.write_text(f"{6 * GIB}\n")
    assert session._session_conf()["spark.driver.memory"] == "3072m"
    # cgroup v2 "max" is no limit
    v1.unlink()
    v2.write_text("max\n")
    assert session._session_conf()["spark.driver.memory"] == "8192m"
    # a cgroup v2 limit
    v2.write_text(f"{5 * GIB}\n")
    assert session._session_conf()["spark.driver.memory"] == "2560m"


def test_session_conf_explicit_values_win(host, monkeypatch):
    v2, _ = host
    v2.write_text(f"{5 * GIB}\n")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    conf = session._session_conf()
    assert conf["spark.master"] == "local[6]"
    assert conf["spark.driver.memory"] == "2g"
    # an argument wins over the environment, extra_conf over both
    conf = session._session_conf(
        cores=2, shuffle_partitions=3,
        extra_conf={"spark.driver.memory": "1g", "spark.master": "local[1]"})
    assert conf["spark.master"] == "local[1]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "1g"
    assert session._session_conf(cores=2)["spark.master"] == "local[2]"

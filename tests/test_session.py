"""Driver JVM sizing in session.get_spark: Spark-style memory strings,
and heap pre-sizing that never asks the JVM for more than the host has.
Pure functions, no Spark session."""

from __future__ import annotations

import os

import pytest

from automatic_data_validator_spark.session import (
    _driver_java_opts,
    _driver_mem,
    _host_mem_mb,
    _mem_mb,
)

HOST_MB = 16 * 1024


@pytest.mark.parametrize(
    "size, opts",
    [
        ("48g", "-XX:+UseParallelGC"),  # larger than the host: no pre-sizing
        ("4gb", "-XX:+UseParallelGC -Xms4096m -Xmn1365m"),
        ("512mb", "-XX:+UseParallelGC -Xms512m -Xmn170m"),
        ("2048", "-XX:+UseParallelGC -Xms2048m -Xmn682m"),  # bare number = MiB
        ("2g", "-XX:+UseParallelGC -Xms2048m -Xmn682m"),
        ("2m", "-XX:+UseParallelGC -Xms2m -Xmn1m"),  # -Xmn clamped to 1m
        ("garbage", "-XX:+UseParallelGC"),
        ("1.5g", "-XX:+UseParallelGC"),  # Spark rejects fractions too
    ],
)
def test_driver_java_opts(size, opts):
    assert _driver_java_opts(size, HOST_MB) == opts


def test_mem_mb_matches_byte_string_as():
    assert _mem_mb("48g") == 48 * 1024
    assert _mem_mb(" 4GB ") == 4096
    assert _mem_mb("1073741824b") == 1024
    assert _mem_mb("1t") == 1024 * 1024
    for bad in ("", "g", "4 g", "4x", "-1g", "512k"):
        assert _mem_mb(bad) is None, bad


def _physical(monkeypatch, mb):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": mb * 2**20 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_host_memory_takes_the_lower_of_physical_and_cgroup(monkeypatch, tmp_path):
    _physical(monkeypatch, HOST_MB)
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    missing = str(tmp_path / "absent")
    v2.write_text(f"{4 * 2**30}\n")
    assert _host_mem_mb((str(v2), missing)) == 4096
    v2.write_text("max\n")  # v2 without a limit
    assert _host_mem_mb((str(v2), missing)) == HOST_MB
    v1.write_text("9223372036854771712\n")  # v1 "unlimited"
    assert _host_mem_mb((missing, str(v1))) == HOST_MB
    v1.write_text(f"{64 * 2**30}\n")  # a limit above physical RAM
    assert _host_mem_mb((missing, str(v1))) == HOST_MB
    assert _host_mem_mb((missing, missing)) == HOST_MB


def test_host_memory_from_cgroup_alone(monkeypatch, tmp_path):
    def no_sysconf(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", no_sysconf)
    v2 = tmp_path / "memory.max"
    v2.write_text(f"{3 * 2**30}\n")
    assert _host_mem_mb((str(v2),)) == 3072
    assert _host_mem_mb((str(tmp_path / "absent"),)) is None


def test_driver_mem_defaults_to_a_quarter_of_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert _driver_mem(HOST_MB) == "4096m"
    assert _driver_mem(1024) == "512m"  # floor
    assert _driver_mem(None) == "1g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")  # explicit: used unchanged
    assert _driver_mem(HOST_MB) == "2g"
    assert _driver_java_opts(_driver_mem(HOST_MB), HOST_MB) == (
        "-XX:+UseParallelGC -Xms2048m -Xmn682m"
    )

"""session.py: driver JVM sizing in get_spark (Spark-style memory
strings, heap pre-sizing that never asks the JVM for more than the host
has; pure functions) and local_frame, the one way the package turns
driver rows into a DataFrame."""

from __future__ import annotations

import os

import pytest

from automatic_data_validator_spark.profile import ProfileResult
from automatic_data_validator_spark.rules import VERDICT_SCHEMA, VIOLATION_SCHEMA
from automatic_data_validator_spark.session import (
    _driver_java_opts,
    _driver_mem,
    _host_mem_mb,
    _mem_mb,
    local_frame,
)
from automatic_data_validator_spark.state import LINEAGE_SCHEMA

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


def _metrics_schema(spark):
    return ProfileResult(0, {}, {}).metrics_df(spark).schema


@pytest.mark.parametrize(
    "schema, rows",
    [
        (VERDICT_SCHEMA, [(0, "r", 10, 0, True), (3, "r", 7, 2, False)]),
        (VIOLATION_SCHEMA, [("d1", "r", 0, None), (None, "r", 2, "m9")]),
        (
            LINEAGE_SCHEMA,
            [
                ("row_rules", 0, "s", "v1", 1.5, 0.25, "r", 10, 1),
                ("drift", None, None, None, 2.0, None, "r", None, None),
            ],
        ),
        ("metrics", [("", "row_count", 3.0), ("c", "mean", None)]),
    ],
)
def test_local_frame_round_trips_result_schemas(spark, schema, rows):
    if schema == "metrics":
        schema = _metrics_schema(spark)
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_empty_rows(spark):
    df = local_frame(spark, [], VERDICT_SCHEMA)
    assert df.schema == VERDICT_SCHEMA
    assert df.collect() == []


def test_local_frame_ddl_schema_with_array_column(spark):
    ddl = "query_id long, _list int, _qv array<double>, _qn double"
    rows = [(1, 2, [0.5, -1.0], 1.118), (2, 0, None, None)]
    df = local_frame(spark, rows, ddl)
    assert df.schema.simpleString() == (
        "struct<query_id:bigint,_list:int,_qv:array<double>,_qn:double>"
    )
    assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_plans_as_jvm_local_scan(spark):
    df = local_frame(spark, [(0, "r", 10, 0, True)], VERDICT_SCHEMA)
    qe = df._jdf.queryExecution()
    assert "LocalTableScan" in qe.executedPlan().toString()
    assert "PythonRDD" not in qe.toRdd().toDebugString()


def test_local_frame_rejects_none_in_non_nullable_field(spark):
    with pytest.raises(ValueError, match="partition_id"):
        local_frame(spark, [(None, "r", 10, 0, True)], VERDICT_SCHEMA)
    with pytest.raises(ValueError, match="rule_id"):
        local_frame(spark, [("d", None, 0, None)], VIOLATION_SCHEMA)
    with pytest.raises(ValueError):
        local_frame(spark, [(0, "r", 10, 0)], VERDICT_SCHEMA)  # short row


def _create_dataframe_calls(tree):
    """(enclosing function, line) of every .createDataFrame(...) call."""
    import ast

    out = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            out.append((fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return out


def test_create_dataframe_only_in_local_frame_and_pandas_readers():
    """Every frame the package builds from driver rows goes through
    session.local_frame; createDataFrame is left only there and in
    sources.py's pandas readers (pandas input is Arrow-converted).
    pipeline.py's emitted test template is a string, not code."""
    import ast
    import pathlib

    import automatic_data_validator_spark as pkg

    allowed = {("session.py", "local_frame"), ("sources.py", "read_excel")}
    found = set()
    for path in sorted(pathlib.Path(pkg.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn, line in _create_dataframe_calls(tree):
            found.add((path.name, fn))
            assert (path.name, fn) in allowed, f"{path.name}:{line} in {fn}"
    assert ("session.py", "local_frame") in found

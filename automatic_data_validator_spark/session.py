"""SparkSession factory tuned for the sandbox (local[N]) while keeping
cluster-correct defaults: AQE on, Arrow on, shuffle partitions sized to
parallelism (not the 200 default), UTC timestamps.

This is the LOCAL harness helper (tests/bench): it pins
master=local[N] unless a master is already configured (spark-submit
sets spark.master, which must win — a hardcoded local master would
silently run a cluster job driver-only). Cluster entry points
(jobs/validate_job.py, the emitted pipeline runner) use the plain
builder and inherit everything from spark-submit.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


# Spark's byteStringAs suffixes, in MiB; a bare number is MiB
# (spark.driver.memory's default unit)
_MIB_PER_UNIT = {
    "": 1, "b": 1 / 2**20, "k": 1 / 1024, "kb": 1 / 1024, "m": 1, "mb": 1,
    "g": 1024, "gb": 1024, "t": 2**20, "tb": 2**20, "p": 2**30, "pb": 2**30,
}


def _mem_mb(size: str) -> int | None:
    """Spark memory string ('48g', '4gb', '512mb', '2048') -> whole MiB,
    parsed like Spark's JavaUtils.byteStringAs; None when Spark would
    reject it (garbage, fractions) or it rounds to zero."""
    m = re.fullmatch(r"(\d+)([a-z]*)", size.strip().lower())
    if not m or m.group(2) not in _MIB_PER_UNIT:
        return None
    return int(int(m.group(1)) * _MIB_PER_UNIT[m.group(2)]) or None


# cgroup v2, then v1 memory limit files
_CGROUP_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _host_mem_mb(limit_files=_CGROUP_LIMIT_FILES) -> int | None:
    """Memory this process may use: physical RAM, lowered by a cgroup
    (v2 or v1) limit when one is set. None when neither is readable."""
    limits = []
    try:
        limits.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    except (ValueError, OSError):
        pass
    for path in limit_files:
        try:
            with open(path) as f:
                limits.append(int(f.read().strip()))  # "max" -> ValueError
        except (OSError, ValueError):
            pass
    return min(limits) // 2**20 if limits else None


def _driver_mem(host_mb: int | None) -> str:
    """An explicit $SPARK_DRIVER_MEM as given; else a quarter of the
    host's (or cgroup's) memory, leaving the rest to Python workers and
    the page cache."""
    return os.environ.get("SPARK_DRIVER_MEM") or (
        f"{max(host_mb // 4, 512)}m" if host_mb else "1g"
    )


def _driver_java_opts(driver_mem: str, host_mb: int | None) -> str:
    """ParallelGC plus a pre-sized heap (-Xms = driver memory, young
    gen = 1/3). The pre-sizing is left out when the size does not
    parse or exceeds the host: the JVM cannot commit such a heap at
    launch, but it still runs with a heap grown on demand."""
    opts = "-XX:+UseParallelGC"
    mb = _mem_mb(driver_mem)
    if mb is not None and (host_mb is None or mb <= host_mb):
        opts += f" -Xms{mb}m -Xmn{max(mb // 3, 1)}m"
    return opts


def get_spark(
    app_name: str = "automatic_data_validator_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local core count; defaults to $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to max(parallelism, 32) — at cluster
    scale this is set per-job via spark-submit; AQE coalesces down.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 32)
    host_mb = _host_mem_mb()
    driver_mem = _driver_mem(host_mb)
    builder = SparkSession.builder
    # Respect an externally-provided master. PYSPARK_SUBMIT_ARGS alone
    # is NOT a reliable signal: spark-submit launches the python driver
    # attached to an ALREADY-RUNNING JVM (PYSPARK_GATEWAY_PORT) whose
    # system properties carry the submitted spark.master — the env var
    # is only set for gateway-launching (pyspark-shell style) runs. So
    # check, in order: an active session, an attached submit gateway,
    # the env var, and finally the JVM-reflecting SparkConf (round-2
    # ADVICE: the old check silently ran `--master yarn` jobs
    # driver-only under local[N]).
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    master_configured = (
        SparkSession.getActiveSession() is not None
        or bool(os.environ.get("PYSPARK_GATEWAY_PORT"))
        or "--master" in submit_args
        or "spark.master" in submit_args
    )
    if not master_configured:
        try:
            from pyspark import SparkConf

            master_configured = SparkConf(loadDefaults=True).contains("spark.master")
        except Exception:
            master_configured = False
    if not master_configured:
        builder = builder.master(f"local[{parallelism}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # status-store stage retention: the scan-count guard reads
        # cumulative per-stage input metrics; default eviction (1000)
        # would silently shrink deltas in long sessions
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Scan-parallelism floor for small inputs (guide §2/§6): Spark
        # sizes splits as min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes/defaultParallelism)) — the 4MB openCost default
        # (sized for spinning disks) floors the split size, so a 6-25MB
        # table scans in 2-7 tasks on 32 cores and every downstream
        # per-row operator (Arrow UDF signing included) runs at 1/5th
        # the machine. 256KB matches NVMe/object-store open cost;
        # LARGE inputs are unaffected (totalBytes/parallelism then
        # dominates the max, capped by maxPartitionBytes as before) —
        # i.e. the change is scale-adaptive by construction, not a
        # local[32] constant. Parameterized for cluster profiles.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "262144"),
        )
        # Throughput GC: at high local thread counts the default G1
        # collector serializes allocation-heavy operators (nested-array
        # scans, HLL over structs) — measured 8x slower at local[32].
        # ParallelGC restores near-linear scaling for this workload.
        # The driver heap is PRE-SIZED (-Xms = -Xmx, young gen = 1/3):
        # ParallelGC's adaptive sizing otherwise starts small and grows
        # the heap across the first jobs, and every expansion round
        # costs allocation-failure pauses — measured as the first
        # identical e2e trial running 1.5-2x the steady state
        # (13.3/8.9/6.3 s -> 8.6/5.4/5.1 s with pre-sizing). Standard
        # dedicated-host practice; derived from the configured driver
        # memory, so a smaller $SPARK_DRIVER_MEM scales it down.
        .config(
            "spark.driver.extraJavaOptions",
            _driver_java_opts(driver_mem, host_mb),
        )
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Rows already on the driver -> a DataFrame the JVM holds itself.

    ``spark.createDataFrame(<python list>, schema)`` plans as a scan of
    a Python RDD (``applySchemaToPythonRDD``): every collect or write
    of such a frame, however small, starts Python worker tasks. Built
    from an Arrow table instead, the frame plans as a JVM
    ``LocalTableScan`` (up to
    ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB) or as
    a JVM RDD of Arrow batches above it; neither needs a Python worker.

    rows: tuples (or Rows) in schema order. schema: a StructType or a
    DDL string. None in a non-nullable field raises ValueError, as
    createDataFrame's verifier does.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, T.StructType):
        schema = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = [tuple(r) for r in rows]
    width = len(schema.fields)
    for r in rows:
        if len(r) != width:
            raise ValueError(
                f"row {r!r} has {len(r)} fields, schema has {width}"
            )
    columns = list(zip(*rows)) if rows else [()] * width
    arrays = []
    for field, arrow_field, values in zip(schema.fields, arrow_schema, columns):
        arr = pa.array(values, type=arrow_field.type)
        if arr.null_count and not field.nullable:
            raise ValueError(
                f"field {field.name}: not nullable, but got None"
            )
        arrays.append(arr)
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

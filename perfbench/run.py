#!/usr/bin/env python3
"""Benchmark of the validation engine, one workload per run.

    python3 perfbench/run.py --workload full_validate --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seconds 8     # every workload, by name
    python3 perfbench/selftest.py                          # the benchmark's own test

Run from the repository root. Workloads (see ``workloads.py``), each a
closed loop of one client:

- ``full_validate``: ``run_validation`` with profile, referential check
  and drift, plus ``write_outputs_parallel``, over synthesized documents;
  the JVM-only north-star path.
- ``neardup_dedup``: ``neardup_dedup`` over a corpus with planted
  near-duplicate pairs; dominated by the Python Arrow MinHash kernel.

A run pins the Spark set-up (``pinned_setup``), starts the driver JVM
and its session, synthesizes the inputs from ``--seed`` and computes
each reference, makes two full-size warm-up operations, then times
operations for ``--seconds`` (at least three). Every operation's output
is checked against the reference.

With ``--trace 0`` the last stdout line reports the end-to-end metrics:
``docs_per_s`` (input documents / the median timed operation's
seconds), ``setup_s`` (the cold start of driver JVM and session, plus
the warm-up operations' seconds above that median: what a user pays
before the engine runs at speed) and ``jvm_peak_rss_mb`` (the driver
JVM's peak resident set while timing). With ``--trace 1`` the run
instead makes one traced operation and one traced layer pass for every
workload and reports the per-layer metrics; spans go to
``.perfbench/results/``. The layer passes also cover layers no timed
operation calls: ``full_validate``'s runs one incremental delta and a
state compaction, ``neardup_dedup``'s text features and cosine top-k.

Inputs, outputs and Spark scratch live in ``.perfbench/work-<pid>`` and
are deleted when the run exits; a JSON record of each run (pins, host
probe, every operation's time) stays in ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "automatic_data_validator_spark"

# The first operation of a fresh JVM takes about three times the steady
# time (JIT, class loading). With only that one as warm-up, the timed
# operations still fall by 20-30% (neardup_dedup: 5.4, 4.3, 4.2 s), and
# the spread of the median over runs was 0.19 of it against 0.07 with
# a second warm-up operation.
WARMUP_OPS = 2
MIN_TIMED_OPS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pinned_setup(work: str) -> dict:
    """Fix every knob the engine reads from the environment, so a change
    of engine defaults cannot move the benchmark's configuration."""
    cores = len(os.sched_getaffinity(0))
    for key in list(os.environ):
        if key.startswith(("SPARK_GRAFT_", "PYSPARK_GATEWAY", "PYSPARK_SUBMIT")):
            del os.environ[key]
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Arrow/pandas workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    for d in (tmp, env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "shuffle_partitions": 2 * cores,
        "env": env,
        "spark_conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.defaultJavaOptions": (
                f"-XX:ErrorFile={work}/hs_err_pid%p.log"
            ),
        },
    }


class Session:
    """The run's SparkSession and its driver JVM."""

    def __init__(self, pins: dict):
        self.pins = pins
        self.spark = None

    def start(self):
        from automatic_data_validator_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            parallelism=self.pins["cores"],
            shuffle_partitions=self.pins["shuffle_partitions"],
            extra_conf=self.pins["spark_conf"],
        )
        self.spark.range(1).count()
        return self.spark

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def reset_peak_rss(self) -> None:
        with open(f"/proc/{self.jvm_pid()}/clear_refs", "w") as f:
            f.write("5")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in the JVM's /proc status")

    def shutdown(self) -> None:
        """Stop the session, the driver JVM and its Python workers, and
        wait until each has ended."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        jvm = gateway.proc
        workers = descendants(jvm.pid)
        if self.spark is not None:
            self.spark.stop()
        gateway.shutdown()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while workers and time.time() < deadline:
            workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in workers:
            os.kill(p, 9)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def timed_op(wl, counters) -> tuple[float, dict]:
    """One operation: wall seconds, and the stage counters of its stages
    (read outside the timed region)."""
    mark = counters.mark()
    t0 = time.perf_counter()
    wl.op()
    dt = time.perf_counter() - t0
    return dt, counters.since(mark)


def measure(wl, counters, seconds: float, min_ops: int) -> dict:
    times: list[float] = []
    failures: list[str] = []
    deadline = time.perf_counter() + seconds
    while len(times) < min_ops or time.perf_counter() < deadline:
        try:
            dt, stage = timed_op(wl, counters)
            err = wl.check(stage)
        except Exception:  # a failed operation still counts as attempted
            dt, err = float("nan"), traceback.format_exc()
        times.append(dt)
        if err:
            failures.append(err)
            log(f"{wl.name}: operation {len(times)} FAILED: {err}")
    ok = [t for t in times if t == t]
    return {"times": times, "failures": failures, "median_s": statistics.median(ok) if ok else None}


def layer_metrics(wl, spans: list[dict]) -> dict:
    """The declared metrics of ``wl``'s spans; nan where a failed pass
    left one unmeasured."""
    by_name = {s["name"]: s for s in spans}
    return {
        f"{layer}.{metric}": by_name.get(layer, {}).get(metric, float("nan"))
        for layer, metrics in wl.LAYERS.items()
        for metric, _unit, _better in metrics
    }


def per_layer_declarations() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    from workloads import WORKLOADS

    decl = [
        ("session.get_spark.cold_start_s", "s", "lower"),
        ("trace.overhead_share", "share", "lower"),
    ]
    for wl in WORKLOADS.values():
        for layer, metrics in wl.LAYERS.items():
            decl += [(f"{layer}.{m}", u, b) for m, u, b in metrics]
        decl += wl.OP_METRICS
    return decl


END_TO_END = [
    ("docs_per_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
    ("jvm_peak_rss_mb", "MB", "lower"),
]


def run(args, work: str, record: dict) -> dict:
    pins = pinned_setup(work)
    record["pins"] = pins
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    # a traced run covers every workload, starting with the named one
    names = [args.workload] + (
        [w for w in WORKLOADS if w != args.workload] if args.trace else []
    )
    wls = [WORKLOADS[n](work, args.seed, args.scale) for n in names]
    session = Session(pins)
    try:
        return measure_workloads(args, pins, session, wls, record)
    finally:
        session.shutdown()


def measure_workloads(args, pins: dict, session: Session, wls: list, record: dict) -> dict:
    from tracer import StageCounters, Tracer

    t0 = time.perf_counter()
    spark = session.start()
    record["cold_start_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    for wl in wls:
        wl.generate(spark)
        wl.open(spark)
    record["generate_s"] = time.perf_counter() - t0
    log(f"cold start {record['cold_start_s']:.2f}s, inputs {record['generate_s']:.2f}s")

    home = wls[0]
    counters = StageCounters(spark)
    record["warmup_s"] = [timed_op(home, counters)[0] for _ in range(WARMUP_OPS)]
    log(f"{home.name}: warm-up {[round(t, 2) for t in record['warmup_s']]}")
    attempted, failures = 0, []
    if not args.trace:
        record["peak_rss_before_timing_mb"] = session.peak_rss_mb()
        session.reset_peak_rss()
        m = measure(home, counters, args.seconds, MIN_TIMED_OPS)
        record["times_s"], failures = m["times"], m["failures"]
        log(f"{home.name}: timed {[round(t, 3) for t in m['times']]}, {len(failures)} failed")
        attempted = len(m["times"])
        steady = m["median_s"] or float("nan")  # nan: every timed operation failed
        metrics = {
            "docs_per_s": home.n_docs / steady,
            "setup_s": record["cold_start_s"]
            + sum(max(0.0, t - steady) for t in record["warmup_s"]),
            "jvm_peak_rss_mb": session.peak_rss_mb(),
        }
    else:
        # The named workload is traced after its warm-up; every other
        # workload after its first operation, so that each traced run
        # reports every per-layer metric.
        metrics = {"session.get_spark.cold_start_s": record["cold_start_s"]}
        spans: list[dict] = []
        for wl in wls:
            tracer = Tracer(spark, wl.name)
            with tracer.span(wl.OP_SPAN) as op_span:
                wl.op()
            if wl is home:
                # what tracing adds: the span's status-store reads,
                # against the traced operation's own time
                metrics["trace.overhead_share"] = op_span["trace_s"] / op_span["call_s"]
            metrics.update(wl.op_metrics(op_span, pins["cores"]))
            errors = [wl.check(op_span), wl.layer_pass(tracer)]
            attempted += len(errors)
            for err in filter(None, errors):
                failures.append(err)
                log(f"{wl.name}: traced pass FAILED: {err}")
            metrics.update(layer_metrics(wl, tracer.spans))
            spans += tracer.spans
        path = os.path.join(
            args.results, f"spans-{home.name}-seed{args.seed}-{os.getpid()}.jsonl"
        )
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        record["spans_file"] = path
        log(f"spans written to {path}")

    record["failures"] = failures
    from bench import host_probe

    record["host_probe_units_per_s"] = host_probe(pins["cores"])
    declared = per_layer_declarations() if args.trace else END_TO_END
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit, _ in declared},
    }


def run_all(args) -> int:
    """Every workload in its own process; prints each metric by name."""
    from workloads import WORKLOADS

    status, results = 0, {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            log(f"{name}: exit code {proc.returncode}")
            status = 1
            continue
        results[name] = res = json.loads(lines[-1])
        fail_share = res["failed"] / res["attempted"]
        print(f"{name}: correct={res['correct']} fail_share={fail_share:g}")
        for metric, v in res["metrics"].items():
            print(f"  {metric} = {v['value']} {v['unit']}")
        status |= not res["correct"]
    print(json.dumps(results))
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the self-test")
    args = ap.parse_args()
    # the benchmark measures the engine of this checkout; without it
    # there is nothing to measure
    for need in (ENGINE, "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found next to {HERE}; run from a full checkout")
            return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
        return 2
    state = os.path.join(ROOT, ".perfbench")
    args.results = os.path.join(state, "results")
    os.makedirs(args.results, exist_ok=True)
    work = os.path.join(state, f"work-{os.getpid()}")
    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    record = {"argv": sys.argv[1:], "started_unix_s": time.time()}
    try:
        result = run(args, work, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["result"] = result
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(args.results, name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

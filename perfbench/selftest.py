#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes (about five minutes).

    python3 perfbench/selftest.py

Checks that
1. ``run.py --workload all`` prints every end-to-end metric declared in
   BENCHMARK.json, with its unit, for every workload, and that each
   workload's outputs are correct;
2. a traced run prints every declared per-layer metric and writes its
   spans;
3. each output check rejects a corrupted result;
4. a directory holding only BENCHMARK.json and the benchmark fails
   without printing a result.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]
TINY = ["--scale", "tiny", "--seconds", "1", "--seed", "7"]


def fail(msg: str) -> None:
    print(f"SELFTEST FAILED: {msg}", flush=True)
    sys.exit(1)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        key: {m["name"]: m["unit"] for m in bench[key]}
        for key in ("end_to_end", "per_layer")
    } | {"workloads": [w["name"] for w in bench["workloads"]]}


def last_json(cmd: list[str], cwd: str = ROOT) -> dict:
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True)
    if proc.returncode:
        fail(f"{' '.join(cmd)} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, want: dict, what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"{what}: metrics {sorted(set(got) ^ set(want))} or units differ")
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
        fail(f"{what}: outputs not correct: {result}")


def test_end_to_end(decl: dict) -> None:
    results = last_json(RUN + ["--workload", "all"] + TINY)
    if sorted(results) != sorted(decl["workloads"]):
        fail(f"workloads {sorted(results)} != {decl['workloads']}")
    for name, res in results.items():
        check_metrics(res, decl["end_to_end"], name)


def test_traced(decl: dict) -> None:
    t0 = time.time()
    res = last_json(RUN + ["--workload", decl["workloads"][0], "--trace", "1"] + TINY)
    check_metrics(res, decl["per_layer"], "traced run")
    spans = [
        p for p in glob.glob(os.path.join(ROOT, ".perfbench", "results", "spans-*.jsonl"))
        if os.path.getmtime(p) >= t0
    ]
    if not spans:
        fail("the traced run wrote no spans file")
    with open(spans[0]) as f:
        names = {json.loads(line)["name"] for line in f}
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    want = {n for wl in WORKLOADS.values() for n in [*wl.LAYERS, wl.OP_SPAN]}
    if names != want:
        fail(f"spans {sorted(names ^ want)} missing or unexpected")


def test_checks_reject_corruption() -> None:
    """Run each workload's operation once at tiny size, then feed its
    check corrupted outputs."""
    sys.path.insert(0, HERE)
    import run
    import workloads as W

    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    pins = run.pinned_setup(work)
    sys.path.insert(0, ROOT)
    session = run.Session(pins)
    try:
        spark = session.start()
        from tracer import StageCounters

        counters = StageCounters(spark)

        fv = W.FullValidate(work, 7, "tiny")
        fv.generate(spark)
        fv.open(spark)
        _, stage = run.timed_op(fv, counters)
        if fv.check(stage):
            fail(f"full_validate check rejects a correct output: {fv.check(stage)}")
        viol = os.path.join(fv.out, "violations")
        if W.check_incremental_output(fv.con, viol, fv.reference):
            fail("the incremental check rejects a correct output")
        corruptions = {
            "a row dropped": "SELECT * FROM v LIMIT (SELECT count(*) - 1 FROM v)",
            "a row repeated": "SELECT * FROM v UNION ALL (SELECT * FROM v WHERE partition_id >= 0 LIMIT 1)",
            "a detail changed": "SELECT doc_id, rule_id, partition_id, "
            "CASE WHEN detail IS NOT NULL AND doc_id = (SELECT min(doc_id) FROM v "
            "WHERE detail IS NOT NULL AND partition_id >= 0) "
            "THEN detail || 'x' ELSE detail END AS detail FROM v",
            "a rule renamed": "SELECT doc_id, CASE WHEN rule_id = 'span_order' "
            "THEN 'span_shape' ELSE rule_id END AS rule_id, partition_id, detail FROM v",
            "an increment tag for a dangling ref": "SELECT doc_id, rule_id, partition_id, "
            "CASE WHEN rule_id = 'referential_media_ref' THEN 'inc=1' "
            "ELSE detail END AS detail FROM v",
        }
        for what, sql in corruptions.items():
            bad = os.path.join(work, "corrupt")
            shutil.rmtree(bad, ignore_errors=True)
            shutil.copytree(fv.out, bad)
            shutil.rmtree(os.path.join(bad, "violations"))
            os.makedirs(os.path.join(bad, "violations"))
            fv.con.execute(
                f"CREATE OR REPLACE VIEW v AS SELECT * FROM read_parquet('{W.parquet_glob(viol)}')"
            )
            fv.con.execute(
                f"COPY ({sql}) TO '{os.path.join(bad, 'violations', 'part-0.parquet')}' (FORMAT parquet)"
            )
            if W.check_validation_output(fv.con, bad, fv.reference) is None:
                fail(f"full_validate check accepts violations with {what}")
            if W.check_incremental_output(
                fv.con, os.path.join(bad, "violations"), fv.reference
            ) is None:
                fail(f"the incremental check accepts violations with {what}")

        nd = W.NeardupDedup(work, 7, "tiny")
        nd.generate(spark)
        nd.open(spark)
        _, stage = run.timed_op(nd, counters)
        if nd.check(stage):
            fail(f"neardup_dedup check rejects a correct output: {nd.check(stage)}")
        truth = nd.truth
        good = {**truth, "scans": stage["input_records"] / nd.n_docs}
        some_pair = next(iter(truth["pairs"]))
        for what, bad in {
            "a pair missing": {**good, "pairs": truth["pairs"] - {some_pair}},
            "an extra pair": {**good, "pairs": truth["pairs"] | {("dd-x", "dd-y")}},
            "a wrong drop": {**good, "drop_ids": truth["drop_ids"] - {some_pair[1]} | {some_pair[0]}},
            "a wrong kept count": {**good, "kept": truth["kept"] + 1},
            "too many scans": {**good, "scans": W.MAX_CORPUS_SCANS},
        }.items():
            if W.check_dedup_output(bad, truth) is None:
                fail(f"neardup_dedup check accepts output with {what}")

        sums = (1000, 200, 200)
        if W.check_text_features(sums, sums):
            fail("the textops check rejects correct sums")
        for bad in ((1001, 200, 200), (1000, 199, 200), (1000, 200, 201)):
            if W.check_text_features(bad, sums) is None:
                fail(f"the textops check accepts sums {bad} for {sums}")
        want = {0: [0, 7, 3], 1: [1, 4, 9]}
        if W.check_topk(want, {0: [0, 5], 1: [1]}, want):
            fail("the similarity check rejects a correct top-k")
        for what, exact, approx in (
            ("two neighbours swapped", {0: [0, 3, 7], 1: [1, 4, 9]}, want),
            ("a neighbour missing", {0: [0, 7], 1: [1, 4, 9]}, want),
            ("a query missing", {0: [0, 7, 3]}, want),
            ("an approximate query not its own neighbour", want, {0: [7, 0], 1: [1]}),
            ("an approximate query missing", want, {0: [0]}),
        ):
            if W.check_topk(exact, approx, want) is None:
                fail(f"the similarity check accepts a top-k with {what}")
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def test_fails_without_engine() -> None:
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "full_validate",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, stdout=subprocess.PIPE, text=True, timeout=180,
        )
        if proc.returncode == 0 or proc.stdout.strip():
            fail("a checkout without the engine did not fail cleanly")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> None:
    decl = declared()
    for test in (
        test_fails_without_engine,
        test_checks_reject_corruption,
        lambda: test_end_to_end(decl),
        lambda: test_traced(decl),
    ):
        t0 = time.perf_counter()
        test()
        print(f"ok ({time.perf_counter() - t0:.0f}s)", flush=True)
    print("SELFTEST PASSED")


if __name__ == "__main__":
    main()

"""The benchmark's own tests: one-second runs of every workload, the
traced run's layer accounting and repeatability, a second seed, and the
refusal to run without the engine.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs three times with ``--seconds 1`` (a Spark session
each, set-up plus one timed unit or pass), so the file takes about six
minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _trace(workload: str, seed: int) -> dict:
    with open(os.path.join(ROOT, ".perfbench_work", "traces",
                           f"{workload}-s{seed}.json"), encoding="utf-8") as f:
        return json.load(f)


def test_declared_metrics_match_the_code():
    import run

    assert [w["name"] for w in BENCH["workloads"]] == sorted(
        workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == (
        tracing.LAYER_METRICS)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_second_seed_passes_every_check(workload):
    proc = _run(workload, 2, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _result(proc)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_runs_account_for_walls_and_repeat(workload):
    ops = []
    for _ in range(2):
        proc = _run(workload, 1, 1)
        assert proc.returncode == 0, proc.stderr[-3000:]
        res = _result(proc)
        assert set(res["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
        trace = _trace(workload, 1)
        for rec in trace["ops"]:
            # driver gap + job wall + result transfer = the op's wall; the
            # gap is the residual, so this holds when the op's jobs lie
            # inside its window
            assert rec["decomposition_error"] <= 0.05, rec
        ops.append([(r["name"], r["jobs"], r["stages"], r["tasks"],
                     r["shuffle_write_bytes"]) for r in trace["ops"]])
    # the number of timed units depends on speed; the sequence does not.
    # Counts repeat exactly. Shuffle bytes are compressed block sizes, and a
    # stage that reads a shuffle sees its rows in fetch order, which varies
    # between runs, so what it writes onward can differ by a few bytes.
    n = min(len(ops[0]), len(ops[1]))
    assert [r[:4] for r in ops[0][:n]] == [r[:4] for r in ops[1][:n]]
    for a, b in zip(ops[0][:n], ops[1][:n]):
        assert abs(a[4] - b[4]) <= 1e-3 * max(a[4], b[4]), (a, b)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("ingest", 1, 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_self_time_and_job_attribution():
    spans = [
        {"layer": "op", "name": "q", "start": 0.0, "end": 10.0,
         "parent": None, "op": 0, "counts": {}, "timed": True},
        {"layer": "queries.run", "name": "q", "start": 0.0, "end": 8.0,
         "parent": 0, "op": 0, "counts": {}},
        {"layer": "materialize", "name": "m", "start": 2.0, "end": 5.0,
         "parent": 1, "op": 0, "counts": {}},
        {"layer": "queries.collect", "name": "q", "start": 8.0, "end": 10.0,
         "parent": 0, "op": 0, "counts": {}},
    ]
    log = {"jobs": {
        1: {"group": "bench-op-0", "start": 2.5, "end": 4.5},
        2: {"group": "other", "start": 8.5, "end": 9.5},   # by time
        3: {"group": "other", "start": 20.0, "end": 21.0},  # outside
    }, "stages": {}}
    assert tracing.self_times(spans) == [0.0, 5.0, 3.0, 2.0]
    tracing.attribute(spans, log)
    assert spans[0]["jobs"] == [1, 2] and spans[2]["jobs"] == [1]
    (rec,) = tracing.op_records(spans, log, cores=4)
    assert rec["job_wall_s"] == 3.0 and rec["transfer_s"] == 1.0
    assert rec["driver_gap_s"] == 6.0 and rec["decomposition_error"] == 0.0


def test_job_outside_its_operation_breaks_the_decomposition():
    spans = [{"layer": "op", "name": "q", "start": 0.0, "end": 10.0,
              "parent": None, "op": 0, "counts": {}, "timed": True}]
    log = {"jobs": {1: {"group": "bench-op-0", "start": 8.0, "end": 12.0}},
           "stages": {}}
    tracing.attribute(spans, log)
    (rec,) = tracing.op_records(spans, log, cores=4)
    assert rec["job_wall_s"] == 4.0 and rec["driver_gap_s"] == 8.0
    assert rec["decomposition_error"] == 0.2

"""Smoke test of the benchmark at tiny sizes (about half a minute per
workload, most of it Spark start-up).

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.run import E2E_UNITS, LAYERS, WORKLOADS
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_tiny(workload):
    proc = _run("--workload", workload, "--seed", "7", "--seconds", "1", "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, record_line, last_line = proc.stdout.strip().splitlines()
    last = json.loads(last_line)
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    assert set(last["metrics"]) == set(E2E_UNITS)
    assert all(m["value"] > 0 for m in last["metrics"].values())
    record = json.loads(record_line)["record"]
    assert record["seed"] == 7 and record["nproc"] == len(os.sched_getaffinity(0))
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run"))


def test_traced_run_reports_every_layer():
    proc = _run("--workload", "replay_sql", "--seed", "3", "--seconds", "1", "--size", "tiny",
                "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, record_line, last_line = proc.stdout.strip().splitlines()
    metrics = json.loads(last_line)["metrics"]
    assert {n for n, _, _ in LAYERS} <= set(metrics)
    assert metrics["codec.parse_line_us"]["value"] > 0
    assert metrics["source.rows_read_per_row_returned"]["value"] >= 1
    span_file = os.path.join(ROOT, json.loads(record_line)["record"]["span_file"])
    with open(span_file) as f:
        spans = [json.loads(line) for line in f]
    os.remove(span_file)
    assert {"session.start", "context.sql", "source.batch_read"} <= {s["name"] for s in spans}


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "replay_sql", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == LAYERS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            sum(range(10_000))
    outer = tr.spans[0]["end"] - tr.spans[0]["start"]
    inner = tr.spans[1]["end"] - tr.spans[1]["start"]
    st = tr.self_times()
    assert st["outer"][0] == pytest.approx(outer - inner)
    assert st["inner"][0] == pytest.approx(inner)
    assert tr.spans[1]["parent"] == 0 and tr.spans[1]["run"] == tr.run_id

"""Tests of the benchmark itself. Run from the root of a checkout:

    python -m pytest perfbench/tests -q

The traced-run tests start one short Spark run (about two minutes on
four cores).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

from perfbench import datagen, run
from perfbench.trace import metric_value
from perfbench.workloads import WORKLOADS

ROOT = run.ROOT
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")


def _spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def test_metric_names_and_units_are_pinned():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_every_workload_op_is_registered():
    from koalas_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    for w in WORKLOADS.values():
        for op in w.names:
            sink, _, name = op.rpartition(":")
            assert name in queries and name in oracles, op
            assert sink in ("", "snapshot", "jsonl"), op


def test_generated_input_is_a_function_of_the_seed(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.generate(str(tmp_path / d), 0.0005, seed, replicas=2, offset=run.replica_offset(seed))

    def content(d):
        out = {}
        for base, _, names in os.walk(tmp_path / d):
            for n in names:
                with open(os.path.join(base, n), "rb") as f:
                    out[os.path.relpath(os.path.join(base, n), tmp_path / d)] = f.read()
        return out

    assert content("a") == content("b")
    assert content("a") != content("c")


def test_metric_value_parses_spark_formats():
    assert metric_value("1,234") == 1234
    assert metric_value("total (min, med, max (stageId: taskId))\n2.5 MiB (1.0 MiB, ...)") == 2.5 * 2**20
    assert metric_value("total (min, med, max)\n120 ms (10 ms, 20 ms, 30 ms)") == pytest.approx(0.12)
    assert metric_value("n/a") == 0.0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(SPEC_PATH, tmp_path / "BENCHMARK.json")
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__", "tests"),
    )
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "iterative_parity", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout


def _tmp_listing() -> list[str]:
    path = os.path.join(ROOT, ".tmp")
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def _git_status() -> str | None:
    res = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True)
    return res.stdout if res.returncode == 0 else None


@pytest.fixture(scope="module")
def traced_run():
    before = (_tmp_listing(), _git_status())
    started = set(os.listdir(os.path.join(run.WORK, "results"))) if os.path.isdir(
        os.path.join(run.WORK, "results")
    ) else set()
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "iterative_parity", "--seed", "0",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    new = sorted(set(os.listdir(os.path.join(run.WORK, "results"))) - started)
    assert len(new) == 1
    with open(os.path.join(run.WORK, "results", new[0])) as f:
        record = json.load(f)
    return res.stdout, record, before, (_tmp_listing(), _git_status())


def test_traced_run_reports_every_per_layer_metric(traced_run):
    stdout, _, _, _ = traced_run
    last = json.loads(stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0
    assert {k: m["unit"] for k, m in last["metrics"].items()} == run.PER_LAYER


def test_phases_add_up_to_the_untraced_wall(traced_run):
    """Summed over ops, the traced build + plan + exec agrees with the
    untraced wall within the benchmark's bounds."""
    _, record, _, _ = traced_run
    bound = max(m["bound"] for m in _spec()["end_to_end"])
    phases, walls = {}, {}
    for r in record["samples"]:
        if r["traced"]:
            phases.setdefault(r["op"], []).append(r["build.s"] + r["plan.s"] + r["exec.s"])
        else:
            walls.setdefault(r["op"], []).append(r["wall_s"])
    traced = sum(statistics.median(v) for v in phases.values())
    untraced = sum(statistics.median(v) for v in walls.values())
    assert abs(traced - untraced) / untraced <= bound


def test_run_leaves_repo_tmp_and_git_status_unchanged(traced_run):
    _, _, before, after = traced_run
    assert after == before

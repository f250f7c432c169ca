"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/tests -q

The end-to-end tests run the command named in ``BENCHMARK.json`` on a
small input scale, about a minute each; the ledger test
runs one query twice in this process and requires identical counters.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import run as bench_run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd: str, workload: str, trace: int, seed: int = 3) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--scale", "0.02",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_matches_the_runner():
    assert sorted(WORKLOADS) == sorted(bench_run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == bench_run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == bench_run.per_layer_units()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_small_run_prints_every_end_to_end_metric(workload):
    res = _result(_run(ROOT, workload, trace=0))
    assert res["failed"] == 0 and res["correct"] is True
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == set(bench_run.END_TO_END)
    for name, m in res["metrics"].items():
        assert m["unit"] == bench_run.END_TO_END[name]
        assert isinstance(m["value"], float) and m["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_small_traced_run_prints_every_layer_metric(workload):
    res = _result(_run(ROOT, workload, trace=1))
    assert res["failed"] == 0 and res["correct"] is True
    units = bench_run.per_layer_units()
    assert set(res["metrics"]) == set(units)
    for name, m in res["metrics"].items():
        assert m["unit"] == units[name]
    assert res["metrics"]["cache.residual_bytes"]["value"] == 0
    assert res["metrics"]["operators.jobs"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
    proc = _run(str(tmp_path), WORKLOADS[0], trace=0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_inputs_repeat_for_a_seed(tmp_path):
    for d in ("a", "b"):
        inputs.stage_tables(str(tmp_path / d), 5, {"events": 500})
        inputs.stage_document_stream(str(tmp_path / d / "stream"), 5, 3, 40)
    for rel in ["events.parquet"] + [f"stream/part-{b:05d}.parquet" for b in range(3)]:
        assert (tmp_path / "a" / rel).read_bytes() == (tmp_path / "b" / rel).read_bytes(), rel
    assert inputs.stage_document_stream(str(tmp_path / "c"), 5, 3, 40) == list(range(120))


def test_ledger_counts_repeat_for_one_query(tmp_path):
    from datapipeline_spike_spark.cache import unpersist_all
    from datapipeline_spike_spark.plans import REGISTRY
    from datapipeline_spike_spark.session import get_session
    from ledger import Ledger

    inputs.stage_tables(str(tmp_path), 7, {"events": 2000})
    spark = get_session(
        "perfbench-test", cpus=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    ledger = Ledger(spark)
    for i in range(2):
        for q in ("vibration_features", "record_envelope_flat"):
            with ledger.span("operators", f"{q}-{i}"):
                REGISTRY[q].spark(spark, str(tmp_path)).write.format("noop").mode("overwrite").save()
            unpersist_all(spark)
    tallies = ledger.read()
    for q in ("vibration_features", "record_envelope_flat"):
        first, second = (tallies[Ledger.tag("operators", f"{q}-{i}")] for i in range(2))
        for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "input_rows"):
            assert first[k] == second[k], (q, k)
        assert first["jobs"] >= 1 and first["shuffle_write_bytes"] > 0

"""Smoke tests of the benchmark itself, at toy size.

    python3 -m pytest perfbench/test_smoke.py -q

They check that inputs and results are a function of the seed, that
the oracle gate catches a corrupted table, that the emitted metric
names and units are the ones ``BENCHMARK.json`` declares, and that the
runner fails cleanly where the engine is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, run, workloads  # noqa: E402
from perfbench.oracle import Oracle  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


@pytest.fixture(scope="module")
def spark(scratch):
    s = run.start_session(scratch, cores=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    run.stop_session(s)


def toy_run(spark, scratch, workload, seed, trace=False):
    d = os.path.join(scratch, f"{workload}-{seed}-{int(trace)}")
    os.makedirs(d)
    try:
        return workloads.run_workload(spark, workload, seed, trace, d, scale="toy")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)


def test_seed_determines_corpus(spark, scratch):
    def digest(seed, tag):
        segs = corpus.write_segments(spark, os.path.join(scratch, f"corpus-{tag}"), 3_000,
                                     [1_000, 2_000], 50, seed)
        return corpus.digest(segs)

    assert digest(7, "a") == digest(7, "b")
    assert digest(7, "c") != digest(8, "d")


def test_seed_determines_final_table(spark, scratch):
    first = toy_run(spark, scratch, "bulk_replay", 7)
    again = toy_run(spark, scratch, "bulk_replay", 7)
    other = toy_run(spark, scratch, "bulk_replay", 8)
    for out in (first, again, other):
        assert out.failed == 0 and out.attempted > 0
    assert first.info["digest"] == again.info["digest"]
    assert first.info["digest"] != other.info["digest"]


def test_gate_fails_on_corrupted_copy(spark, scratch):
    from mex_extractors_spark.lake.table import LakeTable

    d = os.path.join(scratch, "gate")
    segs = corpus.write_segments(spark, os.path.join(d, "events"), 2_000, [1_000, 1_000], 20, 3)
    table = LakeTable(os.path.join(d, "table"))
    r = workloads.Run(spark, Tracer(spark, False, "t"), d, 3,
                      workloads.SIZES["toy"]["bulk_replay"])
    workloads.replay_segments(r, table, segs, "seg")
    oracle = Oracle(segs)
    r.gate(table, oracle)
    assert (r.out.attempted, r.out.failed) == (2, 0)

    shutil.copytree(table.path, os.path.join(d, "copy"))
    copy = LakeTable(os.path.join(d, "copy"))
    victim = os.path.join(copy.path, copy.current_snapshot()["buckets"]["0"]["files"][0])
    rows = pq.read_table(victim).to_pylist()
    rows[0]["content"] = "corrupted"
    pq.write_table(pa.Table.from_pylist(rows, schema=pq.read_schema(victim)), victim)
    r.gate(copy, oracle)
    assert (r.out.attempted, r.out.failed) == (4, 2)  # row mismatch and checksum audit
    oracle.close()


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_metric_names_and_units_match_benchmark_json(spark, scratch, workload):
    out = toy_run(spark, scratch, workload, 5, trace=True)
    assert out.failed == 0
    declared_e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    declared_layers = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: u for k, (_, u) in out.e2e.items()} == declared_e2e
    assert {k: u for k, (_, u) in out.layers.items()} == declared_layers
    assert all(v > 0 for v, _ in out.e2e.values())


def test_cli_prints_result_line():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_replay", "--seed", "3",
         "--seconds", "0", "--trace", "0", "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH["end_to_end"]
    }


def test_cli_fails_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_replay", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

"""End-to-end runs of the benchmark command at tiny input sizes: the
output schema, correctness on every workload, the per-layer report and
the refusal to run without the package.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
Each run starts a Spark session; the module takes a few minutes.
"""

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

import run  # noqa: E402


def _bench(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=timeout)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_what_run_reports():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.GEN)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("workload", sorted(run.GEN))
def test_tiny_run_is_correct_and_reports_every_metric(workload):
    p = _bench(ROOT, "--workload", workload, "--seed", "11", "--seconds", "1",
               "--trace", "0", "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    context = json.loads(lines[-2])["context"]
    assert result["correct"] and result["failed"] == 0, context["errors"]
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert context["nproc"] >= 1 and context["cpu_ticks"]
    assert context["versions"]["spark"] and context["confs"]["spark.master"]


def test_traced_run_reports_every_layer_metric():
    p = _bench(ROOT, "--workload", "changesets", "--seed", "12", "--seconds", "1",
               "--trace", "1", "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"], json.loads(lines[-2])["context"]["errors"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    m = {k: v["value"] for k, v in result["metrics"].items()}
    for name in ("native_cascade.bundle_s", "native_cascade.replan_s",
                 "delta_store.commit_write_s", "delta_store.chain_len",
                 "catalyst.optimization_s", "rules_compiler.compile_s"):
        assert m[name] > 0, name
    trace = json.loads(lines[-2])["context"]["trace_file"]
    with open(os.path.join(ROOT, trace)) as fh:
        spans = json.load(fh)["spans"]
    assert {"setup", "inference_maintenance.commit", "delta_store.read"} <= {
        s["name"] for s in spans}
    assert all(s["end"] >= s["start"] for s in spans)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(tmp_path, "--workload", "flagship", "--seed", "1", "--seconds", "1",
               "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

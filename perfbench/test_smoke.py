"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``perfbench/run.py`` in a subprocess with the workload's
untimed preparation and warm-up and the fewest timed steps it allows
(four for a traced run); all cases take about five minutes.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--tiny", "--seed", "7", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return proc


def result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["perfbench"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    record, out = result(bench("--workload", workload, "--trace", "0"))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0
    assert out["metrics"].keys() == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert out["metrics"][m["name"]]["value"] > 0
    assert record["error_rate"] == 0
    assert record["settings"]["spark.master"] == record["settings"]["master"]


def test_traced_run_reports_every_per_layer_metric():
    record, out = result(bench("--workload", "crawl_fetch", "--trace", "1"))
    assert out["correct"] and out["attempted"] == 4
    assert out["metrics"].keys() == {m["name"] for m in SPEC["per_layer"]}
    traced = [s for s in record["steps"] if s["traced"]]
    assert traced and {"checkpoint.plan", "checkpoint.admitted", "append.frontier_v"} <= set(
        traced[0]["spans"]
    )
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["round.plan_s"] > 0 and m["fetcher.docs_s"] > 0 and m["round.driver_s"] > 0
    # the timed round refetches pages, so the filter and confirm join reject keys
    assert m["seen_filter.maybe_ratio"] > 0 and m["admission.admit_ratio"] < 1


def test_corrupted_digest_fails_the_step():
    record, out = result(bench("--workload", "seed_import", "--trace", "0", "--corrupt-digest"))
    # the corrupted first timed step is also every later step's reference
    assert out["correct"] is False
    assert out["attempted"] >= 1 and out["failed"] == out["attempted"]
    assert out["metrics"]["success_rate"]["value"] == 0
    assert any("seen_keys" in e for e in record["steps"][0]["errors"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "crawl_fetch", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

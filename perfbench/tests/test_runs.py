"""Whole benchmark runs at tiny sizes, and the result-line contract."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run as bench
from perfbench import workloads

ROOT = bench.ROOT
WORKLOADS = [w["name"] for w in bench.spec()["workloads"]]
TINY = {"ingest_query": 0.2, "crawl_ccweight": 0.05}


def _names(section: str) -> set[str]:
    return {m["name"] for m in bench.spec()[section]}


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric(workload, trace, tmp_path):
    result = bench.run(workload, 3, 0.1, trace, scale=TINY[workload], work=str(tmp_path / "w"))
    line = bench.result_line(result, trace)
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    assert set(line["metrics"]) == _names(section)
    units = {m["name"]: m["unit"] for m in bench.spec()[section]}
    for name, m in line["metrics"].items():
        assert m["unit"] == units[name]
        assert math.isfinite(m["value"]) and m["value"] >= 0
    if not trace:
        assert all(m["value"] > 0 for m in line["metrics"].values())
        return
    # every layer this workload owns did work; zeros are for bypassed layers
    layers = bench.layer_map()
    own = [n for n, v in layers.items() if v["workload"] == workload]
    assert own
    for name in own:
        assert line["metrics"][name]["value"] > 0, name
    for name, m in line["metrics"].items():
        if m["value"] == 0 and not name.startswith("spark."):
            assert workload in layers[name]["bypass"], name
    with open(result["trace_file"]) as fh:
        tr = json.load(fh)
    assert {"name", "start", "end", "parent", "run_id"} <= set(tr["spans"][0])
    assert tr["span_engine_metrics"]
    if workload == "crawl_ccweight":
        assert tr["replays"] and all(r["mismatch"] == {} for r in tr["replays"])
        assert line["metrics"]["spark.jobs"]["value"] > 0
    if workload == "ingest_query":
        assert [q["query"] for q in tr["per_query"]] == list(workloads.QUERY_MODULES)
        assert all(q["median_s"] > 0 and q["rows"] for q in tr["per_query"])


def test_every_workload_is_implemented():
    assert set(WORKLOADS) == set(workloads.WORKLOADS)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    cmd = bench.spec()["command"] + [
        "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, *cmd[1:]], cwd=tmp_path, capture_output=True, text=True,
        timeout=120, env=env,
    )
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout

"""Self-test of the benchmark command.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload untraced and traced at its own size and checks the
result line against BENCHMARK.json: every named metric is present,
carries its unit and is non-negative, the output checks pass, and on
``flagship`` the traced layer self-times account for the traced wall to
within 15%, no layer's self time is negative and the spans cover the
traced pass. Also checks that the command fails, without a result line,
where the engine is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
sys.path.insert(0, ROOT)
from perfbench import flagship  # noqa: E402


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_result_line_names_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert got["value"] >= 0, (m["name"], got["value"])
    if trace:
        assert res["metrics"]["functions.udf_rows_per_row"]["value"] == 1.0
    if trace and workload == "flagship":
        m = {k: v["value"] for k, v in res["metrics"].items()}
        # The prefix self times sum to the untraced pass wall unless a
        # layer came out negative, so this bounds the tracing overhead.
        layers = sum(m[k] for k in flagship.LAYER_SELF)
        assert abs(layers / m["trace.wall_s"] - 1) <= 0.15
        assert m["trace.layers_negative"] == 0
        assert abs(m["trace.coverage"] - 1) <= 0.15
        assert m["ops.entries"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

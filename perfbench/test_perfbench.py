"""Self-test of the benchmark: a short run of every workload, traced
and untraced, and the guarantee that no run, finished or killed, leaves a process behind.

    python3 -m pytest perfbench/test_perfbench.py -q
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

import layers  # noqa: E402
from run import run_members  # noqa: E402


def bench(*args: str, timeout: float = 600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=timeout,
    )


def supervisor(stdout: str) -> dict:
    line = next(ln for ln in stdout.splitlines() if ln.startswith("# supervisor "))
    return json.loads(line[len("# supervisor "):])


def leftovers(token: str) -> list[str]:
    """Commands of processes the run started that are still alive."""
    out = []
    for pid in run_members(token):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                out.append(f.read().replace(b"\0", b" ").decode())
        except OSError:
            pass
    return out


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["serve", "replay", "catalog"]


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["serve", "replay", "catalog"])
def test_short_run_reports_checks_and_leaves_nothing(workload, trace):
    # full-size data; --seconds 1 only shortens the timed phase
    p = bench("--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2][len("# detail "):])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = layers.PER_LAYER if trace == "1" else layers.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert detail["active_streams_at_exit"] == []
    assert detail["named_metrics"]["error_rate"]["value"] == 0.0
    # no JVM and no pyspark.daemon outlives the run
    assert leftovers(supervisor(p.stdout)["run"]) == []


def test_timed_out_run_is_killed_with_its_children():
    p = bench("--workload", "serve", "--seed", "7", "--seconds", "30",
              "--trace", "0", "--timeout", "20")
    assert p.returncode != 0
    sup = supervisor(p.stdout)
    assert sup["timed_out"]
    assert not p.stdout.strip().splitlines()[-1].startswith("{")
    assert leftovers(sup["run"]) == []
    runs = os.path.join(ROOT, ".perfbench_runs")
    assert not [d for d in os.listdir(runs) if d.startswith("serve-7-")]


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()

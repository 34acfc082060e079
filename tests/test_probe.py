"""Smoke test of tools/probe.py: each mode runs once as a subprocess at
sf0.001 under the bench's serving state and prints one result line per
query (stdout carries nothing else; Spark logs go to stderr)."""

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = os.path.join(_REPO, "tools", "probe.py")
SF = "/root/testdata/sf0.001"
QUERY = "q5_region_revenue"


def _probe(*args: str, env: dict | None = None) -> list[str]:
    r = subprocess.run(
        [sys.executable, PROBE, *args],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, **(env or {})},
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return [line for line in r.stdout.splitlines() if line.strip()]


def test_probe_ab_alternates_two_widths():
    lines = _probe("ab", "--sf-dir", SF, "--passes", "1", "--width", "1,8", QUERY)
    assert len(lines) == 1, lines
    assert lines[0].startswith(f"AB {QUERY}: w1=") and " w8=" in lines[0], lines


def test_probe_split_construct_vs_execute():
    lines = _probe("split", "--sf-dir", SF, "--passes", "1", QUERY)
    assert len(lines) == 1, lines
    assert lines[0].startswith(f"{QUERY}: construct=") and " exec=" in lines[0], lines


def test_probe_plans_writes_the_formatted_plan(tmp_path):
    lines = _probe(
        "plans", "--sf-dir", SF, "smoke", QUERY,
        env={"SPARK_GRAFT_PLANS_DIR": str(tmp_path)},
    )
    assert len(lines) == 1, lines
    assert lines[0].startswith(f"{QUERY}: Exchange x"), lines
    text = (tmp_path / f"{QUERY}_smoke.txt").read_text()
    assert "== Physical Plan ==" in text, text[:500]

"""Smoke test of the benchmark: every workload at scale 0.001, one set-up,
one round, all output checks on, traced and untraced.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
#: (attempted, failed) of one smoke round; landing_replay is the one
#: operation that fails on the current program.
EXPECTED_OPS = {"medallion_incremental": (3, 1), "analytics_pass": (7, 0)}


def run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_spec_names_every_workload_and_metric():
    sys.path.insert(0, str(BENCH))
    import run as bench

    assert {w["name"] for w in SPEC["workloads"]} == set(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == bench.E2E_UNITS
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == bench.per_layer_names()


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", sorted(EXPECTED_OPS))
def test_smoke(workload, trace):
    p = run("--workload", workload, "--seed", "5", "--seconds", "1", "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"], p.stderr[-3000:]
    assert (out["attempted"], out["failed"]) == EXPECTED_OPS[workload]
    spec = SPEC["end_to_end"] if trace == "0" else SPEC["per_layer"]
    assert {n: v["unit"] for n, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / BENCH.name, ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    p = run("--workload", "analytics_pass", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert not p.stdout.strip()

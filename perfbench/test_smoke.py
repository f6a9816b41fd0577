"""Smoke self-test of the benchmark.

Runs every workload of ``BENCHMARK.json`` once at sf0.001, untraced
and traced, and checks that the result line carries every metric the
file names, with its unit. Also checks that the generated fixtures
equal the testdata where a copy of it is present, and that the
benchmark refuses to run (non-zero exit, no result line) without the
program next to it.

    python3 -m pytest perfbench/test_smoke.py -q    # about 5 minutes
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_with_unit(workload, trace):
    out = _run(
        ROOT,
        *("--workload", workload, "--seed", "1", "--seconds", "1"),
        *("--trace", str(trace), "--sf", "0.001"),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in line["metrics"].values())


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_fixtures_match_testdata(sf):
    """The generated fixtures equal the repository's testdata, where a
    copy is present next to the catalog's default scale."""
    from mathorcup_spark.catalog import DEFAULT_SF_DIR

    ref = Path(DEFAULT_SF_DIR).parent / f"sf{sf}"
    if not ref.is_dir():
        pytest.skip(f"no testdata at {ref}")
    out = subprocess.run(
        [sys.executable, "perfbench/datagen.py", "--compare", str(ref)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout + out.stderr


def test_refuses_without_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            ROOT / path,
            tmp_path / path,
            ignore=shutil.ignore_patterns(".data", ".work", ".out", "__pycache__"),
        )
    out = _run(tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout.strip() == ""

"""The scripts under tools/ stay importable, and every tools/<name>.py
path the code cites exists. Spark-free: importing a tool starts no
session (each one builds its session in main())."""

from __future__ import annotations

import importlib
import re

import pytest

from tests.conftest import REPO

TOOLS = sorted(p.stem for p in (REPO / "tools").glob("*.py"))


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


def test_cited_tool_paths_exist():
    cited = {}
    sources = [REPO / "bench.py"]
    for d in ("mathorcup_spark", "tools", "tests"):
        sources += (REPO / d).rglob("*.py")
    for src in sources:
        for name in re.findall(r"tools/(\w+)\.py", src.read_text()):
            cited.setdefault(name, src.relative_to(REPO).as_posix())
    missing = {n: src for n, src in cited.items() if n not in TOOLS}
    assert not missing, f"cited tools/<name>.py paths with no script: {missing}"

"""Guard the scripts under tools/: each one imports cleanly, and every
tools script the package, the tests, README.md or the verify skill cites
exists.

Most of these scripts (the driver rehearsal, the sf0.1 parity sweep,
the pagerank A/B, the catalog generator, the LPA bucketed experiment)
are run by hand and imported by no other test, so an import of a
deleted helper would otherwise go unnoticed until someone ran them.
"""

from __future__ import annotations

import importlib.util
import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TOOLS = REPO / "tools"
SCRIPTS = sorted(p.stem for p in TOOLS.glob("*.py"))
_CITED = re.compile(r"\btools/(\w+)\.py")


@pytest.mark.parametrize("name", SCRIPTS)
def test_tool_imports(name, monkeypatch):
    """Import with tools/ on sys.path, as the scripts import each other.
    Entry points sit under ``if __name__ == "__main__"``, so an import
    runs no Spark job and parses no arguments."""
    monkeypatch.syspath_prepend(str(TOOLS))
    spec = importlib.util.spec_from_file_location(f"_tool_{name}", TOOLS / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, module)
    spec.loader.exec_module(module)


def _citing_files() -> list[Path]:
    return [
        *sorted((REPO / "project_crypto_data_engineering_gcp_spark").rglob("*.py")),
        *sorted((REPO / "tests").rglob("*.py")),
        REPO / "README.md",
        REPO / ".claude" / "skills" / "verify" / "SKILL.md",
    ]


def test_cited_tools_exist():
    cited = {
        (path.relative_to(REPO), name)
        for path in _citing_files()
        for name in _CITED.findall(path.read_text(encoding="utf-8"))
    }
    assert cited, "no tools/ citation found: the scan matches nothing"
    dangling = sorted(
        f"{path}: tools/{name}.py"
        for path, name in cited
        if not (TOOLS / f"{name}.py").is_file()
    )
    assert not dangling, f"cited tools scripts that do not exist: {dangling}"

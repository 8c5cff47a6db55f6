"""Guard the scripts under tools/ and the package's settings surface:
each tools script imports cleanly; every tools script or test module
the package, the tests, README.md or the verify skill cites exists;
the package reads exactly the known environment variables; and each
CLI verb takes exactly the known options.

Most of these scripts (the driver rehearsal, the sf0.1 parity sweep,
the fuzzers, the catalog generator) are run by hand and imported by no
other test, so an import of a deleted helper would otherwise go
unnoticed until someone ran them.
"""

from __future__ import annotations

import argparse
import ast
import importlib.util
import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "project_crypto_data_engineering_gcp_spark"
TOOLS = REPO / "tools"
SCRIPTS = sorted(p.stem for p in TOOLS.glob("*.py"))
_CITED = re.compile(r"\b(tools|tests)/(\w+)\.py")
# the deployment settings read in session.py; a new env knob must be
# added here on purpose
ENV_READS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
# the options of each CLI verb (besides -h/--help); a new flag must be
# added here on purpose
CLI_OPTIONS = {
    "ingest": {"--landing", "--fixture", "--api-key"},
    "run": {"--landing", "--out"},
    "stream": {"--landing", "--out"},
    "dashboard": {"--out", "-n"},
    "curate": {"--sf-dir", "--out"},
    "compact": {
        "--path",
        "--target-mb",
        "--sort-by",
        "--vacuum-keep",
        "--vacuum-retention-hours",
    },
    "build-lsh-index": {"--sf-dir", "--out"},
    "dedup-stream": {"--landing", "--state", "--max-files-per-trigger"},
}


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
        *sorted(PACKAGE.rglob("*.py")),
        *sorted((REPO / "tests").rglob("*.py")),
        REPO / "README.md",
        REPO / ".claude" / "skills" / "verify" / "SKILL.md",
    ]


def test_cited_tools_exist():
    cited = {
        (path.relative_to(REPO), f"{folder}/{name}.py")
        for path in _citing_files()
        for folder, name in _CITED.findall(path.read_text(encoding="utf-8"))
    }
    for folder in ("tools", "tests"):
        assert any(c.startswith(folder) for _, c in cited), (
            f"no {folder}/ citation found: the scan matches nothing"
        )
    dangling = sorted(
        f"{path}: {c}" for path, c in cited if not (REPO / c).is_file()
    )
    assert not dangling, f"cited scripts that do not exist: {dangling}"


def _env_reads(tree: ast.Module) -> set[str]:
    """Names read through ``os.environ.get``, ``os.getenv`` and
    ``os.environ[...]``. A name held in a module-level string constant is
    resolved; any other key expression is kept as its source text, so
    it cannot match the allowed set by accident."""
    consts = {
        t.id: n.value.value
        for n in tree.body
        if isinstance(n, ast.Assign) and isinstance(n.value, ast.Constant)
        for t in n.targets
        if isinstance(t, ast.Name) and isinstance(n.value.value, str)
    }

    def name(key: ast.AST) -> str:
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            return key.value
        if isinstance(key, ast.Name) and key.id in consts:
            return consts[key.id]
        return ast.unparse(key)

    reads = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            if ast.unparse(node.func) in ("os.environ.get", "os.getenv"):
                reads.add(name(node.args[0]))
        elif isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load):
            if ast.unparse(node.value) == "os.environ":
                reads.add(name(node.slice))
    return reads


def test_package_env_reads_are_the_known_settings():
    reads = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        reads |= _env_reads(ast.parse(path.read_text(encoding="utf-8")))
    assert reads == ENV_READS, (
        f"package env reads {sorted(reads)} != {sorted(ENV_READS)}"
    )


def test_cli_options_are_the_known_flags():
    from project_crypto_data_engineering_gcp_spark.__main__ import _build_parser

    (verbs,) = (
        a for a in _build_parser()._actions if isinstance(a, argparse._SubParsersAction)
    )
    options = {
        verb: {s for a in p._actions for s in a.option_strings} - {"-h", "--help"}
        for verb, p in verbs.choices.items()
    }
    assert options == CLI_OPTIONS

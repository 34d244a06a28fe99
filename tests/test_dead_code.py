"""Dead-code guard: every top-level ``def``/``class`` in the package must be
referenced somewhere else in the repo's Python — another ``.py`` file, or
its own file outside its ``def`` line. A reference is a whole-word match,
so a name cited in a docstring or comment counts. Spark-free and fast:
the repo is tokenized once into word counts."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
_WORD = re.compile(r"\w+")


def _repo_sources(root: Path) -> dict[Path, str]:
    return {
        p: p.read_text(encoding="utf-8")
        for p in root.rglob("*.py")
        if not any(
            part.startswith(".") or part == "dist"
            for part in p.relative_to(root).parts[:-1]
        )
    }


def unreferenced_defs(root: Path = ROOT) -> list[str]:
    pkg = root / "cov_tiles_spark"
    sources = _repo_sources(root)
    total = Counter(_WORD.findall("\n".join(sources.values())))
    dead = []
    for path, src in sources.items():
        if pkg not in path.parents:
            continue
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            on_def_line = _WORD.findall(lines[node.lineno - 1]).count(node.name)
            if total[node.name] - on_def_line == 0:
                dead.append(f"{path.relative_to(root)}:{node.lineno} {node.name}")
    return dead


def test_package_has_no_unreferenced_top_level_defs():
    assert unreferenced_defs() == []


def test_scan_flags_an_unreferenced_def(tmp_path):
    """The scan is not vacuous: a def named nowhere else is reported."""
    pkg = tmp_path / "cov_tiles_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def used():\n    return 1\n\n\ndef orphan():\n    return used()\n"
    )
    (tmp_path / "caller.py").write_text("from cov_tiles_spark.mod import used\n")
    assert unreferenced_defs(tmp_path) == ["cov_tiles_spark/mod.py:5 orphan"]

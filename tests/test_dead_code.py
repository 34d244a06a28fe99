"""Dead-code guards, both Spark-free and fast.

- Every top-level ``def``/``class`` in the package must be referenced
  somewhere else in the repo's Python — another ``.py`` file, or its own
  file outside its ``def`` line. A reference is a whole-word match, so a
  name cited in a docstring or comment counts. The repo is tokenized once
  into word counts.
- Every package module must be reachable by imports from the driver
  entry, the two bench harnesses or the benchmark: a module only tests or
  scripts import is not part of the gated core."""

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


def _module_name(root: Path, path: Path) -> str:
    parts = path.relative_to(root).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(src: str) -> set[str]:
    """Absolute module names an import anywhere in ``src`` may load,
    including imports inside functions. ``from a import b`` yields both
    ``a`` and ``a.b``, since ``b`` may be a submodule."""
    out = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            out.add(node.module)
            out.update(f"{node.module}.{alias.name}" for alias in node.names)
    return out


def unreachable_modules(root: Path = ROOT) -> list[str]:
    """Non-``__init__`` package modules outside the import closure of the
    entry, ``bench.py``, ``bench_extra.py`` and ``perfbench/*.py``."""
    modules = {
        _module_name(root, p): p for p in (root / "cov_tiles_spark").rglob("*.py")
    }
    roots = [root / n for n in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    roots += (root / "perfbench").glob("*.py")
    todo = set().union(*(_imports(p.read_text()) for p in roots if p.exists()))
    seen: set[str] = set()
    while todo:
        parts = todo.pop().split(".")
        # importing a.b.c runs the __init__ of a and a.b first
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules and mod not in seen:
                seen.add(mod)
                todo |= _imports(modules[mod].read_text())
    return sorted(
        str(p.relative_to(root))
        for name, p in modules.items()
        if name not in seen and p.name != "__init__.py"
    )


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


def test_every_package_module_is_reachable_from_a_gate_or_bench():
    assert unreachable_modules() == []


def test_reachability_flags_an_orphan_module(tmp_path):
    """The walk is not vacuous: it follows function-level imports and
    package ``__init__`` files, and reports a module only a test imports."""
    pkg = tmp_path / "cov_tiles_spark"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("from cov_tiles_spark.sub import b\n")
    (pkg / "sub" / "a.py").write_text("def f():\n    import cov_tiles_spark.sub.c\n")
    for name in ("b", "c", "orphan"):
        (pkg / "sub" / f"{name}.py").write_text("")
    (tmp_path / "bench.py").write_text("from cov_tiles_spark.sub import a\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_x.py").write_text("import cov_tiles_spark.sub.orphan\n")
    assert unreachable_modules(tmp_path) == ["cov_tiles_spark/sub/orphan.py"]

"""Dead-code guards, all Spark-free and fast.

- Every top-level ``def``/``class`` and every non-dunder method in the
  package must be reachable from the gated core: named in the code (not
  the docstrings or comments) of ``__spark_entry__.py``, the two bench
  harnesses, the benchmark, ``scripts/``, package module-level code, or a
  def those reach in turn. Code only tests call is not part of it.
- Every package module must be reachable by imports from the driver
  entry, the two bench harnesses or the benchmark: a module only tests or
  scripts import is not part of the gated core.
- Every ``from cov_tiles_spark... import name`` in those roots and in
  ``scripts/`` resolves, so deleting a def cannot leave a script that
  fails only when it runs.
- Every defaulted parameter of a package def or of a def in
  ``__spark_entry__.py`` is set by some call outside ``tests/``: a
  default only tests override is a constant, not an option. The
  exceptions are listed in ``TEST_SEAMS``, each with its reason.
- Every parameter of a package def or lambda is read in its body: one
  that is accepted and never read is a settable value that changes
  nothing."""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _gate_roots(root: Path) -> list[Path]:
    """The entry, both bench harnesses and the benchmark's modules."""
    roots = [root / n for n in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    roots += sorted((root / "perfbench").glob("*.py"))
    return [p for p in roots if p.exists()]


def _code_names(src: str) -> set[str]:
    """Identifiers in ``src``'s code: comments and string literals
    (docstrings included) are dropped by the tokenizer."""
    return {
        tok.string
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.NAME
    }


def _span(node: ast.AST) -> range:
    """1-based line numbers of a def, its decorators included."""
    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
    return range(first, node.end_lineno + 1)


def unreachable_defs(root: Path = ROOT) -> list[str]:
    """Package defs no gate, bench, benchmark or script reaches.

    Each top-level def/class and each method is one segment of code;
    what is left of a module (imports, constants, module-level calls)
    is a root, as are the gate roots and ``scripts/*.py``. A def becomes
    live when a live segment names it, and its own code then counts,
    until nothing changes. A class's body outside its methods goes with
    the class, and its dunder methods are live with it.

    The match is by name, not by binding: a dead def that shares its
    name with anything a live segment names (another def, a method, a
    keyword argument, an attribute) is kept."""
    pkg = root / "cov_tiles_spark"
    live: set[str] = set()
    for p in _gate_roots(root) + sorted((root / "scripts").glob("*.py")):
        live |= _code_names(p.read_text(encoding="utf-8"))
    # (name that makes it live, (file, line, qualname) or None for a
    # dunder, names in its code)
    segments: list[tuple[str, tuple | None, set[str]]] = []
    for path in sorted(pkg.rglob("*.py")):
        lines = path.read_text(encoding="utf-8").splitlines(keepends=True)
        rel = path.relative_to(root)

        def code(span: range, skip: set[int] = frozenset()) -> set[str]:
            return _code_names(
                "".join(lines[i - 1] for i in span if i not in skip)
            )

        in_defs: set[int] = set()
        for node in ast.parse("".join(lines)).body:
            if not isinstance(node, (*_FUNCS, ast.ClassDef)):
                continue
            span = _span(node)
            in_defs.update(span)
            in_methods: set[int] = set()
            for m in node.body if isinstance(node, ast.ClassDef) else ():
                if isinstance(m, _FUNCS):
                    in_methods.update(_span(m))
                    dunder = m.name.startswith("__") and m.name.endswith("__")
                    segments.append((
                        node.name if dunder else m.name,
                        None if dunder else (str(rel), m.lineno, f"{node.name}.{m.name}"),
                        code(_span(m)),
                    ))
            segments.append(
                (node.name, (str(rel), node.lineno, node.name), code(span, in_methods))
            )
        live |= code(range(1, len(lines) + 1), in_defs)
    while True:
        reached = [seg for seg in segments if seg[0] in live]
        if not reached:
            break
        segments = [seg for seg in segments if seg[0] not in live]
        for seg in reached:
            live |= seg[2]
    return [f"{f}:{n} {q}" for f, n, q in sorted(w for _, w, _ in segments if w)]


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    return f.attr if isinstance(f, ast.Attribute) else None


# Defaulted parameters that only tests set, as "file def(param)": the
# limits a test lowers to reach them on a small input, and one reference
# path a test compares against.
TEST_SEAMS = {
    # the bucket cap that bounds memory on a hot LSH bucket
    "cov_tiles_spark/operators/dedup.py minhash_near_dups(max_bucket_size)":
        "limit a test lowers to reach it",
    "cov_tiles_spark/operators/dedup.py simhash_near_dups(max_bucket_size)":
        "limit a test lowers to reach it",
    "cov_tiles_spark/operators/dedup.py embedding_near_dups(max_bucket_size)":
        "limit a test lowers to reach it",
    "cov_tiles_spark/operators/dedup.py ngram_jaccard_pairs(max_block_size)":
        "limit a test lowers to reach it",
    "cov_tiles_spark/operators/dedup.py ngram_jaccard_pairs(vocab_limit)":
        "limit a test lowers to reach it",
    "cov_tiles_spark/operators/semdedup.py semantic_dedup(max_cluster_size)":
        "limit a test lowers to reach it",
    "cov_tiles_spark/operators/semdedup.py _prune_cluster(block)":
        "limit a test lowers to reach it",
    "cov_tiles_spark/operators/similarity.py retrieval_eval(max_queries)":
        "limit a test lowers to reach it",
    "cov_tiles_spark/operators/similarity.py hard_negatives(max_queries)":
        "limit a test lowers to reach it",
    "cov_tiles_spark/pipeline/layout.py bbox_cover(max_cover_cells)":
        "limit a test lowers to reach it",
    "cov_tiles_spark/operators/cluster.py connected_components(max_iter)":
        "safety rail a test sets to 0 to see it raise",
    "cov_tiles_spark/operators/sampling.py sample_per_group(prefilter)":
        "reference path its test compares the prefiltered plan against",
}


def unset_params(root: Path = ROOT, seams: dict[str, str] = TEST_SEAMS) -> list[str]:
    """Defaulted parameters of package and entry defs that no call sets,
    and ``seams`` entries that match no such parameter.

    Calls are read from the package, the entry, ``bench*.py``,
    ``perfbench/`` and ``scripts/``, not from ``tests/``: a default that
    only a test overrides is reported unless ``seams`` lists it as
    ``"file def(param)"``. A seam that names a def or parameter that is
    gone, or one that a non-test call now sets, is reported as stale. A
    call sets a parameter by keyword, by passing more positional
    arguments than precede it, or through ``*args``/``**kw``, which may
    set any of them. As in :func:`unreachable_defs` the match is by
    name: a call to ``f`` or ``x.f`` counts for every def named ``f``, a
    call to ``C`` for ``C.__init__``, and a method's ``self``/``cls``
    takes no position."""
    srcs = [root / "__spark_entry__.py", *sorted(root.glob("bench*.py"))]
    for d in ("cov_tiles_spark", "perfbench", "scripts"):
        srcs += sorted((root / d).rglob("*.py"))
    n_pos: dict[str, int] = {}
    keywords: dict[str, set[str]] = {}
    starred: set[str] = set()
    for p in srcs:
        if not p.exists():
            continue
        for call in ast.walk(ast.parse(p.read_text(encoding="utf-8"))):
            if not isinstance(call, ast.Call) or (name := _callee(call)) is None:
                continue
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                starred.add(name)
            n_pos[name] = max(n_pos.get(name, 0), len(call.args))
            keywords.setdefault(name, set()).update(
                k.arg for k in call.keywords if k.arg
            )
    out = []
    honoured = set()
    entry = [p for p in [root / "__spark_entry__.py"] if p.exists()]
    for path in sorted((root / "cov_tiles_spark").rglob("*.py")) + entry:
        tree = ast.parse(path.read_text(encoding="utf-8"))
        owner = {
            id(m): c.name
            for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
            for m in c.body
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, _FUNCS):
                continue
            names = {fn.name}
            args = fn.args
            pos = args.posonlyargs + args.args
            static = any(
                isinstance(d, ast.Name) and d.id == "staticmethod"
                for d in fn.decorator_list
            )
            if id(fn) in owner and not static:
                pos = pos[1:]
                if fn.name == "__init__":
                    names.add(owner[id(fn)])
            first = len(pos) - len(args.defaults)
            params = [(a.arg, i) for i, a in enumerate(pos) if i >= first]
            params += [
                (a.arg, None)
                for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None
            ]
            for arg, i in params:
                if not any(
                    n in starred
                    or arg in keywords.get(n, ())
                    or (i is not None and n_pos.get(n, 0) > i)
                    for n in names
                ):
                    key = f"{path.relative_to(root)} {fn.name}({arg})"
                    if key in seams:
                        honoured.add(key)
                    else:
                        out.append(f"{path.relative_to(root)}:{fn.lineno} {fn.name}({arg})")
    return out + [f"stale seam: {k}" for k in sorted(set(seams) - honoured)]


def unread_params(root: Path = ROOT) -> list[str]:
    """Parameters of package defs and lambdas that no ``Name`` in their
    body loads (nested defs included), ``self`` and ``cls`` too."""
    out = []
    for path in sorted((root / "cov_tiles_spark").rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(fn, (*_FUNCS, ast.Lambda)):
                continue
            a = fn.args
            params = a.posonlyargs + a.args + a.kwonlyargs
            params += [p for p in (a.vararg, a.kwarg) if p]
            body = fn.body if isinstance(fn.body, list) else [fn.body]
            loaded = {
                n.id
                for stmt in body for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            name = getattr(fn, "name", "<lambda>")
            out += [
                f"{path.relative_to(root)}:{fn.lineno} {name}({p.arg})"
                for p in params if p.arg not in loaded
            ]
    return out


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
    todo = set().union(*(_imports(p.read_text()) for p in _gate_roots(root)))
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
    """Unreferenced from the gated core: only tests, docstrings or
    comments name it (methods included)."""
    assert unreachable_defs() == []


def _tree(tmp_path: Path, files: dict[str, str]) -> Path:
    for rel, src in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(src)
    return tmp_path


def test_scan_flags_an_unreferenced_def(tmp_path):
    """A def named only in a docstring or a comment is reported."""
    root = _tree(tmp_path, {
        "cov_tiles_spark/mod.py": (
            '"""Module doc: see ``orphan``."""\n\n\n'
            "def used():\n"
            '    """Unlike ``orphan``, this one is called."""\n'
            "    return 1  # orphan\n\n\n"
            "def orphan():\n    return 2\n"
        ),
        "bench.py": "from cov_tiles_spark.mod import used\n\nused()\n",
    })
    assert unreachable_defs(root) == ["cov_tiles_spark/mod.py:9 orphan"]


def test_def_scan_reports_test_only_and_keeps_script_defs(tmp_path):
    """Tests are not roots; scripts are."""
    root = _tree(tmp_path, {
        "cov_tiles_spark/mod.py": (
            "def for_tests():\n    return 1\n\n\n"
            "def for_script():\n    return helper()\n\n\n"
            "def helper():\n    return 2\n"
        ),
        "tests/test_mod.py": (
            "from cov_tiles_spark.mod import for_tests\n\n\n"
            "def test_it():\n    assert for_tests() == 1\n"
        ),
        "scripts/tool.py": (
            "def main():\n"
            "    from cov_tiles_spark.mod import for_script\n\n"
            "    return for_script()\n"
        ),
    })
    assert unreachable_defs(root) == ["cov_tiles_spark/mod.py:1 for_tests"]


def test_def_scan_follows_attribute_calls_into_methods(tmp_path):
    """A method called through an attribute in a live def is kept, its
    callees with it; an uncalled method and a dead def's callee are
    reported; dunders go with their class."""
    root = _tree(tmp_path, {
        "cov_tiles_spark/lake.py": (
            "class Lake:\n"
            "    def __init__(self):\n"
            "        self.n = self._setup()\n\n"
            "    def _setup(self):\n        return 0\n\n"
            "    def commit(self):\n        return self._write()\n\n"
            "    def _write(self):\n        return 1\n\n"
            "    def rollback(self):\n        return self._undo()\n\n"
            "    def _undo(self):\n        return 2\n\n\n"
            "def run(lake):\n    return lake.commit()\n"
        ),
        "__spark_entry__.py": (
            "from cov_tiles_spark.lake import Lake, run\n\nrun(Lake())\n"
        ),
    })
    assert unreachable_defs(root) == [
        "cov_tiles_spark/lake.py:14 Lake.rollback",
        "cov_tiles_spark/lake.py:17 Lake._undo",
    ]


def test_every_defaulted_parameter_is_set_somewhere():
    """A default no call outside the tests overrides is a constant;
    inline it, or list it in ``TEST_SEAMS`` with its reason."""
    assert unset_params() == []


def test_param_scan_flags_an_unset_default(tmp_path):
    """Setting a same-named parameter of another def, or naming the
    parameter in a docstring, does not count."""
    root = _tree(tmp_path, {
        "cov_tiles_spark/mod.py": (
            "def f(x, a=1, *, b=2):\n"
            '    """Pass ``b`` to change nothing."""\n'
            "    return x + a + b\n\n\n"
            "def g(b=3):\n    return b\n"
        ),
        "bench.py": "from cov_tiles_spark.mod import f, g\n\nf(1, 2)\ng(b=4)\n",
    })
    assert unset_params(root, {}) == ["cov_tiles_spark/mod.py:1 f(b)"]


def test_param_scan_covers_entry_defs(tmp_path):
    """A gate's default that no call sets is reported like a package
    def's."""
    root = _tree(tmp_path, {
        "cov_tiles_spark/mod.py": "def f(x):\n    return x\n",
        "__spark_entry__.py": (
            "def q_a(spark, sf_dir, tol=16):\n    return tol\n\n\n"
            "def q_b(spark, sf_dir, tol=8):\n    return tol\n\n\n"
            "def run():\n    return q_b(None, '', tol=4)\n"
        ),
    })
    assert unset_params(root, {}) == ["__spark_entry__.py:1 q_a(tol)"]


def test_param_scan_keeps_defaults_set_by_test_position_or_kw(tmp_path):
    """A default set only by a test is kept when it is a listed seam and
    reported when it is not; one set only by position (a constructor's
    ``self`` takes none) or only through ``**kw`` is kept."""
    root = _tree(tmp_path, {
        "cov_tiles_spark/mod.py": (
            "def by_test(x, a=1):\n    return x + a\n\n\n"
            "def seam(x, a=1):\n    return x + a\n\n\n"
            "def by_position(x, a=1):\n    return x + a\n\n\n"
            "def by_kw(x, a=1):\n    return x + a\n\n\n"
            "class Box:\n"
            "    def __init__(self, a=1):\n        self.a = a\n"
        ),
        "tests/test_mod.py": (
            "from cov_tiles_spark.mod import by_test, seam\n\n\n"
            "def test_it():\n    assert by_test(1, a=2) == seam(1, a=2) == 3\n"
        ),
        "bench.py": (
            "from cov_tiles_spark.mod import Box, by_kw, by_position\n\n"
            "by_position(1, 2)\nby_kw(1, **{'a': 2})\nBox(2)\n"
        ),
    })
    seams = {"cov_tiles_spark/mod.py seam(a)": "a test lowers it"}
    assert unset_params(root, seams) == ["cov_tiles_spark/mod.py:1 by_test(a)"]


def test_param_scan_reports_stale_seams(tmp_path):
    """A seam naming a def or parameter that is gone, or a parameter a
    non-test call now sets, is reported, so the list cannot go stale."""
    root = _tree(tmp_path, {
        "cov_tiles_spark/mod.py": "def f(x, a=1):\n    return x + a\n",
        "bench.py": "from cov_tiles_spark.mod import f\n\nf(1, a=2)\n",
    })
    seams = {
        "cov_tiles_spark/mod.py f(a)": "now set by bench.py",
        "cov_tiles_spark/mod.py f(b)": "parameter gone",
        "cov_tiles_spark/mod.py g(a)": "def gone",
    }
    assert unset_params(root, seams) == [
        "stale seam: cov_tiles_spark/mod.py f(a)",
        "stale seam: cov_tiles_spark/mod.py f(b)",
        "stale seam: cov_tiles_spark/mod.py g(a)",
    ]


def test_every_parameter_is_read():
    """A parameter no body reads is an option that changes nothing."""
    assert unread_params() == []


def test_param_scan_flags_an_unread_parameter(tmp_path):
    """Storing to a parameter, naming it in a docstring or reading a
    same-named attribute does not count; a read in a nested def's body
    or default does."""
    root = _tree(tmp_path, {
        "cov_tiles_spark/mod.py": (
            "def f(x, unused, stored, attr, nested, *rest, **kw):\n"
            '    """``unused`` is documented."""\n'
            "    stored = 1\n"
            "    y = x.attr\n\n"
            "    def inner(z=kw):\n"
            "        return nested, rest, z\n\n"
            "    return y, inner\n\n\n"
            "g = lambda a, b: a\n"
        ),
    })
    assert unread_params(root) == [
        "cov_tiles_spark/mod.py:1 f(unused)",
        "cov_tiles_spark/mod.py:1 f(stored)",
        "cov_tiles_spark/mod.py:1 f(attr)",
        "cov_tiles_spark/mod.py:12 <lambda>(b)",
    ]


def _package_imports(src: str) -> list[tuple[str, str, int]]:
    """(module, name, line) of every ``from cov_tiles_spark... import``
    anywhere in ``src``, imports inside functions included."""
    return [
        (node.module, alias.name, node.lineno)
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and (node.module or "").split(".")[0] == "cov_tiles_spark"
        for alias in node.names
    ]


def test_root_and_script_package_imports_resolve():
    """Checked against the package's source, without importing it: a
    name is defined when a module's top level binds it, or when it is a
    submodule."""
    bound: dict[str, set[str]] = {}
    for p in (ROOT / "cov_tiles_spark").rglob("*.py"):
        names = set()
        for node in ast.parse(p.read_text(encoding="utf-8")).body:
            if isinstance(node, (*_FUNCS, ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update(
                    (a.asname or a.name).split(".")[0] for a in node.names
                )
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                for t in node.targets if isinstance(node, ast.Assign) else [node.target]:
                    names.update(
                        n.id for n in ast.walk(t) if isinstance(n, ast.Name)
                    )
        bound[_module_name(ROOT, p)] = names
    missing = []
    checked = 0
    for p in _gate_roots(ROOT) + sorted((ROOT / "scripts").glob("*.py")):
        for module, name, line in _package_imports(p.read_text(encoding="utf-8")):
            checked += 1
            if name not in bound.get(module, ()) and f"{module}.{name}" not in bound:
                missing.append(f"{p.relative_to(ROOT)}:{line} {module}.{name}")
    assert checked > 100
    assert missing == []


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

"""Every engine module is reachable from a product root.

Walks ``import`` statements through the AST, starting from the product
roots: the query package (importing it registers every query), every
streaming face, ``mapreduce``, ``bench.py``, ``perfbench/`` and
``__spark_entry__.py``. The walk resolves relative imports, follows
imports inside functions, and counts an import of ``a.b.c`` as an import
of the packages ``a`` and ``a.b`` too, as Python executes their
``__init__``. A module under ``myhadoop_spark/`` that no root reaches is
code only its own tests run; this test fails on it, as
``tests/test_script_refs.py`` does for scripts. No Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "myhadoop_spark"

ROOT_MODULES = [f"{PACKAGE}.queries", f"{PACKAGE}.mapreduce"] + [
    f"{PACKAGE}.streaming.{p.stem}"
    for p in sorted((REPO / PACKAGE / "streaming").glob("*.py"))]
ROOT_FILES = [REPO / "bench.py", REPO / "__spark_entry__.py",
              *sorted((REPO / "perfbench").glob("*.py"))]

# Seeded input generators, imported by tests and studies by design:
# audiogen/imagegen/videogen write the WAV, JPEG and AVI inputs that the
# tests of reachable media operators decode; synthetic is the seeded
# document DataSource the scaling studies in scripts/ read.
ALLOWLIST = {
    f"{PACKAGE}.sources.audiogen",
    f"{PACKAGE}.sources.imagegen",
    f"{PACKAGE}.sources.synthetic",
    f"{PACKAGE}.sources.videogen",
}


def engine_modules() -> dict[str, Path]:
    """Dotted name -> file for every module under the package."""
    out = {}
    for path in sorted((REPO / PACKAGE).rglob("*.py")):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def imported_names(path: Path, module: str | None) -> set[str]:
    """Absolute dotted names that ``path`` imports, with their parents.

    ``module`` is the file's own dotted name, used to resolve relative
    imports (None for a file outside any package). ``from a import b``
    yields both ``a`` and ``a.b``: ``b`` may be a submodule.
    """
    is_pkg = path.name == "__init__.py"
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                if module is None:
                    continue
                pkg = module.split(".")
                drop = node.level - 1 if is_pkg else node.level
                pkg = pkg[:len(pkg) - drop]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    closed = set()
    for name in names:
        parts = name.split(".")
        closed.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return closed


def reachable(modules: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [n for root in ROOT_FILES for n in imported_names(root, None)]
    todo += ROOT_MODULES
    while todo:
        name = todo.pop()
        if name in seen or name not in modules:
            continue
        seen.add(name)
        todo.extend(imported_names(modules[name], name))
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        todo.extend(name.rsplit(".", i)[0] for i in range(1, name.count(".") + 1))
    return seen


def test_walk_resolves_relative_nested_and_parent_imports(tmp_path):
    pkg = tmp_path / "pkg" / "sub"
    pkg.mkdir(parents=True)
    (tmp_path / "pkg" / "__init__.py").write_text("")
    (pkg / "__init__.py").write_text("from . import a\n")
    (pkg / "b.py").write_text(
        "def f():\n    from .c import x\n    from ..d import y\n"
        "import pkg.e.f\n")
    got = imported_names(pkg / "b.py", "pkg.sub.b")
    assert {"pkg.sub.c", "pkg.sub.c.x", "pkg.d", "pkg.d.y", "pkg.e.f",
            "pkg.e", "pkg"} <= got
    assert "pkg.sub.a" in imported_names(pkg / "__init__.py", "pkg.sub")


def test_every_engine_module_is_reachable():
    modules = engine_modules()
    assert ALLOWLIST <= modules.keys(), "allowlisted module is gone"
    unreachable = modules.keys() - reachable(modules)
    orphans = sorted(unreachable - ALLOWLIST)
    assert not orphans, ("modules no product root imports:\n"
                         + "\n".join(str(modules[m].relative_to(REPO))
                                     for m in orphans))
    stale = sorted(ALLOWLIST - unreachable)
    assert not stale, f"allowlisted yet reachable, drop them: {stale}"


def test_allowlisted_fixtures_are_used_by_tests():
    used = set()
    for path in sorted((REPO / "tests").glob("*.py")):
        used |= imported_names(path, None)
    unused = sorted(ALLOWLIST - used)
    assert not unused, f"allowlisted fixture modules no test imports: {unused}"

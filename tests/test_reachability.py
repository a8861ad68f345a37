"""Every engine module, and every public operator and query function, is
reachable from a product root.

Walks ``import`` statements through the AST, starting from the product
roots: the query package (importing it registers every query), the
streaming faces named in ``STREAMING_FACES``, ``mapreduce``,
``bench.py``, ``perfbench/`` and ``__spark_entry__.py``. The walk
resolves relative imports, follows imports inside functions, and
counts an import of ``a.b.c`` as an import of the packages ``a`` and
``a.b`` too, as Python executes their ``__init__``. A module under ``myhadoop_spark/`` that no root reaches is
code only its own tests run; this test fails on it, as
``tests/test_script_refs.py`` does for scripts.

One level down, a public module-level function of ``operators/`` or
``queries/`` must be named by live product code: an ``ast.Name``, an
``ast.Attribute`` or an import alias; docstrings and comments do not
count. Live code is every root file, every statement of a reachable
module outside function bodies, every function body outside
``operators/`` and ``queries/``, every registered query, and the body
of every function live code names, to a fixpoint. Matching is by bare
name, so it can miss a dead function that shares a live name, never
flag a used one.

Last, no test under ``tests/`` is skipped unconditionally
(``pytest.mark.skip``, or ``skipif`` on a constant true): such a test
never runs, yet keeps the code it names looking checked. No Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "myhadoop_spark"

# Streaming face modules, one reason each: a face module this dict
# does not name and no root imports fails the module walk. "keep" marks a face the
# one-face-per-mechanism pass kept; "D11b" one it has not yet decided
# (ROADMAP D11b). observed and versioned_state are helpers the faces
# import, not faces.
STREAMING_FACES = {f"{PACKAGE}.streaming.{name}": reason for name, reason in {
    "hybrid_ingest": "keep: the one near-dup and index ingest path, a "
                     "MinHash-LSH gate over durable history plus the "
                     "BM25 and IVF appends",
    "line_dedup_stream": "keep: the exact seen-set of the benchmark's "
                         "stream_dedup workload",
    "simhash_stream": "keep: the Hamming-ball relation of the gated "
                      "simhash_neardup as a set-growing versioned face",
    "windows": "keep: the watermark/window streaming slice, twin of "
               "the gated stream_window",
    "bloom_ingest": "D11b: m-bit seen filter; measure against "
                    "line_dedup_stream's exact seen-set first",
    "boilerplate_stream": "D11b: versioned face D8 would rewrite",
    "budget_stream": "D11b: versioned face D8 would rewrite",
    "cms_stream": "D11b: versioned fixed-size sketch face",
    "entity_stream": "D11b: versioned face D8 would rewrite",
    "heavy_hitters_stream": "D11b: versioned bounded-summary face",
    "hll_stream": "D11b: versioned fixed-size sketch face",
    "url_cap_stream": "D11b: versioned face D8 would rewrite",
}.items()}

ROOT_MODULES = [f"{PACKAGE}.queries", f"{PACKAGE}.mapreduce",
                *STREAMING_FACES]
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


# Public operator functions no product root calls, kept on purpose, one
# reason each, and each reason opens with its decision (REASON_PREFIXES).
# "keep" marks the read paths and batch forms of the indexes
# hybrid_ingest maintains; "D11b" those of a face not yet decided
# (ROADMAP D11b), which go or stay with it.
REASON_PREFIXES = ("keep:", "reference:", "D10b:", "D11b:")
FUNCTION_ALLOWLIST = {f"{PACKAGE}.operators.{name}": reason for name, reason in {
    # the read paths through which tests check what the faces wrote
    "bm25_index.search_bm25_index": "keep: read path of the BM25 index "
                                    "hybrid_ingest appends to",
    "ivf_index.search_index": "keep: read path of the IVF index "
                              "hybrid_ingest appends to",
    "hll_index.estimate": "D11b: estimate over the hll_stream face's "
                          "sketch index",
    # batch forms in the faces' modules
    "lsh_index.append_to_lsh_index": "keep: batch append to the LSH "
                                     "index hybrid_ingest gates on",
    "lsh_index.dedup_incoming": "keep: batch probe of the LSH index "
                                "hybrid_ingest gates on",
    "cms.cms_verified_topk": "D11b: batch top-k of the cms_stream "
                             "face's sketch",
    "heavy_hitters.heavy_hitters_topk": "D11b: batch Misra-Gries summary "
                                        "beside heavy_hitters_stream",
    "bm25.rrf_fuse": "keep: fuses the read paths of the BM25 and IVF "
                     "indexes hybrid_ingest appends to",
    # reference implementations the tests pin an operator against
    "bm25.bm25_rank": "reference: tests/test_bm25_index.py pins the "
                      "index search bitwise to it",
    "bm25_index.term_bucket_py": "reference: the Python twin of the "
                                 "index's term bucket",
    "budget_select.budget_select_window": "reference: the single-window "
                                          "spec of budget_select",
    "unimax.unimax_select_window": "reference: the single-window spec of "
                                   "unimax_select",
    "url_dedup.domain_cap_window": "reference: the single-window spec of "
                                   "domain_cap",
    # "D10b" marks the functions of the ungated queries whose retirement
    # is deferred (ROADMAP D10b); each goes with the module or query named
    "bm25_index.phrase_search_index": "D10b: index-side twin of the "
                                      "phrase_search count; goes with it",
    "constraints.matches": "D10b: goes with operators/constraints.py "
                           "(data_quality)",
    "ppjoin.size_ratio_candidates": "D10b: the generator choose_generator "
                                    "weighs; goes with ngram_jaccard",
}.items()}
FUNCTION_PACKAGES = (f"{PACKAGE}.operators.", f"{PACKAGE}.queries.")


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
    assert STREAMING_FACES.keys() <= modules.keys(), "listed face is gone"
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


def _is_registered(fn: ast.FunctionDef) -> bool:
    return any(isinstance(d, ast.Call)
               and getattr(d.func, "id", getattr(d.func, "attr", None))
               == "register" for d in fn.decorator_list)


def _used_names(nodes) -> set[str]:
    """Names, attributes and import aliases under ``nodes``."""
    out = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
            elif isinstance(sub, ast.alias):
                out.add(sub.name.rsplit(".", 1)[-1])
    return out


def unused_functions(modules: dict[str, Path], live_modules: set[str],
                     keep: frozenset[str] = frozenset()) -> set[str]:
    """Dotted names of public operator/query functions that no live
    product code names. The bodies of the functions in ``keep`` count
    as live code."""
    live: set[str] = set()
    # candidate functions: (dotted name, bare name, FunctionDef)
    candidates = []
    for path in ROOT_FILES:
        live |= _used_names([ast.parse(path.read_text(), str(path))])
    for name in sorted(live_modules):
        tree = ast.parse(modules[name].read_text(), str(modules[name]))
        checked = name.startswith(FUNCTION_PACKAGES)
        for node in tree.body:
            if (checked and isinstance(node, ast.FunctionDef)
                    and not _is_registered(node)):
                candidates.append((f"{name}.{node.name}", node.name, node))
                live |= _used_names(node.decorator_list)
            else:
                live |= _used_names([node])
    pending = candidates
    while True:
        woken = [c for c in pending if c[1] in live or c[0] in keep]
        if not woken:
            break
        pending = [c for c in pending if c not in woken]
        live |= _used_names(node for _, _, node in woken)
    return {dotted for dotted, bare, _ in pending
            if not bare.startswith("_")}


def test_function_scan_reads_code_not_text(tmp_path):
    pkg = tmp_path / "m.py"
    pkg.write_text(
        'def used():\n    """calls dead() in prose"""\n    return chain()\n'
        "def chain():\n    return 1\n"
        "def dead():\n    return dead_helper()\n"
        "def dead_helper():\n    return 2\n"
        "@register('q')\ndef query():\n    return used\n"
        "# dead() named in a comment\n")
    mods = {f"{PACKAGE}.queries.m": pkg}
    got = unused_functions(mods, set(mods))
    assert got == {f"{PACKAGE}.queries.m.dead",
                   f"{PACKAGE}.queries.m.dead_helper"}


def test_every_public_operator_and_query_function_is_named():
    modules = engine_modules()
    live = reachable(modules)
    orphans = sorted(unused_functions(modules, live,
                                      frozenset(FUNCTION_ALLOWLIST))
                     - FUNCTION_ALLOWLIST.keys())
    assert not orphans, ("public functions no product code names:\n"
                         + "\n".join(orphans))
    stale = sorted(FUNCTION_ALLOWLIST.keys()
                   - unused_functions(modules, live))
    assert not stale, f"allowlisted yet named or gone, drop them: {stale}"
    undecided = sorted(name for name, reason in FUNCTION_ALLOWLIST.items()
                       if not reason.startswith(REASON_PREFIXES))
    assert not undecided, ("allowlist reasons must open with one of "
                           f"{REASON_PREFIXES}: {undecided}")


def unconditional_skips(path: Path) -> list[str]:
    """``pytest.mark.skip`` uses and ``skipif`` calls whose condition
    is a constant true, as ``file:line``."""
    lines = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (isinstance(node, ast.Attribute) and node.attr == "skip"
                and getattr(node.value, "attr", None) == "mark"):
            lines.add(node.lineno)
        elif (isinstance(node, ast.Call)
              and getattr(node.func, "attr", None) == "skipif"
              and node.args and isinstance(node.args[0], ast.Constant)
              and node.args[0].value):
            lines.add(node.lineno)
    return [f"{path.name}:{n}" for n in sorted(lines)]


def test_skip_scan_reads_code_not_text(tmp_path):
    f = tmp_path / "test_m.py"
    f.write_text(
        '"""pytest.mark.skip in prose"""\n'
        "import os, pytest\n"
        "@pytest.mark.skip(reason='x')\ndef test_a(): pass\n"
        "@pytest.mark.skipif(True, reason='x')\ndef test_b(): pass\n"
        "@pytest.mark.skipif(not os.path.isdir('d'), reason='x')\n"
        "def test_c(): pass\n"
        "pytestmark = pytest.mark.skip\n")
    assert unconditional_skips(f) == ["test_m.py:3", "test_m.py:5",
                                      "test_m.py:9"]


def test_no_unconditional_skips():
    found = [hit for path in sorted((REPO / "tests").glob("*.py"))
             for hit in unconditional_skips(path)]
    assert not found, ("tests skipped unconditionally; delete them with "
                       "their code or give the skip a condition:\n"
                       + "\n".join(found))

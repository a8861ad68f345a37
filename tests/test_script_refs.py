"""Every live mention of a script names a file that exists.

Scans the product tree, its living docs and the checked-in skill notes
for `scripts/<name>.py` paths and `from scripts.<name> import` lines;
each must resolve to a file under scripts/. History records (VERDICT.md, OPTIMIZATION_r*.md,
BENCH_NOTES.md, CHANGES.md, SURVEY.md) are not scanned: they describe
scripts as they were when written. No Spark.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCANNED = ["myhadoop_spark", "tests", "scripts", "bench.py", "README.md",
           "COVERAGE.md"]
_REF = re.compile(r"(?<![\w/])scripts/(\w+)\.py"
                  r"|\bfrom scripts\.(\w+) import")


def script_refs(text: str) -> set[str]:
    """Script names referenced in ``text``, in either form."""
    return {a or b for a, b in _REF.findall(text)}


def _files():
    for entry in SCANNED:
        path = REPO / entry
        if path.is_file():
            yield path
        elif path.is_dir():
            yield from (p for p in sorted(path.rglob("*"))
                        if p.is_file() and p.suffix in {".py", ".md"})
    yield from sorted(REPO.glob(".*/skills/**/*.md"))


def test_scanner_finds_both_forms():
    # assembled so this file does not itself reference missing scripts
    text = "\n".join(f"{lead}scripts{sep}{name}{tail}"
                     for lead, sep, name, tail in [
                         ("run python ", "/", "alpha", ".py first"),
                         ("from ", ".", "beta", " import helper"),
                         ("perfbench/", "/", "gamma", ".py is elsewhere"),
                         ("my_", "/", "delta", ".py too"),
                     ])
    assert script_refs(text) == {"alpha", "beta"}


def test_no_dangling_script_references():
    dangling = sorted(
        f"{path.relative_to(REPO)}: scripts/{name}.py"
        for path in _files()
        for name in script_refs(path.read_text(errors="replace"))
        if not (REPO / "scripts" / f"{name}.py").is_file())
    assert not dangling, ("references to missing scripts:\n"
                          + "\n".join(dangling))

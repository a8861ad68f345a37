"""The text format has one home: ``myhadoop_spark/functions/text.py``.

Every Spark plan and its DuckDB oracle must tokenize and hash text the
same way, so the whitespace tokenizer (the ``\\s+`` split) and the md5
hex-slice hashes live in that one module. This test scans the engine
source (not the tests, whose independent models copy the format on
purpose) and fails on a copy anywhere else, unless the allowlist below
names it as a different format. It also keeps the format below both
packages: no ``operators/`` or ``streaming/`` module may import
``myhadoop_spark.queries``. No Spark.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ENGINE = REPO / "myhadoop_spark"
HOME = "functions/text.py"

# Regex-split tokenizers that are not the format: wordcount and its
# reference-parity twin explode the raw split and filter the empties
# afterwards (the batch workload's plan), so they keep their own form.
ALLOWED_SPLITS = {
    "queries/wordcount.py": "explode-then-filter WordCount, Spark and "
                            "oracle (the batch workload's plan)",
    "queries/reference_parity.py": "explode-then-filter WordCount oracle "
                                   "over the reference corpus",
}

# md5 hex slices (start, length) that are other formats than hash32
# (which is the (1, 8) slice and lives only in functions/text.py).
ALLOWED_SLICES = {
    ("operators/decontam.py", (1, 12)): "48-bit n-gram shingle hash",
    ("queries/curation_gate.py", (1, 12)): "oracle of the 48-bit "
                                           "shingle hash",
    ("operators/bloom.py", (1, 15)): "Bloom double hash h1 (60 bits)",
    ("operators/bloom.py", (17, 15)): "Bloom double hash h2 (60 bits)",
    ("queries/dedup_ext.py", (1, 15)): "oracle of Bloom h1",
    ("queries/dedup_ext.py", (17, 15)): "oracle of Bloom h2",
    ("operators/substring.py", (17, 8)): "second, independent token "
                                         "hash of the wide banding",
    ("queries/media.py", (1, 2)): "8-bit synthetic pixel draw",
    ("queries/video.py", (1, 2)): "8-bit synthetic pixel draw",
}

_SPLIT = re.compile(r"\\{1,2}s\+")
_SLICE = re.compile(r"substr(?:ing)?\((?:F\.)?md5\b")
# adjacent string literals joined across a line break: "...md5(" "1, 8"
_LITERAL_JOIN = re.compile(r"""["']\s*\n\s*[rfRF]*["']""")


def _engine_files() -> dict[str, str]:
    return {p.relative_to(ENGINE).as_posix(): p.read_text()
            for p in sorted(ENGINE.rglob("*.py"))}


def md5_slices(source: str) -> list[tuple[int, int]]:
    """(start, length) of every ``substr(md5(...), s, n)`` /
    ``F.substring(F.md5(...), s, n)`` / ``F.substring(md5, s, n)``."""
    text = re.sub(r"\s+", "", _LITERAL_JOIN.sub("", source))
    out = []
    for m in _SLICE.finditer(text):
        i = m.end()
        if text[i] == "(":  # skip the md5 call's balanced argument list
            depth = 0
            while True:
                depth += {"(": 1, ")": -1}.get(text[i], 0)
                i += 1
                if depth == 0:
                    break
        rest = re.match(r"\)?,(\d+),(\d+)\)", text[i:])
        assert rest, f"unparsed md5 slice: {text[m.start():m.start() + 80]}"
        out.append((int(rest.group(1)), int(rest.group(2))))
    return out


def test_slice_scanner_reads_every_spelling():
    src = '''
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
    s = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), "
        "1, 8)) AS BIGINT)"
    h1 = F.conv(F.substring(md5, 17, 15), 16, 10)
    '''
    assert md5_slices(src) == [(1, 8), (1, 8), (17, 15)]


def test_tokenizer_lives_in_one_module():
    found = {path for path, src in _engine_files().items()
             if _SPLIT.search(src)}
    assert HOME in found
    assert found - {HOME} - set(ALLOWED_SPLITS) == set()
    assert set(ALLOWED_SPLITS) <= found, "stale ALLOWED_SPLITS entry"


def test_md5_hash_lives_in_one_module():
    seen = {(path, s) for path, src in _engine_files().items()
            for s in md5_slices(src)}
    assert (HOME, (1, 8)) in seen
    copies = sorted(path for path, s in seen
                    if s == (1, 8) and path != HOME)
    assert copies == [], f"md5-8 hash copies outside {HOME}: {copies}"
    unknown = sorted(k for k in seen
                     if k[0] != HOME and k not in ALLOWED_SLICES)
    assert unknown == [], f"md5 slices in no allowlist entry: {unknown}"
    assert set(ALLOWED_SLICES) <= seen, "stale ALLOWED_SLICES entry"


def test_operators_and_streaming_do_not_import_queries():
    bad = []
    for path in sorted([*(ENGINE / "operators").glob("*.py"),
                        *(ENGINE / "streaming").glob("*.py")]):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom):
                names = [("." * node.level) + (node.module or "")]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                continue
            bad += [f"{path.parent.name}/{path.name}:{node.lineno}: {n}"
                    for n in names
                    if n.startswith(("myhadoop_spark.queries", "..queries"))]
    assert bad == []

"""Drift-proofing for the driver's bench-artifact contract.

The driver tail-captures bench.py's stdout and parses the final JSON
line; r2 and r3 both shipped a faster-than-baseline engine with
`parsed: null` because the line embedded the full 50-query telemetry
map and overflowed the capture window (VERDICT r3, What's wrong #1).
These tests pin the contract the same way test_fixture_schema.py pins
the fixture schemas: push the worst cases through the real formatter
and assert every line parses and fits the tail-window budget.
"""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import LINE_BUDGET, format_stdout_line  # noqa: E402
from myhadoop_spark import registry  # noqa: E402

BENCH = Path(__file__).resolve().parent.parent / "bench.py"


def _check(times, errors):
    line = format_stdout_line(99999.1234, 3, times, errors, 0.1)
    assert len(line) < LINE_BUDGET, (
        f"bench stdout line is {len(line)}B > {LINE_BUDGET}B budget; "
        "the driver's tail capture will truncate it (r2/r3 regression)")
    parsed = json.loads(line)
    assert parsed["unit"] == "sec" and "value" in parsed
    return parsed


def test_all_green_line_fits():
    parsed = _check({n: 9999.1234 for n in registry.names()}, {})
    assert len(parsed["queries"]) == len(registry.names())


def test_all_failed_line_fits():
    # pathological run: every registered query errors with a 500-char
    # message — the formatter must degrade rather than overflow
    _check({}, {n: "X" * 500 for n in registry.names()})


def test_mixed_worst_case_fits():
    names = registry.names()
    _check({n: 9999.1234 for n in names}, {n: "X" * 500 for n in names})


def test_bench_source_does_not_print_telemetry():
    """The telemetry map belongs in bench_shuffle.json, never on stdout
    (it is what overflowed the r3 line). Walk bench.py's AST and assert
    no dict literal inside a print call carries a 'telemetry' key."""
    tree = ast.parse(BENCH.read_text())
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "print"):
            for sub in ast.walk(node):
                if isinstance(sub, ast.Dict):
                    keys = {k.value for k in sub.keys
                            if isinstance(k, ast.Constant)}
                    assert "telemetry" not in keys, (
                        "bench.py prints the telemetry map on stdout again "
                        "— keep it in bench_shuffle.json only")


def test_bench_reads_only_its_own_run():
    """The rep count and statistic depend on this run's reps alone:
    bench.py names no committed BENCH_r* round artifact and starts no
    git subprocess (the history-anchored rep rules are gone). Checks
    string constants inside calls, so docstrings may still say what
    the bench does not do."""
    tree = ast.parse(BENCH.read_text())
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        for sub in ast.walk(node):
            if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                assert "BENCH_r" not in sub.value, (
                    f"bench.py opens a committed round artifact "
                    f"({sub.value!r}, line {sub.lineno})")
            if isinstance(sub, (ast.List, ast.Tuple)) and sub.elts:
                head = sub.elts[0]
                assert not (isinstance(head, ast.Constant)
                            and head.value == "git"), (
                    f"bench.py starts a git subprocess (line {sub.lineno})")

"""Regenerate the BENCH_NOTES.md headline table FROM the committed
artifacts — bench_records.tsv (per-rep engine walls) and
BASELINE_LOCAL.json (DuckDB per-query medians) — so the quoted totals
can never drift from what the artifacts reproduce (the r3/r4 verdicts
both caught hand-maintained headlines disagreeing with the TSV).

Prints the markdown block to stdout; `--write` splices it into
BENCH_NOTES.md between the HEADLINE-BEGIN/END markers.

Definitions:
  * engine total = sum over queries of the MEDIAN wall across reps
    (bench.py's published statistic), with the sum of per-query
    MINIMUM reps beside it;
  * baseline total = BASELINE_LOCAL.json's total (itself a sum of
    medians over the same query set);
  * ratio = engine / baseline over the INTERSECTION of query sets,
    with any asymmetric queries listed loudly rather than absorbed.
"""

from __future__ import annotations

import csv
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
BEGIN = "<!-- HEADLINE-BEGIN (scripts/bench_notes_table.py) -->"
END = "<!-- HEADLINE-END -->"


def engine_walls(tsv: Path) -> dict[str, list[float]]:
    """Every recorded rep's wall per query."""
    walls: dict[str, list[float]] = defaultdict(list)
    with tsv.open() as f:
        for row in csv.DictReader(f, delimiter="\t"):
            walls[row["query"]].append(float(row["wall_s"]))
    return walls


def build_block() -> str:
    walls = engine_walls(REPO / "bench_records.tsv")
    eng = {q: statistics.median(w) for q, w in walls.items()}
    base = json.loads((REPO / "BASELINE_LOCAL.json").read_text())
    bq = base["queries"]
    shared = sorted(set(eng) & set(bq))
    eng_total = sum(eng[q] for q in shared)
    min_total = sum(min(walls[q]) for q in shared)
    base_total = sum(bq[q] for q in shared)
    ratio = eng_total / base_total
    lines = [
        BEGIN,
        f"| {len(shared)} oracle-shared queries "
        "(medians across reps, recomputed from bench_records.tsv / "
        "BASELINE_LOCAL.json by scripts/bench_notes_table.py) | total |",
        "| --- | --- |",
        f"| **{eng_total:.1f} s — engine, raw medians** | **{ratio:.2f}x** |",
        f"| {min_total:.1f} s — engine, per-query minimum rep "
        f"| {min_total / base_total:.2f}x |",
        f"| {base_total:.1f} s — DuckDB oracle, {base['threads']} threads"
        " | 1.00x |",
    ]
    only_e = sorted(set(eng) - set(bq))
    only_b = sorted(set(bq) - set(eng))
    if only_e:
        lines.append(f"\nEngine-only queries (excluded): {only_e}")
    if only_b:
        lines.append(f"\nBaseline-only queries (excluded): {only_b}")
    top = sorted(shared, key=lambda q: eng[q] + bq[q], reverse=True)[:5]
    lines.append("\nHeaviest shared queries (engine vs baseline, medians):")
    for q in top:
        lines.append(f"- `{q}` {eng[q]:.2f} s vs {bq[q]:.2f} s "
                     f"({eng[q] / bq[q]:.2f}x)")
    lines.append(END)
    return "\n".join(lines)


def main() -> int:
    block = build_block()
    if "--write" in sys.argv:
        notes = REPO / "BENCH_NOTES.md"
        text = notes.read_text()
        if BEGIN in text and END in text:
            head, rest = text.split(BEGIN, 1)
            _, tail = rest.split(END, 1)
            notes.write_text(head + block + tail)
        else:
            print("markers not found in BENCH_NOTES.md", file=sys.stderr)
            return 1
        print("BENCH_NOTES.md headline updated")
    else:
        print(block)
    return 0


if __name__ == "__main__":
    sys.exit(main())

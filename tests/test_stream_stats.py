"""Streaming stats are observed, not counted: a face's per-batch stats
ride the writes the batch makes anyway (streaming/observed.py), so
passing ``stats=[]`` costs no Spark job, and every field equals a
count of what the batch wrote. Plus the guard that keeps it so: every
remaining ``.count()``/``.collect()`` in the streaming, operator and
query packages says why it is there."""

from __future__ import annotations

import ast
import io
import time
import tokenize
from pathlib import Path

import pytest

import myhadoop_spark.streaming as streaming_pkg
from myhadoop_spark.operators.line_filter import split_lines
from myhadoop_spark.streaming import versioned_state as vs
from myhadoop_spark.streaming.line_dedup_stream import \
    start_line_dedup_stream
from myhadoop_spark.streaming.simhash_stream import \
    start_simhash_dedup_stream

ENGINE = Path(streaming_pkg.__file__).parent.parent


def bare_actions(path: Path) -> list[str]:
    """Argument-less ``.count()``/``.collect()`` calls in ``path`` with
    no comment on the line of the call or a comment line just above."""
    src = path.read_text()
    comments = {}
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            comments[tok.start[0]] = not tok.line[:tok.start[1]].strip()
    lines = src.splitlines()
    bare = []
    for node in ast.walk(ast.parse(src)):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("count", "collect")
                and not node.args and not node.keywords):
            ln = node.func.end_lineno
            if ln not in comments and not comments.get(ln - 1):
                bare.append(f"{path.name}:{ln}: {lines[ln - 1].strip()}")
    return sorted(bare, key=lambda b: int(b.split(":")[1]))


def test_action_scan_reads_calls_not_text(tmp_path):
    src = ('"""df.count() in a docstring is prose."""\n'
           "a = df.count()\n"
           "# the total decides the branch\n"
           "b = df.count()\n"
           "c = (df.select('x')\n"
           "     .collect())  # rows are the output\n"
           "d = text.count('x')\n")
    f = tmp_path / "m.py"
    f.write_text(src)
    assert bare_actions(f) == ["m.py:2: a = df.count()"]


def test_every_streaming_action_carries_its_reason():
    """A Spark action (``.count()`` or ``.collect()``) in streaming/,
    operators/ or queries/ needs a comment on its own line or the line
    before it, saying what it decides."""
    bare = [f"{package}/{b}"
            for package in ("streaming", "operators", "queries")
            for f in sorted((ENGINE / package).glob("*.py"))
            for b in bare_actions(f)]
    assert not bare, "actions without a reason comment:\n" + "\n".join(bare)


LINE_BATCHES = [
    [(1, "footer\nalpha"), (2, "footer\nbeta\nalpha"), (3, "")],
    [(4, "footer\ngamma"), (5, "beta")],
    # no non-blank line: AQE prunes whatever sits under the empty
    # occurrences' shuffle, so docs_in must be observed elsewhere
    [(9, ""), (10, "  \n ")],
    [(6, "delta\nfooter"), (7, "delta"), (8, "epsilon\nzeta")],
]
SIM_BATCHES = [
    [(1, 0b1111), (2, 0b1110), (9, 0b11110000111100001111)],
    [(3, 0b1011), (7, 0b1110000011), (8, 0b1110000011)],
    [(4, 0b101010101010101), (5, 0b1111)],
]


def _line_stream(spark, src):
    return (spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(src)
            .withColumn("_l", split_lines("text", r"\n")))


def _sim_stream(spark, src):
    return (spark.readStream.schema("doc_id long, simhash long")
            .option("maxFilesPerTrigger", 1).parquet(src))


FACES = {
    "line_dedup": ("doc_id long, text string", LINE_BATCHES,
                   lambda spark, src, path, ckpt, stats:
                   start_line_dedup_stream(
                       _line_stream(spark, src), path=path,
                       checkpoint=ckpt, lines_col_name="_l",
                       stats=stats)),
    "simhash": ("doc_id long, simhash long", SIM_BATCHES,
                lambda spark, src, path, ckpt, stats:
                start_simhash_dedup_stream(
                    _sim_stream(spark, src), path=path, checkpoint=ckpt,
                    stats=stats)),
}


def _jobs(spark, start, src, root, stats) -> int:
    """Run the stream to completion; the Spark jobs it issued."""
    q = start(spark, src, str(root / "state"), str(root / "ck"), stats)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        time.sleep(0.2)
    tracker = spark.sparkContext.statusTracker()
    return len(tracker.getJobIdsForGroup(str(q.runId)))


@pytest.mark.parametrize("name", sorted(FACES))
def test_stats_cost_no_jobs_and_match_the_writes(spark, tmp_path,
                                                 monkeypatch, name):
    schema, batches, start = FACES[name]
    src = str(tmp_path / "src")
    for rows in batches:
        (spark.createDataFrame(rows, schema)
         .coalesce(1).write.mode("append").parquet(src))
    # keep every version on disk so each batch's can be counted
    monkeypatch.setattr(vs.VersionedState, "prune", lambda *a: None)
    plain = _jobs(spark, start, src, tmp_path / "plain", None)
    stats: list = []
    observed = _jobs(spark, start, src, tmp_path / "observed", stats)
    assert observed == plain

    state = tmp_path / "observed" / "state"
    want = [{"batch": b,
             "docs_in": len(rows),
             "docs_kept": spark.read.parquet(
                 str(state / "clean" / f"batch_id={b}")).count(),
             "seen": spark.read.parquet(
                 str(state / f"seen_v{b}")).count()}
            for b, rows in enumerate(batches)]
    assert stats == want
    assert all(s["docs_kept"] < s["docs_in"] for s in stats[1:])

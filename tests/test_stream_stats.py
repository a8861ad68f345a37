"""Streaming stats are observed, not counted: a face's per-batch stats
ride the writes the batch makes anyway (streaming/observed.py), so
passing ``stats=[]`` costs no Spark job, and every field equals a
count of what the batch wrote. Plus the guard that keeps it so: every
remaining ``.count()``/``.collect()`` in the streaming package says
why it is there."""

from __future__ import annotations

import re
import time
from pathlib import Path

import pytest

import myhadoop_spark.streaming as streaming_pkg
from myhadoop_spark.operators.line_filter import split_lines
from myhadoop_spark.streaming import versioned_state as vs
from myhadoop_spark.streaming.line_dedup_stream import \
    start_line_dedup_stream
from myhadoop_spark.streaming.simhash_stream import \
    start_simhash_dedup_stream

ACTION = re.compile(r"\.(count|collect)\(\)")


def test_every_streaming_action_carries_its_reason():
    """A ``.count()`` or ``.collect()`` in streaming/*.py needs a
    comment on its own line or the line before it."""
    bare = []
    for f in sorted(Path(streaming_pkg.__file__).parent.glob("*.py")):
        lines = f.read_text().splitlines()
        for i, line in enumerate(lines):
            if ACTION.search(line.split("#")[0]) and not (
                    "#" in line
                    or (i and lines[i - 1].lstrip().startswith("#"))):
                bare.append(f"{f.name}:{i + 1}: {line.strip()}")
    assert not bare, "actions without a reason comment:\n" + "\n".join(bare)


LINE_BATCHES = [
    [(1, "footer\nalpha"), (2, "footer\nbeta\nalpha"), (3, "")],
    [(4, "footer\ngamma"), (5, "beta")],
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

"""Crash-point fault matrix for the versioned-state protocol
(streaming/versioned_state.py): a crash injected at each commit
boundary of one micro-batch, then a restart on the same checkpoint,
must end in exactly the state and outputs of an uninterrupted run.

Boundaries, in commit order:
    outputs    after the face outputs, before the version write
    version    after the version write, before meta.json
    meta       after meta.json, before the sweep
    mid_prune  inside the sweep, before its first delete

line_dedup (the benchmarked face) and simhash (the kept versioned
near-dup face) run all four; every other face runs the
after-version-write case. line_dedup's stats list is also
pinned across a crash: the replayed batch reports once, a skipped
replay reports nothing."""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, replace
from pathlib import Path
from typing import Callable

import pytest

from myhadoop_spark.operators.line_filter import split_lines
from myhadoop_spark.streaming import versioned_state as vs
from myhadoop_spark.streaming.boilerplate_stream import \
    start_boilerplate_stream
from myhadoop_spark.streaming.budget_stream import start_budget_stream
from myhadoop_spark.streaming.cms_stream import start_cms_stream
from myhadoop_spark.streaming.entity_stream import start_entity_stream
from myhadoop_spark.streaming.heavy_hitters_stream import start_mg_stream
from myhadoop_spark.streaming.hll_stream import start_hll_stream
from myhadoop_spark.streaming.line_dedup_stream import \
    start_line_dedup_stream
from myhadoop_spark.streaming.simhash_stream import \
    start_simhash_dedup_stream
from myhadoop_spark.streaming.url_cap_stream import start_domain_cap_stream


@dataclass
class Face:
    schema: str
    batches: list
    start: Callable  # (stream, path, checkpoint) -> StreamingQuery
    crash_batch: int = 1


FACES = {
    "line_dedup": Face(
        "doc_id long, text string",
        [[(b * 10 + i, f"footer\nline {i}\nb{b} {i % 2}")
          for i in range(3)] for b in range(4)],
        lambda s, p, c: start_line_dedup_stream(
            s.withColumn("_l", split_lines("text", r"\n")), path=p,
            checkpoint=c, lines_col_name="_l", stats=[]),
        crash_batch=2),
    "boilerplate": Face(
        "doc_id long, text string",
        [[(b * 100 + i, f"nav home about u{b}_{i}") for i in range(3)]
         for b in range(2)],
        lambda s, p, c: start_boilerplate_stream(
            s, path=p, checkpoint=c, min_df=3, stats=[])),
    "cms": Face(
        "term string",
        [[(f"t{(b + i) % 5}",) for i in range(12)] for b in range(2)],
        lambda s, p, c: start_cms_stream(
            s, path=p, checkpoint=c, depth=3, width=8, stats=[])),
    "hll": Face(
        "g string, v long",
        [[(f"g{i % 2}", b * 3 + i) for i in range(8)] for b in range(2)],
        lambda s, p, c: start_hll_stream(
            s, path=p, checkpoint=c, keys=["g"], value_col="v",
            stats=[])),
    "simhash": Face(
        "doc_id long, simhash long",
        [[(1, 0b1111), (2, 0b1110), (9, 0b11110000111100001111)],
         [(3, 0b1011), (7, 0b1110000011)],
         [(4, 0b1111000011110000), (5, 0b1111)],
         [(6, 0b1111000011110001), (8, 0b101010101010)]],
        lambda s, p, c: start_simhash_dedup_stream(
            s, path=p, checkpoint=c, stats=[]),
        crash_batch=2),
    "budget": Face(
        "doc_id long, score long, n_tokens long",
        [[(b * 100 + i, (i * 7 + b) % 10, 3 + i % 4) for i in range(6)]
         for b in range(2)],
        lambda s, p, c: start_budget_stream(
            s, path=p, checkpoint=c, budget=20, stats=[])),
    "entity": Face(
        "id long, nm string",
        [[(10, "acme anvil large"), (11, "roadrunner feed")],
         [(20, "acme anvil largex"), (21, "completely different")]],
        lambda s, p, c: start_entity_stream(
            s, path=p, checkpoint=c, pruned_index=True, n_buckets=4,
            stats=[])),
    "heavy_hitters": Face(
        "term string",
        [[(f"t{(b + i) % 6}",) for i in range(15)] for b in range(2)],
        lambda s, p, c: start_mg_stream(
            s, path=p, checkpoint=c, capacity=3)),
    "url_cap": Face(
        "doc_id long, domain string",
        [[(b * 100 + i, "hot.com" if i % 3 else "t.com")
          for i in range(6)] for b in range(2)],
        lambda s, p, c: start_domain_cap_stream(
            s, path=p, checkpoint=c, cap=2, stats=[])),
}

# the faces whose own batteries are slow-tier
SLOW = {"budget", "entity", "heavy_hitters", "url_cap"}

# the all-boundary faces crash at batch 2 of 4: batch 2's sweep is the
# first to delete a version (mid_prune), and batch 3's sweep removes
# what a crash after the meta commit left behind
CASES = ([("line_dedup", b)
          for b in ("outputs", "version", "meta", "mid_prune")]
         + [pytest.param("simhash", b, marks=pytest.mark.slow)
            for b in ("outputs", "meta", "mid_prune")]
         + [pytest.param(f, "version",
                         marks=[pytest.mark.slow] if f in SLOW else [])
            for f in FACES if f != "line_dedup"])


class InjectedCrash(RuntimeError):
    pass


class _CrashOnDelete:
    """A Hadoop FileSystem stand-in whose first delete crashes."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def delete(self, *args):
        raise InjectedCrash("injected crash: mid-prune")


def _inject(mp: pytest.MonkeyPatch, boundary: str, at: int) -> None:
    if boundary in ("outputs", "version"):
        write = vs.Version.write

        def crashing_write(self, df):
            if self.batch_id == at and boundary == "outputs":
                raise InjectedCrash("injected crash: before version")
            write(self, df)
            if self.batch_id == at:
                raise InjectedCrash("injected crash: after version")

        mp.setattr(vs.Version, "write", crashing_write)
    elif boundary == "meta":
        commit = vs.VersionedState.commit

        def crashing_commit(self, spark, batch_id, extras):
            commit(self, spark, batch_id, extras)
            if batch_id == at:
                raise InjectedCrash("injected crash: after meta")

        mp.setattr(vs.VersionedState, "commit", crashing_commit)
    else:
        hadoop_fs = vs.hadoop_fs

        def crashing_fs(spark, path):
            fs, root = hadoop_fs(spark, path)
            return _CrashOnDelete(fs), root

        mp.setattr(vs, "hadoop_fs", crashing_fs)


def _run(spark, face: Face, src: str, path: str, ckpt: str) -> None:
    stream = (spark.readStream.schema(face.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = face.start(stream, path, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        time.sleep(0.2)


def _snapshot(spark, path: str) -> dict:
    """meta.json plus every state version and output table, rows
    sorted — the whole observable state of a face."""
    out = {}
    for entry in sorted(Path(path).iterdir()):
        if entry.name.startswith("."):
            continue  # Hadoop checksum files
        if entry.name == "meta.json":
            out["meta"] = json.loads(entry.read_text())
        elif entry.is_dir():
            rows = spark.read.parquet(str(entry)).collect()
            out[entry.name] = sorted(map(repr, rows))
    return out


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """Per face: its source (one parquet file per micro-batch) and the
    snapshot of an uninterrupted run, built once."""
    cache: dict = {}

    def get(name: str):
        if name not in cache:
            face = FACES[name]
            root = tmp_path_factory.mktemp(name)
            src = str(root / "src")
            for rows in face.batches:
                (spark.createDataFrame(rows, face.schema)
                 .coalesce(1).write.mode("append").parquet(src))
            _run(spark, face, src, str(root / "state"), str(root / "ck"))
            cache[name] = (src, _snapshot(spark, str(root / "state")))
        return cache[name]

    return get


@pytest.mark.parametrize("name,boundary", CASES)
def test_restart_after_crash_equals_uninterrupted(spark, runs, tmp_path,
                                                   name, boundary):
    face = FACES[name]
    src, want = runs(name)
    path, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
    at = face.crash_batch
    with pytest.MonkeyPatch.context() as mp:
        _inject(mp, boundary, at)
        with pytest.raises(Exception, match="injected crash"):
            _run(spark, face, src, path, ckpt)
    committed = vs.read_meta(spark, path)["last_batch"]
    assert committed == (at - 1 if boundary in ("outputs", "version")
                         else at)
    if boundary == "mid_prune":
        prefix = "seen_v"
        left = sorted(p.name for p in Path(path).glob(f"{prefix}*"))
        assert left == [f"{prefix}{i}" for i in range(at + 1)]
    _run(spark, face, src, path, ckpt)
    assert _snapshot(spark, path) == want


def _line_dedup_into(stats: list) -> Face:
    return replace(FACES["line_dedup"], start=lambda s, p, c:
                   start_line_dedup_stream(
                       s.withColumn("_l", split_lines("text", r"\n")),
                       path=p, checkpoint=c, lines_col_name="_l",
                       stats=stats))


@pytest.mark.parametrize("boundary", ["version", "meta"])
def test_stats_across_crash_replay(spark, runs, tmp_path, boundary):
    """Stats are observed on the writes of the step that commits: a
    batch replayed after a crash before its meta commit reports once,
    exactly as uninterrupted; a batch whose replay the protocol skips
    (crash after the commit) reports nothing."""
    src, _ = runs("line_dedup")
    want: list = []
    _run(spark, _line_dedup_into(want), src, str(tmp_path / "ref"),
         str(tmp_path / "ref_ck"))
    at = FACES["line_dedup"].crash_batch
    path, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
    before: list = []
    with pytest.MonkeyPatch.context() as mp:
        _inject(mp, boundary, at)
        with pytest.raises(Exception, match="injected crash"):
            _run(spark, _line_dedup_into(before), src, path, ckpt)
    after: list = []
    _run(spark, _line_dedup_into(after), src, path, ckpt)
    assert [s["batch"] for s in want] == list(range(len(FACES[
        "line_dedup"].batches)))
    assert before == want[:at]
    assert after == (want[at:] if boundary == "version"
                     else want[at + 1:])

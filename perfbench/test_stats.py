"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import sys
from pathlib import Path

import pyarrow as pa
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import (Span, clip, self_times, table_digest,  # noqa: E402
                   tail, union_length)
from tracing import _owner  # noqa: E402


# --------------------------------------------------------------------------
# union of job intervals (driver idle = op wall - union)
# --------------------------------------------------------------------------

@pytest.mark.parametrize("intervals, want", [
    ([], 0.0),
    ([(0, 1)], 1.0),
    ([(0, 1), (2, 3)], 2.0),            # disjoint
    ([(0, 2), (1, 3)], 3.0),            # overlapping
    ([(0, 4), (1, 2), (2, 3)], 4.0),    # nested
    ([(2, 3), (0, 1), (1, 2)], 3.0),    # touching, unsorted
    ([(1, 1), (3, 2)], 0.0),            # empty and inverted
])
def test_union_length(intervals, want):
    assert union_length(intervals) == pytest.approx(want)


def test_clip_keeps_only_the_window():
    assert clip([(0, 2), (3, 5), (6, 7)], 1, 4) == [(1, 2), (3, 4)]


def test_idle_is_wall_minus_union_of_clipped_jobs():
    # op [10, 20); jobs overlap each other and one starts before the op
    jobs = [(8, 12), (11, 14), (16, 17)]
    idle = 10 - union_length(clip(jobs, 10, 20))
    assert idle == pytest.approx(10 - (4 + 1))


# --------------------------------------------------------------------------
# self time from spans
# --------------------------------------------------------------------------

def test_self_times_subtracts_direct_children_only():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("query", 0.0, 6.0, 0, 0),
        Span("materialize", 1.0, 3.0, 1, 0),
        Span("catalog", 4.0, 5.0, 1, 0),
        Span("sink", 6.0, 10.0, 0, 0),
    ]
    assert self_times(spans) == pytest.approx([0.0, 3.0, 2.0, 1.0, 4.0])


def test_self_times_overlapping_and_overlong_children():
    spans = [
        Span("parent", 0.0, 4.0, None, 0),
        Span("a", 1.0, 3.0, 0, 0),
        Span("b", 2.0, 6.0, 0, 0),  # runs past its parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(1.0)


# --------------------------------------------------------------------------
# the tail percentile: the highest with at least 10 samples beyond it
# --------------------------------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (19, None),    # even the median leaves only 9 beyond
    (20, 50.0),
    (39, 50.0),
    (40, 75.0),
    (99, 75.0),
    (100, 90.0),
    (199, 90.0),
    (200, 95.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_tail_percentile_choice(n, want):
    got = tail([float(i) for i in range(n)])
    if want is None:
        assert got is None
        return
    p, value, beyond = got
    assert p == want
    assert beyond >= 10                              # ten samples beyond
    assert value == float(n - beyond - 1)            # a real sample
    assert n - beyond == math.ceil(round(p * n, 6) / 100)  # nearest rank


def test_tail_ignores_input_order():
    xs = [float(i) for i in range(40)]
    assert tail(xs[::-1]) == tail(xs) == (75.0, 29.0, 10)


# --------------------------------------------------------------------------
# output digests
# --------------------------------------------------------------------------

def _spark_like():
    return pa.table({
        "k": pa.array([2, 1], pa.int32()),
        "amount": pa.array([decimal.Decimal("2.50"),
                            decimal.Decimal("1.25")], pa.decimal128(18, 2)),
        "ts": pa.array([dt.datetime(1995, 3, 1, 12), dt.datetime(1995, 3, 2)],
                       pa.timestamp("us", tz="UTC")),
        "name": ["b", "a"],
    })


def _duck_like():
    return pa.table({
        "name": ["a", "b"],
        "amount": [1.25, 2.5],
        "k": pa.array([1, 2], pa.int64()),
        "ts": pa.array([dt.datetime(1995, 3, 2), dt.datetime(1995, 3, 1, 12)],
                       pa.timestamp("ns")),
    })


def test_digest_ignores_row_and_column_order_and_engine_types():
    assert table_digest(_spark_like()) == table_digest(_duck_like())


def test_digest_sees_a_changed_value_row_or_column():
    base = table_digest(_duck_like())
    changed = _duck_like().set_column(0, "name", pa.array(["a", "c"]))
    assert table_digest(changed) != base
    assert table_digest(_duck_like().slice(0, 1)) != base
    assert table_digest(_duck_like().drop(["k"])) != base


# --------------------------------------------------------------------------
# job → span attribution
# --------------------------------------------------------------------------

def test_owner_prefers_the_innermost_tag_then_time():
    spans = [Span("round", 0, 10, None, 0), Span("op:q", 1, 9, 0, 0),
             Span("query:q", 1, 5, 1, 0), Span("sink:q", 5, 9, 1, 0)]
    prefix = "spark-session-x-thread-y-"
    tags = [prefix + "pbspan0", prefix + "pbspan1", prefix + "pbspan2"]
    assert _owner(spans, tags, 7.0, 0, 4) == 2
    # untagged (AQE and other Spark-started jobs): innermost by time
    assert _owner(spans, ["spark-session-x"], 7.0, 0, 4) == 3
    assert _owner(spans, [], 11.0, 0, 4) is None


# --------------------------------------------------------------------------
# the metric names the run prints are the ones BENCHMARK.json lists
# --------------------------------------------------------------------------

def test_metric_names_match_benchmark_json():
    import json

    import run
    from tracing import PER_LAYER

    spec = json.loads((Path(__file__).resolve().parents[1]
                       / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["per_layer"]] == list(PER_LAYER)
    assert ({m["name"] for m in spec["end_to_end"]}
            == set(run.END_TO_END))
    for m in spec["per_layer"] + spec["end_to_end"]:
        assert run.unit(m["name"]) == m["unit"], m["name"]


# --------------------------------------------------------------------------
# the input cache key follows what generates and checks the inputs
# --------------------------------------------------------------------------

def test_input_key_changes_with_the_generating_sources(tmp_path,
                                                       monkeypatch):
    import shutil
    import types

    import run

    for f in ("inputs.py", "workloads.py", "stats.py"):
        shutil.copy(Path(run.HERE) / f, tmp_path / f)
    monkeypatch.setattr(run, "HERE", tmp_path)
    wl = types.SimpleNamespace(queries=())
    before = run.input_key(wl)
    assert run.input_key(wl) == before
    sizes = tmp_path / "workloads.py"
    sizes.write_text(sizes.read_text() + "\nNEARDUP_DOCS = 401\n")
    assert run.input_key(wl) != before


# --------------------------------------------------------------------------
# CPU time from /proc/<pid>/stat
# --------------------------------------------------------------------------

def test_cpu_ticks_reads_the_fields_after_the_command_name(tmp_path):
    import run

    stat = tmp_path / "stat"
    # a command name may hold spaces and parentheses
    stat.write_text("42 (a) b (c)) S 1 1 1 0 -1 4194560 10 0 0 0 "
                    "100 20 3 4 20 0 1 0\n")
    assert run._cpu_ticks(str(stat), slice(11, 15)) == 100 + 20 + 3 + 4
    assert run._cpu_ticks(str(stat), slice(11, 13)) == 100 + 20
    assert run._cpu_ticks(str(tmp_path / "gone"), slice(11, 15)) == 0

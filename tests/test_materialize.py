"""The r14 materialization policy (myhadoop_spark/materialize.py):
one helper decides how load-bearing intermediates are pinned —
localCheckpoint locally, reliable checkpoint() under the cluster env
flag — with identical rows and truncated lineage on both paths."""

from __future__ import annotations

import contextlib
import io
from types import SimpleNamespace

import pytest

from myhadoop_spark.materialize import (
    _ensure_checkpoint_dir,
    materialize,
    materialize_lazy,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_local_default_truncates_lineage(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS x")
    out = df.transform(materialize)
    # lineage truncated: the plan reads materialized rows, the
    # producing projection is gone
    assert "ExistingRDD" in _plan(out)
    assert sorted(r.x for r in out.collect()) == [2 * i for i in range(100)]


def test_lazy_form_truncates_on_first_use(spark):
    df = spark.range(50).selectExpr("id", "id + 1 AS y")
    out = df.transform(materialize_lazy)
    assert out.count() == 50
    assert "ExistingRDD" in _plan(out)


def _stub_df(checkpoint_dir=None):
    """A frame stand-in whose context starts with ``checkpoint_dir``:
    the shared session's dir, once set, cannot be unset."""
    sc = SimpleNamespace(dir=checkpoint_dir)
    sc.getCheckpointDir = lambda: sc.dir
    sc.setCheckpointDir = lambda d: setattr(sc, "dir", d)
    return SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=sc))


def test_reliable_flag_requires_checkpoint_dir(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        _ensure_checkpoint_dir(_stub_df())
    # an existing dir is kept; the env var fills a missing one
    df = _stub_df("/existing")
    _ensure_checkpoint_dir(df)
    assert df.sparkSession.sparkContext.dir == "/existing"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    df = _stub_df()
    _ensure_checkpoint_dir(df)
    assert df.sparkSession.sparkContext.dir == str(tmp_path)


def test_reliable_checkpoint_same_rows(spark, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    df = spark.range(100).selectExpr("id", "id * 3 AS z")
    out = df.transform(materialize)
    # the reliable path writes RDD blocks to the checkpoint dir and
    # returns the same rows with truncated lineage
    assert "ExistingRDD" in _plan(out)
    assert sorted(r.z for r in out.collect()) == [3 * i for i in range(100)]
    ckdirs = list((tmp_path / "ck").rglob("part-*"))
    assert ckdirs, "reliable checkpoint wrote no blocks"
    lazy = df.transform(materialize_lazy)
    assert lazy.count() == 100


def test_reliable_checkpoints_are_cleaned_up(spark):
    # the ContextCleaner deletes a reliable checkpoint's files once its
    # RDD is unreferenced; without this nothing ever deletes them
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") \
        == "true"

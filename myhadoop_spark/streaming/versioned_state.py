"""The versioned-state commit protocol shared by the stateful
``foreachBatch`` faces (boilerplate, budget, cms, entity,
heavy_hitters, hll, line_dedup, simhash, url_cap): one implementation
of the layout, the commit order, replay, lineage and retention; each
face supplies only its step.

Layout under a face's state ``path``:

    <path>/{prefix}{N}/   the state as of batch N — one immutable
                          version directory per absorbed batch
    <path>/meta.json      {last_batch, <params>, <extras>} — the commit
                          pointer (fsutil.write_small_file, crash-safe)
    <path>/<outputs>      face-owned, e.g. clean/batch_id=N/

Micro-batch N is absorbed in one fixed order:

    face outputs → {prefix}N → meta.json → prune

A step is a generator ``step(batch, v)``: it derives v_N from
``v.prev`` (= v_{N-1}, None before the first commit) and the batch,
writes its outputs (overwrite per batch id, never append) and the new
version through ``v.write``, then yields its extra meta fields. The
yield is the commit point; code after it runs once the batch is
committed and only reads the stats the writes observed
(streaming/observed.py) — it issues no Spark job. A step that returns
before yielding absorbs nothing. A replayed batch that the protocol
skips runs no step, so it reports no stats.

Crash/replay: v_N and the outputs are pure functions of (v_{N-1},
batch_N), and nothing reads version N until meta.json names it. A
crash before the meta write leaves the committed state at N-1, and
Spark's replay of batch N overwrites the half-written outputs and
version with identical content. Once meta.json names N, the replayed
batch (same id) is skipped idempotently. A batch id BELOW the
watermark means a recreated or rewound checkpoint, whose batch 0 may
bundle absorbed rows WITH new ones — skipping would undercount
forever, merging would double-count — so it fails loudly. The
parameters that define the state ride in meta.json, and a restart
with different ones is refused. An empty batch after the first
commits nothing.

Retention: the previous version is kept one-deep, so the replay of
batch N always finds v_{N-1}; every other version is swept after the
meta commit. A crash mid-sweep leaves stale versions for the next
batch's sweep.
"""

from __future__ import annotations

import json
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from myhadoop_spark.fsutil import (
    hadoop_fs,
    read_small_file,
    write_small_file,
)


def read_meta(spark: SparkSession, path: str) -> dict | None:
    """The committed meta.json of the state at ``path``; None before
    the first commit."""
    raw = read_small_file(spark, f"{path}/meta.json")
    return json.loads(raw) if raw is not None else None


class Version:
    """Batch N's view of the state: ``prev`` is v_{N-1} (None before
    the first commit), ``meta`` its commit record; ``write`` persists
    v_N and ``reread`` reads it back."""

    def __init__(self, state: VersionedState, spark: SparkSession,
                 batch_id: int, meta: dict | None):
        self.spark = spark
        self.batch_id = batch_id
        self.meta = meta
        self.prev = (state.read(spark, meta) if meta is not None
                     else None)
        self._path = f"{state.path}/{state.prefix}{batch_id}"
        self._coalesce = state.coalesce

    def write(self, df: DataFrame) -> None:
        if self._coalesce:
            df = df.coalesce(1)
        df.write.mode("overwrite").parquet(self._path)

    def reread(self) -> DataFrame:
        return self.spark.read.parquet(self._path)


Step = Callable[[DataFrame, Version], Iterator[dict]]


class VersionedState:
    """The state at ``path``: versions ``{prefix}{N}``, refused under
    ``name`` when ``params`` changed (``reason`` completes "restarting
    with ... would"). ``check(meta)`` adds a face-only guard run
    before the replay skip; ``coalesce`` writes single-file versions;
    ``skip_empty=False`` leaves empty batches to the step."""

    def __init__(self, path: str, prefix: str, name: str, *,
                 params: dict | None = None, reason: str = "",
                 coalesce: bool = False, skip_empty: bool = True,
                 check: Callable[[dict], None] | None = None):
        self.path = path
        self.prefix = prefix
        self.name = name
        self.params = params or {}
        self.reason = reason
        self.coalesce = coalesce
        self.skip_empty = skip_empty
        self.check = check

    def meta(self, spark: SparkSession) -> dict:
        meta = read_meta(spark, self.path)
        if meta is None:
            raise FileNotFoundError(f"no {self.name} at {self.path}")
        return meta

    def read(self, spark: SparkSession,
             meta: dict | None = None) -> DataFrame:
        """The committed version (of ``meta``, else the current one)."""
        meta = meta if meta is not None else self.meta(spark)
        return spark.read.parquet(
            f"{self.path}/{self.prefix}{meta['last_batch']}")

    def start(self, stream: DataFrame, checkpoint: str,
              step: Step) -> StreamingQuery:
        """Run ``step`` under the protocol on every micro-batch of
        ``stream`` (availableNow-friendly)."""
        return (stream.writeStream
                .foreachBatch(lambda batch, batch_id:
                              self.absorb(batch, batch_id, step))
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start())

    def absorb(self, batch: DataFrame, batch_id: int, step: Step) -> None:
        spark = batch.sparkSession
        meta = read_meta(spark, self.path)
        if meta is not None:
            self._guard(meta)
            last = meta["last_batch"]
            if batch_id == last:
                return  # crash-replay of the last batch — idempotent skip
            if batch_id < last:
                raise RuntimeError(
                    f"{self.name} at {self.path} was maintained up to "
                    f"batch {last} under a "
                    f"different checkpoint lineage (got batch {batch_id}"
                    "); restore the original checkpoint or start a "
                    "fresh state path")
            if self.skip_empty and batch.isEmpty():
                return  # isEmpty stops at the first row — not a scan
        v = Version(self, spark, batch_id, meta)
        steps = step(batch, v)
        extras = next(steps, None)
        if extras is None:
            return  # the step absorbed nothing
        self.commit(spark, batch_id, extras)
        self.prune(spark, v)
        next(steps, None)

    def _guard(self, meta: dict) -> None:
        if any(meta.get(k) != p for k, p in self.params.items()):
            def shown(d):
                return ", ".join(f"{k}={d.get(k)!r}" for k in self.params)
            raise ValueError(
                f"{self.name} at {self.path} was built with "
                f"{shown(meta)}; restarting with {shown(self.params)} "
                f"would {self.reason} — start a fresh state path")
        if self.check is not None:
            self.check(meta)

    def commit(self, spark: SparkSession, batch_id: int,
               extras: dict) -> None:
        write_small_file(spark, f"{self.path}/meta.json",
                         json.dumps({"last_batch": batch_id,
                                     **self.params, **extras}))

    def prune(self, spark: SparkSession, v: Version) -> None:
        keep = {f"{self.prefix}{v.batch_id}"}
        if v.meta is not None:
            keep.add(f"{self.prefix}{v.meta['last_batch']}")
        fs, root = hadoop_fs(spark, self.path)
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if name.startswith(self.prefix) and name not in keep:
                fs.delete(status.getPath(), True)

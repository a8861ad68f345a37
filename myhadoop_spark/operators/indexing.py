"""Contiguous global index assignment — give every row a stable
0..N−1 id in a total key order (the "number the training examples"
step before sharding/packing/export; also the classic zipWithIndex).

`monotonically_increasing_id` is NOT this: its ids are sparse,
partitioning-dependent, and unstable across reruns. A window
`row_number() OVER (ORDER BY key)` IS this semantically, but its
physical plan is a single-partition sort — the one thing a 100 TB
table can never do.

Scale shape (the standard three-step):

  1. range-partition + in-partition sort on the (unique) order key —
     one range shuffle, the same machinery as the engine's total-order
     `sort_full`;
  2. per-partition row counts — a #partitions-sized aggregate
     collected to the driver (bounded by cluster layout, not data) and
     prefix-summed into per-partition offsets;
  3. one Arrow `mapInPandas` pass that enumerates each partition's
     rows in order and adds its offset — narrow, no further shuffle.

The ranged data is materialized once (localCheckpoint) so steps 2 and
3 see the SAME partitioning — range sampling must not re-run between
the count pass and the numbering pass. (On a persistent cluster use
persist(DISK_ONLY) for the same effect at TB scale.)

Determinism contract: `order_cols` must be a UNIQUE total order
(callers append a tie-breaker id column — enforced here by a
duplicate-key check folded into the same counting aggregate, no extra
pass). Under that contract the assigned index EQUALS the ANSI
row_number rank, which is what the DuckDB differential
(queries/relational7.py::global_index) pins bitwise.

Reference analog: none — §2.3 extension surface (training-data
pipeline family).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.materialize import materialize


def assign_global_index(df: DataFrame, order_cols: list[str],
                        *, idx_col: str = "idx",
                        num_partitions: int | None = None,
                        stats: dict | None = None) -> DataFrame:
    """df + a contiguous 0-based ``idx_col`` in ascending
    ``order_cols`` order. ``order_cols`` must be duplicate-free
    (raises otherwise). One range shuffle + one narrow Arrow pass.
    Pass a dict as ``stats`` to receive {"rows": N} — the total is
    already known from the offset collect, so callers never need a
    second action to count the output (the stream face relies on
    this)."""
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
              .sortWithinPartitions(*order_cols)
              .transform(materialize))

    # one bounded aggregate: per-partition row count AND the duplicate
    # check (any partition with distinct(keys) < rows has a dup; range
    # partitioning never splits equal keys across partitions)
    part_stats = (ranged
                  .groupBy(F.spark_partition_id().alias("_pid"))
                  .agg(F.count(F.lit(1)).alias("_n"),
                       F.count_distinct(*[F.col(c) for c in order_cols])
                       .alias("_d"))
                  .collect())  # control: dup guard + per-partition offsets
    dups = [r for r in part_stats if r["_n"] != r["_d"]]
    if dups:
        raise ValueError(
            f"order_cols {order_cols} are not a unique total order "
            f"({sum(r['_n'] - r['_d'] for r in dups)} duplicate or NULL "
            "keys) — append a tie-breaker id column (keys must be "
            "non-null: count_distinct drops NULL tuples)")
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(part_stats, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["_n"]
    if stats is not None:
        stats["rows"] = acc

    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    schema = with_pid.drop("_pid").schema.add(idx_col, "long")

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = None
        for b in batches:
            if pos is None:
                pos = offsets[int(b["_pid"].iloc[0])]
            out = b.drop(columns=["_pid"])
            out[idx_col] = range(pos, pos + len(b))
            pos += len(b)
            yield out

    return with_pid.mapInPandas(number, schema)


def start_indexing_stream(doc_stream: DataFrame, order_cols: list[str],
                          *, out_path: str, checkpoint: str,
                          idx_col: str = "idx",
                          num_partitions: int | None = None):
    """Streaming face: assign ids that stay CONTIGUOUS across
    micro-batches — batch N's ids start where batch N−1's ended (the
    ingest-time "number the examples as they arrive" contract).

    Crash-safe id stability: each batch's (start, count) is recorded
    in a per-batch meta file (tmp+rename, the write_small_file idiom)
    BEFORE the rows land, and a REPLAYED batch re-reads its own meta
    instead of re-deriving the offset — so replay reproduces the SAME
    ids even though later batches already advanced the counter, and
    the batch_id=N output directory is overwritten, never appended.
    Within a batch the assignment is assign_global_index (range
    partition + bounded offsets), deterministic given the batch's
    rows; ``order_cols`` must be unique per batch. The offset lookup
    reads ONE meta file (the previous batch's) — O(1) driver work per
    batch, not a listing of all history."""
    import json

    from myhadoop_spark.fsutil import read_small_file, write_small_file

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        meta_dir = f"{out_path}/_idx_meta"
        own = read_small_file(spark, f"{meta_dir}/batch-{batch_id}.json")
        start = None
        if own is not None:
            # replay: reuse the recorded ids. An UNPARSEABLE own-meta
            # is the crash-mid-tmp-write window (read_small_file serves
            # the partial .tmp when the main file never landed) — the
            # batch's data can't have been written either, so deriving
            # the offset fresh is exactly right; parse failures must
            # self-heal, not wedge the stream on every retry.
            try:
                start = json.loads(own)["start"]
            except (ValueError, KeyError):
                start = None
        if start is not None:
            pass
        elif batch_id == 0:
            start = 0
        else:
            prev = read_small_file(spark,
                                   f"{meta_dir}/batch-{batch_id - 1}.json")
            if prev is None:
                raise RuntimeError(
                    f"indexing stream at batch {batch_id} found no meta "
                    f"for batch {batch_id - 1} — offset chain broken")
            p = json.loads(prev)
            start = p["start"] + p["count"]
        if batch.isEmpty():
            write_small_file(spark, f"{meta_dir}/batch-{batch_id}.json",
                             json.dumps({"start": start, "count": 0}))
            return
        idx_stats: dict = {}
        numbered = assign_global_index(batch, order_cols,
                                       idx_col=idx_col,
                                       num_partitions=num_partitions,
                                       stats=idx_stats)
        numbered = numbered.withColumn(
            idx_col, F.col(idx_col) + F.lit(start))
        n = idx_stats["rows"]  # known from the offset collect — the
        #                        write below is the ONLY numbering pass
        # meta BEFORE data: a crash between them replays the batch,
        # finds its own meta, and overwrites the partial output with
        # the SAME ids
        write_small_file(spark, f"{meta_dir}/batch-{batch_id}.json",
                         json.dumps({"start": start, "count": n}))
        (numbered.write.mode("overwrite")
         .parquet(f"{out_path}/batch_id={batch_id}"))

    return (doc_stream.writeStream
            .foreachBatch(_process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def deterministic_shuffle(df: DataFrame, id_cols: list[str],
                          *, seed: str = "0",
                          idx_col: str = "shuffle_idx",
                          num_partitions: int | None = None) -> DataFrame:
    """df + a contiguous 0..N−1 ``idx_col`` in a PSEUDO-RANDOM but
    fully reproducible order — the training-epoch shuffle: any engine,
    any partitioning, any rerun yields the same permutation for the
    same (rows, seed), and a different seed re-shuffles.

    Order key = md5(seed ‖ id) — the repo's engine-portable hash — with
    the ids as tie-breakers (md5 collisions on the 32-hex string are
    not a practical concern, but the total order must be unique for
    assign_global_index's contract, and the ids make it so). One range
    shuffle + the bounded offset collect, same as the plain index."""
    salted = df.withColumn(
        "_shuffle_key",
        F.md5(F.concat_ws("\x1f", F.lit(seed),
                          *[F.col(c).cast("string") for c in id_cols])))
    out = assign_global_index(salted, ["_shuffle_key", *id_cols],
                              idx_col=idx_col,
                              num_partitions=num_partitions)
    return out.drop("_shuffle_key")

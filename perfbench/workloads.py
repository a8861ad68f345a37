"""The two workloads: their inputs, their op lists and their output
checks.

An op is one query call (plan construction plus a write to a real
parquet sink) or, for ``stream_dedup``, one micro-batch. A round runs a
workload's fixed op list once; ``run_round`` returns the round's wall
time, one ``(op name, latency s, output correct)`` triple per op, and a
dict of workload-specific extras. ``warmup`` is the uncounted work of
set-up that leaves every op of the list warm.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

import duckdb
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs
from stats import table_digest
from tracing import dir_bytes

# Each run must fit a time budget, and every op type adds its cold first
# call to set-up. So ppjoin_pairs (the heaviest near-dup query) and
# signature_neardup (dedup_minhash's twin over a persistent LSH index)
# are left out
NEARDUP_QUERIES = ("dedup_minhash", "dedup_clusters")
NEARDUP_TABLES = ("documents", "embeddings")

# input sizes, fixed for every seed so that seeds change values, not work
WORDCOUNT_VOLUMES = {"v1": 300_000}  # words per volume
NEARDUP_DOCS, NEARDUP_VECS = 400, 300
STREAM_BATCHES, STREAM_DOCS_PER_BATCH = 10, 40
STREAM_WARMUP_BATCHES = 2  # the second one reads state the first wrote


def _timed_op(tracer, spark, name: str, build, sink: Path) -> float:
    """Build the op's DataFrame and write it to ``sink``; returns the
    latency in seconds."""
    tracer.op += 1
    t0 = time.perf_counter()
    with tracer.span(f"op:{name}"):
        with tracer.span(f"query:{name}"):
            df = build(spark)
        with tracer.span(f"sink:{name}"):
            df.write.mode("overwrite").parquet(str(sink))
    return time.perf_counter() - t0


class Batch:
    """The batch engine: the paper's WordCount over every volume through
    the user map/reduce API (``mr.*``) and the Catalyst fast path
    (``fast.*``), then the near-dup queries over generated documents and
    embeddings, checked against the registry's DuckDB oracle."""

    name = "batch"
    queries = NEARDUP_QUERIES

    def generate(self, seed: int, data: Path) -> dict:
        from myhadoop_spark import registry

        wc = inputs.wordcount(seed, data / "text", WORDCOUNT_VOLUMES)
        (data / "counts.json").write_text(json.dumps(
            {v: dict(c) for v, c in wc["counts"].items()}))
        nd = inputs.neardup(seed, data / "tables", NEARDUP_DOCS,
                            NEARDUP_VECS)
        con = duckdb.connect()
        for t in NEARDUP_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data / 'tables' / t}.parquet')")
        digests = {}
        for q in self.queries:
            want = data / "oracle" / f"{q}.parquet"
            want.parent.mkdir(parents=True, exist_ok=True)
            table = con.execute(registry.get(q).oracle).fetch_arrow_table()
            pq.write_table(table, want)
            digests[q] = table_digest(table)
        con.close()
        return {"rows": wc["rows"] + nd["rows"],
                "bytes": wc["bytes"] + nd["bytes"],
                "oracle_digests": digests}

    def warmup(self, spark, tracer, data: Path, sink: Path,
               info: dict) -> None:
        # one whole round: each op's first call is its coldest
        self.run_round(spark, tracer, data, sink, info)

    def run_round(self, spark, tracer, data: Path, sink: Path,
                  info: dict):
        from myhadoop_spark import mapreduce, registry

        if "counts" not in info:
            info["counts"] = json.loads((data / "counts.json").read_text())
        out = []
        for vol in WORDCOUNT_VOLUMES:
            path = str(data / "text" / vol)
            for kind, build in (
                    ("mr", lambda s: mapreduce.wordcount_job()
                     .run_on_text_dir(s, path)),
                    ("fast", lambda s: mapreduce.run_wordcount_fast(s, path))):
                name = f"{kind}.{vol}"
                lat = _timed_op(tracer, spark, name, build, sink / name)
                keys, vals = pq.read_table(sink / name).columns
                ok = (dict(zip(keys.to_pylist(), vals.to_pylist()))
                      == info["counts"][vol])
                out.append((name, lat, ok))
        for q in self.queries:
            fn = registry.get(q).fn
            lat = _timed_op(tracer, spark, q,
                            lambda s: fn(s, str(data / "tables")), sink / q)
            out.append((q, lat, self.check(q, sink / q, data, info)))
        return sum(lat for _, lat, _ in out), out, {}

    @staticmethod
    def check(q: str, got_dir: Path, data: Path, info: dict) -> bool:
        """Digest equality with the oracle's result, else the engine's
        own row comparison (``oracle.compare``), which lets floats
        differ in their last digits."""
        from myhadoop_spark import oracle

        got = pq.read_table(got_dir)
        if table_digest(got) == info["oracle_digests"][q]:
            return True
        want = pq.read_table(data / "oracle" / f"{q}.parquet")
        canon = [oracle.canon_rows(t.column_names,
                                   list(zip(*t.to_pydict().values())))
                 for t in (got, want)]
        ok, notes = oracle.compare(*canon[0], *canon[1])
        print(f"  {q}: digest differs from the oracle's; "
              + ("; ".join(notes) or "rows match"), file=sys.stderr)
        return ok


class StreamDedup:
    """Pre-written document batches through the streaming line dedup,
    one file per micro-batch, from fresh state each round."""

    name = "stream_dedup"

    def generate(self, seed: int, data: Path) -> dict:
        got = inputs.stream_batches(seed, data / "batches", STREAM_BATCHES,
                                    STREAM_DOCS_PER_BATCH)
        (data / "expected.json").write_text(json.dumps(
            {str(k): v for k, v in got["expected"].items()}))
        # the warm-up streams the first batches from a directory of its own
        warm = data / "warmup_batches"
        warm.mkdir()
        for f in sorted((data / "batches").iterdir())[:STREAM_WARMUP_BATCHES]:
            shutil.copy2(f, warm / f.name)
        return {"rows": got["rows"], "bytes": got["bytes"]}

    def _start(self, spark, src: Path, state: Path):
        from pyspark.sql.types import LongType, StringType, StructField, \
            StructType

        from myhadoop_spark.operators.line_filter import split_lines
        from myhadoop_spark.streaming.line_dedup_stream import \
            start_line_dedup_stream

        shutil.rmtree(state, ignore_errors=True)
        schema = StructType([StructField("doc_id", LongType()),
                             StructField("text", StringType())])
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src))
                  .withColumn("_l", split_lines("text", r"\n")))
        return start_line_dedup_stream(
            stream, path=str(state / "out"), checkpoint=str(state / "ckpt"),
            lines_col_name="_l", stats=[])

    def warmup(self, spark, tracer, data: Path, sink: Path,
               info: dict) -> None:
        self._start(spark, data / "warmup_batches",
                    sink / "warmup").awaitTermination()

    def run_round(self, spark, tracer, data: Path, sink: Path,
                  info: dict):
        if "expected" not in info:
            info["expected"] = json.loads(
                (data / "expected.json").read_text())
        tracer.op += 1
        state = sink / "stream"
        t0 = time.perf_counter()
        with tracer.span("stream"):
            q = self._start(spark, data / "batches", state)
            q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress
                    if p.get("numInputRows", 0) > 0]
        ok = self.check(state / "out" / "clean", info["expected"])
        ops = [(f"batch.{p['batchId']}",
                p["durationMs"]["triggerExecution"] / 1e3, ok)
               for p in progress]
        seen = sorted((state / "out").glob("seen_v*"),
                      key=lambda p: int(p.name[len("seen_v"):]))
        return wall, ops, {"progress": progress,
                           "state_bytes": dir_bytes(seen[-1]) if seen else 0}

    @staticmethod
    def check(clean: Path, expected: dict) -> bool:
        t = ds.dataset(clean, format="parquet",
                       partitioning="hive").to_table().to_pydict()
        got = {str(d): [int(b), n, k, c] for d, b, n, k, c in zip(
            t["doc_id"], t["batch_id"], t["n_lines"], t["n_kept"],
            t["clean_text"])}
        return got == expected


WORKLOADS = {w.name: w for w in (Batch(), StreamDedup())}

"""The traced run: in-memory spans around the engine's public entry
points, Spark job tags that join REST job/stage data to those spans,
and the per-layer metrics computed from both.

Wrapping happens on module attributes, before the query modules
import the names (``install`` must run before ``myhadoop_spark.queries``
or ``myhadoop_spark.streaming`` is imported). Each wrapper checks
``Tracer.enabled``, so rounds can alternate between traced and
untraced in one session and the tracing overhead is their difference.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import math
import re
import time
import urllib.request
from pathlib import Path
from statistics import median
from urllib.parse import urlsplit

from stats import Span, clip, self_times, union_length

# the per-layer metrics of BENCHMARK.json, in its order
PER_LAYER = (
    "session.start_s", "session.warmup_s", "shipping.ship_s",
    "catalog.load_s", "catalog.scan_rows", "catalog.scan_bytes",
    "queries.construct_s", "queries.construct_jobs", "queries.exec_jobs",
    "materialize.calls", "materialize.jobs", "materialize.s",
    "operators.task_s", "operators.cpu_s", "operators.gc_s",
    "operators.spill_bytes", "operators.shuffle_write_bytes",
    "operators.shuffle_read_bytes", "operators.shuffle_fetch_wait_s",
    "operators.task_skew", "operators.failed_tasks", "operators.busy_share",
    "mapreduce.job_s", "mapreduce.fast_s", "mapreduce.shuffle_records",
    "mapreduce.shuffle_bytes",
    "streaming.batch_s", "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.jobs_per_batch", "streaming.state_bytes",
    "streaming.state_write_bytes",
    "fsutil.calls", "fsutil.s",
    "driver.idle_s", "driver.idle_share", "trace.overhead_s",
    "trace.overhead_cpu_s",
)

TAG = "pbspan"
# SparkSession.addTag stores "spark-session-<id>-thread-<id>-<tag>"
_TAG_RE = re.compile(TAG + r"(\d+)$")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.enabled = False
        self.op = -1
        self.spark = None
        # streaming: bytes of each new seen-state version, by batch
        self.state_writes: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.time(), math.nan, parent, self.op))
        self.stack.append(idx)
        tag = f"{TAG}{idx}"
        if self.spark is not None:
            self.spark.addTag(tag)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self.stack.pop()
            if self.spark is not None:
                self.spark.removeTag(tag)

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of the traced layers."""
    import myhadoop_spark.shipping as shipping
    tracer.wrap(shipping, "ensure_shipped", "shipping")
    import myhadoop_spark.materialize as mat
    tracer.wrap(mat, "materialize", "materialize")
    tracer.wrap(mat, "materialize_lazy", "materialize_lazy")
    import myhadoop_spark.fsutil as fsutil
    for fn in ("read_small_file", "write_small_file",
               "list_partition_dirs", "count_data_files"):
        tracer.wrap(fsutil, fn, "fsutil")
    write_small = fsutil.write_small_file

    def write_small_file(spark, path, payload):
        # the line-dedup stream writes meta.json right after the new
        # seen_v{batch} version: its size is that batch's state write
        write_small(spark, path, payload)
        if tracer.enabled and path.endswith("/meta.json"):
            last = json.loads(payload).get("last_batch")
            seen = Path(path).parent / f"seen_v{last}"
            if seen.is_dir():
                tracer.state_writes.append(dir_bytes(seen))

    fsutil.write_small_file = write_small_file
    import myhadoop_spark.catalog as catalog
    tracer.wrap(catalog, "load", "catalog")
    tracer.wrap(catalog, "load_wide", "catalog")


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*")
               if f.is_file())


# --------------------------------------------------------------------------
# Spark REST data
# --------------------------------------------------------------------------

def _ts(s: str | None) -> float:
    """REST timestamps ('2026-01-02T03:04:05.678GMT') → epoch seconds."""
    if not s:
        return math.nan
    return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


class Rest:
    """Job and stage records of one application from its UI's REST API,
    read over the loopback interface."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urlsplit(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def jobs_and_stages(self, settle_s: float = 20.0):
        """All jobs and stages, once the listener has caught up (no job
        still running and the counts unchanged between two reads)."""
        deadline = time.time() + settle_s
        prev = None
        while True:
            jobs = _get(f"{self.base}/jobs")
            stages = _get(f"{self.base}/stages")
            key = (len(jobs), len(stages),
                   sum(j["status"] == "RUNNING" for j in jobs))
            if (key == prev and key[2] == 0) or time.time() > deadline:
                return jobs, stages
            prev = key
            time.sleep(0.3)

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = _get(f"{self.base}/stages/{stage['stageId']}/"
                 f"{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        return top / med if med > 0 else 1.0


# --------------------------------------------------------------------------
# per-layer metrics of one traced round
# --------------------------------------------------------------------------

def _owner(spans: list[Span], tags: list[str], t: float,
           lo: int, hi: int) -> int | None:
    """Index of the span a job (or stage) belongs to: the innermost
    tagged span, else the innermost span of [lo, hi) whose interval
    holds its submission time (jobs Spark starts on its own threads
    carry no tag)."""
    tagged = [int(m.group(1)) for m in map(_TAG_RE.search, tags) if m]
    tagged = [i for i in tagged if lo <= i < hi]
    if tagged:
        return max(tagged)
    best = None
    for i in range(lo, hi):
        sp = spans[i]
        if sp.start <= t <= sp.end:
            best = i
    return best


def _ancestors(spans: list[Span], i: int | None):
    while i is not None:
        yield i
        i = spans[i].parent


def round_metrics(tracer: Tracer, lo: int, hi: int, jobs: list[dict],
                  stages: list[dict], rest: Rest, cores: int,
                  op_windows: list[tuple[float, float]] | None = None
                  ) -> dict[str, float]:
    """Per-layer metrics of the traced round whose spans are [lo, hi).
    ``op_windows`` gives the ops' intervals where they are not spans
    (micro-batches); ``_jobs`` is the round's job count."""
    spans = tracer.spans
    selfs = self_times(spans)
    r0, r1 = spans[lo].start, spans[lo].end  # span lo is the round

    def under(i: int | None, prefix: str) -> bool:
        return any(spans[a].name.startswith(prefix)
                   for a in _ancestors(spans, i))

    m: dict[str, float] = {}
    in_round = [j for j in jobs if r0 <= _ts(j.get("submissionTime")) <= r1]
    m["_jobs"] = len(in_round)
    job_owner = {j["jobId"]: _owner(spans, j.get("jobTags", []),
                                    _ts(j.get("submissionTime")), lo, hi)
                 for j in in_round}
    st_round = [s for s in stages if s["status"] in ("COMPLETE", "FAILED")
                and r0 <= _ts(s.get("submissionTime")) <= r1]

    def spans_named(prefix: str, top: bool = False) -> list[int]:
        out = [i for i in range(lo, hi) if spans[i].name.startswith(prefix)]
        if top:  # outermost only, so nested calls are not counted twice
            out = [i for i in out
                   if not under(spans[i].parent, prefix)]
        return out

    def total(idx: list[int]) -> float:
        return sum(spans[i].end - spans[i].start for i in idx)

    # catalog: driver time in load/load_wide, rows and bytes scanned
    m["catalog.load_s"] = total(spans_named("catalog", top=True))
    m["catalog.scan_rows"] = sum(s.get("inputRecords", 0) for s in st_round)
    m["catalog.scan_bytes"] = sum(s.get("inputBytes", 0) for s in st_round)

    # queries: self time of the query functions; jobs started while the
    # plan is built (eager intermediates, collects) vs by the sink write
    m["queries.construct_s"] = sum(selfs[i] for i in spans_named("query:"))
    m["queries.construct_jobs"] = sum(
        under(o, "query:") for o in job_owner.values())
    m["queries.exec_jobs"] = sum(
        under(o, "sink:") for o in job_owner.values())

    # materialize: eager and lazy pins, the jobs they start, their time
    mats = spans_named("materialize", top=True)
    m["materialize.calls"] = len(spans_named("materialize"))
    m["materialize.jobs"] = sum(
        under(o, "materialize") for o in job_owner.values())
    m["materialize.s"] = total(mats)

    # operators: executor-side work of every stage in the round
    m["operators.task_s"] = sum(s.get("executorRunTime", 0)
                                for s in st_round) / 1e3
    m["operators.cpu_s"] = sum(s.get("executorCpuTime", 0)
                               for s in st_round) / 1e9
    m["operators.gc_s"] = sum(s.get("jvmGcTime", 0) for s in st_round) / 1e3
    m["operators.spill_bytes"] = sum(
        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        for s in st_round)
    m["operators.shuffle_write_bytes"] = sum(
        s.get("shuffleWriteBytes", 0) for s in st_round)
    m["operators.shuffle_read_bytes"] = sum(
        s.get("shuffleReadBytes", 0) for s in st_round)
    m["operators.shuffle_fetch_wait_s"] = sum(
        s.get("shuffleFetchWaitTime", 0) for s in st_round) / 1e3
    m["operators.failed_tasks"] = sum(s.get("numFailedTasks", 0)
                                      for s in st_round)
    slowest = max(st_round, key=lambda s: s.get("executorRunTime", 0),
                  default=None)
    m["operators.task_skew"] = (rest.task_skew(slowest)
                                if slowest is not None else 1.0)

    # mapreduce: the user map/reduce API vs the Catalyst fast path
    m["mapreduce.job_s"] = total(spans_named("op:mr."))
    m["mapreduce.fast_s"] = total(spans_named("op:fast."))
    mr_stages = set()
    for j in in_round:
        if under(job_owner[j["jobId"]], "op:mr."):
            mr_stages.update(j.get("stageIds", []))
    # PySpark RDD shuffles count pickled batches as records
    m["mapreduce.shuffle_records"] = sum(
        s.get("shuffleWriteRecords", 0) for s in st_round
        if s["stageId"] in mr_stages)
    m["mapreduce.shuffle_bytes"] = sum(
        s.get("shuffleWriteBytes", 0) for s in st_round
        if s["stageId"] in mr_stages)

    # fsutil: top-level small-file calls
    fs_top = spans_named("fsutil", top=True)
    m["fsutil.calls"] = len(fs_top)
    m["fsutil.s"] = total(fs_top)

    # driver idle: per op, op wall minus the union of its job intervals
    intervals = [(_ts(j.get("submissionTime")), _ts(j.get("completionTime")))
                 for j in in_round]
    if op_windows is None:
        op_windows = [(spans[i].start, spans[i].end)
                      for i in spans_named("op:")]
    idle = 0.0
    for s, e in op_windows:
        idle += (e - s) - union_length(clip(intervals, s, e))
    m["driver.idle_s"] = idle
    # shares of op time: no job running, and executor slots busy
    op_s = sum(e - s for s, e in op_windows)
    m["driver.idle_share"] = idle / op_s
    m["operators.busy_share"] = m["operators.task_s"] / (op_s * cores)
    return m


def _progress_ts(p: dict) -> float:
    """Start of a micro-batch ('2026-01-02T03:04:05.678Z')."""
    return _ts(p["timestamp"].replace("Z", "GMT"))


def stream_metrics(progress: list[dict], jobs: int, state_bytes: int,
                   state_writes: list[int]) -> dict[str, float]:
    """The streaming layer of one round, from the query's progress
    reports (one per micro-batch)."""
    ms = [p["durationMs"] for p in progress]
    return {
        "streaming.batch_s": median([d["triggerExecution"] / 1e3
                                     for d in ms]),
        "streaming.add_batch_s": median([d.get("addBatch", 0) / 1e3
                                         for d in ms]),
        "streaming.wal_commit_s": median(
            [(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
             for d in ms]),
        "streaming.jobs_per_batch": jobs / len(progress),
        "streaming.state_bytes": state_bytes,
        "streaming.state_write_bytes": median(state_writes or [0]),
    }


def layer_metrics(spark, tracer: Tracer, rounds: list[dict],
                  dump: Path) -> dict[str, float]:
    """Median over the traced rounds of each per-layer metric (0 for a
    layer the workload does not use), plus the tracing overhead: the
    median traced round minus the median untraced one, in wall time and
    in CPU time. The spans, the
    REST job and stage records and the per-round values are written to
    ``dump``."""
    rest = Rest(spark)
    jobs, stages = rest.jobs_and_stages()
    per_round = []
    for r in rounds:
        if not r["traced"]:
            continue
        progress = r["extra"].get("progress")
        windows = None if progress is None else [
            (_progress_ts(p), _progress_ts(p)
             + p["durationMs"]["triggerExecution"] / 1e3) for p in progress]
        m = round_metrics(tracer, r["lo"], r["hi"], jobs, stages, rest,
                          spark.sparkContext.defaultParallelism,
                          op_windows=windows)
        n_jobs = m.pop("_jobs")
        if progress:
            m.update(stream_metrics(progress, n_jobs,
                                    r["extra"]["state_bytes"],
                                    r["state_writes"]))
        per_round.append(m)
    dump.parent.mkdir(parents=True, exist_ok=True)
    dump.write_text(json.dumps({
        "spans": [vars(sp) for sp in tracer.spans],
        "rounds": [{k: r[k] for k in ("traced", "wall", "ops", "lo", "hi")}
                   for r in rounds],
        "per_round": per_round, "jobs": jobs, "stages": stages}))
    out = {k: median([m.get(k, 0.0) for m in per_round]) for k in PER_LAYER}
    for key, name in (("wall", "trace.overhead_s"),
                      ("cpu", "trace.overhead_cpu_s")):
        by = {t: median([r[key] for r in rounds if r["traced"] == t])
              for t in (False, True)}
        out[name] = by[True] - by[False]
    return out

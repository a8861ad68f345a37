#!/usr/bin/env python3
"""The repository benchmark: one workload, one Spark session, a fixed
op list repeated for a CPU-time budget, every output checked.

    python3 perfbench/run.py --workload batch --seed 1 \
        --seconds 11 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(the same seed writes the same bytes) into ``.perfbench/`` in the
checkout, which also holds the sinks, the Spark scratch space and the
temp files. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer ones (see
perfbench/README.md). Human-readable lines go first; the last line of
standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
END_TO_END = ("cpu_s", "peak_rss_mb", "setup_s")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --------------------------------------------------------------------------
# environment: the session sized to this host, everything inside WORK
# --------------------------------------------------------------------------

def configure_env(trace: bool) -> None:
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        # session.py defaults to local[32] and a 16g driver. The inputs
        # are small; a 1g heap keeps the JVM's high-water memory from
        # following the collector's heap-growth choices run to run
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        # every JVM, the spark-submit launcher too: temp files in WORK,
        # no hsperfdata in the system temp directory, and JIT compiler
        # threads that live as long as the JVM, so jit_cpu_s sees all
        # of their time
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              "-XX:-UseDynamicNumberOfCompilerThreads"),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 "
            "--conf spark.sql.ui.retainedExecutions=100000 "
            "--conf spark.ui.showConsoleProgress=false "
            "pyspark-shell"),
    })
    # the UI serves the REST job/stage data; only the traced run needs it
    if trace:
        os.environ["SPARK_GRAFT_UI"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)
    tempfile.tempdir = None


def input_key(wl) -> str:
    """Hash of everything that decides a workload's inputs and expected
    outputs: the generators, the workload definitions (sizes included),
    the digest code and, for query workloads, the oracle SQL."""
    from myhadoop_spark import registry

    h = hashlib.sha256()
    for f in ("inputs.py", "workloads.py", "stats.py"):
        h.update((HERE / f).read_bytes())
    for q in getattr(wl, "queries", ()):
        h.update(registry.get(q).oracle.encode())
    return h.hexdigest()[:12]


def prepare_inputs(wl, seed: int) -> tuple[Path, dict]:
    """The workload's inputs for ``seed``, generated once and kept until
    another seed of the same workload, or a change to what generates or
    checks them, asks for new ones."""
    base = WORK / "inputs"
    data = base / f"{wl.name}-s{seed}-{input_key(wl)}"
    done = data / "info.json"
    if done.exists():
        return data, json.loads(done.read_text())
    if base.exists():
        for old in base.glob(f"{wl.name}-s*"):
            shutil.rmtree(old)
    data.mkdir(parents=True)
    t0 = time.perf_counter()
    info = wl.generate(seed, data)
    info["generate_s"] = time.perf_counter() - t0
    done.write_text(json.dumps(info))
    return data, info


# --------------------------------------------------------------------------
# memory of the JVM and its Python workers, sampled from outside them
# --------------------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes (a forked
    Python worker, a JVM forking a shell command) count once in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _cpu_ticks(stat_path: str, fields: slice) -> int:
    try:
        with open(stat_path) as f:
            return sum(map(int, f.read().rsplit(")", 1)[1].split()[fields]))
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process's descendants (the JVM
    and its Python workers), children they have reaped included."""
    ticks = sum(_cpu_ticks(f"/proc/{pid}/stat", slice(11, 15))  # u/s/cu/cs
                for pid in _descendants(os.getpid()))
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s() -> float:
    """CPU seconds used so far by the JIT compiler threads ("C1/C2
    CompilerThread<n>") of the descendant JVMs."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
            except OSError:
                continue
            ticks += _cpu_ticks(f"/proc/{pid}/task/{tid}/stat",
                                slice(11, 13))  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


class MemSampler(threading.Thread):
    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.peak_largest = 0  # the JVM
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(self.interval):
            pss = [_pss_bytes(p) for p in _descendants(me)]
            self.peak = max(self.peak, sum(pss))
            self.peak_largest = max([self.peak_largest, *pss])

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_spark() -> None:
    """Stop the active Spark context, then the JVM it launched, and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except OSError:
            pass


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf == "task_skew" or leaf.endswith("_share"):
        return "ratio"
    if leaf == "s" or leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith("_mb"):
        return "MB"
    return "count"


def set_up(get_spark, wl, tracer, data: Path, sink: Path, info: dict,
           trace: bool):
    """Session start (a fresh JVM, the package zipped and shipped) plus
    the workload's uncounted warm-up: the cold start a user pays.
    Returns the session and (start s, warm-up s, shipping s, CPU s)."""
    tracer.enabled = trace
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    wl.warmup(spark, tracer, data, sink, info)
    t2 = time.perf_counter()
    cpu = tree_cpu_s()  # no JVM ran before set-up
    tracer.enabled = False
    ship = sum(sp.end - sp.start for sp in tracer.spans
               if sp.name == "shipping")
    return spark, (t1 - t0, t2 - t1, ship, cpu)


def measure(spark, wl, tracer, data: Path, sink: Path, info: dict,
            seconds: float, trace: bool):
    """Whole rounds until the engine's CPU time in them, less JIT
    compilation, reaches ``seconds``: the round count then follows the
    work, not how busy the host is. The traced run compares traced with
    untraced rounds, so it alternates them, U T U at least: a later
    round runs warmer, and untraced rounds on both sides of a traced one
    cancel that out. Returns (rounds, attempted ops, failed ops)."""
    rounds: list[dict] = []
    attempted = failed = 0
    used = 0.0
    while used < seconds or (trace and len(rounds) < 3):
        traced = trace and len(rounds) % 2 == 1
        tracer.enabled = traced
        tracer.state_writes = []
        lo = len(tracer.spans)
        c0, j0 = tree_cpu_s(), jit_cpu_s()
        try:
            with tracer.span("round"):
                wall, ops, extra = wl.run_round(spark, tracer, data, sink,
                                                info)
        except Exception:
            traceback.print_exc()
            attempted += 1
            failed += 1
            break
        finally:
            tracer.enabled = False
        attempted += len(ops)
        failed += sum(not ok for _, _, ok in ops)
        jit = jit_cpu_s() - j0
        cpu = tree_cpu_s() - c0 - jit
        rounds.append({"traced": traced, "wall": wall, "cpu": cpu,
                       "jit": jit,
                       "ops": ops, "extra": extra, "lo": lo,
                       "hi": len(tracer.spans),
                       "state_writes": tracer.state_writes})
        used += cpu
    return rounds, attempted, failed


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "myhadoop_spark" / "__init__.py").is_file():
        fail(f"no myhadoop_spark package under {ROOT}: run from the root "
             "of a full checkout")
    sys.path.insert(0, str(ROOT))
    import stats
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {list(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    configure_env(trace)
    os.chdir(WORK)  # spark-warehouse and friends land in WORK
    tracer = tracing.Tracer()
    if trace:
        # before anything imports the query modules, which bind the
        # wrapped names at import
        tracing.install(tracer)
    data, info = prepare_inputs(wl, args.seed)
    sink = WORK / "sink" / wl.name
    shutil.rmtree(sink, ignore_errors=True)
    sink.mkdir(parents=True)
    from myhadoop_spark import get_spark

    sampler = MemSampler()
    sampler.start()
    try:
        spark, (start, warmup, ship, setup_cpu) = set_up(
            get_spark, wl, tracer, data, sink, info, trace)
        tracer.spark = spark
        rounds, attempted, failed = measure(spark, wl, tracer, data, sink,
                                            info, args.seconds, trace)
        per_layer = {}
        if trace and any(r["traced"] for r in rounds):
            per_layer = tracing.layer_metrics(
                spark, tracer, rounds,
                WORK / "trace" / f"{wl.name}-s{args.seed}.json")
    finally:
        stop_spark()
        sampler.stop()

    plain = [r for r in rounds if not r["traced"]]
    if not plain or (trace and not per_layer):
        fail("no complete round: see the error above")
    lat = [x for r in plain for _, x, _ in r["ops"]]
    out = {
        "cpu_s": median([r["cpu"] for r in plain]),
        "peak_rss_mb": sampler.peak / 2**20,
        "setup_s": setup_cpu,
    }
    wall = median([r["wall"] for r in plain])
    tail = stats.tail(lat)

    print(f"workload {wl.name}  seed {args.seed}  trace {args.trace}  "
          f"cpus {os.environ['SPARK_GRAFT_CPUS']}  "
          f"driver_mem {os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    print(f"  inputs: {info['rows']} rows, {info['bytes']} bytes "
          f"(generated in {info['generate_s']:.2f} s, not timed)")
    print(f"  rounds: {len(plain)} untraced, "
          f"{len(rounds) - len(plain)} traced; "
          f"{len(rounds[0]['ops'])} ops per round; wall s / CPU s / JIT "
          "CPU s " + ", ".join(f"{r['wall']:.3f}/{r['cpu']:.3f}/{r['jit']:.3f}"
                              f"{'T' if r['traced'] else ''}" for r in rounds))
    print(f"  cpu_s        {out['cpu_s']:.4f} s  (CPU of the JVM and its "
          "Python workers less JIT compilation, median round)")
    print(f"  setup_s      {out['setup_s']:.4f} s  (CPU of set-up; its wall "
          f"time {start + warmup:.3f} s = session start {start:.3f} + "
          f"warm-up {warmup:.3f})")
    print(f"  wall_s       {wall:.4f} s  (median round)")
    print(f"  op_p50_s     {median(lat):.4f} s  (n={len(lat)})")
    if tail is not None:
        print(f"  op_tail_s    {tail[1]:.4f} s  (p{tail[0]:g}, n={len(lat)}, "
              f"{tail[2]} beyond)")
    else:
        print(f"  op_tail_s    n/a  (n={len(lat)}: no percentile has "
              "10 samples beyond it)")
    print(f"  peak_rss_mb  {out['peak_rss_mb']:.1f} MB  (sum of PSS; largest "
          f"process {sampler.peak_largest / 2**20:.1f} MB)")
    print(f"  error_rate   {failed / attempted:.4f}  "
          f"({failed} of {attempted} ops failed)")
    by_op: dict[str, list[float]] = {}
    for r in plain:
        for name, x, _ in r["ops"]:
            by_op.setdefault(name.split(".")[0] if name.startswith("batch.")
                             else name, []).append(x)
    print("  per op (median s): " + ", ".join(
        f"{k} {median(v):.3f}" for k, v in by_op.items()))

    if trace:
        per_layer.update({
            "session.start_s": start - ship,
            "session.warmup_s": warmup,
            "shipping.ship_s": ship,
        })
        for k in tracing.PER_LAYER:
            print(f"  {k:34s} {per_layer[k]:.6g} {unit(k)}")
        metrics = {k: per_layer[k] for k in tracing.PER_LAYER}
    else:
        metrics = {k: out[k] for k in END_TO_END}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()

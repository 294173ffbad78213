"""Benchmark of the KG engine, one workload per run.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 5 --trace 0

Run it from the repository root.  Workloads: kg_batch, query_mix and
stream_ingest (see perfbench/workloads.py; BENCHMARK.json lists the first
two).  Each run is one fresh process, like a ``spark-submit`` job: it
starts a ``local[4]`` session at the program's default configuration
with 4 shuffle partitions, stages its inputs from ``--seed`` and runs a
warm-up slice (together reported as ``setup_s``), then runs operations
(a pipeline pass, a query-mix pass or a drain) in a closed loop with one
client until ``--seconds`` of operation time have passed, at least one,
and checks every operation's output.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs
operations with spans around the program's layer functions, folds
Spark's event log by span and prints the per-layer metrics.  The last
line of standard output is one JSON object, ``{"correct", "attempted",
"failed", "metrics"}``.  The exit code is 0 when every operation
completed and passed its check, and 1 otherwise.

Everything a run writes stays under ``.perfbench_work/`` in the current
directory and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

CORES = 4


def rss_by_kind(root_pid: int) -> tuple[int, int]:
    """(JVM bytes, Python-worker bytes) resident in the descendants of
    ``root_pid``, read from /proc."""
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
    page = os.sysconf("SC_PAGE_SIZE")
    jvm = py = 0
    todo = list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        if comm == "java":
            jvm += rss
        elif comm.startswith("python"):
            py += rss
    return jvm, py


class RssSampler:
    """Peak RSS of the Spark JVM and its Python workers, sampled every
    0.2 s on a background thread while the sampler is running."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_jvm = self.peak_py = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            jvm, py = rss_by_kind(me)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_py = max(self.peak_py, py)
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7]


def start_session(work: str, trace: bool):
    from mmore_spark.session import get_spark

    conf = {"spark.sql.shuffle.partitions": str(CORES),
            "spark.local.dir": os.path.join(work, "spark-local")}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": os.path.join(work, "eventlog")})
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(wl_cls, work: str, seed: int, trace: bool):
    """Session start, input staging and the warm-up slice.  Returns
    (workload, setup seconds, session seconds)."""
    t0 = time.perf_counter()
    spark = start_session(work, trace)
    session_s = time.perf_counter() - t0
    wl = wl_cls(spark, work, seed)
    wl.stage()
    wl.warm_up()
    return wl, time.perf_counter() - t0, session_s


def run_op(wl, i: int) -> tuple[float, object, list[str]]:
    """One timed operation, then its check (untimed).  Returns (wall,
    result or None, errors)."""
    t = time.perf_counter()
    try:
        res = wl.op(i)
    except Exception:  # an operation that raises is counted as failed
        traceback.print_exc()
        return time.perf_counter() - t, None, ["raised"]
    return time.perf_counter() - t, res, check(wl, i, res)


def check(wl, i: int, res) -> list[str]:
    try:
        return wl.check(i, res)
    except Exception:
        traceback.print_exc()
        return ["check raised"]


def timed(wl, seconds: float) -> tuple[list[float], int]:
    """Closed loop, one client: operations back to back until ``seconds``
    of operation time have passed (at least one).  Returns (walls, failed
    operations)."""
    walls, failed = [], 0
    cpu0 = cpu_ticks()
    while not walls or sum(walls) < seconds:
        i = len(walls)
        wall, res, errs = run_op(wl, i)
        walls.append(wall)
        if errs:
            failed += 1
            print(f"op {i} failed: {'; '.join(errs)}", file=sys.stderr)
        wl.after_op(i)
        if res is None:
            break  # the session is unusable after an operation raised
    busy, steal = (b - a for a, b in zip(cpu0, cpu_ticks()))
    # CPU time the hypervisor gave to other guests: the host noise that
    # inflates walls without any change in the program
    print(f"{wl.name}: {len(walls)} ops, walls {[round(w, 3) for w in walls]}, "
          f"cpu steal {steal / max(1, busy + steal):.3f}", file=sys.stderr)
    return walls, failed


def run_untraced(wl_cls, args, work: str) -> dict:
    wl, setup_s, _ = set_up(wl_cls, work, args.seed, False)
    walls, failed = timed(wl, args.seconds)
    wl.spark.stop()
    m = {
        "setup_s": (setup_s, "s"),
        # median wall of an operation: a pipeline pass, a query-mix pass
        # or a drain
        "op_s": (statistics.median(walls), "s"),
    }
    return {"correct": failed == 0, "attempted": len(walls), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}


def run_traced(wl_cls, args, work: str) -> dict:
    """``trace_ops`` operations with spans around the program's layer
    functions, each under one root span and checked outside it.  Per-layer
    metrics come from the spans and the event log of those operations; the
    tracing overhead is the tracer's own time inside them."""
    from perfbench.trace import EventLog, Tracer, covered, task_sums
    from perfbench.workloads import PER_LAYER

    wl, _setup_s, session_s = set_up(wl_cls, work, args.seed, True)
    tracer = Tracer(wl.spark.sparkContext)
    wl.trace(tracer)
    roots, res, failed = [], None, 0
    with RssSampler() as rss:
        for i in range(wl.trace_ops):
            with tracer.span("op") as root:
                try:
                    res = wl.op(i)
                except Exception:
                    traceback.print_exc()
                    res = None
            roots.append(root)
            errs = check(wl, i, res) if res is not None else ["raised"]
            failed += bool(errs)
            if res is None:
                break
            if i == wl.trace_ops - 1:
                wl.observe(res)
            wl.after_op(i)
    tracer.unwrap_all()

    m = {name: 0.0 for name, _u, _b in PER_LAYER}
    m["session.start_s"] = session_s
    m["spark.jvm_peak_rss_mb"] = rss.peak_jvm / 2**20
    m["spark.python_peak_rss_mb"] = rss.peak_py / 2**20
    traced_wall = sum(r.wall for r in roots)
    # traced op_s: its difference from the untraced runs' op_s is the
    # tracing overhead as seen from outside
    m["trace.op_s"] = statistics.median(r.wall for r in roots)
    m["trace.overhead_frac"] = tracer.overhead_s / traced_wall
    wl.spark.stop()
    if res is not None:
        log = EventLog(os.path.join(work, "eventlog"))
        jobs = log.jobs_in(tracer, roots, by_window=wl.jobs_by_window)
        task_list = log.tasks_of(jobs)
        tasks = task_sums(task_list)
        m.update({
            "spark.jobs": len(jobs),
            "spark.stages": len({t.stage for t in task_list}),
            "spark.tasks": tasks["tasks"],
            "spark.task_cpu_s": tasks["cpu_s"],
            "spark.gc_s": tasks["gc_s"],
            "spark.shuffle_write_mb": tasks["shuffle_mb"],
            "spark.spill_mb": tasks["spill_mb"],
            "spark.failed_tasks": tasks["failed"],
            "spark.core_idle_frac": 1 - tasks["run_s"] / (CORES * traced_wall),
        })
        m.update(wl.layer_metrics(tracer, log, res))
        # coverage of each operation by the layer spans below it: the
        # children of its single top-level span, if it has one
        cov = 0.0
        for r in roots:
            kids = tracer.children(r)
            if len(kids) == 1 and tracer.children(kids[0]):
                kids = tracer.children(kids[0])
            cov += covered([(c.start, c.end) for c in kids], r.start, r.end)
        m["trace.span_coverage"] = cov / traced_wall
    if failed:
        print(f"traced run: {failed} operation(s) failed", file=sys.stderr)
    units = {name: u for name, u, _b in PER_LAYER}
    return {"correct": failed == 0, "attempted": len(roots), "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}}


def stop_jvm() -> None:
    """Shut down the py4j gateway and wait for the JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mmore_spark", "session.py")):
        print("perfbench: run from the repository root (mmore_spark/ not found)",
              file=sys.stderr)
        return 2
    # import the benchmark as the package ``perfbench`` from the root, not
    # its modules from the script's directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [root] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file of this process, the JVM and the Python
    # workers inside the run's directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        run = run_traced if args.trace else run_untraced
        result = run(WORKLOADS[args.workload], args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""KG engine benchmark of record.

    python3 perfbench/run.py --workload long_pages --seed 1 \
        --seconds 5 --trace 0

Runs one workload (see workloads.py and README.md) through the public
API at local[<cores>] in a fresh Spark session, checks every output,
prints each metric by name and unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` adds a traced operation
and reports the per-layer metrics instead.

Works from any working directory: the engine is imported from the
checkout that holds this file, and Python workers get the same path.
Everything the run writes goes under ``<checkout>/.perfbench_work``
and is removed at the end.  Every process the run starts (the JVM,
Spark's Python worker daemon and its workers) has ended before it
exits, on every path out of it: see :func:`_reap_children`.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RSS_PERIOD_S = 0.5
WORKLOADS = ("batch_short", "long_pages", "recrawl_epochs")

END_TO_END = {
    "setup_s": "s",
    "docs_per_hour": "docs/h",
    "run_wall_s": "s",
    "epoch_latency_s.p50": "s",
    "epoch_latency_s.tail": "s",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "pipeline.spark_jobs": "count",
    "pipeline.spark_stages": "count",
    "pipeline.tasks": "count",
    "pipeline.shuffle_read_bytes": "B",
    "pipeline.shuffle_write_bytes": "B",
    "pipeline.input_bytes": "B",
    "pipeline.gc_ms": "ms",
    "document.self_s": "s",
    "document.python_ms_per_page": "ms",
    "document.overhead_ratio": "ratio",
    "linking.lsh_s": "s",
    "linking.vocab_rows": "count",
    "linking.candidate_pairs": "count",
    "linking.accepted_pairs": "count",
    "linking.accept_ratio": "ratio",
    "linking.bucket_rows_dropped": "count",
    "components.cc_s": "s",
    "components.edges_in": "count",
    "components.spark_jobs": "count",
    "graph.entity_graph_s": "s",
    "graph.entity_graph_self_s": "s",
    "graph.canonicalize_s": "s",
    "graph.materialize_s": "s",
    "graph.bytes_written": "B",
    "graph.files_written": "count",
    "incremental.merge_s": "s",
    "incremental.vocab_delta": "count",
    "incremental.rebuild_graph_stage_s": "s",
    "kgstream.read_s": "s",
    "kgstream.epoch_write_s": "s",
    "kgstream.epoch_bytes_written": "B",
    "kgstream.compact_rebuild_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unspanned_s": "s",
}


def host_resources() -> tuple[int, int]:
    """(cores, driver MB): the cores this process may run on, and a
    driver heap that leaves most of the available memory to the
    Python workers and the rest of the host."""
    cores = len(os.sched_getaffinity(0))
    avail_kb = 4 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    mem_mb = min(3072, int(avail_kb / 1024 * 0.25)) // 256 * 256
    return cores, max(1024, mem_mb)


def _proc_children() -> dict[int, list[int]]:
    """{pid: child pids} over every process in /proc."""
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
    return children


def tree_rss_kb() -> dict[int, int]:
    """{pid: resident set (VmRSS) in KB} for this process and every
    descendant: the JVM driver and Spark's Python workers."""
    children = _proc_children()
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        out[pid] = int(line.split()[1])
        except OSError:
            continue
    return out


class PeakRss(threading.Thread):
    """Samples :func:`tree_rss_kb` every RSS_PERIOD_S until stopped;
    ``peak_mb`` is the largest summed RSS seen.  Sampling the tree's
    total counts Python workers that exit before the run ends, and
    never adds up per-process peaks reached at different times.  A
    sample counts only processes already present in the one before:
    a child the JVM spawns shares the JVM's memory, and reports all of
    its RSS, until it execs a few milliseconds later."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._done = threading.Event()

    def run(self) -> None:
        seen: set[int] = set()
        while True:
            rss = tree_rss_kb()
            total = sum(kb for pid, kb in rss.items() if pid in seen)
            self.peak_mb = max(self.peak_mb, total / 1024)
            seen = set(rss)
            if self._done.wait(RSS_PERIOD_S):
                return

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_mb


def _end_to_end(out, rss_mb: float) -> dict:
    from workloads import tail
    ok = bool(out.op_walls)
    p50 = statistics.median(out.op_walls) if ok else 0.0
    return {
        "setup_s": out.setup_s,
        "docs_per_hour": out.pages_per_op * 3600 / p50 if ok else 0.0,
        "run_wall_s": statistics.median(out.cycle_walls) if ok else 0.0,
        "epoch_latency_s.p50": p50,
        "epoch_latency_s.tail": tail(out.op_walls) if ok else 0.0,
        "triple_precision": out.precision,
        "triple_recall": out.recall,
        "peak_rss_mb": rss_mb,
    }


PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 20.0


def _become_subreaper() -> None:
    """Adopt every orphaned descendant: when the JVM exits, Spark's
    Python worker daemon and its workers become this process's
    children instead of init's, so they can be waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    return _proc_children().get(os.getpid(), [])


def _reap_children() -> None:
    """Wait until this process has no child left, adopted orphans
    included.  Children still running after REAP_GRACE_S get SIGTERM,
    and SIGKILL five seconds later."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    deadline = time.monotonic() + REAP_GRACE_S
    sig = signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + 5.0
        time.sleep(0.02)


def _exit_on_sigterm(signum, _frame) -> None:
    # unwinds through the finally blocks that stop Spark and reap
    sys.exit(128 + signum)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tildener_spark",
                                       "__init__.py")):
        print(f"perfbench: no tildener_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        return _run(args)
    finally:
        _reap_children()


def _run(args) -> int:
    cores, mem_mb = host_resources()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ.update({
        # Python workers import the engine from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": work,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
    })
    sys.path.insert(0, ROOT)

    import pyspark
    from tildener_spark import get_spark
    import workloads

    spark = out = None
    rss = PeakRss()
    rss.start()
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{cores}]")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx = workloads.Ctx(spark, work, cores, args.seed, args.seconds,
                            bool(args.trace), cores)
        try:
            if args.workload == "recrawl_epochs":
                out = workloads.run_recrawl(ctx)
            else:
                out = workloads.run_batch(ctx,
                                          args.workload == "long_pages")
        except Exception:
            workloads.report_failure(args.workload)
    finally:
        rss_mb = rss.stop()
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    if out is None:
        out = workloads.Outcome(0.0, [], [], 0, 0.0, 0.0,
                                attempted=1, failed=1)
    out.setup_s += session_s
    if args.trace:
        names, units = PER_LAYER, PER_LAYER
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(out.layers)
        values["session.start_s"] = session_s
    else:
        names, units = END_TO_END, END_TO_END
        values = _end_to_end(out, rss_mb)
    metrics = {k: {"value": float(values[k]), "unit": units[k]}
               for k in names}

    run = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace, "cores": cores,
           "driver_mem_mb": mem_mb, "spark": pyspark.__version__,
           "python": sys.version.split()[0],
           "ops": len(out.op_walls), "op_walls_s": out.op_walls,
           **out.extra}
    print("run " + json.dumps(run, default=str))
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    failed_ratio = out.failed / out.attempted if out.attempted else 1.0
    print(f"failed_ops_ratio {failed_ratio:.6g} ratio "
          f"({out.failed}/{out.attempted})")
    if args.workload == "recrawl_epochs" and out.extra.get(
            "compact_rebuild_s"):
        print("compact_rebuild_s "
              f"{statistics.median(out.extra['compact_rebuild_s']):.6g} s")
    print(json.dumps({
        "correct": out.failed == 0 and bool(out.op_walls),
        "attempted": max(1, out.attempted),
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

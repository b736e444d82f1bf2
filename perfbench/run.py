#!/usr/bin/env python3
"""End-to-end benchmark of the engine's ingest and build pipelines.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

One run starts a ``local[$SPARK_GRAFT_CPUS]`` session through the
package's own ``session.get_spark`` (``SPARK_GRAFT_CPUS`` defaults to the
CPUs this process may use), generates the workload's inputs from the
seed, sets up, then repeats the workload's timed operation until
``--seconds`` have passed (at least once), checks the outputs of every
operation, and prints two lines on stdout:

- a JSON record of the host (CPUs, Spark version, load average at start
  and end, a 1-thread and a ``$SPARK_GRAFT_CPUS``-way hash-sum
  calibration), the input sizes and the run's detail;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``.
  With ``--trace 0`` the metrics are the end-to-end ones; with
  ``--trace 1`` they are the per-layer ones from :mod:`tracing`, and the
  spans are written under ``.perfbench_work/traces/``.  A traced
  ``build`` run then serves the arrival files with what its last build
  wrote (see :mod:`workloads`).

Everything the run writes stays under ``.perfbench_work/`` in the
checkout, and every process it starts (the Spark JVM, its Python workers
and the generator's second process) has ended before it exits.  The
metrics, workloads and layer map are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "market_data_ingestion_scraper_spark"

END_TO_END = {"setup_s": "s", "op_wall_s": "s", "op_rows_per_s": "1/s"}
STREAM_METRICS = {
    "tag_batch_p50_ms": "ms", "tag_rows_per_s": "1/s",
    "admit_batch_p50_ms": "ms", "admit_rows_per_s": "1/s",
    "query_planning_ms": "ms", "add_batch_ms": "ms", "wal_commit_ms": "ms",
    "state_rows": "count", "state_memory_bytes": "B",
}
#: per-layer metrics of a step only one workload runs; the other reports 0
ONLY_IN = {
    "ingest": ("jobs.ingest_first_s", "jobs.ingest_append_s", "jobs.ingest_replay_s",
               "operators.bloom.skip_ratio"),
    "build": tuple(f"streaming.pipeline.{k}" for k in STREAM_METRICS),
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    import tracing as T

    unit = {"wall_s": "s", "self_s": "s", "calls": "count", "spark_jobs": "count",
            "scan_bytes": "B", "shuffle_write_bytes": "B"}
    out = {f"{m}.{f}": unit[f] for m in T.MODULES for f in T.MODULE_FIELDS}
    for f in T.SPARK_FIELDS:
        out[f"spark.{f}"] = (
            "count" if f in ("jobs", "stages", "tasks")
            else "B" if f.endswith("bytes")
            else "ratio" if f.endswith("ratio") else "s")
    out.update({
        "jobs.scan_reread_x": "ratio",
        "jobs.ingest_first_s": "s",
        "jobs.ingest_append_s": "s",
        "jobs.ingest_replay_s": "s",
        "operators.bloom.skip_ratio": "ratio",
    })
    out.update({f"streaming.pipeline.{k}": u for k, u in STREAM_METRICS.items()})
    out["memory.peak_pss_mb"] = "MB"
    out["trace.wall_s"] = "s"
    out["trace.overhead_s"] = "s"
    return out


# -- processes --------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler(threading.Thread):
    """Peak summed proportional set size (PSS) of this process's
    descendants: the Spark JVM and its Python workers, sampled every
    quarter second.  PSS splits shared pages between the processes
    sharing them, so workers forked from one daemon, and a child the JVM
    spawns before it execs, are not counted twice as they are in RSS."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(0.25):
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in descendants(me)))

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every descendant."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


# -- run --------------------------------------------------------------------


def calibrate(spark, cpus: int) -> dict:
    """The hash-sum workload of ``bench.py`` at 2e7 rows per thread, one
    thread and ``cpus`` threads, so a record states the host's speed."""
    out = {}
    for label, threads in (("calibration_1thread_s", 1), ("calibration_nway_s", cpus)):
        t0 = time.perf_counter()
        spark.range(0, threads * 20_000_000, 1, threads).selectExpr(
            "sum(xxhash64(id) % 1024) AS s").collect()
        out[label] = time.perf_counter() - t0
    return out


def run(args, work: str, state: str) -> tuple[dict, dict]:
    from market_data_ingestion_scraper_spark.session import get_spark

    import tracing as T
    from workloads import WORKLOADS

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        # keep every job, stage and SQL execution of the run in the stores
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    host = {
        "cpus": cpus,
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "load_avg_start": list(os.getloadavg()),
        "workload": args.workload,
        "seed": args.seed,
        "trace": bool(args.trace),
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    sampler = MemorySampler()
    sampler.start()
    try:
        host["spark"] = spark.version
        # warm-up: JVM, codegen and the Python worker pool
        spark.range(1000).count()
        tiny = spark.range(1000)
        tiny.mapInPandas(lambda it: it, tiny.schema).count()
        session_s = time.perf_counter() - t0
        host.update(calibrate(spark, cpus))

        wl = WORKLOADS[args.workload](spark, work, args.seed, state)
        gen_s = wl.setup_inputs()
        host["inputs"] = {**wl.input_sizes, "bytes": wl.input_bytes}
        wl.check_inputs()

        tracer, roots = None, []
        since = time.time() - 1.0
        if args.trace:
            tracer = T.Tracer(spark)
            tracer.wrap_modules()
            wl.tracer = tracer
        op_walls, start = [], time.perf_counter()
        while not op_walls or time.perf_counter() - start < args.seconds:
            t = time.perf_counter()
            if tracer:
                with tracer.span("bench", f"op{len(wl.ops)}") as root:
                    wl.run_op(len(wl.ops))
                roots.append(root)
            else:
                wl.run_op(len(wl.ops))
            op_walls.append(time.perf_counter() - t)
        timed_s = time.perf_counter() - start
        if tracer:
            if hasattr(wl, "serve"):
                with tracer.span("bench", "serve") as root:
                    wl.serve()
                roots.append(root)
            tracer.unwrap()  # the checks below are not traced
        try:
            wl.check()
        except Exception:
            wl.failed = wl.attempted
            wl.expect(False, "check raised: " + traceback.format_exc(limit=3))
        detail = {
            "setup": {"session_s": session_s, "generate_s": gen_s},
            "timed_s": timed_s,
            "op_wall_s": op_walls,
            "error_rate": wl.failed / wl.attempted,
            "problems": wl.problems,
            **wl.detail(),
        }
        if tracer:
            try:
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            except Exception:  # private API: fall back to a grace period
                time.sleep(2)
            status = T.read_status(spark, since)
            metrics, tdetail, op_scan = {}, {}, 0
            for root in roots:
                m, d = T.layer_metrics(tracer, root, status, cpus)
                for k, v in m.items():
                    metrics[k] = metrics.get(k, 0) + v
                if root.name != "serve":
                    op_scan += m["spark.scan_bytes"]
                tdetail[root.name] = d
                wl.expect(d["spans_nest"] and abs(d["self_sum_s"] - d["root_wall_s"]) < 1e-6,
                          f"trace: spans of {root.name} do not nest")
            metrics["spark.core_busy_ratio"] /= len(roots)
            # bytes the operations scan per byte of input they were given
            metrics["jobs.scan_reread_x"] = op_scan / len(op_walls) / host["inputs"]["bytes"]
            metrics.update(wl.layer_metrics())
            metrics["memory.peak_pss_mb"] = sampler.stop()
            metrics["trace.wall_s"] = statistics.median(op_walls)
            metrics["trace.overhead_s"] = tracer.overhead_s
            units = per_layer_units()
            detail["not_applicable"] = [
                k for w, names in ONLY_IN.items() if w != args.workload for k in names]
            for name in detail["not_applicable"]:
                metrics[name] = 0.0
            os.makedirs(os.path.join(state, "..", "traces"), exist_ok=True)
            trace_path = os.path.join(state, "..", "traces",
                                      f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path, {"host": host, "trace": tdetail})
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
            result_metrics = {k: {"value": metrics[k], "unit": units[k]} for k in units}
        else:
            detail["peak_pss_mb"] = sampler.stop()
            values = {"setup_s": session_s + gen_s, **wl.end_to_end()}
            result_metrics = {k: {"value": values[k], "unit": u}
                              for k, u in END_TO_END.items()}
    finally:
        sampler.stop()
        stop_spark(spark)
    host["load_avg_end"] = list(os.getloadavg())
    result = {
        "correct": not wl.problems,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": result_metrics,
    }
    return {"host": host, "detail": detail}, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "build"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    state = os.path.join(base, "state")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for d in (state, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    try:
        record, result = run(args, work, state)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

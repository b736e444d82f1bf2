"""Per-layer tracing for the benchmark, from the benchmark's own files.

Two sources, both read without changing the program under test:

- **Spans.**  :meth:`Tracer.wrap_modules` replaces every public function
  of the traced package modules with a wrapper that opens a span (name,
  module, start, end, parent) and sets a Spark job group named after the
  span, so each Spark job is attributed to the innermost span that was
  open when it was submitted.  Spans live in memory and are written out
  by :meth:`Tracer.dump` at the end of the run.
- **Spark's status stores**, which stay readable with the UI disabled:
  ``statusStore().jobsList`` / ``stageList`` for jobs, stages, tasks,
  executor time, bytes and spill, and the SQL store's ``planGraph`` and
  ``executionMetrics`` for per-plan-node metrics (Python-worker time and
  each span's costliest plan nodes).

Spark is lazy: an operator call only builds a plan, and the work lands in
the span of the action that runs it (a write in ``sources.writer``, a
``count()`` made by ``jobs``).  The plan-node detail kept per span is what
attributes that work inside a span.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import time
from contextlib import contextmanager

PACKAGE = "market_data_ingestion_scraper_spark"

#: the layers: package modules whose public functions get spans
MODULES = (
    "jobs",
    "operators.ensemble",
    "operators.dedup",
    "operators.splits",
    "operators.corruption",
    "operators.instruct",
    "operators.bloom",
    "operators.sketches",
    "sources.jsonl",
    "sources.writer",
    "streaming.pipeline",
)
MODULE_FIELDS = (
    "wall_s", "self_s", "calls", "spark_jobs", "scan_bytes",
    "shuffle_write_bytes",
)
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "python_s", "driver_gap_s", "core_busy_ratio",
)
_JOB_GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("id", "module", "name", "parent", "start", "end")

    def __init__(self, sid: str, module: str, name: str, parent: str | None):
        self.id, self.module, self.name, self.parent = sid, module, name, parent
        self.start = time.time()
        self.end = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around layer calls, each with its own Spark job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        #: extra job groups owned by a span (a streaming query's runId)
        self.group_alias: dict[str, str] = {}
        #: seconds spent opening and closing spans, job-group calls included
        self.overhead_s = 0.0

    @contextmanager
    def span(self, module: str, name: str):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(f"perfbench-span-{len(self.spans)}", module, name,
                 parent.id if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(_JOB_GROUP, s.id)
        self.overhead_s += time.perf_counter() - t
        try:
            yield s
        finally:
            t = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_JOB_GROUP, parent.id if parent else None)
            self.overhead_s += time.perf_counter() - t

    def wrap_modules(self) -> None:
        for short in MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{short}")
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                setattr(mod, attr, self._wrap(short, fn))
                self._patched.append((mod, attr, fn))

    def unwrap(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def _wrap(self, module: str, fn):
        # functools.wraps keeps __module__/__qualname__, so cloudpickle
        # still pickles the function by reference if a UDF closure names it
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(module, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Each span's wall time minus the part of it its child spans
        cover (their union, so overlapping children count once)."""
        kids: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return {s.id: s.wall_s - _union_s(kids.get(s.id, [])) for s in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        self_s = self.self_times()
        rows = [
            {"id": s.id, "module": s.module, "name": s.name,
             "parent": s.parent, "start": s.start, "end": s.end,
             "self_s": self_s[s.id]}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


# -- status-store reader ----------------------------------------------------


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]+)?")
_TOTAL = " total (min, med, max (stageId: taskId))"
_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip=')


def _value(text: str) -> float | None:
    m = _VALUE.match(text)
    if not m:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def _plan_nodes(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(node name, {metric: value in s or bytes}) for each plan node in a
    ``SparkPlanGraph.makeDotFile`` rendering (codegen clusters skipped:
    their duration covers the nodes inside them)."""
    nodes = []
    for line in dot.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        parts = m.group(2).replace("<br><b>", "<b>").split("<br>")
        name = re.sub(r"</?b>", "", parts[0])
        metrics: dict[str, float] = {}
        i = 1
        while i < len(parts):
            item = parts[i]
            if item.endswith(_TOTAL) and i + 1 < len(parts):
                v = _value(parts[i + 1])
                if v is not None:
                    metrics[item[: -len(_TOTAL)]] = v
                i += 2
                continue
            if ": " in item:
                k, v = item.split(": ", 1)
                val = _value(v)
                if val is not None:
                    metrics[k] = val
            i += 1
        nodes.append((name, metrics))
    return nodes


_TIME_METRIC = re.compile(r"time|duration")


def read_status(spark, since: float) -> dict:
    """Jobs, stages and SQL executions submitted at or after ``since``."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    jobs = {}
    for j in _seq(store.jobsList(empty)):
        sub = _opt_ms(j.submissionTime())
        if sub is None or sub < since:
            continue
        group = j.jobGroup()
        jobs[j.jobId()] = {
            "group": group.get() if group.isDefined() else None,
            "stages": list(_seq(j.stageIds())),
            "start": sub,
            "end": _opt_ms(j.completionTime()) or sub,
            "ok": j.status().toString() == "SUCCEEDED",
        }
    stages = {}
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for s in _seq(store.stageList(empty, False, False, no_quantiles, empty)):
        if s.status().toString() != "COMPLETE":
            continue
        stages[(s.stageId(), s.attemptId())] = {
            "stage": s.stageId(),
            "tasks": s.numCompleteTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "scan_bytes": s.inputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
    sql = spark._jsparkSession.sharedState().statusStore()
    executions = []
    for e in _seq(sql.executionsList()):
        if e.submissionTime() / 1000.0 < since:
            continue
        eid = e.executionId()
        job_ids = [int(x) for x in re.findall(r"(\d+) ->", e.jobs().toString())]
        dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
        executions.append({"id": eid, "jobs": job_ids, "nodes": _plan_nodes(dot)})
    return {"jobs": jobs, "stages": stages, "executions": executions}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def layer_metrics(tracer: Tracer, root: Span, status: dict, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics over the spans under ``root`` (inclusive), plus
    the trace detail (span tree checks and each span's costliest plan
    nodes)."""
    by_id = {s.id: s for s in tracer.spans}

    def under_root(s: Span) -> bool:
        while s is not None:
            if s.id == root.id:
                return True
            s = by_id.get(s.parent)
        return False

    spans = [s for s in tracer.spans if under_root(s)]
    self_s = tracer.self_times()
    span_of_group = {s.id: s for s in spans}
    for group, sid in tracer.group_alias.items():
        if sid in span_of_group:
            span_of_group[group] = span_of_group[sid]

    # each completed stage counts once, for the first job that ran it
    stage_job: dict[int, int] = {}
    for jid in sorted(status["jobs"]):
        for st in status["jobs"][jid]["stages"]:
            stage_job.setdefault(st, jid)
    job_span: dict[int, Span] = {}
    for jid, job in status["jobs"].items():
        sp = span_of_group.get(job["group"])
        if sp is None and root.start <= job["start"] <= root.end:
            sp = root  # submitted inside the root with no span group
        if sp is not None:
            job_span[jid] = sp
    stages = [
        (job_span[stage_job[st["stage"]]], st)
        for st in status["stages"].values()
        if stage_job.get(st["stage"]) in job_span
    ]

    out: dict[str, float] = {}
    for short in MODULES:
        mine = [s for s in spans if s.module == short]
        ids = {s.id for s in mine}

        def outermost(s: Span) -> bool:
            p = by_id.get(s.parent)
            while p is not None:
                if p.id in ids:
                    return False
                p = by_id.get(p.parent)
            return True

        out[f"{short}.wall_s"] = sum(s.wall_s for s in mine if outermost(s))
        out[f"{short}.self_s"] = sum(self_s[s.id] for s in mine)
        out[f"{short}.calls"] = len(mine)
        out[f"{short}.spark_jobs"] = sum(
            1 for sp in job_span.values() if sp.module == short
        )
        out[f"{short}.scan_bytes"] = sum(
            st["scan_bytes"] for sp, st in stages if sp.module == short
        )
        out[f"{short}.shuffle_write_bytes"] = sum(
            st["shuffle_write_bytes"] for sp, st in stages if sp.module == short
        )

    sts = [st for _, st in stages]
    python_s = 0.0
    top: dict[str, list] = {}
    for ex in status["executions"]:
        sp = next((job_span[j] for j in ex["jobs"] if j in job_span), None)
        if sp is None:
            continue
        for name, metrics in ex["nodes"]:
            python_s += metrics.get("time to run Python workers", 0.0)
            t = sum(v for k, v in metrics.items() if _TIME_METRIC.search(k))
            if t > 0:
                top.setdefault(sp.id, []).append((t, name, ex["id"]))
    intervals = [
        (max(status["jobs"][j]["start"], root.start),
         min(status["jobs"][j]["end"], root.end))
        for j in job_span
    ]
    run_s = sum(st["run_s"] for st in sts)
    wall = root.wall_s
    out.update({
        "spark.jobs": len(job_span),
        "spark.stages": len(sts),
        "spark.tasks": sum(st["tasks"] for st in sts),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(st["cpu_s"] for st in sts),
        "spark.gc_s": sum(st["gc_s"] for st in sts),
        "spark.scan_bytes": sum(st["scan_bytes"] for st in sts),
        "spark.shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in sts),
        "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in sts),
        "spark.spill_bytes": sum(st["spill_bytes"] for st in sts),
        "spark.python_s": python_s,
        "spark.driver_gap_s": wall - _union_s([i for i in intervals if i[1] > i[0]]),
        "spark.core_busy_ratio": run_s / (wall * cores) if wall > 0 else 0.0,
    })

    # with children disjoint and inside their parents, the self times of
    # a tree sum to its root's wall time; overlapping children make the
    # sum exceed it, and a child outside its parent fails spans_nest
    detail = {
        "root_wall_s": wall,
        "self_sum_s": sum(self_s[s.id] for s in spans),
        "spans_nest": all(
            by_id[s.parent].start <= s.start and s.end <= by_id[s.parent].end
            for s in spans if s.parent in by_id and s is not root
        ),
        "top_plan_nodes": {
            f"{by_id[sid].module}.{by_id[sid].name}#{sid.rsplit('-', 1)[-1]}": [
                {"node": n, "time_s": round(t, 3), "execution": e}
                for t, n, e in sorted(v, reverse=True)[:3]
            ]
            for sid, v in top.items()
        },
    }
    return out, detail

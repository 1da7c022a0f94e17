"""Spans, Spark counters and process probes for the traced benchmark run.

Nothing here is inside the program: the tracer wraps the program's public
functions from the outside (``Tracer.wrap`` / ``Tracer.patch``), records one
span per call (name, layer, start, end, parent, iteration) and tags the
call with ``setJobGroup`` so the Spark jobs it causes are attributed to it.
Spark-side counters are read from the driver's status store right after
each top-level call (``Tracer.collect``) because the store evicts stages
past ``spark.ui.retainedStages``. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# span layers whose calls build DataFrames (query functions, pipeline and
# figure-data builders)
BUILD_LAYERS = ("plans", "pedri_pipeline", "viz")
# physical-plan node names of Python/pandas UDF evaluation
_PY_UDF = re.compile(r"(ArrowEvalPython|BatchEvalPython|InPandas|InArrow|PythonUDTF|EvalPythonUDTF)")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    iteration: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


def _merged_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkCounters:
    """Job, stage and storage counters read from the driver's status store
    (works with ``spark.ui.enabled=false``; no event log needed)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        jvm = sc._jvm
        scala_module = jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
        ).getField("MODULE$").get(None)
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(scala_module)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._seen_jobs: set[int] = set()

    def new_jobs(self) -> tuple[list[dict], dict[int, list[dict]]]:
        """Jobs finished since the last call, and their stage attempts by
        stage id."""
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()
        jobs = [
            j for j in json.loads(self._json.writeValueAsString(self._store.jobsList(None)))
            if j["jobId"] not in self._seen_jobs and j["status"] != "RUNNING"
        ]
        self._seen_jobs.update(j["jobId"] for j in jobs)
        wanted = {s for j in jobs for s in j["stageIds"]}
        stages: dict[int, list[dict]] = {}
        if wanted:
            raw = self._store.stageList(None, False, False, self._no_quantiles, None)
            for s in json.loads(self._json.writeValueAsString(raw)):
                if s["stageId"] in wanted:
                    stages.setdefault(s["stageId"], []).append(s)
        return jobs, stages

    def cached_bytes(self) -> int:
        """Memory used by cached RDDs / DataFrames right now."""
        rdds = json.loads(self._json.writeValueAsString(self._store.rddList(True)))
        return sum(int(r.get("memoryUsed") or 0) for r in rdds)


def plan_stats(df) -> dict:
    """Catalyst phase times and physical-plan shape of a DataFrame's own
    QueryExecution. Forces optimization and planning of that
    QueryExecution; an action clones it, so this work is extra and shows
    up in the tracing overhead."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    lines = [line.lstrip(" :+-*") for line in plan.splitlines()]
    out["exchanges"] = sum(1 for ln in lines if ln.startswith("Exchange "))
    out["single_partition_exchanges"] = sum(1 for ln in lines if ln.startswith("Exchange SinglePartition"))
    out["python_udf_nodes"] = sum(1 for ln in lines if _PY_UDF.search(ln.split(" ")[0]))
    return out


class Tracer:
    """In-memory span recorder with Spark job-group attribution."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.counters = SparkCounters(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.iteration: int | None = None
        self.jobs: dict[int, list[dict]] = {}  # span id -> its own jobs
        self.stages: dict[int, list[dict]] = {}  # stage id -> attempts
        self.cache_peak = 0
        self._jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self._t0 = time.perf_counter()

    def _group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"perfbench-{span.id}", f"{span.layer}:{span.name}")

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, parent.id if parent else None,
                  self.iteration, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        if attrs.get("json_source"):
            rchar0 = read_chars(self._jvm_pid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            if attrs.get("json_source"):
                sp.attrs["jvm_read_bytes"] = read_chars(self._jvm_pid) - rchar0

    def wrap(self, fn, name: str, layer: str, plan: bool = False, sink: bool = False):
        """A stand-in for ``fn`` that records a span per call. ``plan``:
        the result is a DataFrame whose plan stats are recorded; ``sink``:
        the result is a written file path whose size is recorded."""

        def traced(*args, **kwargs):
            # plan stats only for the outermost build call: a builder's
            # nested builders are part of its plan
            outer = not any(s.layer in BUILD_LAYERS for s in self._stack)
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
            if plan and outer and hasattr(out, "_jdf"):
                # forcing planning is tracing cost: its own span, so it is
                # not counted as the caller's self time
                with self.span(f"plan_stats:{name}", "trace"):
                    sp.attrs.update(plan_stats(out))
            if sink and isinstance(out, str) and os.path.exists(out):
                sp.attrs["bytes"] = os.path.getsize(out)
            self.sample_cache()
            return out

        traced.__wrapped__ = fn
        return traced

    def patch(self, module, names, layer: str, **kw) -> list:
        """Replace ``module.<name>`` by a traced stand-in; returns undo info."""
        undo = []
        for n in names:
            fn = getattr(module, n)
            undo.append((module, n, fn))
            setattr(module, n, self.wrap(fn, n, layer, **kw))
        return undo

    @staticmethod
    def unpatch(undo: list) -> None:
        for module, n, fn in reversed(undo):
            setattr(module, n, fn)

    def sample_cache(self) -> None:
        self.cache_peak = max(self.cache_peak, self.counters.cached_bytes())

    def collect(self) -> None:
        """Attribute jobs finished since the last call to their spans."""
        jobs, stages = self.counters.new_jobs()
        self.stages.update(stages)
        for j in jobs:
            grp = j.get("jobGroup") or ""
            sid = int(grp.rsplit("-", 1)[1]) if grp.startswith("perfbench-") else -1
            self.jobs.setdefault(sid, []).append(j)

    # ---- derived views -------------------------------------------------

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, sp: Span, kids: dict) -> float:
        cover = _merged_length([(c.start, c.end) for c in kids.get(sp.id, [])])
        return (sp.end - sp.start) - cover

    def subtree(self, sp: Span, kids: dict) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def exec_counters(self, jobs: list[dict]) -> dict:
        """Execution counters over a set of jobs (stage attempts summed)."""
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        attempts = [a for s in stage_ids for a in self.stages.get(s, [])]
        intervals = [
            (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
            for j in jobs if j.get("submissionTime") and j.get("completionTime")
        ]
        return {
            "s": _merged_length(intervals),
            "jobs": len(jobs),
            "stages": len(attempts),
            "tasks": sum(a["numTasks"] for a in attempts),
            "failed_tasks": sum(a["numFailedTasks"] for a in attempts),
            "executor_run_s": sum(a["executorRunTime"] for a in attempts) / 1e3,
            "executor_cpu_s": sum(a["executorCpuTime"] for a in attempts) / 1e9,
            "gc_s": sum(a["jvmGcTime"] for a in attempts) / 1e3,
            "input_bytes": sum(a["inputBytes"] for a in attempts),
            "shuffle_read_bytes": sum(a["shuffleReadBytes"] for a in attempts),
            "shuffle_write_bytes": sum(a["shuffleWriteBytes"] for a in attempts),
            "spill_bytes": sum(a["memoryBytesSpilled"] + a["diskBytesSpilled"] for a in attempts),
        }

    def layer_self_times(self) -> dict[str, float]:
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + self.self_time(s, kids)
        return out

    def dump(self, path: str, extra: dict) -> None:
        """Write spans (times relative to the tracer's start) and summaries."""
        spans = []
        for s in self.spans:
            d = asdict(s)
            d["start"] = round(s.start - self._t0, 6)
            d["end"] = round(s.end - self._t0, 6)
            d["jobs"] = [j["jobId"] for j in self.jobs.get(s.id, [])]
            spans.append(d)
        payload = dict(extra)
        payload["layer_self_s"] = self.layer_self_times()
        payload["spans"] = spans
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(payload, f, indent=1, default=str)


# ---- process probes ------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (the Spark JVM, the Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may hold spaces or parentheses: split after it
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def read_chars(pid: int) -> int:
    """Bytes the process has read through read() calls (``rchar`` in
    /proc/<pid>/io), page-cache hits included."""
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) of this process and every live
    descendant: the driver, the Spark JVM and the Python workers."""
    me = os.getpid()
    return sum(_status_kb(p, "VmHWM") for p in [me] + descendants(me)) / 1024.0


def loadavg() -> list[float]:
    return list(os.getloadavg())

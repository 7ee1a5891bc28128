"""Per-layer tracing for the benchmark's traced run.

The engine is traced from outside.  :class:`LayerPatch` rebinds every module
attribute (and class attribute) that holds a public function of the
``tables``, ``functions``, ``operators``, ``streaming``, ``sources`` and
``session`` layers to a wrapper that records a span, and puts every original
object back on exit.  Spark's own work is attached afterwards: jobs read from
the UI REST API become child spans of the innermost span open when they were
submitted, and per-batch streaming progress comes from a
``StreamingQueryListener``.  Spans stay in memory; the run writes them out
once, at the end.
"""

from __future__ import annotations

import functools
import inspect
import json
import statistics
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime

PACKAGE = "dissertation_data_pipeline_spark"

#: Operator modules whose calls and self time are reported one by one.
OPERATOR_MODULES = (
    "similarity", "dedup_ext", "dedup", "graphs", "clusters", "sketches",
    "training", "text_udf", "textanalysis",
    "relational", "merge", "temporal", "analytics",
)

SPARK_FIELDS = (
    "stages", "stages_skipped", "tasks", "failed_tasks",
    "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
    "core_util",
)

#: Every per-layer metric a traced run reports, with its unit.
LAYER_METRICS: dict[str, str] = {
    "plans.fn_s": "s",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "plans.eager_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.load_jobs": "count",
    "functions.calls": "count",
    "functions.s": "s",
    **{
        f"operators.{m}.{k}": u
        for m in OPERATOR_MODULES
        for k, u in (("calls", "count"), ("s", "s"))
    },
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.empty_batch_frac": "ratio",
    "streaming.batch_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.state_mem_bytes": "bytes",
    "sources.calls": "count",
    "sources.s": "s",
    "action.s": "s",
    "action.jobs": "count",
    "action.result_bytes": "bytes",
    **{
        f"spark.{phase}.{f}": (
            "s" if f.endswith("_s")
            else "bytes" if f.endswith("_bytes")
            else "ratio" if f == "core_util"
            else "count"
        )
        for phase in ("eager", "action")
        for f in SPARK_FIELDS
    },
    "session.drop_blocks_s": "s",
    "trace_overhead_frac": "ratio",
}


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    query: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans in memory.  Times are ``time.time()`` seconds, the
    clock Spark's REST timestamps use.  Each thread keeps its own span
    stack; a span opened on another thread (a ``foreachBatch`` callback)
    with nothing open there gets the creating thread's innermost span as
    its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.query: int | None = None
        self._lock = threading.Lock()
        self._owner = threading.current_thread()
        self._owner_stack: list[Span] = []
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._owner:
            return self._owner_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str, **attrs) -> Span:
        stack = self._stack()
        top = stack or self._owner_stack
        parent = top[-1].id if top else None
        with self._lock:
            sp = Span(len(self.spans), name, layer, time.time(), None,
                      parent, self.query, attrs)
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, query: int | None, **attrs) -> Span:
        with self._lock:
            sp = Span(len(self.spans), name, layer, start, end, parent,
                      query, attrs)
            self.spans.append(sp)
        return sp


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    return {
        sp.id: (sp.end - sp.start)
        - union_length(clipped(children[sp.id], sp.start, sp.end))
        for sp in spans
    }


def attribute(items, windows, when):
    """Assign each item to the window ``(key, start, end)`` that contains
    ``when(item)``; items outside every window are dropped."""
    out: dict = defaultdict(list)
    for it in items:
        t = when(it)
        for key, lo, hi in windows:
            if lo <= t <= hi:
                out[key].append(it)
                break
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span open at time ``t`` (the latest-started one that
    contains ``t``, which for properly nested spans is the deepest)."""
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
            best = sp
    return best


# ---------------------------------------------------------------- wrapping


def layer_of(modname: str) -> str | None:
    if not modname.startswith(PACKAGE + "."):
        return None
    head, _, tail = modname[len(PACKAGE) + 1:].partition(".")
    if head == "operators":
        return f"operators.{tail}" if tail else None
    if head in ("tables", "functions", "streaming", "sources", "session"):
        return head
    return None


def _resolves(mod, qualname: str, obj) -> bool:
    """``obj`` is what ``mod.<qualname>`` names, so pickling by reference
    (which Spark's cloudpickle does for such functions) resolves to the
    wrapper in the driver and to the original in a fresh worker."""
    cur = mod
    for part in qualname.split("."):
        cur = getattr(cur, part, None)
    return cur is obj


def _plain_class(cls) -> bool:
    # classes built on pyspark (data sources, stateful processors) run in
    # Python workers; leave them alone
    return not any(
        (c.__module__ or "").startswith("pyspark") for c in cls.__mro__
    )


def _engine_owners():
    """``(module name, owner)`` for every loaded engine module and every
    class it defines: the namespaces that can hold a layer function."""
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (
            modname == PACKAGE or modname.startswith(PACKAGE + ".")
        ):
            continue
        yield modname, mod
        for c in list(vars(mod).values()):
            if inspect.isclass(c) and c.__module__ == modname:
                yield modname, c


def _make_wrapper(tracer: Tracer, fn, name: str, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        sp = tracer.open(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.close(sp)

    wrapper.__perfbench_original__ = fn
    return wrapper


class LayerPatch:
    """Context manager: wrap the layers' public functions while open."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.restored: list[tuple[object, str, object]] = []

    def _wrappers(self) -> dict[int, object]:
        """A wrapper for each public function, and each public method of a
        public plain class, defined in a layer module; keyed by ``id``."""
        wrappers: dict[int, object] = {}
        for modname, owner in _engine_owners():
            layer = layer_of(modname)
            if layer is None or (
                inspect.isclass(owner)
                and (owner.__name__.startswith("_") or not _plain_class(owner))
            ):
                continue
            mod = sys.modules[modname]
            for attr, val in vars(owner).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(val)
                    and val.__module__ == modname
                    and _resolves(mod, val.__qualname__, val)
                ):
                    wrappers[id(val)] = _make_wrapper(
                        self.tracer, val, f"{modname}.{val.__qualname__}", layer
                    )
        return wrappers

    def __enter__(self) -> LayerPatch:
        wrappers = self._wrappers()
        for _, owner in _engine_owners():
            for attr, val in list(vars(owner).items()):
                w = wrappers.get(id(val))
                if w is not None and w.__perfbench_original__ is val:
                    setattr(owner, attr, w)
                    self.restored.append((owner, attr, val))
        return self

    def __exit__(self, *exc) -> None:
        while self.restored:
            owner, attr, val = self.restored.pop()
            setattr(owner, attr, val)


def wrapped_attributes() -> list[str]:
    """Engine attributes that currently hold a benchmark wrapper; empty
    whenever no :class:`LayerPatch` is open."""
    return [
        f"{modname}.{attr}"
        for modname, owner in _engine_owners()
        for attr, val in vars(owner).items()
        if inspect.isfunction(val) and hasattr(val, "__perfbench_original__")
    ]


# ---------------------------------------------------------------- Spark


def rest_time(stamp: str | None) -> float | None:
    """Spark REST timestamp (``2026-01-02T03:04:05.678GMT``) as epoch s."""
    if not stamp:
        return None
    return datetime.strptime(
        stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


class SparkUI:
    """Job and stage records from the Spark UI REST API, kept by id.

    ``poll`` is called after every traced query, so the UI's retention
    limits never drop a job before it is read."""

    def __init__(self, sc):
        self.base = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        )
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, list[dict]] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def poll(self) -> None:
        for j in self._get("/jobs"):
            old = self.jobs.get(j["jobId"])
            if old is None or old["status"] == "RUNNING":
                self.jobs[j["jobId"]] = j
        wanted = {
            s for j in self.jobs.values() if j["status"] != "RUNNING"
            for s in j["stageIds"]
        }
        if wanted - self.stages.keys():
            attempts: dict[int, list[dict]] = defaultdict(list)
            for st in self._get("/stages"):
                if st["stageId"] in wanted:
                    attempts[st["stageId"]].append(st)
            for sid, rows in attempts.items():
                if sid not in self.stages and all(
                    r["status"] in ("COMPLETE", "FAILED", "SKIPPED")
                    for r in rows
                ):
                    self.stages[sid] = rows


def progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Per-batch streaming progress, as it arrives."""

        def __init__(self):
            self.batches: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            rec = {
                "run": str(p.runId),
                "batch": p.batchId,
                "ts": datetime.fromisoformat(p.timestamp).timestamp(),
                "rows": p.numInputRows,
                "ms": (p.durationMs or {}).get("triggerExecution", 0),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "commit_ms": sum(o.commitTimeMs for o in ops),
                "mem_bytes": sum(o.memoryUsedBytes for o in ops),
            }
            with self._lock:
                self.batches.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


# ---------------------------------------------------------------- metrics


def job_spans(tracer: Tracer, queries: list[dict], jobs: list[dict]) -> None:
    """Add each job as a child span of the innermost span open at its
    submission, within the query whose window holds that time."""
    windows = [(q["qid"], q["fn"][0], q["action"][1]) for q in queries]
    by_query = attribute(
        [j for j in jobs if rest_time(j.get("submissionTime"))],
        windows, lambda j: rest_time(j["submissionTime"]),
    )
    spans_of: dict[int, list[Span]] = defaultdict(list)
    for sp in tracer.spans:
        if sp.query is not None and sp.layer != "spark":
            spans_of[sp.query].append(sp)
    for q in queries:
        for j in by_query.get(q["qid"], []):
            sub = rest_time(j["submissionTime"])
            end = rest_time(j.get("completionTime")) or sub
            parent = innermost(spans_of[q["qid"]], sub)
            phase = "eager" if sub < q["fn"][1] else "action"
            tracer.add(f"job {j['jobId']}", "spark", sub, end,
                       parent.id if parent else None, q["qid"],
                       job=j, phase=phase)


def _spark_phase(jobs: list[dict], stages: dict[int, list[dict]],
                 seen: set[int]) -> dict[str, float]:
    m = dict.fromkeys(SPARK_FIELDS, 0.0)
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        m["stages"] += j["numCompletedStages"] + j["numFailedStages"]
        m["stages_skipped"] += j["numSkippedStages"]
        m["tasks"] += j["numCompletedTasks"]
        m["failed_tasks"] += j["numFailedTasks"]
        for sid in j["stageIds"]:
            if sid in seen:
                continue
            seen.add(sid)
            for st in stages.get(sid, []):
                if st["status"] == "SKIPPED":
                    continue
                m["executor_run_s"] += st["executorRunTime"] / 1e3
                m["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                m["gc_s"] += st["jvmGcTime"] / 1e3
                m["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                m["shuffle_read_bytes"] += st["shuffleReadBytes"]
                m["spill_bytes"] += st["diskBytesSpilled"]
                m["input_bytes"] += st["inputBytes"]
    return m


def pass_metrics(spans: list[Span], queries: list[dict],
                 stages: dict[int, list[dict]], batches: list[dict],
                 cores: int) -> tuple[dict[str, float], dict[str, dict]]:
    """Per-layer metrics of one traced pass, and a per-query breakdown.

    ``spans`` are the pass's spans including its job spans; ``queries``
    carry ``qid``, ``name``, the ``fn`` and ``action`` windows and
    ``result_bytes``."""
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    by_id = {sp.id: sp for sp in spans}
    own = self_times(spans)

    def inside(sp: Span, layer: str) -> bool:
        p = by_id.get(sp.parent)
        while p is not None:
            if p.layer == layer:
                return True
            p = by_id.get(p.parent)
        return False

    per_query: dict[str, dict] = {}
    jobs_of: dict[int, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for sp in spans:
        if sp.layer == "spark":
            jobs_of[sp.query][sp.attrs["phase"]].append(sp)
    for q in queries:
        fn_lo, fn_hi = q["fn"]
        eager = jobs_of[q["qid"]]["eager"]
        action = jobs_of[q["qid"]]["action"]
        eager_s = union_length(
            clipped([(j.start, j.end) for j in eager], fn_lo, fn_hi)
        )
        m["plans.fn_s"] += fn_hi - fn_lo
        m["plans.eager_jobs"] += len(eager)
        m["plans.eager_s"] += eager_s
        m["action.s"] += q["action"][1] - q["action"][0]
        m["action.jobs"] += len(action)
        m["action.result_bytes"] += q["result_bytes"]
        per_query[q["name"]] = {
            "fn_s": fn_hi - fn_lo,
            "eager_jobs": len(eager),
            "eager_s": eager_s,
            "action_s": q["action"][1] - q["action"][0],
            "action_jobs": len(action),
        }
    m["plans.build_s"] = m["plans.fn_s"] - m["plans.eager_s"]

    for sp in spans:
        layer = sp.layer
        if layer == "tables":
            if not inside(sp, "tables"):
                m["tables.load_calls"] += 1
                m["tables.load_s"] += sp.end - sp.start
        elif layer == "functions":
            m["functions.calls"] += 1
            m["functions.s"] += own[sp.id]
        elif layer.startswith("operators."):
            if f"{layer}.calls" in m:
                m[f"{layer}.calls"] += 1
                m[f"{layer}.s"] += own[sp.id]
        elif layer == "streaming":
            if not inside(sp, "streaming"):
                m["streaming.drain_s"] += sp.end - sp.start
        elif layer == "sources":
            m["sources.calls"] += 1
            m["sources.s"] += own[sp.id]
        elif layer == "session":
            if sp.name.endswith(".drop_blocks"):
                m["session.drop_blocks_s"] += sp.end - sp.start
        elif layer == "spark" and inside(sp, "tables"):
            m["tables.load_jobs"] += 1

    seen: set[int] = set()
    for phase, wall in (("eager", m["plans.eager_s"]), ("action", m["action.s"])):
        jobs = [sp.attrs["job"] for sp in spans
                if sp.layer == "spark" and sp.attrs["phase"] == phase]
        sm = _spark_phase(jobs, stages, seen)
        sm["core_util"] = sm["executor_run_s"] / (wall * cores) if wall else 0.0
        for k, v in sm.items():
            m[f"spark.{phase}.{k}"] = v

    windows = [(q["qid"], q["fn"][0], q["action"][1]) for q in queries]
    mine = [b for bs in attribute(batches, windows, lambda b: b["ts"]).values()
            for b in bs]
    if mine:
        m["streaming.batches"] = len(mine)
        m["streaming.empty_batch_frac"] = (
            sum(1 for b in mine if b["rows"] == 0) / len(mine)
        )
        m["streaming.batch_ms_p50"] = statistics.median(b["ms"] for b in mine)
        m["streaming.state_commit_ms"] = sum(b["commit_ms"] for b in mine)
        last: dict[str, dict] = {}
        peak: dict[str, float] = defaultdict(float)
        for b in sorted(mine, key=lambda b: b["batch"]):
            last[b["run"]] = b
            peak[b["run"]] = max(peak[b["run"]], b["mem_bytes"])
        m["streaming.state_rows"] = sum(b["state_rows"] for b in last.values())
        m["streaming.state_mem_bytes"] = sum(peak.values())
    return m, per_query

"""Tracing for the benchmark's traced run.

Spans are recorded from outside the program, around the calls into each
layer, and kept in memory until the run ends. A query's span holds its
build span (the operator call), its plan span (Catalyst planning of the
noop write) and its exec span (the rest of the write). Spark jobs are
children of the phase whose job group launched them, or of the build span
when a stream's own thread launched them, and stages are children of their
job. Calls into ``tables`` and stream micro-batches are children of the
build span.

Three sources are read after each query, outside its timing: the status
store (jobs and stages), the query executions a ``QueryExecutionListener``
saw (Catalyst phase times and the SQL metrics of their plans), and the
progress events a ``StreamingQueryListener`` saw.
"""

from __future__ import annotations

import functools
import statistics
import time
from dataclasses import dataclass

#: ``tables`` functions that read parquet footers or samples instead of
#: planning a scan.
FOOTER_FNS = (
    "approx_rows",
    "vocab_sample_distinct",
    "vocab_rows_per_doc",
    "gated_broadcast",
)
TABLES_FNS = ("t", "read_back", "load_all", "register_views") + FOOTER_FNS

#: SQL metric of a Python-evaluation node -> per-layer metric.
PYTHON_METRICS = {
    "pythonTotalTime": "run_s",
    "pythonInitTime": "init_s",
    "pythonBootTime": "start_s",
    "pythonDataSent": "sent_mb",
    "pythonDataReceived": "returned_mb",
}

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None = None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = []
    for i, sp in enumerate(spans):
        clipped = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in kids.get(i, [])
            if e > sp.start and s < sp.end
        ]
        out.append(sp.end - sp.start - union_length(clipped))
    return out


#: Span layers, each reported with its self time.
LAYERS = ("query", "build", "plan", "exec", "job", "stage", "tables", "stream")


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer, the layer being the span name's part
    before the first dot (``tables.t`` -> ``tables``)."""
    out: dict[str, float] = {}
    for sp, st in zip(spans, self_times(spans)):
        layer = sp.name.split(".")[0]
        out[layer] = out.get(layer, 0.0) + st
    return out


class Tracer:
    """Holds the spans and counters of one traced invocation.

    ``active`` is off during the untraced passes of a traced run, so the
    wrappers and listeners stay installed but record nothing."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.qe_events: list[tuple[object, int]] = []  # (QueryExecution, ns)
        self.progress: list[object] = []

    def open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent))
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def close(self, idx: int) -> Span:
        assert self.stack and self.stack[-1] == idx, "spans closed out of order"
        self.stack.pop()
        sp = self.spans[idx]
        sp.end = time.time()
        return sp

    def add(self, name: str, start: float, end: float, parent: int) -> int:
        self.spans.append(Span(name, start, end, parent))
        return len(self.spans) - 1


def install_wrappers(tracer: Tracer, tables_mod) -> None:
    """Replace the public functions of ``tables`` by timing wrappers.

    Must run before the operator modules are imported: most of them bind
    ``t`` and ``gated_broadcast`` with ``from ... import`` at import time.
    """
    for fn_name in TABLES_FNS:
        fn = getattr(tables_mod, fn_name)

        @functools.wraps(fn)
        def wrapper(*a, __fn=fn, __name=f"tables.{fn_name}", **kw):
            if not tracer.active:
                return __fn(*a, **kw)
            idx = tracer.open(__name)
            try:
                return __fn(*a, **kw)
            finally:
                tracer.close(idx)

        setattr(tables_mod, fn_name, wrapper)


def tables_counters(spans: list[Span]) -> dict[str, float]:
    """Calls of ``tables.t``, ``tables.read_back`` and the footer readers,
    with the time of the outermost call of each kind (``gated_broadcast``
    calls ``approx_rows``, ``load_all`` calls ``t``)."""
    kinds = {"tables.t": "t", "tables.read_back": "read_back"}
    kinds.update({f"tables.{f}": "footer" for f in FOOTER_FNS})
    out = {"t_calls": 0, "t_s": 0.0, "footer_calls": 0, "footer_s": 0.0,
           "read_back_calls": 0, "read_back_s": 0.0}
    for sp in spans:
        kind = kinds.get(sp.name)
        if kind is None:
            continue
        out[f"{kind}_calls"] += 1
        parent = spans[sp.parent] if sp.parent is not None else None
        if parent is None or kinds.get(parent.name) != kind:
            out[f"{kind}_s"] += sp.end - sp.start
    return out


def make_qe_listener(tracer: Tracer):
    """A py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``
    that keeps each finished query execution for reading after the query."""

    class QueryExecutionListener:
        def onSuccess(self, func_name, qe, duration_ns):
            if tracer.active:
                tracer.qe_events.append((qe, duration_ns))

        def onFailure(self, func_name, qe, exc):
            if tracer.active:
                tracer.qe_events.append((qe, -1))

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    return QueryExecutionListener()


def make_stream_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if tracer.active:
                tracer.progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


# ---------------------------------------------------------------- readers


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt_ms(jopt) -> float | None:
    return jopt.get().getTime() / 1000.0 if jopt.isDefined() else None


def plan_nodes(plan) -> list:
    """Every node of an executed physical plan, through adaptive and
    query-stage wrappers."""
    out, todo = [], [plan]
    while todo:
        p = todo.pop()
        out.append(p)
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        else:
            todo.extend(_seq(p.children()))
    return out


#: SQL metric type -> divisor to seconds or MB.
METRIC_SCALE = {"timing": 1e3, "nsTiming": 1e9, "size": MB}


def node_metrics(node) -> dict[str, float]:
    """A plan node's SQL metrics, times in seconds and sizes in MB."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[kv._1()] = m.value() / METRIC_SCALE.get(m.metricType(), 1)
    return out


def read_qe(qe, duration_ns: int) -> dict:
    """Phase times, Python-evaluation metrics and write metrics of one
    finished query execution."""
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        ph = kv._2()
        phases[kv._1()] = (ph.startTimeMs() / 1000.0, ph.endTimeMs() / 1000.0)
    py = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    files = out_mb = scan_mb = 0
    jdbc = False
    for node in plan_nodes(qe.executedPlan()):
        cls = node.getClass().getSimpleName()
        if cls == "DataWritingCommandExec":
            m = node_metrics(node)
            files += m.get("numFiles", 0)
            out_mb += m.get("numOutputBytes", 0)
            continue
        if cls == "ExecutedCommandExec" and "JdbcRelationProvider" in node.toString():
            jdbc = True
        m = node_metrics(node)
        if cls == "FileSourceScanExec":
            scan_mb += m.get("filesSize", 0)
        if "pythonDataSent" in m:
            for k, name in PYTHON_METRICS.items():
                py[name] += m.get(k, 0)
    return {
        "phases": phases,
        "python": py,
        "sink_files": files,
        "sink_mb": out_mb,
        "scan_mb": scan_mb,
        "jdbc": jdbc,
        "duration_s": max(duration_ns, 0) / 1e9,
    }


def read_jobs(sc, first_job: int) -> tuple[list[dict], int]:
    """Jobs with id >= ``first_job`` and their stages, from the status
    store; returns them and the next unread job id."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    jobs, jid = [], first_job
    while True:
        try:
            jd = store.job(jid)
        except Py4JJavaError:
            break
        group = jd.jobGroup()
        stages = []
        for sid in _seq(jd.stageIds()):
            sd = store.lastStageAttempt(sid)
            start = _opt_ms(sd.submissionTime())
            if start is None:  # skipped: its output was reused
                continue
            stages.append(
                {
                    "id": sid,
                    "start": start,
                    "end": _opt_ms(sd.completionTime()) or start,
                    "tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1000.0,
                    "gc_s": sd.jvmGcTime() / 1000.0,
                    "shuffle_read_b": sd.shuffleReadBytes(),
                    "shuffle_write_b": sd.shuffleWriteBytes(),
                    "spill_b": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                }
            )
        start = _opt_ms(jd.submissionTime())
        jobs.append(
            {
                "id": jid,
                "group": group.get() if group.isDefined() else None,
                "start": start,
                "end": _opt_ms(jd.completionTime()) or start,
                "stages": stages,
            }
        )
        jid += 1
    return jobs, jid


def read_progress(progress) -> dict:
    d = progress.durationMs or {}
    return {
        "run": str(progress.runId),
        "start": _iso_epoch(progress.timestamp),
        "trigger_ms": float(d.get("triggerExecution", 0)),
        "commit_ms": float(d.get("walCommit", 0) + d.get("commitOffsets", 0)),
        "input_rows": int(progress.numInputRows or 0),
        "state_rows": sum(int(s.numRowsTotal) for s in progress.stateOperators),
        "state_b": sum(int(s.memoryUsedBytes) for s in progress.stateOperators),
    }


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ------------------------------------------------------------ per query


def query_record(
    tracer: Tracer,
    q_idx: int,
    exec_group: str,
    write_start: float,
    jobs: list[dict],
    qes: list[dict],
    batches: list[dict],
) -> dict:
    """Add the plan, exec, job, stage and batch spans of one finished
    query and return its per-layer counters."""
    q = tracer.spans[q_idx]
    build_idx = q_idx + 1
    # The noop write's planning opens the write call and the rest of the
    # call is execution. Its query execution is the last one that
    # started planning after the call began.
    plan_e = write_start
    write_qe = None
    for r in reversed(qes):
        if r["phases"] and min(s for s, _ in r["phases"].values()) >= write_start - 0.002:
            plan_e = min(q.end, max(write_start, max(e for _, e in r["phases"].values())))
            write_qe = r
            break
    tracer.add("plan", write_start, plan_e, q_idx)
    exec_idx = tracer.add("exec", plan_e, q.end, q_idx)
    c = {
        "build_s": tracer.spans[build_idx].end - tracer.spans[build_idx].start,
        "exec_wall_s": q.end - plan_e,
        "build_jobs": 0,
        "exec_jobs": 0,
        "exec_stages": 0,
        "exec_tasks": 0,
        "task_s": 0.0,
        "gc_s": 0.0,
        "input_mb": write_qe["scan_mb"] if write_qe else 0.0,
        "shuffle_read_b": 0,
        "shuffle_write_b": 0,
        "spill_b": 0,
    }
    for job in jobs:
        in_exec = job["group"] == exec_group
        c["exec_jobs" if in_exec else "build_jobs"] += 1
        j_idx = tracer.add(
            "job", job["start"], job["end"], exec_idx if in_exec else build_idx
        )
        for st in job["stages"]:
            tracer.add("stage", st["start"], st["end"], j_idx)
            if in_exec:
                c["exec_stages"] += 1
                c["exec_tasks"] += st["tasks"]
                c["task_s"] += st["run_s"]
                for k in ("gc_s", "shuffle_read_b", "shuffle_write_b", "spill_b"):
                    c[k] += st[k]
    for b in batches:
        tracer.add("stream.batch", b["start"], b["start"] + b["trigger_ms"] / 1000.0, build_idx)
    for name in ("analysis", "optimization", "planning"):
        c[f"plan_{name}_s"] = sum(
            e - s for r in qes for n, (s, e) in r["phases"].items() if n == name
        )
    for name in PYTHON_METRICS.values():
        c[f"python_{name}"] = sum(r["python"][name] for r in qes)
    c["jdbc_writes"] = sum(r["jdbc"] for r in qes)
    c["jdbc_write_s"] = sum(r["duration_s"] for r in qes if r["jdbc"])
    c["sink_files"] = sum(r["sink_files"] for r in qes)
    c["sink_mb"] = sum(r["sink_mb"] for r in qes)
    c["batches"] = batches
    return c


def pass_metrics(recs: list[dict], spans: list[Span], offset: int, cores: int) -> dict:
    """Per-layer metrics of one traced pass: ``recs`` are its queries'
    counters and ``spans`` its spans, whose parents are indices into the
    whole span list, ``offset`` ahead of this slice."""
    local = [
        Span(s.name, s.start, s.end, None if s.parent is None else s.parent - offset)
        for s in spans
    ]
    self_t = self_time_by_layer(local)
    tables = tables_counters(local)
    batches = [b for r in recs for b in r["batches"]]
    exec_s = sum(r["exec_wall_s"] for r in recs)
    task_s = sum(r["task_s"] for r in recs)
    stages = sum(r["exec_stages"] for r in recs)
    m = {
        "operators.build_s": (sum(r["build_s"] for r in recs), "s"),
        "operators.build_jobs": (sum(r["build_jobs"] for r in recs), "count"),
        "tables.t_calls": (tables["t_calls"], "count"),
        "tables.t_s": (tables["t_s"], "s"),
        "tables.footer_calls": (tables["footer_calls"], "count"),
        "tables.footer_s": (tables["footer_s"], "s"),
        "tables.read_back_calls": (tables["read_back_calls"], "count"),
        "spark.plan.analysis_s": (sum(r["plan_analysis_s"] for r in recs), "s"),
        "spark.plan.optimize_s": (sum(r["plan_optimization_s"] for r in recs), "s"),
        "spark.plan.physical_s": (sum(r["plan_planning_s"] for r in recs), "s"),
        "spark.exec.s": (exec_s, "s"),
        "spark.exec.task_s": (task_s, "s"),
        "spark.exec.core_util": (task_s / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "spark.exec.gc_s": (sum(r["gc_s"] for r in recs), "s"),
        "spark.exec.input_mb": (sum(r["input_mb"] for r in recs), "MB"),
        "spark.exec.shuffle_read_mb": (sum(r["shuffle_read_b"] for r in recs) / MB, "MB"),
        "spark.exec.shuffle_write_mb": (sum(r["shuffle_write_b"] for r in recs) / MB, "MB"),
        "spark.exec.spill_mb": (sum(r["spill_b"] for r in recs) / MB, "MB"),
        "spark.exec.jobs": (sum(r["exec_jobs"] for r in recs), "count"),
        "spark.exec.stages": (stages, "count"),
        "spark.exec.tasks_per_stage": (
            sum(r["exec_tasks"] for r in recs) / stages if stages else 0.0,
            "count",
        ),
        "streaming.batches": (len(batches), "count"),
        "streaming.input_rows": (sum(b["input_rows"] for b in batches), "count"),
        "streaming.batch_p50_ms": (median([b["trigger_ms"] for b in batches]), "ms"),
        "streaming.state_rows": (sum(_per_run_max(batches, "state_rows")), "count"),
        "streaming.state_mb": (sum(_per_run_max(batches, "state_b")) / MB, "MB"),
        "streaming.commit_ms": (sum(b["commit_ms"] for b in batches), "ms"),
        "sources.jdbc_write_calls": (sum(r["jdbc_writes"] for r in recs), "count"),
        "sources.jdbc_write_s": (sum(r["jdbc_write_s"] for r in recs), "s"),
        "sink.output_mb": (sum(r["sink_mb"] for r in recs), "MB"),
        "sink.files": (sum(r["sink_files"] for r in recs), "count"),
    }
    for name in PYTHON_METRICS.values():
        m[f"spark.python.{name}"] = (
            sum(r[f"python_{name}"] for r in recs),
            "MB" if name.endswith("_mb") else "s",
        )
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (self_t.get(layer, 0.0), "s")
    return m


def _per_run_max(batches: list[dict], key: str) -> list[float]:
    """The largest ``key`` of each stream run: state is a level, so a
    run's state is its peak, and runs add up."""
    peak: dict[str, float] = {}
    for b in batches:
        peak[b["run"]] = max(peak.get(b["run"], 0), b[key])
    return list(peak.values())


def covered_share(spans: list[Span], q_idx: int) -> float:
    """Share of a query span's wall time its build, plan and exec
    children cover."""
    q = spans[q_idx]
    kids = [
        (s.start, s.end)
        for s in spans
        if s.parent == q_idx and s.name in ("build", "plan", "exec")
    ]
    wall = q.end - q.start
    return union_length(kids) / wall if wall > 0 else 1.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

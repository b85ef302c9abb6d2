"""Traced-run collectors, all attached from outside the engine package.

- ``Py4jCounter`` counts py4j round trips by wrapping the client
  connection's ``send_command``.
- ``PhaseListener`` is a JVM ``QueryExecutionListener`` implemented over
  the py4j callback server; it records each action's
  ``QueryPlanningTracker`` phases (analysis, optimization, planning).
- ``StreamListener`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.
- ``jobs_for_group`` reads jobs and stages from Spark's
  ``AppStatusStore`` and ``sql_metrics`` reads plan-graph metrics from
  its ``SQLAppStatusStore``; both are populated with the UI disabled.

``Tracer`` ties them together per execution.  Spans are plain records
kept in memory and written when the run ends.
"""

from __future__ import annotations

import re
import threading
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

from perfbench.stats import covered, self_time

PKG = "multi_crm_cross_sell_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span store; ids are list indices."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


class Py4jCounter:
    """Counts py4j commands sent from this interpreter to the JVM."""

    def __init__(self) -> None:
        self.calls = 0
        self._patched: list[tuple[type, object]] = []
        self._thread = threading.main_thread()

    def install(self) -> None:
        """Count commands sent from the main thread only: listener
        callbacks call back into the JVM from py4j's own threads."""
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *a, _orig=orig, **kw):
                if threading.current_thread() is self._thread:
                    self.calls += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = counted
            self._patched.append((cls, orig))

    def uninstall(self) -> None:
        for cls, orig in self._patched:
            cls.send_command = orig
        self._patched.clear()


_PHASES = ("analysis", "optimization", "planning")


class PhaseListener:
    """py4j implementation of ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._records: list[dict] = []

    def _record(self, func_name, qe) -> None:
        phases = qe.tracker().phases()
        rec = {"func": str(func_name)}
        for p in _PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                s = opt.get()
                rec[p] = (s.startTimeMs() / 1000.0, s.endTimeMs() / 1000.0)
        with self._lock:
            self._records.append(rec)

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802, N803 (JVM interface)
        self._record(funcName, qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802, N803
        self._record(funcName, qe)

    def drain(self) -> list[dict]:
        with self._lock:
            out, self._records = self._records, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._progress: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        rec = {
            "query": str(p.id),
            "batch": p.batchId,
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs),
            "state": [
                {
                    "rows": s.numRowsTotal,
                    "commit_ms": s.commitTimeMs,
                    "memory_bytes": s.memoryUsedBytes,
                }
                for s in p.stateOperators
            ],
        }
        with self._lock:
            self._progress.append(rec)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def drain(self) -> list[dict]:
        with self._lock:
            out, self._progress = self._progress, []
        return out


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


_CALLSITE = re.compile(r"at (\S+\.py):\d+")


def callsite_module(name: str, fallback: str) -> str:
    """Package module named by a job's call site, e.g. ``collect at
    /x/multi_crm_cross_sell_spark/operators/dedup.py:318`` ->
    ``operators.dedup``.  Spark records no Python call site for writer
    and stream jobs (``save at NativeMethodAccessorImpl.java:0``); those
    go to ``fallback``, the plans module of the query being built."""
    m = _CALLSITE.search(name or "")
    if not m:
        return fallback
    path = m.group(1).replace("\\", "/")
    marker = f"/{PKG}/"
    if marker not in path:
        return fallback
    rel = path.split(marker, 1)[1][: -len(".py")]
    return rel.replace("/", ".").removesuffix(".__init__")


_STAGE_FIELDS = {
    "task_busy_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "tasks": ("numTasks", 1),
}


def jobs_for_group(spark, store, group: str) -> list[dict]:
    """Jobs of one job group with their stage totals, from the
    ``AppStatusStore``."""
    out = []
    for jid in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        j = store.job(jid)
        stages = j.stageIds()
        rec = {
            "id": jid,
            "name": j.name(),
            "start": _ms(j.submissionTime()),
            "end": _ms(j.completionTime()),
            "stages": 0,
            "spill_bytes": 0,
        }
        for k in _STAGE_FIELDS:
            rec[k] = 0
        for i in range(stages.size()):
            try:
                st = store.lastStageAttempt(stages.apply(i))
            except Py4JJavaError:  # a stage that was never submitted has no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            rec["stages"] += 1
            for k, (attr, scale) in _STAGE_FIELDS.items():
                rec[k] += getattr(st, attr)() * scale
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.append(rec)
    return out


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}


def metric_total(text: str) -> float:
    """Total of one formatted SQL metric value, e.g. ``"1.5 MiB"``,
    ``"12 ms"``, ``"1,234"`` or the multi-task form ``"total (min, med,
    max ...)\\n2.0 s (0.1 s, ...)"``."""
    line = text.strip().split("\n")[-1].strip()
    first = line.split(" (", 1)[0].strip()
    parts = first.split()
    num = float(parts[0].replace(",", ""))
    return num * (_UNITS.get(parts[1], 1) if len(parts) > 1 else 1)


# SQL plan-graph node metrics the traced run sums, by (node kind, metric name).
PY_NODES = ("Python", "Pandas", "Arrow")
SQL_METRICS = {
    "udf.python_run_s": (PY_NODES, "time to run Python workers"),
    "udf.python_boot_s": (PY_NODES, "time to start Python workers"),
    "udf.bytes_to_python": (PY_NODES, "data sent to Python workers"),
    "udf.bytes_from_python": (PY_NODES, "data returned from Python workers"),
    "udf.rows_from_python": (PY_NODES, "number of output rows"),
    "exec.broadcast_bytes": (("BroadcastExchange",), "data size"),
    "exec.broadcast_build_s": (("BroadcastExchange",), "time to build"),
}


def sql_metrics(sql_store, first: int) -> tuple[int, dict[str, float]]:
    """Sum the plan-graph metrics of every SQL execution from index
    ``first`` on; returns the new execution count and the sums."""
    sums = {k: 0.0 for k in SQL_METRICS}
    count = sql_store.executionsCount()
    if count <= first:
        return count, sums
    execs = sql_store.executionsList(first, count - first)
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        values = {}
        it = sql_store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        nodes = sql_store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            name = node.name()
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                for key, (kinds, mname) in SQL_METRICS.items():
                    if metric.name() == mname and any(k in name for k in kinds):
                        v = values.get(metric.accumulatorId())
                        if v is not None:
                            sums[key] += metric_total(v)
    return count, sums


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# Per-layer metric names the traced run always reports, besides the
# ``<module>.construct_jobs`` split.
LAYER_METRICS = (
    "session.get_spark_s",
    "session.warmup_s",
    "plans.construct_s",
    "plans.construct_self_s",
    "plans.py4j_calls",
    "plans.construct_jobs",
    "plans.construct_job_s",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.run_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.task_busy_s",
    "exec.task_cpu_s",
    "exec.gc_s",
    "exec.slot_utilization",
    "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes",
    "exec.spill_bytes",
    "exec.input_bytes",
    "exec.broadcast_bytes",
    "exec.broadcast_build_s",
    "exec.failed_tasks",
    "udf.python_run_s",
    "udf.python_boot_s",
    "udf.bytes_to_python",
    "udf.bytes_from_python",
    "udf.rows_from_python",
    "streaming.batches",
    "streaming.batch_s",
    "streaming.commit_s",
    "streaming.state_rows",
    "streaming.state_commit_ms",
    "streaming.state_memory_bytes",
)

# Modules whose construct-time Spark jobs are counted apart, as
# ``<module>.construct_jobs``; jobs from any other module count under
# ``other.construct_jobs``.
CONSTRUCT_JOB_MODULES = (
    "operators.similarity_search",
    "operators.dedup",
    "operators.suffix",
    "operators.bloom",
    "ml.ensemble",
    "ml.entity_resolution",
    "ml.evaluate",
    "sources.bronze",
    "plans.relational",
    "plans.olap",
    "plans.crm",
    "plans.events",
    "plans.mlmetrics",
    "plans.datapipe",
    "other",
)

_EXEC_SUMS = (
    "stages", "tasks", "task_busy_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "failed_tasks",
)


class Tracer:
    """Collects one row of layer figures and a span subtree per
    execution.  Every read happens after the execution's ``t2``, once
    the listener bus has drained; inside the timed span the collectors
    add only the py4j counter's increments and the sink's own job group
    (one py4j call)."""

    def __init__(self, spark, cpus: int) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark, self.cpus = spark, cpus
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.bus = jsc.listenerBus()
        ensure_callback_server_started(self.sc._gateway)
        self.phases = PhaseListener()
        spark._jsparkSession.listenerManager().register(self.phases)
        self.stream = StreamListener()
        spark.streams.addListener(self.stream)
        self.py4j = Py4jCounter()
        self.spans = Spans()
        self.root = self.spans.add("run", 0.0, 0.0)
        self.rows: list[dict] = []
        self._drain()
        self.sql_count = self.sql_store.executionsCount()
        self.py4j.install()

    def _drain(self) -> None:
        self.bus.waitUntilEmpty(60_000)
        self.phases.drain()
        self.stream.drain()

    def add_checks(self, checks: list[dict]) -> None:
        for c in checks:
            self.spans.add("check", c["t0"], c["t0"] + c["wall_s"], self.root, query=c["query"])

    def after(self, rec: dict, df) -> None:
        """Record one finished execution; ``df`` is the DataFrame its
        construct step returned (None if it raised)."""
        self.bus.waitUntilEmpty(60_000)
        t0, t1, t2 = rec["t0"], rec["t1"], rec["t2"]
        ex = self.spans.add("execution", t0, t2, self.root, query=rec["query"],
                            pass_=rec["pass"], exec_id=rec["group"])
        con = self.spans.add("construct", t0, t1, ex)
        run = self.spans.add("exec", t1, t2, ex)
        cjobs = jobs_for_group(self.spark, self.store, rec["group"])
        rjobs = jobs_for_group(self.spark, self.store, rec["group"] + "r")
        for parent, jobs in ((con, cjobs), (run, rjobs)):
            for j in jobs:
                if j["start"] is not None:
                    self.spans.add("job", j["start"], j["end"] or t2, parent,
                                   job_id=j["id"], callsite=j["name"])
        catalyst = defaultdict(float)
        # Actions report their phases through the listener; the returned
        # DataFrame's own analysis ran eagerly inside construct.
        records = self.phases.drain()
        if df is not None:
            a = df._jdf.queryExecution().tracker().phases().get("analysis")
            if a.isDefined():
                s = a.get()
                records.append({"func": "construct",
                                "analysis": (s.startTimeMs() / 1000.0, s.endTimeMs() / 1000.0)})
        for p in records:
            for phase in _PHASES:
                if phase in p:
                    a, b = p[phase]
                    catalyst[phase] += (b - a) * 1000.0
                    self.spans.add(f"plan.{phase}", a, b, run if a >= t1 else con, action=p["func"])
        streaming = defaultdict(float)
        # Spark work inside construct: its jobs and the stream's micro-batches.
        spark_work = [(j["start"], j["end"] or t2) for j in cjobs if j["start"] is not None]
        for b in self.stream.drain():
            d = b["duration_ms"]
            start = _iso_epoch(b["timestamp"])
            end = start + d.get("triggerExecution", 0) / 1000.0
            self.spans.add("microbatch", start, end, con, batch=b["batch"])
            spark_work.append((start, end))
            streaming["batches"] += 1
            streaming["batch_s"] += d.get("triggerExecution", 0) / 1000.0
            streaming["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            for s in b["state"]:
                streaming["state_commit_ms"] += s["commit_ms"]
                streaming["state_memory_bytes"] = max(
                    streaming["state_memory_bytes"], s["memory_bytes"])
            streaming["last_state_rows"] = sum(s["rows"] for s in b["state"])
        streaming["state_rows"] = streaming.pop("last_state_rows", 0.0)
        self.sql_count, sql = sql_metrics(self.sql_store, self.sql_count)
        row = {
            "query": rec["query"],
            "pass": rec["pass"],
            "error": rec["error"],
            "wall_s": t2 - t0,
            "construct_s": t1 - t0,
            "construct_job_s": covered(spark_work, t0, t1),
            "py4j_calls": rec.get("py4j_calls", 0),
            "construct_jobs": len(cjobs),
            "construct_jobs_by_module": dict(
                Counter(callsite_module(j["name"], rec["module"]) for j in cjobs)),
            "run_s": t2 - t1,
            "jobs": len(rjobs),
            **{k: sum(j[k] for j in rjobs) for k in _EXEC_SUMS},
            **{f"{k}_ms": v for k, v in catalyst.items()},
            **{f"streaming.{k}": v for k, v in streaming.items()},
            **sql,
        }
        self.rows.append(row)

    def report(self, passes: int) -> dict:
        """Per-layer metrics per pass, per-query rows and span self times."""
        self.py4j.uninstall()
        rows = self.rows

        def per_pass(key: str) -> float:
            return sum(r.get(key, 0.0) for r in rows) / passes

        m = {
            "plans.construct_s": per_pass("construct_s"),
            "plans.construct_job_s": per_pass("construct_job_s"),
            "plans.py4j_calls": per_pass("py4j_calls"),
            "plans.construct_jobs": per_pass("construct_jobs"),
            "catalyst.analysis_ms": per_pass("analysis_ms"),
            "catalyst.optimization_ms": per_pass("optimization_ms"),
            "catalyst.planning_ms": per_pass("planning_ms"),
            "exec.run_s": per_pass("run_s"),
            "exec.jobs": per_pass("jobs"),
            "exec.broadcast_bytes": per_pass("exec.broadcast_bytes"),
            "exec.broadcast_build_s": per_pass("exec.broadcast_build_s"),
        }
        m["plans.construct_self_s"] = m["plans.construct_s"] - m["plans.construct_job_s"]
        for k in _EXEC_SUMS:
            m[f"exec.{k}"] = per_pass(k)
        m["exec.slot_utilization"] = (
            m["exec.task_busy_s"] / (m["exec.run_s"] * self.cpus) if m["exec.run_s"] else 0.0
        )
        for k in ("udf.python_run_s", "udf.python_boot_s", "udf.bytes_to_python",
                  "udf.bytes_from_python", "udf.rows_from_python"):
            m[k] = per_pass(k)
        for k in ("batches", "batch_s", "commit_s", "state_rows", "state_commit_ms"):
            m[f"streaming.{k}"] = per_pass(f"streaming.{k}")
        m["streaming.state_memory_bytes"] = max(
            (r.get("streaming.state_memory_bytes", 0.0) for r in rows), default=0.0)
        by_module = {mod: 0.0 for mod in CONSTRUCT_JOB_MODULES}
        for r in rows:
            for mod, n in r["construct_jobs_by_module"].items():
                key = mod if mod in by_module else "other"
                by_module[key] += n / passes
        self_s: dict[str, float] = defaultdict(float)
        spans = self.spans.spans
        if rows:
            spans[self.root].start = min(s.start for s in spans[1:])
            spans[self.root].end = max(s.end for s in spans[1:])
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        for i, s in enumerate(spans):
            self_s[s.name] += self_time(s.start, s.end, kids[i])
        for mod, n in by_module.items():
            m[f"{mod}.construct_jobs"] = n
        return {
            "metrics": m,
            "self_s": dict(self_s),
            "rows": rows,
            "spans": self.spans.to_json(),
        }

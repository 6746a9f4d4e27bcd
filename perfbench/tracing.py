"""Per-layer tracing measured from outside the package.

Spans (name, start, end, parent, query id) are recorded around the calls
into the package's public functions (``session.get_spark`` and the
warm-up, every ``catalog.load_table`` binding, the query builders,
Catalyst planning and ``collect()``) and kept in memory until the run
writes them out. Each span also records the range of Spark job
ids started while it was open, because micro-batch jobs do not carry the
caller's job group. After a query the listener bus is drained and the
counters are read from Spark's own status stores, which exist with
``spark.ui.enabled=false``:

- stages, tasks, executor time, shuffle and spill: the core status store
  (``SparkContext.statusStore``), for the jobs in the ``execute`` range;
- Python-worker time and bytes: the SQL status store
  (``sharedState.statusStore``), for every SQL execution the query ran,
  micro-batches and eager checkpoints included. These are Spark's SQL
  metric totals, summed over tasks (so ``python_workers.init_s`` can
  exceed wall time) and rounded as Spark renders them;
- micro-batches, input rows, addBatch / walCommit time and state rows: a
  ``StreamingQueryListener``.

Self time of a span is its duration minus that of its child spans; a
``load_table`` call is a child of the ``build`` span it happens in.
"""

from __future__ import annotations

import re
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

from ai_data_pipeline_spark import catalog

# SQL metric name -> per-layer metric it adds to
PYTHON_METRICS = {
    "time to run Python workers": "python_workers.run_s",
    "time to start Python workers": "python_workers.init_s",
    "time to initialize Python workers": "python_workers.init_s",
    "data sent to Python workers": "python_workers.bytes_sent",
    "data returned from Python workers": "python_workers.bytes_returned",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_PLAN_NODE = re.compile(r"^[\s:+\-*|]*(?:\(\d+\)\s*)?([A-Za-z]+)")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),(\w+)\)")
_METRIC_VALUE = re.compile(r"(?:^|\(|, )(\d+) -> ")


def metric_value(text: str) -> float:
    """Total of one aggregated SQL metric string, e.g. ``'2.8 s'`` or
    ``'total (min, med, max (stageId: taskId))\\n1.1 s (...)'``, in
    seconds or bytes."""
    first = text.rsplit("\n", 1)[-1].split(" (", 1)[0].strip()
    number, _, unit = first.partition(" ")
    return float(number.replace(",", "")) * _UNITS.get(unit, 1)


def parse_metric_map(text: str) -> dict[int, str]:
    """Parse a Scala ``Map(accumulatorId -> value, ...)`` string."""
    body = text[text.index("(") + 1 : text.rindex(")")]
    keys = list(_METRIC_VALUE.finditer("(" + body))
    out = {}
    for k, m in enumerate(keys):
        end = keys[k + 1].start() if k + 1 < len(keys) else len(body) + 1
        out[int(m.group(1))] = ("(" + body)[m.end() : end]
    return out


def plan_counts(plan: str) -> dict[str, int]:
    names = [m.group(1) for m in map(_PLAN_NODE.match, plan.splitlines()) if m]
    return {
        "plan.exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in names),
        "plan.python_nodes": sum(
            "Python" in n or "InPandas" in n or "InArrow" in n for n in names
        ),
    }


class StreamEvents(StreamingQueryListener):
    """Collects micro-batch progress; read after the listener bus drains."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {
                "run_id": str(p.runId),
                "input_rows": p.numInputRows,
                "add_batch_ms": p.durationMs.get("addBatch", 0),
                "wal_commit_ms": p.durationMs.get("walCommit", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def streaming_counts(progress: list[dict]) -> dict[str, float]:
    final_state: dict[str, int] = {}
    for p in progress:
        final_state[p["run_id"]] = p["state_rows"]
    return {
        "streaming.batches": len(progress),
        "streaming.input_rows": sum(p["input_rows"] for p in progress),
        "streaming.add_batch_s": sum(p["add_batch_ms"] for p in progress) / 1e3,
        "streaming.wal_commit_s": sum(p["wal_commit_ms"] for p in progress) / 1e3,
        "streaming.state_rows": sum(final_state.values()),
    }


class Tracer:
    """Span recorder plus status-store readers for one SparkSession."""

    def __init__(self):
        self._dag = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.active = False
        self.stream = StreamEvents()
        self._original_load_table = None
        self._patched: list[object] = []

    def bind(self, spark) -> None:
        """Attach to a (new) session: status stores and the stream listener."""
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        spark.streams.addListener(self.stream)

    def next_job_id(self) -> int | None:
        return self._dag.nextJobId() if self._dag is not None else None

    @contextmanager
    def span(self, name: str, query: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "query": query if query is not None else (parent or {}).get("query"),
            "start": time.perf_counter(),
            "job_start": self.next_job_id(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["job_end"] = self.next_job_id()

    # -- load_table at every binding ------------------------------------
    def wrap_load_table(self) -> None:
        """Replace ``load_table`` in ``catalog`` and in every loaded module
        that bound it by ``from ai_data_pipeline_spark.catalog import
        load_table``; calls are spanned while the tracer is active."""
        original = catalog.load_table
        self._original_load_table = original

        def load_table(spark, sf_dir, name):
            if not self.active:
                return original(spark, sf_dir, name)
            with self.span("catalog.load_table") as rec:
                rec["table"] = name
                return original(spark, sf_dir, name)

        for module in list(sys.modules.values()):
            if getattr(module, "load_table", None) is original:
                module.load_table = load_table
                self._patched.append(module)

    def unwrap_load_table(self) -> None:
        for module in self._patched:
            module.load_table = self._original_load_table
        self._patched.clear()

    # -- status-store readers -------------------------------------------
    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def start_query(self) -> int:
        """Drain the listener bus and count SQL executions from here on, so
        that a traced query is charged none of the work run before it (an
        untraced pass included). Returns the index of its first stream event."""
        self.drain()
        self._last_execution = self._max_execution_id()
        return len(self.stream.progress)

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        last = self._sql.executionsList(int(n) - 1, 1)
        return last.apply(0).executionId()

    def stage_counts(self, job_start: int, job_end: int) -> dict[str, float]:
        out = dict.fromkeys(
            (
                "execution.stages",
                "execution.tasks",
                "execution.shuffle_read_bytes",
                "execution.shuffle_write_bytes",
                "execution.spill_bytes",
                "execution.executor_run_s",
                "execution.executor_cpu_s",
            ),
            0,
        )
        seen = set()
        for job_id in range(job_start, job_end):
            try:
                stage_ids = self._store.job(job_id).stageIds()
            except Py4JJavaError:  # job evicted from the store
                continue
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(sid, False, None, False, None)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() in ("SKIPPED", "PENDING"):
                        continue
                    out["execution.stages"] += 1
                    out["execution.tasks"] += st.numCompleteTasks()
                    out["execution.shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["execution.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["execution.spill_bytes"] += st.memoryBytesSpilled()
                    out["execution.executor_run_s"] += st.executorRunTime() / 1e3
                    out["execution.executor_cpu_s"] += st.executorCpuTime() / 1e9
        return out

    def python_counts(self) -> dict[str, float]:
        """Python-worker SQL metrics of every SQL execution that started
        since ``start_query``."""
        out = dict.fromkeys(sorted(set(PYTHON_METRICS.values())), 0.0)
        n = int(self._sql.executionsCount())
        executions = self._sql.executionsList(max(0, n - 256), 256)
        for k in range(executions.size()):
            ex = executions.apply(k)
            eid = ex.executionId()
            if eid <= self._last_execution:
                continue
            wanted = {
                int(acc): PYTHON_METRICS[name]
                for name, acc, _ in _PLAN_METRIC.findall(ex.metrics().toString())
                if name in PYTHON_METRICS
            }
            if not wanted:
                continue
            values = parse_metric_map(self._sql.executionMetrics(eid).toString())
            for acc, layer in wanted.items():
                if acc in values:
                    out[layer] += metric_value(values[acc])
        return out

    def close(self) -> None:
        self.unwrap_load_table()
        if self._dag is not None:
            self.spark.streams.removeListener(self.stream)
            self._dag = None


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def query_record(tracer: Tracer, query_span: dict, spans: list[dict], rows: int,
                 plan: str, cores: int, progress: list[dict]) -> dict:
    """Per-layer counters of one traced query (its spans already closed)."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    loads = by_name.get("catalog.load_table", [])
    build, plan_span, execute = (by_name[n][0] for n in ("build", "plan", "execute"))
    catalog_s = sum(map(duration, loads))
    catalog_jobs = sum(s["job_end"] - s["job_start"] for s in loads)
    execution_s = duration(execute)
    rec = {
        "wall_s": duration(query_span),
        "catalog.calls": len(loads),
        "catalog.s": catalog_s,
        "catalog.jobs": catalog_jobs,
        "build.self_s": duration(build) - catalog_s,
        "build.jobs": build["job_end"] - build["job_start"] - catalog_jobs,
        "plan.s": duration(plan_span),
        **plan_counts(plan),
        "execution.s": execution_s,
        "execution.jobs": execute["job_end"] - execute["job_start"],
        **tracer.stage_counts(execute["job_start"], execute["job_end"]),
        "execution.result_rows": rows,
        **tracer.python_counts(),
        **streaming_counts(progress),
    }
    rec["execution.core_busy_frac"] = rec["execution.executor_run_s"] / (execution_s * cores)
    return rec

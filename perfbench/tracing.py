"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Nothing here edits the package. Spans come from wrappers that the tracer
installs over the package's public functions from the outside; Spark
execution figures come from the status tracker and status store; stream
micro-batch timings come from a ``StreamingQueryListener``. None of it
launches a Spark job. Spans and counts stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "nbi_oedi_etl_spark"


def jobs_submitted(spark) -> int:
    """Jobs this SparkContext has submitted so far, on any thread."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and ``_`` files skipped."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list) -> None:
        self.sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.sink.append({"rows": p.numInputRows, "durationMs": dict(p.durationMs)})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Spans keyed by name with their parent, counters, and per-op reads of
    Spark's own figures. One op runs at a time, so jobs belong to the op
    whose window (first to last job id) they fall in, whichever thread
    launched them."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.progress: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._sessions: list = []
        self.layouts: list[str] = []
        self._listener = _ProgressListener(self.progress)

    # ---------------------------------------------------------------- spans
    def span(self, name: str, fn, *args, **kwargs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1] if stack else None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["t0"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()

    def _install(self, module: str, attr: str, name: str, before=None, after=None) -> None:
        """Wrap ``module.attr`` in a span. ``before()`` runs first and its
        value reaches ``after(args, kwargs, result, value)``."""
        original = getattr(sys.modules[module], attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            token = before() if before is not None else None
            out = self.span(name, original, *args, **kwargs)
            if after is not None:
                after(args, kwargs, out, token)
            return out

        # rebind every module-level reference, since the package imports
        # these functions by name
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE):
                for key, val in list(vars(mod).items()):
                    if val is original:
                        setattr(mod, key, wrapper)
                        self._patched.append((mod, key, original))

    def install(self) -> None:
        import nbi_oedi_etl_spark.operators.banded_layout  # noqa: F401
        import nbi_oedi_etl_spark.pipeline  # noqa: F401
        import nbi_oedi_etl_spark.streaming.ingest  # noqa: F401
        import nbi_oedi_etl_spark.workload  # noqa: F401
        from nbi_oedi_etl_spark.sources import parquet

        memo = parquet._TABLE_SCHEMA_MEMO

        def memo_hit(args, kwargs, out, size_before) -> None:
            # a call that inferred a schema grows the memo; a hit does not
            self.counts["memo_calls"] += 1
            self.counts["memo_hits"] += len(memo) == size_before

        def written(args, kwargs, out, _) -> None:
            files, size = dir_stats(args[1] if len(args) > 1 else kwargs["path"])
            self.counts["files_written"] += files
            self.counts["bytes_written"] += size

        def layout(args, kwargs, out, _) -> None:
            self.layouts.append(args[1] if len(args) > 1 else kwargs["path"])

        def listen(args, kwargs, session, _) -> None:
            session.streams.addListener(self._listener)
            self._sessions.append(session)

        src, sinks = f"{PACKAGE}.sources.parquet", f"{PACKAGE}.sources.sinks"
        self._install(src, "read_table", "sources.read", lambda: len(memo), memo_hit)
        self._install(src, "read_partitioned", "sources.read")
        self._install(sinks, "write_parquet", "sinks.write", after=written)
        self._install(f"{PACKAGE}.sources.catalog", "register_parquet_table", "catalog.register")
        self._install(f"{PACKAGE}.pipeline", "bypass_metadata", "pipeline.bypass")
        self._install(f"{PACKAGE}.pipeline", "run_etl_job", "pipeline.job")
        banded = f"{PACKAGE}.operators.banded_layout"
        self._install(banded, "write_banded_layout", "banded.write", after=layout)
        self._install(banded, "append_to_banded_layout", "banded.append")
        self._install(banded, "probe_banded_layout", "banded.probe")
        self._install(
            f"{PACKAGE}.streaming.ingest", "scoped_streaming_session", "stream.session", after=listen
        )

    def uninstall(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()
        for s in self._sessions:
            s.streams.removeListener(self._listener)
        self._sessions.clear()

    # --------------------------------------------------------------- per op
    def mark(self) -> dict:
        return {
            "span": len(self.spans),
            "progress": len(self.progress),
            "layouts": len(self.layouts),
            "counts": dict(self.counts),
        }

    def op_layers(self, mark: dict) -> dict[str, float]:
        """Inclusive and self seconds per span name, and the counters, for
        the spans opened since ``mark``."""
        spans = self.spans[mark["span"]:]
        inclusive: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        for s in spans:
            dur = s["t1"] - s["t0"]
            inclusive[s["name"]] += dur
            if s["parent"] is not None:
                child[s["parent"]] += dur
        self_s: dict[str, float] = defaultdict(float)
        for s in spans:
            self_s[s["name"]] += s["t1"] - s["t0"] - child[s["id"]]
        before = mark["counts"]
        out: dict[str, float] = {}
        for name, v in inclusive.items():
            out[f"span.{name}.s"] = v
            out[f"span.{name}.self_s"] = self_s[name]
            out[f"span.{name}.calls"] = sum(1 for s in spans if s["name"] == name)
        for k, v in self.counts.items():
            out[f"count.{k}"] = v - before.get(k, 0.0)
        return out

    def op_progress(self, mark: dict, expect: int, timeout_s: float = 5.0) -> list[dict]:
        """Progress events of this op's streams; waits for late delivery."""
        deadline = time.monotonic() + timeout_s
        while len(self.progress) - mark["progress"] < expect and time.monotonic() < deadline:
            time.sleep(0.05)
        return self.progress[mark["progress"]:]


def exec_metrics(spark, first_job: int, end_job: int, timeout_s: float = 10.0) -> dict[str, float]:
    """Stage figures of jobs ``[first_job, end_job)`` from the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + timeout_s
    stages: set[int] = set()
    for j in range(first_job, end_job):
        info = tracker.getJobInfo(j)
        while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
            time.sleep(0.05)
            info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    m = dict.fromkeys(
        ("stages", "tasks", "failed_tasks", "task_busy_s", "gc_s", "shuffle_write_bytes",
         "shuffle_read_bytes", "spill_bytes"),
        0.0,
    )
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # evicted, or never submitted
        if sd.status().toString() == "SKIPPED":
            continue
        m["stages"] += 1
        m["tasks"] += sd.numCompleteTasks()
        m["failed_tasks"] += sd.numFailedTasks()
        m["task_busy_s"] += sd.executorRunTime() / 1000.0
        m["gc_s"] += sd.jvmGcTime() / 1000.0
        m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        m["shuffle_read_bytes"] += sd.shuffleReadBytes()
        m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    m["jobs"] = float(end_job - first_job)
    return m


_PY_METRICS = {
    "pythonDataSent": "bytes_sent",
    "pythonDataReceived": "bytes_received",
    "pythonNumRowsReceived": "rows",
}


def python_boundary(df) -> dict[str, float]:
    """Sums of the Python-evaluation SQL metrics over an executed plan,
    following adaptive plans into their final stages."""
    out = dict.fromkeys(_PY_METRICS.values(), 0.0)
    if df is None:
        return out
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        for key, name in _PY_METRICS.items():
            opt = metrics.get(key)
            if opt.isDefined():
                out[name] += opt.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
        subs = node.subqueries()
        todo.extend(subs.apply(i) for i in range(subs.size()))
    return out

"""Per-layer tracing for the benchmark's traced run.

Everything here observes the program from outside: it wraps calls into
the program's public functions, reads Spark's own instrumentation (an
event log switched on only around traced passes, Catalyst's phase
tracker, a streaming query listener) and samples ``/proc``. Nothing in
the program is edited, and an untraced run installs none of it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
import threading
import time
from dataclasses import dataclass, field

import procfs



def _now_ms() -> float:
    return time.time() * 1000.0


@dataclass
class Span:
    """One timed interval; ``parent`` names the span that caused it."""

    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: str | None = None
    counts: dict[str, float] = field(default_factory=dict)
    #: counter readings when the span began
    start_counts: dict[str, float] = field(default_factory=dict, repr=False)

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "parent": self.parent,
            "start_ms": round(self.start_ms, 3),
            "end_ms": round(self.end_ms, 3),
            "counts": {k: round(v, 6) for k, v in self.counts.items()},
        }


class Counters:
    """Thread-safe sums; the mock server's handler threads add here."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.values: dict[str, float] = {}

    def add(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.values[key] = self.values.get(key, 0.0) + value

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            return dict(self.values)


# -- wrappers around the program's public functions ---------------------------


def _rebind(original, wrapper) -> None:
    """Replace ``original`` by ``wrapper`` in every loaded module of the
    program that bound it by name."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == "sf_etl_spark" or name.startswith("sf_etl_spark.")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, wrapper)


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under a sink's output path."""
    if path.startswith("file:"):
        path = path[len("file:") :]
    if not os.path.exists(path):
        return 0, 0
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue  # checksums, _SUCCESS, commit markers
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Tracer:
    """Holds the wrappers, the event-log listener and the per-op spans
    of one traced run. ``active`` gates every wrapper, so only traced
    passes are counted."""

    def __init__(self, spark, log_dir: str) -> None:
        self.spark = spark
        self.log_dir = log_dir
        self.active = False
        self.counters = Counters()
        #: (op span, its construct/action child spans) per traced op; the
        #: op span carries the Catalyst phases
        self.ops: list[tuple[Span, list[Span]]] = []
        #: event-log records of every traced pass
        self.events: list[dict] = []
        self._sink_depth = threading.local()
        self._qe_lock = threading.Lock()
        #: Catalyst phases of the query executions finished since the last
        #: op ended, by the executions' JVM identity
        self._qe_phases: dict[int, dict[str, float]] = {}
        self._listener = None
        self._log_seq = 0
        self._jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    # -- spans ---------------------------------------------------------------

    def _sample(self) -> dict[str, float]:
        now = self.counters.snapshot()
        now["pyworker_cpu_s"] = self.pyworker_cpu_s()
        return now

    def begin(self, kind: str, op_name: str) -> Span:
        return Span(kind, _now_ms(), parent=op_name, start_counts=self._sample())

    def end(self, span: Span) -> None:
        span.end_ms = _now_ms()
        for k, v in self._sample().items():
            span.counts[k] = span.counts.get(k, 0.0) + v - span.start_counts.get(k, 0.0)

    def end_op(self, op_name: str, children: list[Span], df) -> None:
        """Close a traced op, after its latency is taken: wait until the
        listener bus has delivered the op's query executions, then add
        their Catalyst phases, with the analysis of the DataFrame the op
        built unless it ran itself (analysis runs when a DataFrame is
        built, so the executions that materialise it find it done)."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._qe_lock:
            executed, self._qe_phases = self._qe_phases, {}
        phases = list(executed.values())
        if df is not None:
            qe = df._jdf.queryExecution()
            if self._identity(qe) not in executed:
                phases.append(_phase_seconds(qe, ("analysis",)))
        op = Span(op_name, children[0].start_ms, children[-1].end_ms)
        for ph in phases:
            for k, v in ph.items():
                op.counts[k] = op.counts.get(k, 0.0) + v
        self.ops.append((op, children))

    def _identity(self, java_obj) -> int:
        return self.spark._jvm.System.identityHashCode(java_obj)

    # -- install -----------------------------------------------------------

    def install(self) -> None:
        import pyspark.sql.readwriter as rw

        from sf_etl_spark.connector.mockserver import MockSalesforce
        from sf_etl_spark.plans import soql
        from sf_etl_spark.sinks import writers
        from sf_etl_spark.sources import tables

        _rebind(tables.load_table, self._timed("sources.load_table", tables.load_table))
        _rebind(soql.soql_to_df, self._timed("plans.soql_to_df", soql.soql_to_df))
        for fname in ("write_parquet", "write_csv", "write_json", "write_orc", "write_jdbc", "compact_parquet"):
            fn = getattr(writers, fname)
            _rebind(fn, self._sink_call(fn))
        self._wrap_dataframe_writer(rw.DataFrameWriter)
        self._wrap_mock(MockSalesforce)
        self._stream_listener = _stream_listener(self)  # held: the JVM calls back into it
        self.spark.streams.addListener(self._stream_listener)  # starts the callback server
        self._qe_listener = _qe_listener(self)
        self.spark._jsparkSession.listenerManager().register(self._qe_listener)

    def _timed(self, key: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.counters.add(key + "_calls")
                self.counters.add(key + "_s", time.perf_counter() - t0)

        return wrapper

    def _sink_call(self, fn):
        """Time the outermost sink call on this thread and size its
        output directory afterwards. Every wrapped call takes the output
        path second (after the frame or the writer) or as ``path=``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = getattr(self._sink_depth, "n", 0)
            if not self.active or depth:
                return fn(*args, **kwargs)
            self._sink_depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._sink_depth.n = depth
                self.counters.add("sinks.write_s", time.perf_counter() - t0)
                path = kwargs.get("path", args[1] if len(args) > 1 else None)
                if isinstance(path, str):
                    nbytes, nfiles = _dir_stats(path)
                    self.counters.add("sinks.bytes_written", nbytes)
                    self.counters.add("sinks.files_written", nfiles)

        return wrapper

    def _wrap_dataframe_writer(self, cls) -> None:
        """Sink ``save()`` and the path-taking shorthands. The benchmark's
        own ``noop`` materialisation is not a sink and is skipped."""
        orig_format = cls.format

        def format_(writer, source):
            writer._bench_format = source
            return orig_format(writer, source)

        cls.format = format_
        for name in ("save", "parquet", "csv", "json", "orc", "insertInto", "saveAsTable"):
            orig = getattr(cls, name)
            wrapped = self._sink_call(orig)

            def method(writer, *args, _orig=orig, _wrapped=wrapped, **kwargs):
                if getattr(writer, "_bench_format", None) == "noop":
                    return _orig(writer, *args, **kwargs)
                return _wrapped(writer, *args, **kwargs)

            setattr(cls, name, method)

    def _wrap_mock(self, cls) -> None:
        orig_route = cls.route
        tracer = self

        def route(server, h, method):
            if not tracer.active:
                return orig_route(server, h, method)
            n429 = server.n_429_served
            t0 = time.perf_counter()
            try:
                return orig_route(server, h, method)
            finally:
                c = tracer.counters
                c.add("connector.server_busy_s", time.perf_counter() - t0)
                c.add("connector.requests")
                if server.n_429_served > n429:
                    c.add("connector.http_429")
                else:
                    kind = classify_request(method, h.path)
                    if kind:
                        c.add(f"connector.{kind}_requests")

        cls.route = route

    # -- event log -----------------------------------------------------------

    def start_pass(self) -> None:
        self.active = True
        self.start_event_log()

    def stop_pass(self) -> None:
        time.sleep(0.2)  # let streaming progress events arrive
        self.active = False
        self.events.extend(self.stop_event_log())

    def start_event_log(self) -> None:
        """Attach a Spark event-log listener for the traced pass only."""
        sc = self.spark.sparkContext
        jvm = self.spark._jvm
        self._log_seq += 1
        conf = (
            sc._jsc.sc()
            .conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        os.makedirs(self.log_dir, exist_ok=True)
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"bench-{self._log_seq}",
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(self.log_dir)),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        listener.start()
        sc._jsc.sc().addSparkListener(listener)
        self._listener = listener

    def stop_event_log(self) -> list[dict]:
        sc = self.spark.sparkContext
        listener, self._listener = self._listener, None
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # deliver queued events first
        sc._jsc.sc().removeSparkListener(listener)
        listener.stop()
        events = []
        for path in sorted(glob.glob(os.path.join(self.log_dir, f"bench-{self._log_seq}*"))):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
            os.remove(path)
        return events

    # -- /proc ---------------------------------------------------------------

    def pyworker_cpu_s(self) -> float:
        """CPU seconds of the JVM's Python children, exited ones too."""
        return procfs.tree_cpu_s(self._jvm_pid, "python")


def _phase_seconds(qe, names=("analysis", "optimization", "planning")) -> dict[str, float]:
    """Catalyst's phase tracker of one ``QueryExecution``, in seconds."""
    phases = qe.tracker().phases()
    out = {}
    for p in names:
        opt = phases.get(p)
        out[f"spark.catalyst.{p}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def _qe_listener(tracer: Tracer):
    """A ``QueryExecutionListener`` that keeps the phase times of every
    query execution that finishes while tracing is on: the plans Spark
    actually ran, construction-time jobs included."""

    class Listener:
        def onSuccess(self, func_name, qe, duration_ns):
            if tracer.active:
                ph = _phase_seconds(qe)
                key = tracer._identity(qe)
                with tracer._qe_lock:
                    tracer._qe_phases[key] = ph

        def onFailure(self, func_name, qe, exception):
            pass

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    return Listener()


def classify_request(method: str, path: str) -> str | None:
    """``data`` for requests that move records, ``poll`` for job-status
    polls, None for the rest (login, describe, job create/close)."""
    p = path.split("?", 1)[0]
    if re.search(r"/jobs/(query|ingest)/[^/]+$", p) and method == "GET":
        return "poll"
    if method == "GET" and re.search(r"/(query|queryNext/\d+)$", p):
        return "data"
    if method == "GET" and re.search(
        r"/jobs/(query|ingest)/[^/]+/(results|failedResults|successfulResults|unprocessedrecords)$", p
    ):
        return "data"
    if method == "PUT" and p.endswith("/batches"):
        return "data"
    return None


def _stream_listener(tracer: Tracer):
    """A listener that counts micro-batches and their durations while
    tracing is on."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if tracer.active:
                tracer.counters.add("streaming.batches")
                tracer.counters.add("streaming.batch_s", event.progress.batchDuration / 1000.0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


# -- event log → per-op numbers -----------------------------------------------


def _task_metrics(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    run_ms = tm.get("Executor Run Time", 0)
    py_in = sum(
        float(a.get("Update", 0) or 0)
        for a in info.get("Accumulables", [])
        if a.get("Name") == "data sent to Python workers"
    )
    return {
        "run_s": run_ms / 1000.0,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
        "overhead_s": max(0.0, (info["Finish Time"] - info["Launch Time"] - run_ms) / 1000.0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "input": inp.get("Bytes Read", 0),
        "py_in": py_in,
    }


def attribute_events(events: list[dict], spans: list[Span]) -> None:
    """Add event-log numbers to each span whose window holds the event:
    jobs by submission time, stages by submission time, tasks by launch
    time. Ops run one at a time, so windows do not overlap; time windows
    also catch jobs of streaming queries, which carry no job group."""

    def owner(ts: float) -> Span | None:
        for s in spans:
            if s.start_ms <= ts <= s.end_ms:
                return s
        return None

    stage_tasks: dict[tuple[int, int], int] = {}
    stage_owner: dict[tuple[int, int], Span | None] = {}
    stage_run: dict[tuple[int, int], float] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            s = owner(ev.get("Submission Time", 0))
            if s:
                s.counts["jobs"] = s.counts.get("jobs", 0) + 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_tasks[key] = info["Number of Tasks"]
            stage_owner[key] = owner(info.get("Submission Time", 0))
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            m = _task_metrics(ev)
            stage_run[key] = stage_run.get(key, 0.0) + m["run_s"]
            s = owner(ev["Task Info"]["Launch Time"])
            if s:
                s.counts["tasks"] = s.counts.get("tasks", 0) + 1
                for k, v in m.items():
                    s.counts[k] = s.counts.get(k, 0.0) + v
    for key, s in stage_owner.items():
        if s is None:
            continue
        s.counts["stages"] = s.counts.get("stages", 0) + 1
        if stage_tasks[key] <= 2:
            s.counts["small_stages"] = s.counts.get("small_stages", 0) + 1
            s.counts["small_stage_run_s"] = s.counts.get("small_stage_run_s", 0.0) + stage_run.get(key, 0.0)


def layer_metrics(tracer: Tracer, traced_walls: list[float], untraced_walls: list[float]) -> dict[str, float]:
    """The per-layer metrics of a traced run, per traced pass."""
    import statistics

    children = [c for _, cs in tracer.ops for c in cs]
    attribute_events(tracer.events, children)
    n_pass = len(traced_walls)
    mb = 1024.0 * 1024.0

    def tot(key: str, kind: str | None = None) -> float:
        return sum(c.counts.get(key, 0.0) for c in children if kind is None or c.name == kind) / n_pass

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    def op_tot(key: str) -> float:
        return sum(op.counts.get(key, 0.0) for op, _ in tracer.ops) / n_pass

    run_s = tot("run_s")
    requests = tot("connector.requests")
    construct_s = sum(c.end_ms - c.start_ms for c in children if c.name == "construct") / 1000.0
    return {
        "queries.construct_s": construct_s / n_pass,
        "queries.construct_jobs": tot("jobs", "construct"),
        "sources.load_table_calls": tot("sources.load_table_calls"),
        "sources.load_table_s": tot("sources.load_table_s"),
        "plans.soql_to_df_calls": tot("plans.soql_to_df_calls"),
        "plans.soql_to_df_s": tot("plans.soql_to_df_s"),
        "spark.catalyst.analysis_s": op_tot("spark.catalyst.analysis_s"),
        "spark.catalyst.optimization_s": op_tot("spark.catalyst.optimization_s"),
        "spark.catalyst.planning_s": op_tot("spark.catalyst.planning_s"),
        "spark.scheduler.jobs": tot("jobs"),
        "spark.scheduler.stages": tot("stages"),
        "spark.scheduler.tasks": tot("tasks"),
        "spark.scheduler.small_stage_share": ratio(tot("small_stages"), tot("stages")),
        "spark.scheduler.small_stage_time_share": ratio(tot("small_stage_run_s"), run_s),
        "spark.scheduler.task_overhead_s": tot("overhead_s"),
        "spark.executor.run_s": run_s,
        "spark.executor.cpu_s": tot("cpu_s"),
        "spark.executor.gc_s": tot("gc_s"),
        "spark.executor.parallelism": ratio(run_s, statistics.median(traced_walls)),
        "spark.shuffle.read_mb": tot("shuffle_read") / mb,
        "spark.shuffle.write_mb": tot("shuffle_write") / mb,
        "spark.shuffle.spill_mb": tot("spill") / mb,
        "spark.scan.input_mb": tot("input") / mb,
        "pyworker.cpu_s": tot("pyworker_cpu_s"),
        "pyworker.bytes_in_mb": tot("py_in") / mb,
        "connector.requests": requests,
        "connector.poll_requests": tot("connector.poll_requests"),
        "connector.http_429": tot("connector.http_429"),
        "connector.server_busy_s": tot("connector.server_busy_s"),
        "connector.useful_request_ratio": ratio(tot("connector.data_requests"), requests),
        "sinks.write_s": tot("sinks.write_s"),
        "sinks.bytes_written_mb": tot("sinks.bytes_written") / mb,
        "sinks.files_written": tot("sinks.files_written"),
        "streaming.batches": tot("streaming.batches"),
        "streaming.batch_s": tot("streaming.batch_s"),
        # equal numbers of each kind, placed so that a steady drift
        # (JIT warm-up) adds the same to both sums
        "trace.overhead_share": sum(traced_walls) / sum(untraced_walls) - 1.0,
    }

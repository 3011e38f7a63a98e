#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 --trace 0

One process, one ``get_spark()`` session at ``local[<cores>]``, one
client in a closed loop: each op is constructed through the public
query registry (or the ``sf_etl`` legs), materialised in full, and the
next op starts when it has finished. A run is

1. set-up: session plus the machinery warm-up the workload needs;
2. a cold pass over the ops, each output checked (untimed);
3. steady passes, in the seed's op order, until ``--seconds`` is spent.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the steady passes alternate untraced and traced, the
line carries the per-layer metrics, and the spans are written to
``.perfbench/traces/``. Everything the run writes lives under
``.perfbench/`` at the checkout root; the run's scratch part (TMPDIR,
Spark local dirs, warehouse, Derby home, event log) is removed at exit.
See ``BENCHMARK.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "ok_op_share": "ratio",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "process.peak_rss_mb": "MB",
    "latency.cold_pass_s": "s",
    "latency.wall_s": "s",
    "latency.op_geomean_s": "s",
    "cpu.cold_pass_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "plans.soql_to_df_calls": "count",
    "plans.soql_to_df_s": "s",
    "spark.catalyst.analysis_s": "s",
    "spark.catalyst.optimization_s": "s",
    "spark.catalyst.planning_s": "s",
    "spark.scheduler.jobs": "count",
    "spark.scheduler.stages": "count",
    "spark.scheduler.tasks": "count",
    "spark.scheduler.small_stage_share": "ratio",
    "spark.scheduler.small_stage_time_share": "ratio",
    "spark.scheduler.task_overhead_s": "s",
    "spark.executor.run_s": "s",
    "spark.executor.cpu_s": "s",
    "spark.executor.gc_s": "s",
    "spark.executor.parallelism": "ratio",
    "spark.shuffle.read_mb": "MB",
    "spark.shuffle.write_mb": "MB",
    "spark.shuffle.spill_mb": "MB",
    "spark.scan.input_mb": "MB",
    "pyworker.cpu_s": "s",
    "pyworker.bytes_in_mb": "MB",
    "connector.requests": "count",
    "connector.poll_requests": "count",
    "connector.http_429": "count",
    "connector.server_busy_s": "s",
    "connector.server_cpu_s": "s",
    "connector.useful_request_ratio": "ratio",
    "sinks.write_s": "s",
    "sinks.bytes_written_mb": "MB",
    "sinks.files_written": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "trace.overhead_share": "ratio",
}


def prepare_environment(run_dir: str) -> None:
    """Give the run its own scratch dirs and Spark config before the JVM
    starts: nothing lands in the checkout's tracked tree or in /tmp."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "derby", "conf")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # no hsperfdata file under /tmp: the JVM writes only inside the run dir
    java_opts = f"-Dderby.system.home={dirs['derby']} -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.ui.showConsoleProgress false\n"
            f"spark.sql.warehouse.dir {dirs['warehouse']}\n"
            f"spark.local.dir {dirs['local']}\n"
            f"spark.driver.extraJavaOptions {java_opts}\n"
        )
    with open(os.path.join(dirs["conf"], "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "SPARK_CONF_DIR": dirs["conf"],
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "SPARK_GRAFT_CPUS": str(cores),
            "PYSPARK_PYTHON": sys.executable,
            # the JVM that spark-submit runs first to build the command line
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)


#: the machinery each workload's ops rely on, used once during set-up
WARM_UP = {
    "analytics": ("parquet_read", "python_worker"),
    "sf_etl": ("parquet_read", "python_worker", "parquet_write", "datasource", "streaming"),
}


def warm_up(spark, run_dir: str, parts) -> None:
    """First use of each piece of machinery in ``parts``."""
    from oracle import FIXTURE_DIR

    if "parquet_read" in parts:
        spark.read.parquet(os.path.join(FIXTURE_DIR, "region.parquet")).count()
    if "python_worker" in parts:
        spark.range(8).mapInPandas(lambda it: it, "id long").count()
    warm = os.path.join(run_dir, "warm")
    if "parquet_write" in parts:
        spark.range(8).write.mode("overwrite").parquet(warm)
    if "datasource" in parts:
        from sf_etl_spark.connector import read_object
        from sf_etl_spark.connector.mockserver import MockSalesforce
        from workloads import CREDS

        server = MockSalesforce(n_rows=10)
        url = server.start()
        try:
            read_object(spark, {"login_url": url, **CREDS}, "Case").count()
        finally:
            server.stop()
    if "streaming" in parts:  # streams the files parquet_write left
        q = (
            spark.readStream.schema("id long").parquet(warm)
            .writeStream.format("noop").trigger(availableNow=True).start()
        )
        q.awaitTermination()


class Runner:
    """Runs the ops one at a time (a closed loop with one client) and
    records latencies and failures."""

    def __init__(self, ops, tracer=None) -> None:
        self.ops = ops
        self.tracer = tracer
        self.failed: dict[str, str] = {}
        self.cold: dict[str, float] = {}
        self.check_s = 0.0
        self.check_cpu_s = 0.0

    def _fail(self, name: str, why: str) -> None:
        self.failed.setdefault(name, why)

    def cold_pass(self) -> float:
        """First pass in the fresh session. Each op's output is collected
        (timed) and checked (untimed)."""
        for op in self.ops:
            t0 = time.perf_counter()
            try:
                out = op.result(op.construct())
            except Exception as e:  # an op that raises counts as failed, the run goes on
                self.cold[op.name] = time.perf_counter() - t0
                self._fail(op.name, f"{type(e).__name__}: {str(e)[:300]}")
                continue
            t1, c1 = time.perf_counter(), procfs.tree_cpu_s(os.getpid())
            self.cold[op.name] = t1 - t0
            try:
                why = op.check(out)
            except Exception as e:  # a check that cannot run fails the op
                why = f"check raised {type(e).__name__}: {str(e)[:300]}"
            if why:
                self._fail(op.name, why)
            self.check_s += time.perf_counter() - t1
            self.check_cpu_s += procfs.tree_cpu_s(os.getpid()) - c1
        return sum(self.cold.values())

    def run_op(self, op, traced: bool) -> float:
        """Construct and materialise one op; returns its latency."""
        tr = self.tracer if traced else None
        spans = []
        df = None
        t0 = time.perf_counter()
        try:
            if tr:
                spans.append(tr.begin("construct", op.name))
            df = op.construct()
            if tr:
                tr.end(spans[-1])
                spans.append(tr.begin("action", op.name))
            op.materialise(df)
        except Exception as e:  # an op that raises counts as failed, the run goes on
            self._fail(op.name, f"{type(e).__name__}: {str(e)[:300]}")
        finally:
            if spans and not spans[-1].end_ms:
                tr.end(spans[-1])
            latency = time.perf_counter() - t0
            if spans:
                tr.end_op(op.name, spans, df)
        return latency

    def steady_pass(self, traced: bool = False) -> dict[str, float]:
        if traced:
            self.tracer.start_pass()
        try:
            return {op.name: self.run_op(op, traced) for op in self.ops}
        finally:
            if traced:
                self.tracer.stop_pass()


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM PySpark launched and wait for
    it: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def geomean(xs) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def run(args, run_dir: str) -> dict:
    from sf_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm_up(spark, run_dir, WARM_UP[args.workload])
    warmup_s = time.perf_counter() - t0
    setup_s = procfs.process_age_s()

    import workloads
    from oracle import Digester, OracleCache

    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    mock_cpu = workloads.MockCpuMeter()

    digester = Digester(ROOT)
    oracles = OracleCache(STATE, digester)
    ops = workloads.registry_ops(spark, workloads.WORKLOADS[args.workload], digester, oracles)
    legs = None
    if args.workload == "sf_etl":
        legs = workloads.SfEtl(spark, args.seed, os.path.join(run_dir, "out"))
        ops = legs.ops() + ops
    random.Random(args.seed).shuffle(ops)

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark, os.path.join(run_dir, "eventlog"))
        tracer.install()
    runner = Runner(ops, tracer)
    try:
        c0, m0 = procfs.tree_cpu_s(os.getpid()), mock_cpu.total_s
        cold_s = runner.cold_pass()
        cold_cpu = procfs.tree_cpu_s(os.getpid()) - c0 - runner.check_cpu_s - (mock_cpu.total_s - m0)
        oracles.close()
        # whole passes until --seconds have passed, at least two; a traced
        # run runs blocks of untraced, traced, traced, untraced passes, so
        # the session's warm-up drift falls on both kinds alike
        passes: list[tuple[bool, dict[str, float]]] = []
        steal: list[float] = []
        #: CPU seconds per pass, without the mock org's (``mock``)
        cpu: list[float] = []
        mock: list[float] = []
        cores = len(os.sched_getaffinity(0))
        t_start = time.perf_counter()
        block = 4 if args.trace else 1
        while len(passes) < 2 or len(passes) % block or time.perf_counter() - t_start < args.seconds:
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            s0, c0, m0 = procfs.steal_s(), procfs.tree_cpu_s(os.getpid()), mock_cpu.total_s
            passes.append((traced, runner.steady_pass(traced)))
            mock.append(mock_cpu.total_s - m0)
            cpu.append(procfs.tree_cpu_s(os.getpid()) - c0 - mock[-1])
            steal.append((procfs.steal_s() - s0) / (sum(passes[-1][1].values()) * cores))
    finally:
        if legs is not None:
            legs.close()

    untraced = [p for t, p in passes if not t]
    untraced_walls = [sum(p.values()) for p in untraced]
    # wall-clock latencies; contention from outside only ever adds time,
    # so each op's and each pass's fastest reading is the least disturbed
    latency = {
        "latency.cold_pass_s": cold_s,
        "latency.wall_s": min(untraced_walls),
        "latency.op_geomean_s": geomean([min(p[op.name] for p in untraced) for op in ops]),
    }
    for name, why in sorted(runner.failed.items()):
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    print(
        f"perfbench: setup {setup_s:.2f} s, cold pass {cold_s:.2f} s ({cold_cpu:.2f} cpu s), checks {runner.check_s:.2f} s, "
        f"steady passes {[round(sum(p.values()), 2) for _, p in passes]} s, "
        f"stolen CPU share {[round(x, 3) for x in steal]}, cpu {[round(x, 2) for x in cpu]} s, "
        f"mock org cpu {[round(x, 2) for x in mock]} s",
        file=sys.stderr,
    )
    for op in ops:
        print(f"perfbench:   {op.name}: cold {runner.cold[op.name]:.2f} s, steady "
              f"{[round(p[op.name], 2) for _, p in passes]} s", file=sys.stderr)

    peak_rss_mb = procfs.vm_hwm_mb(jvm_pid) + procfs.vm_hwm_mb(os.getpid())
    if args.trace:
        traced_walls = [sum(p.values()) for t, p in passes if t]
        metrics = {
            "session.get_spark_s": get_spark_s,
            "session.warmup_s": warmup_s,
            "process.peak_rss_mb": peak_rss_mb,
            **latency,
            "cpu.cold_pass_s": cold_cpu,
            "connector.server_cpu_s": statistics.mean(m for m, (t, _) in zip(mock, passes) if t),
            **tracing.layer_metrics(tracer, traced_walls, untraced_walls),
        }
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        with open(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "metrics": metrics,
                    "ops": [{**op.to_json(), "children": [c.to_json() for c in cs]} for op, cs in tracer.ops],
                },
                f,
                indent=1,
            )
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            # mean, not fastest: JIT compilation left over from the cold
            # pass lands in either steady pass, but its total varies less
            "pass_cpu_s": statistics.mean(c for c, (t, _) in zip(cpu, passes) if not t),
            "ok_op_share": 1.0 - len(runner.failed) / len(ops),
        }
        units = END_TO_END
    stop_jvm(spark)
    return {
        "correct": not runner.failed,
        "attempted": len(ops),
        "failed": len(runner.failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WARM_UP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("sf_etl_spark/__init__.py", "tests/oracle_compare.py") if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    run_dir = os.path.join(STATE, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    sys.path[:0] = [ROOT, HERE]
    try:
        prepare_environment(run_dir)
        result = run(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

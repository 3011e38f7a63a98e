#!/usr/bin/env python
"""Round-15 optimization measurement harness (guide §1).

Times individual registered lanes in ISOLATION with the noop sink
(`df.write.format("noop")...` — computes every column of every row,
guide §1.4) so the computation is measured rather than the terminal
count()'s pruned plan, labels each job (§1.5), and captures
`.explain("formatted")` per lane for the plans/r15/ evidence files.
`--action count` times with bench.py's terminal action instead, the
plain best-of-N wall time of a lane at `--sf-dir`. Warm-up and timing
are bench.py's own (warm_up, time_lanes). Next to each lane's time it
reports the CPU seconds per run of Spark's Python workers (the JVM's
`python*` descendants, read from /proc by perfbench/procfs.py), which
shows the lanes whose cost sits in pandas/Arrow UDFs, Python data
sources or worker start-up.

This tool is measurement-only: it never feeds CORRECTNESS/BENCH
artifacts (bench.py keeps its count()-based, round-comparable
methodology; see OPTIMIZATION_r15.md).

Usage:
  python tools/opt_measure.py LANE [LANE...] [--runs 3] [--action noop|count]
                              [--explain plans/r15] [--suffix before]
                              [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def formatted_plan(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("lanes", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--action", choices=["noop", "count"], default="noop")
    ap.add_argument("--explain", default=None, help="directory for <lane>_<suffix>.txt plans")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from bench import time_lanes, warm_up
    from perfbench.procfs import tree_cpu_s
    from sf_etl_spark.queries import all_queries
    from sf_etl_spark.session import get_spark

    spark = get_spark("opt-measure")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, args.sf_dir)
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        specs = all_queries()
        for name in args.lanes:
            df = specs[name].fn(spark, args.sf_dir)
            with open(os.path.join(args.explain, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(formatted_plan(df))
    jvm_pid = _jvm_pid(spark)
    out: dict[str, float] = {}
    pyworker: dict[str, float] = {}
    for name in args.lanes:
        cpu0 = tree_cpu_s(jvm_pid, "python")
        out.update(time_lanes(spark, [name], args.sf_dir, args.runs, args.action)[0])
        pyworker[name] = round((tree_cpu_s(jvm_pid, "python") - cpu0) / args.runs, 3)
        print(f"{name}: Python workers {pyworker[name]} cpu s per run", file=sys.stderr)
    print(
        json.dumps(
            {
                "action": args.action,
                "runs": args.runs,
                "sf_dir": args.sf_dir,
                "timings": out,
                "pyworker_cpu_s": pyworker,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

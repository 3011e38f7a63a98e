#!/usr/bin/env python
"""Standing sf1 bench leg (r15 verdict task 2).

At sf0.1 the ~200 sub-2 s lanes sit on the scheduler/codegen floor
(the r15 8-core run beat the 32-core run overall), so sf0.1 deltas on
them are host weather, not optimization signal. This leg times the
SLOWEST lanes at the 10x `.probe/sf1` probe (structure-preserving
scale-up; tools/make_probe_sf1.py) where per-lane cost is data-bound
again — all optimization claims on sub-2 s lanes must cite these
numbers, not sf0.1.

It times through bench.py's own core (warm_up, time_lanes: best-of-N,
count() terminal action, the engine's tuned session, same env-driven
core count) so the numbers compose with the bench history; entries are
appended to BENCH_LOCAL.jsonl as NOTED recordings with sf="1probe"
and their own metric name ("sf1_leg_total_sec"), so the leg is
mechanically distinguishable from the sf0.1 trend (and pick_top_lanes
below skips them).

Usage:
  python tools/sf1_leg.py [--top 20] [--runs 3] [--note "sf1 leg r16"]
                          [--lanes a,b,c] [--sf-dir .probe/sf1]

Lane selection (--top): the slowest N lanes by the newest history
entry that has a full per-lane map (queries+extended merged).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def pick_top_lanes(n: int) -> list[str]:
    from bench import load_history
    from bench_history import SF1_LEG

    for entry in reversed(load_history()):
        merged = {**entry.get("queries", {}), **entry.get("extended", {})}
        if len(merged) > 100 and entry.get("sf") != SF1_LEG:
            ranked = sorted(merged.items(), key=lambda kv: -kv[1])
            return [name for name, _ in ranked[:n]]
    raise SystemExit("no full per-lane history entry to rank lanes from")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--note", default="sf1 leg")
    ap.add_argument("--lanes", default=None, help="comma-separated override")
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".probe", "sf1"))
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(args.sf_dir):
        raise SystemExit(
            f"{args.sf_dir} missing — generate it first: python tools/make_probe_sf1.py"
        )
    lanes = args.lanes.split(",") if args.lanes else pick_top_lanes(args.top)
    print(f"sf1 leg over {len(lanes)} lanes: {lanes}", file=sys.stderr)
    if args.dry_run:
        return

    from bench import append_entry, time_lanes, warm_up
    from bench_history import SF1_LEG, contended, entry_dict
    from sf_etl_spark.queries import all_queries
    from sf_etl_spark.session import get_spark

    unknown = [l for l in lanes if l not in all_queries()]
    if unknown:
        raise SystemExit(f"not registered: {unknown}")
    spark = get_spark("sf1-leg")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, args.sf_dir)
    timings, loads = time_lanes(spark, lanes, args.sf_dir, args.runs)
    spark.stop()

    load_1m = os.getloadavg()[0]
    entry = entry_dict(
        recorded_at=time.strftime("%Y-%m-%dT%H:%M:%S"),
        runs=args.runs,
        load_1m=load_1m,
        contended=contended(load_1m, loads, load_allowance=8.0),
        note=args.note,
        metric="sf1_leg_total_sec",
        value=round(sum(timings.values()), 3),
        queries=timings,
        extended={},
        extended_runs=args.runs,
        loads=loads,
        excluded={},
        sf=SF1_LEG,
    )
    append_entry(REPO, entry)
    print(json.dumps({"metric": "sf1_leg_total_sec", "value": entry["value"], "queries": timings}))


if __name__ == "__main__":
    main()

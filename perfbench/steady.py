#!/usr/bin/env python3
"""Steadiness self-check of the benchmark.

    python3 perfbench/steady.py --seeds 1-10 --sets 2

For every workload in ``BENCHMARK.json`` it runs ``run.py`` once per seed
(``--trace 0``), once per set, and reports for each end-to-end metric
the spread of a set (inter-quartile distance over the median, from
``statistics.quantiles(values, n=4)``) and how far the second set's
median moved from the first's, in the metric's worse direction. It
fails when

* the names and units printed by the command differ from the ones
  ``BENCHMARK.json`` declares (checked for ``--trace 0`` on every run and,
  with ``--traced``, for one ``--trace 1`` run per workload);
* a spread exceeds the metric's bound;
* a second-set median is worse than the first by more than the bound;
* a run exits non-zero, prints no result, or reports a failed op.

The report, with every value measured, goes to
``.perfbench/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [
        *bench["command"],
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    # CPU the hypervisor gave other guests meanwhile: a run that overlaps
    # a burst of it reads slow for reasons outside the program
    t0, steal0 = time.perf_counter(), procfs.steal_s()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["elapsed_s"] = time.perf_counter() - t0
    result["steal_s"] = procfs.steal_s() - steal0
    # the run's own summary: wall-clock pass times and stolen CPU shares
    result["summary"] = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench: setup")]
    return result


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def worse_share(first: float, second: float, better: str) -> float:
    if not first:
        return 0.0
    change = (second - first) / first
    return change if better == "lower" else -change


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", action="store_true", help="also check the --trace 1 names")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems: list[str] = []
    report: dict = {"seeds": _seeds(args.seeds), "workloads": {}}

    for w in workloads:
        sets = []
        for s in range(args.sets):
            runs = []
            for seed in _seeds(args.seeds):
                r = run_once(bench, w, seed, 0)
                units = {k: v["unit"] for k, v in r["metrics"].items()}
                if units != {k: m["unit"] for k, m in e2e.items()}:
                    problems.append(f"{w} seed {seed}: printed metrics {units} differ from BENCHMARK.json")
                if not r["correct"] or r["failed"]:
                    problems.append(f"{w} seed {seed}: {r['failed']} of {r['attempted']} ops failed")
                runs.append(r)
                print(f"{w} set {s + 1} seed {seed}: {r['elapsed_s']:.1f} s, steal {r['steal_s']:.1f} s, "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
            sets.append(runs)
        wr: dict = {
            "metrics": {},
            "elapsed_s": [[r["elapsed_s"] for r in runs] for runs in sets],
            "steal_s": [[r["steal_s"] for r in runs] for runs in sets],
            "summaries": [[r["summary"] for r in runs] for runs in sets],
        }
        for name, m in e2e.items():
            vals = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
            mr = {
                "values": vals,
                "median": [statistics.median(v) for v in vals],
                "spread": [spread(v) for v in vals],
                "bound": m["bound"],
            }
            for i, sp in enumerate(mr["spread"]):
                if sp > m["bound"]:
                    problems.append(f"{w} {name}: set {i + 1} spread {sp:.3f} > bound {m['bound']}")
            for i in range(1, len(vals)):
                ws = worse_share(mr["median"][0], mr["median"][i], m["better"])
                mr.setdefault("worse_share", []).append(ws)
                if ws > m["bound"]:
                    problems.append(f"{w} {name}: set {i + 1} median worse by {ws:.3f} > bound {m['bound']}")
            wr["metrics"][name] = mr
            print(f"{w} {name}: medians {[round(x, 4) for x in mr['median']]} "
                  f"spreads {[round(x, 4) for x in mr['spread']]} bound {m['bound']}", flush=True)
        if args.traced:
            r = run_once(bench, w, _seeds(args.seeds)[0], 1)
            units = {k: v["unit"] for k, v in r["metrics"].items()}
            if units != layer_units:
                problems.append(f"{w} traced: printed metrics differ from BENCHMARK.json per_layer")
            wr["traced"] = {k: v["value"] for k, v in r["metrics"].items()}
        report["workloads"][w] = wr

    report["problems"] = problems
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    for p in problems:
        print("PROBLEM:", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Run bench.py N times (default 3), take the per-query best, and
append a timestamped noted entry to BENCH_LOCAL.jsonl (after the N
unnoted entries the bench runs append themselves) — the end-of-round
checklist's quiet-host bench ritual as one command:

    python tools/record_bench_local.py [n_runs] [--note "..."]

Refuses to record if the 1-minute load average exceeds 2.5 at launch
(pass --force to override; the load is recorded either way so a noisy
entry is at least labeled as such).
"""

import argparse
import datetime
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def merged_entry(runs: list[dict], note: str, load1: float) -> dict:
    """Merge N bench.py stdout dicts into ONE noted entry: per-lane
    minima (paired with the load context of the run that produced each
    minimum — r10 verdict task 6), built through the canonical
    bench_history.entry_dict so this writer and bench.py's own append
    emit the identical key shape (r14 verdict task 6)."""
    n_runs = len(runs)
    best_loads: dict[str, float] = {}

    def merge_group(label: str, keys: tuple[str, ...]) -> dict[str, float]:
        # intersect lane keys across runs: a code edit landing
        # mid-recording can add/remove lanes between invocations —
        # merge what's common rather than KeyError after N runs of
        # work. Lanes dropped by the intersection are NAMED on stderr
        # (no-silent-caps convention — r13 ADVICE): a quietly smaller
        # per-lane map reads as "covered everything" when it didn't.
        # *keys* may span multiple map names so a rename landing
        # mid-recording (oneshot -> extended, r14) still pairs the
        # same lane population instead of intersecting to empty.
        per_run = [
            {n: t for k in keys for n, t in r.get(k, {}).items()}
            for r in runs
        ]
        common = set(per_run[0])
        for m in per_run[1:]:
            common &= set(m)
        dropped = sorted({n for m in per_run for n in m} - common)
        if dropped:
            print(
                f"WARNING: [{label}] lanes present in only some runs "
                f"(code changed mid-recording?) dropped from the merged "
                f"entry: {', '.join(dropped)}",
                file=sys.stderr,
            )
        out = {}
        for n in sorted(common):
            i = min(range(n_runs), key=lambda i: per_run[i][n])
            out[n] = per_run[i][n]
            ld = runs[i].get("loads", {}).get(n)
            if ld is not None:
                best_loads[n] = ld
        return out

    best = merge_group("queries", ("queries",))
    # non-headline group: "oneshot" (single-run, pre-r14) and
    # "extended" (best-of-N, r14+) are the same lane population —
    # merged under the canonical "extended" name
    extended = merge_group("non-headline", ("oneshot", "extended"))
    from bench_history import contended, entry_dict

    # 'runs' carries ONE meaning across both writers (review pass):
    # the total repeats each headline lane's minimum is over. For
    # bench.py that is its own best-of-N; for a merged entry it is
    # invocations × each invocation's N (read from extended_runs,
    # which bench.py sets to the same env knob; pre-r14 runs lacking
    # the field count as 1).
    total_repeats = sum(int(r.get("extended_runs", 1)) for r in runs)
    return entry_dict(
        recorded_at=datetime.datetime.now().isoformat(timespec="seconds"),
        runs=total_repeats,
        load_1m=load1,
        # launch-time load (pre-Spark) + per-lane in-run loads: either
        # signal marks the whole entry CONTENDED so ratio tooling can
        # skip it by default (r13 verdict task 7)
        contended=contended(load1, best_loads),
        note=note,
        metric=runs[0]["metric"],
        value=round(sum(best.values()), 3),
        queries=best,
        extended=extended,
        # same total-repeats meaning for the extended group
        extended_runs=total_repeats,
        loads=best_loads,
        excluded=runs[0].get("excluded", {}),
        sf=runs[0].get("sf"),
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("n_runs", nargs="?", type=int, default=3)
    ap.add_argument("--note", default="")
    ap.add_argument("--force", action="store_true")
    ns = ap.parse_args()
    n_runs, note = ns.n_runs, ns.note
    load1 = os.getloadavg()[0]
    if load1 > 2.5 and not ns.force:
        sys.exit(f"load_1m={load1:.2f} > 2.5 — not a quiet host (--force to override)")
    runs = []
    for i in range(n_runs):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True,
            text=True,
            check=True,
            cwd=REPO,
        ).stdout
        line = [l for l in out.splitlines() if l.startswith("{")][-1]
        runs.append(json.loads(line))
        print(f"run {i + 1}/{n_runs}: {runs[-1]['value']} s", file=sys.stderr)
    entry = merged_entry(runs, note, load1)
    from bench import append_entry

    append_entry(REPO, entry)
    print(json.dumps({k: entry[k] for k in entry if k != "queries"}))


if __name__ == "__main__":
    main()

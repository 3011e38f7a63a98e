#!/usr/bin/env python
"""What a bench history entry holds and how the tools read it: the
canonical entry shape, the entry-level contention flag, and the
default pair bench_diff compares. The history file itself
(BENCH_LOCAL.jsonl, one entry per line) is written and read by
bench.append_entry and bench.load_history.
"""

#: the ONE canonical BENCH_LOCAL entry shape (r14 verdict task 6):
#: bench.py's per-invocation append and record_bench_local.py's merged
#: noted entry both build through :func:`entry_dict`, so the two
#: writers can never drift apart again (the r14 "final" entry lacked
#: extended_runs because the merge tool predated the field).
ENTRY_KEYS = (
    "recorded_at",
    "runs",
    "load_1m",
    "contended",
    "note",
    "metric",
    "value",
    "unit",
    "queries",
    "extended",
    "extended_total_sec",
    "extended_runs",
    "loads",
    "excluded",
    "sf",
)


def entry_dict(
    *,
    recorded_at: str,
    runs: int,
    load_1m: float,
    contended: bool,
    note: str,
    metric: str,
    value: float,
    queries: dict,
    extended: dict,
    extended_runs: int,
    loads: dict,
    excluded: dict,
    sf,
) -> dict:
    """Build a BENCH_LOCAL entry with the canonical key set/order.
    ``note`` is "" for unnoted per-invocation appends (noted_pair keys
    on note truthiness, so "" and absent behave identically). ``runs``
    and ``extended_runs`` both mean the TOTAL repeats the group's
    per-lane minima are over — best-of-N for a single bench.py
    invocation, invocations × N for a merged recording — so
    identically-shaped entries are comparably interpretable."""
    return {
        "recorded_at": recorded_at,
        "runs": runs,
        "load_1m": load_1m,
        "contended": contended,
        "note": note,
        "metric": metric,
        "value": value,
        "unit": "sec",
        "queries": queries,
        "extended": extended,
        "extended_total_sec": round(sum(extended.values()), 3),
        "extended_runs": extended_runs,
        "loads": loads,
        "excluded": excluded,
        "sf": sf,
    }


#: in-run lane loads above this are external contention with certainty:
#: the bench's own local[32] self-load tops out around 7.4 across the
#: noted quiet-host entries (measured over BENCH_LOCAL history), while
#: the r13 contaminated entry carried lane loads up to 15.5. A RELATIVE
#: margin (median+2.5) cannot be the entry-level signal — quiet
#: recordings legitimately spread lane loads 2.7-7.4 by lane type and
#: would flag themselves (caught in the r14 review pass).
IN_RUN_LOAD_CEILING = 10.0


def contended(
    load_1m: float | None,
    lane_loads: dict[str, float],
    load_allowance: float = 2.5,
) -> bool:
    """Entry-level contention verdict (r13 verdict task 7): lift the
    per-lane CONTENDED heuristic bench_diff prints to a flag recorded
    IN the entry, so a noisy recording is excluded from ratio defaults
    by one field instead of a forensic session over its lane loads.

    Two signals, either trips the flag:
      * the launch/record-time ``load_1m`` exceeds *load_allowance*
        (callers pass a higher allowance when the sample is taken
        while the bench itself is loading the host — local[32]
        self-load sits around 4-6);
      * >= max(3, 5%) of lanes finished under a load above the
        ABSOLUTE :data:`IN_RUN_LOAD_CEILING` — a level the bench's own
        self-load never reaches, so it can only be a neighbor.
    """
    if load_1m is not None and load_1m > load_allowance:
        return True
    vals = list(lane_loads.values())
    busy = sum(1 for v in vals if v > IN_RUN_LOAD_CEILING)
    return busy >= max(3, len(vals) // 20)


#: ``sf`` of the sf1-leg recordings (tools/sf1_leg.py): noted, but a
#: separate trend from the sf0.1 bench rounds
SF1_LEG = "1probe"


def noted_pair(history: list, include_contended: bool = False) -> tuple[dict, dict]:
    """bench_diff's default (old, new) pair: *new* is the newest noted
    entry with an earlier noted entry at the same ``sf``, and *old* the
    newest of those — an sf1-leg entry against an sf0.1 one would show
    every lane as a ~10x mover. Contended entries are skipped unless
    *include_contended*."""
    noted = [
        e for e in history if e.get("note") and (include_contended or not e.get("contended"))
    ]
    for i in range(len(noted) - 1, 0, -1):
        new = noted[i]
        for old in reversed(noted[:i]):
            if old.get("sf") == new.get("sf"):
                return old, new
    raise ValueError(
        "need two noted non-contended entries at the same sf "
        "(--include-contended or pass two indices)"
    )

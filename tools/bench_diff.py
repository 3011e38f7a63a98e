#!/usr/bin/env python
"""Diff two BENCH_LOCAL.jsonl entries per lane (default: the newest
NOTED entry and the newest noted one before it at the same sf — the
deliberate quiet-host recordings; bench.py also appends an unnoted
entry per raw invocation, which are measurement inputs, not round
markers). Usage:

    python tools/bench_diff.py [idx_old idx_new] [--threshold 0.15]

Prints the common-lane total ratio and every mover beyond the
threshold, for the headline map and the non-headline map (the
"oneshot" group of pre-r14 entries / "extended" group of r14+
entries, merged transparently across the rename).
"""

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import load_history  # noqa: E402
from bench_history import noted_pair  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("indices", nargs="*", type=int)
    ap.add_argument("--threshold", type=float, default=0.15)
    ap.add_argument(
        "--include-contended",
        action="store_true",
        help="let the default noted-pair selection pick entries the "
        "recorder flagged contended=true (explicit indices always win)",
    )
    ns = ap.parse_args()
    hist = load_history(REPO)
    if len(ns.indices) == 2:
        old, new = hist[ns.indices[0]], hist[ns.indices[1]]
    else:
        # contended entries (recorder-flagged, r13 verdict task 7) are
        # not valid ratio denominators/numerators — skip them unless
        # explicitly requested; explicit indices bypass the filter
        try:
            old, new = noted_pair(hist, ns.include_contended)
        except ValueError as e:
            raise SystemExit(str(e)) from None
    print(f"old: {old.get('recorded_at')} {old.get('note', '')!r}")
    print(f"new: {new.get('recorded_at')} {new.get('note', '')!r}")
    for e, tag in ((old, "old"), (new, "new")):
        if e.get("contended"):
            print(f"WARNING: {tag} entry is flagged CONTENDED — "
                  "ratios below are host weather, not code")

    # "oneshot" (single-run, pre-r14) and "extended" (best-of-N, r14+)
    # are the same non-headline lane population across the rename —
    # merged here so a diff spanning the transition still pairs lanes.
    # Expect a one-time downward level shift at the transition
    # (best-of-N <= one-shot by construction).
    def non_headline(e):
        return {**e.get("oneshot", {}), **e.get("extended", {})}

    for key in ("queries", "non-headline"):
        if key == "queries":
            a, b = old.get(key, {}), new.get(key, {})
        else:
            a, b = non_headline(old), non_headline(new)
        common = sorted(set(a) & set(b))
        if not common:
            continue
        ta, tb = sum(a[k] for k in common), sum(b[k] for k in common)
        print(f"\n[{key}] {len(common)} common lanes: "
              f"{ta:.1f}s -> {tb:.1f}s = {tb / ta:.2f}x")
        la, lb = old.get("loads", {}), new.get("loads", {})

        def median(vals):
            vs = sorted(vals)
            return vs[len(vs) // 2] if vs else 0.0

        # a running bench IS load (local[32] self-load sits around
        # 4-6); external contention shows as a lane's load sitting
        # well ABOVE the entry's own median lane-load, not as any
        # absolute level
        med_a, med_b = median(la.values()), median(lb.values())
        movers = sorted(common, key=lambda k: b[k] - a[k])
        for k in movers:
            d = b[k] - a[k]
            if abs(d) >= ns.threshold:
                tag = ""
                busy = [f"{s}@{ld:.1f}(med {m:.1f})" for s, ld, m in
                        (("old", la.get(k), med_a), ("new", lb.get(k), med_b))
                        if ld is not None and ld > m + 2.5]
                if busy:
                    tag = "  [CONTENDED " + " ".join(busy) + "]"
                print(f"  {a[k]:7.2f} -> {b[k]:7.2f}  ({d:+.2f})  {k}{tag}")
        only_new = sorted(set(b) - set(a))
        if only_new:
            print(f"  new lanes: {', '.join(f'{k}={b[k]:.2f}' for k in only_new)}")


if __name__ == "__main__":
    main()

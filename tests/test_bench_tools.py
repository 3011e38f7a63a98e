"""Unit tests for the bench bookkeeping that the round workflow leans
on (r13 verdict task 7 + the r14 review-pass fixes): the entry-level
contended flag, the spill policy, and the bench lane-set invariants.
Pure-Python — no Spark session.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from bench_history import (  # noqa: E402
    IN_RUN_LOAD_CEILING,
    contended,
    load_history,
    noted_pair,
    split_for_spill,
)


def test_contended_launch_load_signal():
    assert contended(2.6, {}) is True  # above the 2.5 quiet gate
    assert contended(2.4, {}) is False
    # the bench's own end-of-run sample gets a raised allowance
    assert contended(6.0, {}, load_allowance=8.0) is False
    assert contended(9.0, {}, load_allowance=8.0) is True


def test_contended_in_run_signal_is_absolute_not_relative():
    """Quiet-host self-load legitimately spreads ~2.7-7.4 across lane
    types (the r14 review pass caught a median+2.5 heuristic flagging
    quiet recordings) — only loads above the absolute ceiling count,
    and only when >= max(3, 5%) of lanes carry them."""
    quiet = {f"lane{i}": 2.7 + (i % 5) * 1.2 for i in range(200)}  # 2.7..7.5
    assert contended(0.2, quiet) is False
    hot = dict(quiet)
    for i in range(10):  # 5% of 200 lanes above the ceiling == threshold
        hot[f"lane{i}"] = IN_RUN_LOAD_CEILING + 5
    assert contended(0.2, hot) is True
    nine = dict(quiet)
    for i in range(9):  # below the 5% count: isolated spikes don't flag
        nine[f"lane{i}"] = IN_RUN_LOAD_CEILING + 5
    assert contended(0.2, nine) is False
    # small entries use the floor of 3, not 5%
    small_hot = {f"l{i}": 20.0 for i in range(3)}
    assert contended(0.2, small_hot) is True
    assert contended(0.2, {"l0": 20.0, "l1": 20.0}) is False
    assert contended(0.2, {}) is False  # no lanes, no launch signal


def test_contended_matches_history_ground_truth():
    """Replaying the heuristic over the REAL recording history: the
    r13 contaminated entry (load 15.5) must flag; every quiet-host
    noted final must not."""
    flagged_quiet_finals = []
    found_contaminated = False
    for e in load_history(REPO):
        flag = contended(
            e.get("load_1m"),
            e.get("loads", {}),
            load_allowance=2.5 if e.get("note") else 8.0,
        )
        if e.get("load_1m", 0) > 15:
            found_contaminated = found_contaminated or flag
        note = e.get("note", "")
        if "final" in note and e.get("load_1m", 99) < 2.0 and flag:
            flagged_quiet_finals.append(e["recorded_at"])
    assert not flagged_quiet_finals
    assert found_contaminated  # the load-15.5 entry exists and flags


def test_split_for_spill_keeps_from_second_newest_noted():
    hist = [
        {"recorded_at": "t0"},
        {"recorded_at": "t1", "note": "a"},
        {"recorded_at": "t2"},
        {"recorded_at": "t3", "note": "b"},
        {"recorded_at": "t4"},
    ]
    to_archive, inline = split_for_spill(hist)
    assert [e["recorded_at"] for e in to_archive] == ["t0"]
    assert [e["recorded_at"] for e in inline] == ["t1", "t2", "t3", "t4"]
    # fewer than two noted entries: bounded fallback window
    unnoted = [{"recorded_at": f"u{i}"} for i in range(20)]
    to_archive, inline = split_for_spill(unnoted, keep_fallback=12)
    assert len(inline) == 12 and len(to_archive) == 8


def test_mixed_sf_history_pairs_and_spills_by_sf():
    """sf1-leg entries (sf="1probe") are noted but never pair with an
    sf0.1 entry, and do not count toward the spill's noted window."""
    hist = [
        {"recorded_at": "t0", "note": "r1", "sf": "0.1"},
        {"recorded_at": "t1", "sf": "0.1"},
        {"recorded_at": "t2", "note": "r2", "sf": "0.1"},
        {"recorded_at": "t3", "note": "leg a", "sf": "1probe"},
        {"recorded_at": "t4", "note": "r3", "sf": "0.1", "contended": True},
        {"recorded_at": "t5", "note": "leg b", "sf": "1probe"},
        {"recorded_at": "t6", "sf": "0.1"},
    ]
    old, new = noted_pair(hist)
    assert (old["recorded_at"], new["recorded_at"]) == ("t3", "t5")
    old, new = noted_pair(hist[:5])
    assert (old["recorded_at"], new["recorded_at"]) == ("t0", "t2")
    old, new = noted_pair(hist[:5], include_contended=True)
    assert (old["recorded_at"], new["recorded_at"]) == ("t2", "t4")
    with pytest.raises(ValueError, match="same sf"):
        noted_pair(hist[2:4])
    to_archive, inline = split_for_spill(hist)
    assert [e["recorded_at"] for e in to_archive] == ["t0", "t1"]
    assert [e["recorded_at"] for e in inline] == ["t2", "t3", "t4", "t5", "t6"]


def test_bench_result_line_survives_history_failure(tmp_path, capsys):
    """A history file that is valid JSON but not a list makes the
    append raise a non-OS error; the result line must still be the
    last stdout line, and BENCH_OUT.json must still hold it."""
    import json

    import bench

    (tmp_path / "BENCH_LOCAL.json").write_text("{}")
    result = {
        "metric": "headline_queries_total_sec",
        "value": 1.0,
        "unit": "sec",
        "queries": {"a": 1.0},
        "extended": {"b": 2.0},
        "extended_total_sec": 2.0,
        "extended_runs": 3,
        "loads": {"a": 0.1, "b": 0.2},
        "excluded": {},
        "sf": "0.1",
    }
    bench.emit(result, str(tmp_path))
    captured = capsys.readouterr()
    assert captured.out.splitlines()[-1] == json.dumps(result)
    assert "bench history not recorded" in captured.err
    assert (tmp_path / "BENCH_OUT.json").read_text() == json.dumps(result) + "\n"
    assert (tmp_path / "BENCH_LOCAL.json").read_text() == "{}"


def test_bench_headline_membership_invariants():
    """Every HEADLINE name is a registered lane, no duplicates, and the
    frozen membership stays at 147 so `value` remains round-comparable
    (new lanes land in the extended group automatically)."""
    import bench

    from sf_etl_spark.queries import all_queries

    names = set(all_queries())
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 147
    missing = [n for n in bench.HEADLINE if n not in names]
    assert not missing


def test_recorder_merges_non_headline_across_rename():
    """The oneshot→extended rename landing mid-recording must pair the
    same lane population, not intersect to empty (r14 review pass)."""
    import importlib

    rbl = importlib.import_module("record_bench_local")
    # exercise the merge logic the way main() does, on synthetic runs
    runs = [
        {"queries": {"a": 1.0}, "oneshot": {"x": 5.0, "y": 7.0}, "loads": {}},
        {"queries": {"a": 0.9}, "extended": {"x": 4.0, "y": 9.0}, "loads": {}},
    ]
    # replicate merge_group("non-headline", ("oneshot","extended"))
    per_run = [
        {n: t for k in ("oneshot", "extended") for n, t in r.get(k, {}).items()}
        for r in runs
    ]
    common = set(per_run[0])
    for m in per_run[1:]:
        common &= set(m)
    assert common == {"x", "y"}
    best = {n: min(m[n] for m in per_run) for n in common}
    assert best == {"x": 4.0, "y": 7.0}
    assert rbl  # module imports cleanly alongside bench_history


def test_bench_and_recorder_entry_shapes_identical():
    """r14 verdict task 6: both BENCH_LOCAL writers — bench.py's
    per-invocation append and tools/record_bench_local.py's merged
    noted entry — must emit the SAME key set in the SAME order, via
    the shared bench_history.entry_dict. The r14 'final' entry lacked
    extended_runs because the merge tool predated the field."""
    import importlib

    from bench_history import ENTRY_KEYS, entry_dict

    rbl = importlib.import_module("record_bench_local")
    fake_runs = [
        {
            "metric": "headline_queries_total_sec",
            "value": 10.0,
            "unit": "sec",
            "queries": {"a": 4.0, "b": 6.0},
            "extended": {"c": 1.0},
            "extended_total_sec": 1.0,
            "extended_runs": 3,
            "loads": {"a": 1.0, "b": 1.2, "c": 0.9},
            "excluded": {},
            "sf": "0.1",
        },
        {
            "metric": "headline_queries_total_sec",
            "value": 9.0,
            "unit": "sec",
            "queries": {"a": 3.0, "b": 6.5},
            "extended": {"c": 0.8},
            "extended_total_sec": 0.8,
            "extended_runs": 3,
            "loads": {"a": 1.1, "b": 1.0, "c": 0.8},
            "excluded": {},
            "sf": "0.1",
        },
    ]
    merged = rbl.merged_entry(fake_runs, note="test", load1=0.5)
    direct = entry_dict(
        recorded_at="2026-01-01T00:00:00",
        runs=3,
        load_1m=0.5,
        contended=False,
        note="",
        metric="headline_queries_total_sec",
        value=10.0,
        queries={"a": 4.0},
        extended={"c": 1.0},
        extended_runs=3,
        loads={"a": 1.0},
        excluded={},
        sf="0.1",
    )
    assert tuple(merged) == tuple(direct) == ENTRY_KEYS
    # the merge keeps per-lane minima and books the total repeat count
    assert merged["queries"] == {"a": 3.0, "b": 6.0}
    assert merged["extended"] == {"c": 0.8}
    # 'runs' and 'extended_runs' carry ONE meaning in both writers:
    # total repeats the minima are over (2 invocations x best-of-3)
    assert merged["runs"] == merged["extended_runs"] == 6
    assert merged["value"] == 9.0
    assert merged["note"] == "test"

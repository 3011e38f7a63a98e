"""Unit tests for the bench bookkeeping that the round workflow leans
on: bench.py's lane-timing core and driver output, the append-only
history, the entry-level contended flag, and the bench lane-set
invariants. Pure-Python — no Spark session: lanes, session and clock
are stubs.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import bench  # noqa: E402
from bench import HISTORY, append_entry, load_history  # noqa: E402
from bench_history import (  # noqa: E402
    IN_RUN_LOAD_CEILING,
    contended,
    noted_pair,
)

GOLDEN = os.path.join(REPO, "tests", "golden", "bench_stub_line.json")


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


def test_mixed_sf_history_pairs_by_sf():
    """sf1-leg entries (sf="1probe") are noted but never pair with an
    sf0.1 entry."""
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


def test_migrated_history_loads_as_the_split_files_did():
    """BENCH_LOCAL.jsonl holds the 89 entries the archive+inline JSON
    pair held (85 archived, 4 inline), in the order the old loader
    returned them, and bench_diff's default pair is unchanged. The
    digest is of json.dumps over the old loader's list."""
    hist = load_history(REPO)[:89]  # later runs append after these
    assert len(hist) == 89
    digest = hashlib.sha256(json.dumps(hist).encode()).hexdigest()
    assert digest == "a0ad7ecd1fc529f4f8874a57b969549b2e9c7e147b2988aed37636dd0e7a67ed"
    old, new = noted_pair(hist)
    assert (old["recorded_at"], new["recorded_at"]) == (
        "2026-08-18T06:05:01",
        "2026-08-18T06:31:34",
    )


_RESULT = {
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


def test_bench_result_line_survives_history_failure(tmp_path, capsys):
    """A history that cannot be appended (here a directory in its
    place) makes the append raise; the result line must still be the
    last stdout line, and BENCH_OUT.json must still hold it."""
    (tmp_path / HISTORY).mkdir()
    bench.emit(_RESULT, str(tmp_path))
    captured = capsys.readouterr()
    assert captured.out.splitlines()[-1] == json.dumps(_RESULT)
    assert "bench history not recorded" in captured.err
    assert (tmp_path / "BENCH_OUT.json").read_text() == json.dumps(_RESULT) + "\n"
    assert (tmp_path / HISTORY).is_dir()


def test_emit_appends_one_line_and_keeps_a_torn_history(tmp_path, capsys):
    """An interrupted writer leaves a torn last line. The next emit
    must keep every earlier byte, terminate the torn line, and append
    exactly one entry; loading skips the torn line with a warning.
    (The JSON-array history replaced an unparsable file with a
    one-entry list, dropping every earlier entry.)"""
    path = tmp_path / HISTORY
    good = "".join(json.dumps({"recorded_at": f"t{i}", "note": ""}) + "\n" for i in range(3))
    path.write_bytes(good.encode() + b'{"recorded_at": "t3", "que')
    before = path.read_bytes()
    bench.emit(_RESULT, str(tmp_path))
    after = path.read_bytes()
    assert after.startswith(before)
    lines = after.decode().splitlines()
    assert len(lines) == 5 and after.endswith(b"\n")
    assert json.loads(lines[-1])["queries"] == _RESULT["queries"]
    capsys.readouterr()
    hist = load_history(str(tmp_path))
    assert [e["recorded_at"] for e in hist[:3]] == ["t0", "t1", "t2"]
    assert hist[3]["value"] == _RESULT["value"] and len(hist) == 4
    assert "line 4 does not parse" in capsys.readouterr().err


def test_append_entry_never_rewrites_earlier_lines(tmp_path):
    """Each append adds bytes at the end only: the earlier content is a
    byte prefix of the later file, whatever its size."""
    append_entry(str(tmp_path), {"recorded_at": "t0"})
    first = (tmp_path / HISTORY).read_bytes()
    append_entry(str(tmp_path), {"recorded_at": "t1"})
    assert (tmp_path / HISTORY).read_bytes() == first + b'{"recorded_at": "t1"}\n'
    assert [e["recorded_at"] for e in load_history(str(tmp_path))] == ["t0", "t1"]


class _StubLanes:
    """Stub registry, session and clock for driving bench.py's timing
    without Spark. Each count() advances a fake perf_counter by a
    duration fixed by the lane and its repeat number, so the timings
    do not depend on how often the timer reads the clock."""

    def __init__(self, names):
        self.now = 0.0
        self.built: list[str] = []  # lanes in construction order
        self.repeats: dict[str, int] = {}
        self.specs = {n: types.SimpleNamespace(fn=self._lane(i, n)) for i, n in enumerate(names)}
        self.sparkContext = self

    def _lane(self, i, name):
        stub = self

        class DF:
            def count(self):
                r = stub.repeats.get(name, 0)
                stub.repeats[name] = r + 1
                stub.now += 0.05 + ((i * 37 + r * 11) % 97) * 0.0071
                return 0

            @property
            def write(self):
                save = types.SimpleNamespace(save=self.count)
                mode = types.SimpleNamespace(mode=lambda _m: save)
                return types.SimpleNamespace(format=lambda _f: mode)

        def fn(spark, sf_dir):
            stub.built.append(name)
            return DF()

        return fn

    def setLogLevel(self, level):
        pass

    def setJobDescription(self, desc):
        pass

    def stop(self):
        pass

    def install(self, monkeypatch):
        monkeypatch.setattr("sf_etl_spark.queries.all_queries", lambda: self.specs)
        monkeypatch.setattr("sf_etl_spark.session.get_spark", lambda *a, **k: self)
        monkeypatch.setattr(
            bench, "time", types.SimpleNamespace(perf_counter=lambda: self.now, strftime=time.strftime)
        )
        monkeypatch.setattr(os, "getloadavg", lambda: (round(self.now % 7, 3), 0.0, 0.0))


def test_bench_output_matches_golden(tmp_path, monkeypatch, capsys):
    """bench.py's main() over stub lanes and a fixed clock prints, as
    its last stdout line, and writes to BENCH_OUT.json exactly the
    bytes the pre-core bench.py produced for the same timings (the
    golden file was captured from that code), and appends one entry."""
    names = ["ext_b", *bench.HEADLINE[:70], "stream_sink_sfetl_native", *bench.HEADLINE[70:], "ext_a"]
    lanes = _StubLanes(names)
    lanes.install(monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.delenv("SPARK_GRAFT_BENCH_RUNS", raising=False)
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    bench.main()
    with open(GOLDEN) as f:
        golden = f.read()
    assert capsys.readouterr().out.splitlines()[-1] + "\n" == golden
    assert (tmp_path / "BENCH_OUT.json").read_text() == golden
    assert len(load_history(str(tmp_path))) == 1
    assert lanes.built[:2] == ["q5_revenue_by_nation", "stream_sink_sfetl_native"]


@pytest.mark.parametrize("tool", ["opt_measure", "sf1_leg"])
def test_tools_time_through_the_bench_warm_up(tool, tmp_path, monkeypatch, capsys):
    """opt_measure and sf1_leg warm up exactly as bench.py does (q5,
    then the streaming/DataSource machinery) before timing their first
    lane; opt_measure used to warm q5 only, so its first stream or
    sfetl lane absorbed the session spin-up. sf1_leg appends its
    entry to the history; opt_measure reports each lane's Python-worker
    CPU per run, read under the JVM around that lane's runs."""
    import importlib

    mod = importlib.import_module(tool)
    lanes = _StubLanes(["q5_revenue_by_nation", "stream_sink_sfetl_native", "lane_a", "lane_b"])
    lanes.install(monkeypatch)
    monkeypatch.setattr(mod, "REPO", str(tmp_path), raising=False)
    if tool == "opt_measure":
        # one fake CPU second per count() of lane_b, none for lane_a
        monkeypatch.setattr(mod, "_jvm_pid", lambda spark: 4242)
        monkeypatch.setattr(
            "perfbench.procfs.tree_cpu_s",
            lambda root, prefix: float(lanes.repeats.get("lane_b", 0))
            if (root, prefix) == (4242, "python")
            else -1.0,
        )
    argv = (
        ["lane_a", "lane_b", "--runs", "2", "--sf-dir", str(tmp_path)]
        if tool == "opt_measure"
        else ["--lanes", "lane_a,lane_b", "--runs", "2", "--sf-dir", str(tmp_path)]
    )
    monkeypatch.setattr(sys, "argv", [tool, *argv])
    mod.main()
    assert lanes.built == [
        "q5_revenue_by_nation",
        "stream_sink_sfetl_native",
        "lane_a",
        "lane_a",
        "lane_b",
        "lane_b",
    ]
    out = json.loads(capsys.readouterr().out.splitlines()[-1])
    timings = out.get("timings", out.get("queries"))
    assert set(timings) == {"lane_a", "lane_b"}
    if tool == "opt_measure":
        assert out["pyworker_cpu_s"] == {"lane_a": 0.0, "lane_b": 1.0}
    if tool == "sf1_leg":
        (entry,) = load_history(str(tmp_path))
        assert entry["sf"] == "1probe" and entry["queries"] == timings


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

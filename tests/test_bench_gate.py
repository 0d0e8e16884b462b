"""The bench regression gate must merge per-qid datapoints across ALL
recorded driver rounds (per-qid MIN over the newest 3 rounds, so one
host-noisy round can neither loosen nor permanently tighten the gate)
and survive both on-disk formats (parsed "queries" dict vs
head-truncated "tail" string).
Every recorded round so far is tail-truncated — r4's tail carries only
81 of 114 qids — so a newest-round-only reference silently dropped the
a/b/c/d block from the gate (the r4 verdict's one red test)."""

from __future__ import annotations

import importlib.util
import json
import os


def _bench_module():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_reference_merges_all_recorded_rounds():
    ref = _bench_module()._reference()
    assert len(ref) > 100, "gate reference empty or truncated — gate silently off"
    assert all(v >= 0 for v in ref.values())
    # the head-of-alphabet block lives only in older rounds' tails —
    # present iff the merge actually spans rounds
    assert "a_scan_parquet" in ref or "b_filter_pred" in ref
    # and the newest round's datapoints must win for qids it carries
    assert "j_dedup_near" in ref


def test_reference_is_min_over_newest_three_rounds(tmp_path, monkeypatch):
    b = _bench_module()
    # r98 (tail format) has old_qid + shared_qid; r99 (parsed) has
    # new_qid + a newer shared_qid. Merge keeps all three; shared_qid's
    # reference is min over its newest rounds (2.0 < 5.0); errors (-1)
    # and the "sf" pair are dropped.
    (tmp_path / "BENCH_r98.json").write_text(
        json.dumps({"tail": '"old_qid": 9.9, "shared_qid": 5.0, "sf": 0.1'})
    )
    (tmp_path / "BENCH_r99.json").write_text(
        json.dumps(
            {"n": 1, "parsed": {"queries": {"new_qid": 1.5, "shared_qid": 2.0, "skipped": -1.0}}}
        )
    )
    monkeypatch.setattr(b.os.path, "dirname", lambda _: str(tmp_path))
    ref = b._reference()
    assert ref == {"old_qid": 9.9, "shared_qid": 2.0, "new_qid": 1.5}, ref


def test_noisy_newest_round_cannot_loosen_the_gate(tmp_path, monkeypatch):
    """The r14 incident, pinned: one host-noisy round recording a 2x-
    inflated datapoint (j_entropy_rate 1.26s vs the healthy 0.607s) must
    NOT become the gate reference — min over the newest 3 rounds keeps
    the healthy value in force. Conversely a qid that has been slow for
    3 consecutive rounds IS the new steady state and the reference
    follows it (the gate tracks persistent change, not one bad host)."""
    b = _bench_module()
    for rnd, q_val, steady_val in [
        (96, 0.62, 4.0),
        (97, 0.60, 4.1),
        (98, 0.61, 4.2),
        (99, 1.26, 4.0),  # newest round: q inflated 2x by host noise
    ]:
        (tmp_path / f"BENCH_r{rnd}.json").write_text(
            json.dumps({"queries": {"q": q_val, "steady": steady_val}})
        )
    monkeypatch.setattr(b.os.path, "dirname", lambda _: str(tmp_path))
    ref = b._reference()
    # q: min(1.26, 0.61, 0.60) over newest 3 — the healthy 0.60 holds
    assert ref["q"] == 0.60, ref
    # steady: the r96 fast datapoint aged out of the 3-round window
    assert ref["steady"] == 4.0, ref


def test_full_file_wins_over_tail_within_a_round(tmp_path, monkeypatch):
    """One datapoint per (qid, round): when both the driver's truncated
    tail capture and the committed full record exist for the same round,
    the full file's value is the round's datapoint — the tail must not
    contribute a second value to the min window."""
    b = _bench_module()
    (tmp_path / "BENCH_r99.json").write_text(
        json.dumps({"tail": '"q": 0.1, "sf": 0.1'})  # bogus-fast tail
    )
    (tmp_path / "BENCH_full_r99.json").write_text(
        json.dumps({"queries": {"q": 1.0}})
    )
    monkeypatch.setattr(b.os.path, "dirname", lambda _: str(tmp_path))
    assert b._reference() == {"q": 1.0}


def test_reference_ignores_current_rounds_own_full_file(tmp_path, monkeypatch):
    """A BENCH_full_r{N}.json written EARLIER IN THE SAME ROUND must not
    become the gate reference for round N's later bench runs — otherwise
    a slowdown introduced mid-round gates against itself instead of
    against the previous round (the r6 multimodal mechanism). The round
    number comes from PROGRESS.jsonl; prior rounds' full files still
    participate."""
    b = _bench_module()
    (tmp_path / "PROGRESS.jsonl").write_text(
        json.dumps({"round": 98}) + "\n" + json.dumps({"round": 99}) + "\n"
    )
    # prior round: slow datapoint (the legitimate reference)
    (tmp_path / "BENCH_full_r98.json").write_text(
        json.dumps({"queries": {"q": 1.0}})
    )
    # same-round full file carrying a regressed value — must be ignored
    (tmp_path / "BENCH_full_r99.json").write_text(
        json.dumps({"queries": {"q": 9.0, "only_in_cur": 3.0}})
    )
    # the driver's captured BENCH_r99.json is written AFTER the round's
    # bench runs, so it never self-references; if present it still counts
    (tmp_path / "BENCH_r99.json").write_text(
        json.dumps({"queries": {"driver_q": 2.0}})
    )
    monkeypatch.setattr(b.os.path, "dirname", lambda _: str(tmp_path))
    ref = b._reference()
    assert ref == {"q": 1.0, "driver_q": 2.0}, ref


def test_no_registered_qid_is_a_proper_suffix_of_another():
    """Tail extraction can yield truncated keys ("rs_wx" from "aprs_wx").
    Those are inert only while no registered qid is a proper suffix of
    another — pin that invariant so a future qid name can't silently
    poison the gate reference."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    qids = sorted(QUERIES)
    clashes = [
        (a, b)
        for a in qids
        for b in qids
        if a != b and b.endswith(a)
    ]
    assert not clashes, f"qid suffix collisions would poison tail parsing: {clashes}"


def test_gate_detects_synthetic_2x_slowdown_but_default_rc_is_zero():
    """r16 VERDICT item 1, both halves pinned: the gate still CATCHES a
    synthetic 2x slowdown (detection is unchanged), but a flag only
    produces a nonzero exit under an explicit
    SPARK_GRAFT_BENCH_GATE=strict opt-in — the driver's official
    artifact must never exit rc=1 on a noise draw (r16's driver run did,
    on a code-untouched qid reading 3.22s cold vs a 1.57s reference)."""
    b = _bench_module()
    # detection: a genuine 2x slowdown past the +0.5s noise floor flags
    assert b._violates(3.2, 1.5)          # 2.13x and +1.7s — caught
    assert b._violates(10.0, 2.0)         # gross regression — caught
    # ...while noise-class draws do not
    assert not b._violates(0.9, 0.5)      # sub-second, inside the floor
    assert not b._violates(2.9, 1.5)      # under 2x
    assert not b._violates(-1.0, 1.5)     # error datapoints never gate
    # exit policy: warn by default, hard-fail only under strict
    assert b._gate_rc(1, "warn") == 0
    assert b._gate_rc(3, "on") == 0       # legacy value: also warn-only
    assert b._gate_rc(1, "strict") == 1
    assert b._gate_rc(0, "strict") == 0
    # and the default mode in main() is warn (source pin: the env
    # default must not silently revert to a hard-exit value)
    import inspect

    src = inspect.getsource(b.main)
    assert 'os.environ.get("SPARK_GRAFT_BENCH_GATE", "warn")' in src


def test_legacy_or_unknown_gate_mode_warns_on_stderr(capsys):
    """SPARK_GRAFT_BENCH_GATE=on used to be the hard stop (before r16).
    It now runs warn-only like any unknown value, so the bench prints
    one stderr line naming strict as the hard stop. The rc is unchanged
    (the test above pins _gate_rc(3, "on") == 0)."""
    b = _bench_module()
    for mode in ("on", "hard"):
        b._warn_unknown_gate_mode(mode)
        err = capsys.readouterr().err
        assert err.count("\n") == 1
        assert repr(mode) in err and "warn-only" in err and "strict" in err
    for mode in ("warn", "strict", "off"):
        b._warn_unknown_gate_mode(mode)
        assert capsys.readouterr().err == ""


def test_record_field_order_survives_tail_truncation():
    """r16 VERDICT item 2: the one-line JSON must keep its decisive
    fields at the END so the driver's tail-truncating capture retains
    them — "value" is the final key, "queries" immediately before it,
    and a simulated truncated tail still yields the total plus the
    trailing qids via the same regex _reference uses on tails."""
    import re

    b = _bench_module()
    timings = {f"q_{c}": 1.0 for c in "abcdefghij"}
    rec = b._record(timings, 0.1, 2, 0.05, 0.05)
    line = json.dumps(rec)
    assert list(rec)[-2:] == ["queries", "value"]
    assert rec["value"] == 10.0
    # simulate the driver keeping only the last ~90 bytes of the line
    tail = line[-90:]
    pairs = {
        m.group(1): float(m.group(2))
        for m in re.finditer(r'"([a-z0-9_]+)": ([0-9.]+)', tail)
    }
    assert pairs.get("value") == 10.0, (tail, pairs)
    assert "q_j" in pairs, (tail, pairs)  # trailing qids survive


def test_stale_fast_datapoint_outside_recency_window_cannot_tighten(
    tmp_path, monkeypatch
):
    """ADVICE r15: a qid absent from recent rounds (tail truncation)
    must not be gated by a stale fast datapoint from a different host
    era. Only the newest _RECENT_ROUNDS recorded rounds feed the min;
    a qid with no datapoint there falls back to its single newest one."""
    b = _bench_module()
    # 8 recorded rounds; "ghost" was benched only in the two OLDEST
    # (one suspiciously fast), "live" appears everywhere.
    for rnd in range(90, 98):
        q = {"live": 1.0 + (rnd % 3) * 0.1}
        if rnd in (90, 91):
            q["ghost"] = 0.2 if rnd == 90 else 3.0
        (tmp_path / f"BENCH_r{rnd}.json").write_text(json.dumps({"queries": q}))
    monkeypatch.setattr(b.os.path, "dirname", lambda _: str(tmp_path))
    ref = b._reference()
    # recency window = r92..r97; ghost has nothing there -> newest
    # datapoint (r91's 3.0), NOT the stale-fast 0.2 min
    assert ref["ghost"] == 3.0, ref
    # live: min over its newest 3 in-window datapoints, unchanged rule
    assert ref["live"] == min(1.0 + (r % 3) * 0.1 for r in (95, 96, 97)), ref

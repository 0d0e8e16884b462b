"""The bench regression gate reads its reference from the driver's own
records (BENCH_r*.json with a parsed "queries" dict), at the run's core
count only: per qid, the MIN over the newest 3 such records, so one
host-noisy round can neither loosen nor permanently tighten the gate,
and a record taken at another core count never enters."""

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


def _write_record(path, rnd: int, cpus: int, queries: dict) -> None:
    """A driver record as the driver writes it: round and core count at
    the top, the bench's output line parsed under "parsed"."""
    path.write_text(
        json.dumps({"n": rnd, "cpus": cpus, "sf": 0.1, "parsed": {"n": 2, "queries": queries}})
    )


def test_reference_merges_all_recorded_rounds():
    """The committed driver records cover every registered qid at each
    core count they were taken at (32 and 8)."""
    from aprsdb_spark.registry import QUERIES, load_all

    load_all()
    b = _bench_module()
    for cpus in (32, 8):
        ref = b._reference(cpus)
        assert set(ref) == set(QUERIES), (cpus, sorted(set(QUERIES) ^ set(ref))[:10])
        assert all(v >= 0 for v in ref.values())


def test_reference_is_min_over_newest_three_rounds(tmp_path, monkeypatch):
    """Per qid, the min over the newest 3 records (by round "n", not by
    file name): the r96 fast datapoint has aged out. Error datapoints
    (-1) are dropped, and records without a parsed dict are skipped."""
    b = _bench_module()
    for rnd, q, extra in [
        (96, 0.1, {}),
        (97, 2.0, {"new_qid": 1.5}),
        (98, 5.0, {"skipped": -1.0}),
        (100, 3.0, {}),
    ]:
        _write_record(tmp_path / f"BENCH_r{rnd}.json", rnd, 32, {"q": q, **extra})
    (tmp_path / "BENCH_r99.json").write_text(
        json.dumps({"n": 99, "cpus": 32, "tail": '"q": 0.01', "parsed": None})
    )
    monkeypatch.setattr(b.os.path, "dirname", lambda _: str(tmp_path))
    assert b._reference(32) == {"q": 2.0, "new_qid": 1.5}


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
        _write_record(
            tmp_path / f"BENCH_r{rnd}.json", rnd, 32, {"q": q_val, "steady": steady_val}
        )
    monkeypatch.setattr(b.os.path, "dirname", lambda _: str(tmp_path))
    ref = b._reference(32)
    # q: min(1.26, 0.61, 0.60) over newest 3 — the healthy 0.60 holds
    assert ref["q"] == 0.60, ref
    # steady: the r96 fast datapoint aged out of the 3-round window
    assert ref["steady"] == 4.0, ref


def test_record_at_another_core_count_never_enters(tmp_path, monkeypatch):
    """The same round recorded at 8 and at 32 cores: each core count's
    reference is its own record, however much faster the other is."""
    b = _bench_module()
    _write_record(tmp_path / "BENCH_r99.json", 99, 32, {"q": 1.0})
    _write_record(tmp_path / "BENCH_r99_c8.json", 99, 8, {"q": 3.0})
    monkeypatch.setattr(b.os.path, "dirname", lambda _: str(tmp_path))
    assert b._reference(32) == {"q": 1.0}
    assert b._reference(8) == {"q": 3.0}


def test_missing_reference_prints_one_line_and_skips(tmp_path, monkeypatch, capsys):
    """With no record at the run's core count the reference is empty, so
    the gate flags nothing, and one stderr line names the run's core
    count and the counts that do have records. Reading the reference
    needs no Spark session."""
    b = _bench_module()
    _write_record(tmp_path / "BENCH_r99.json", 99, 32, {"q": 1.0})
    _write_record(tmp_path / "BENCH_r99_c8.json", 99, 8, {"q": 3.0})
    monkeypatch.setattr(b.os.path, "dirname", lambda _: str(tmp_path))
    assert b._reference(4) == {}
    err = capsys.readouterr().err
    assert err.count("\n") == 1, err
    assert "4 cores" in err and "[8, 32]" in err, err


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
    fields at the END so a tail-truncating capture retains them —
    "value" is the final key, "queries" immediately before it, the core
    count sits among the metadata at the head, and a simulated truncated
    tail still yields the total plus the trailing qids."""
    import re

    b = _bench_module()
    timings = {f"q_{c}": 1.0 for c in "abcdefghij"}
    rec = b._record(timings, 0.1, 2, 4, 0.05, 0.05)
    line = json.dumps(rec)
    assert list(rec)[-2:] == ["queries", "value"]
    assert rec["value"] == 10.0
    assert rec["cpus"] == 4 and list(rec).index("cpus") < list(rec).index("queries")
    # simulate a capture keeping only the last ~90 bytes of the line
    tail = line[-90:]
    pairs = {
        m.group(1): float(m.group(2))
        for m in re.finditer(r'"([a-z0-9_]+)": ([0-9.]+)', tail)
    }
    assert pairs.get("value") == 10.0, (tail, pairs)
    assert "q_j" in pairs, (tail, pairs)  # trailing qids survive

"""The driver scores exactly the first 50 entries of queries() and stops
(every CORRECTNESS_r{N}.json ends at registry position 50). The window
is derived from those committed files (registry.scored_window), so these
tests pin the rule's outcome against the evidence: never-scored and
stale qids are inside it, and replaying the rule on older rounds gives
the window the driver actually scored.
"""

from __future__ import annotations

import math

import __spark_entry__ as entry_mod
from aprsdb_spark.registry import CANARIES, QUERIES, correctness_rounds, scored_window


def _first50() -> list[str]:
    return list(entry_mod.queries())[:50]


def _scored_ever() -> set[str]:
    """Every qid with a driver CORRECTNESS row in any recorded round."""
    return set().union(*correctness_rounds().values())


def test_never_scored_qids_fit_the_driver_window():
    """A qid with no driver row yet must be in the scored window, or it
    can never be verified by the hard signal."""
    never_scored = set(entry_mod.queries()) - _scored_ever()
    missing = never_scored - set(_first50())
    assert not missing, f"qids outside the driver's scored window: {sorted(missing)}"


def test_no_qid_waits_beyond_rotation_capacity():
    """Rotation-age bound, derived from capacity: the window has 48
    non-canary slots, so re-scoring all N registered qids takes
    ceil(N/48) rounds. A qid whose newest driver row is that many
    rounds older than the newest recorded round must be in the window."""
    rounds = correctness_rounds()
    newest = max(rounds)
    latest = {q: rnd for rnd in sorted(rounds) for q in rounds[rnd]}
    qs = entry_mod.queries()
    bound = max(4, math.ceil(len(qs) / 48))
    stale = {q for q, rnd in latest.items() if newest - rnd >= bound and q in qs}
    waiting = stale - set(_first50())
    assert not waiting, (
        f"qids whose latest driver row is >={bound} rounds old and are "
        f"not in the scored window: {sorted(waiting)}"
    )


def test_artifacts_exist_so_derivation_is_meaningful():
    # an empty evidence set would put only never-scored qids in the
    # window and vacuously pass the tests above (e.g. a broken glob)
    rounds = correctness_rounds()
    assert len(rounds) >= 17, f"only rounds {sorted(rounds)} found — artifact glob broken?"
    scored = _scored_ever()
    assert len(scored) >= 100, f"only {len(scored)} scored qids found — artifact glob broken?"


def test_scored_window_is_50_distinct_registered_qids_between_canaries():
    head = _first50()
    assert head[0] == CANARIES[0] and head[-1] == CANARIES[1]
    assert len(set(head)) == 50
    assert set(head) <= set(QUERIES)


def test_rule_replays_the_r16_window():
    """The rule, given only the evidence up to r15 and the qids the
    driver had scored by r16 (in registration order), picks exactly the
    50 qids CORRECTNESS_r16.json holds. Checked against evidence, not
    against any hand-kept list."""
    rounds = correctness_rounds()
    scored_by_r16 = set().union(*(rows for rnd, rows in rounds.items() if rnd <= 16))
    qids = [q for q in QUERIES if q in scored_by_r16]
    older = {rnd: rows for rnd, rows in rounds.items() if rnd <= 15}
    assert set(scored_window(qids, older)) == rounds[16]


def test_window_does_not_depend_on_cwd(tmp_path, monkeypatch):
    """The driver imports the package from a temp dir: the evidence is
    found from the package's location, not the working directory."""
    head = _first50()
    monkeypatch.chdir(tmp_path)
    assert _first50() == head


def test_queries_and_oracle_share_the_rotation():
    """oracle_sql() holds the same qids as queries(), in the same head
    order — the driver zips positionally over its own iteration, and the
    registry requires every qid to ship a DuckDB value oracle."""
    assert list(entry_mod.queries()) == list(entry_mod.oracle_sql())


def test_full_registry_is_preserved():
    qs = entry_mod.queries()
    assert len(qs) >= 96
    assert len(set(qs)) == len(qs)

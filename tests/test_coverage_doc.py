"""COVERAGE.md is GENERATED from the registry (scripts/regen_coverage.py)
and claims its counts "cannot drift from the code" — this test makes the
claim true: the table's row set must equal the registry's qid set, and
the header count line must quote the real numbers. A new qid registered
without rerunning the regen script goes red here, not unnoticed."""

from __future__ import annotations

import os
import re

from aprsdb_spark.registry import QUERIES, load_all

load_all()

_DOC = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")


def _table_qids() -> set[str]:
    with open(_DOC) as f:
        return set(re.findall(r"^\| `([a-z0-9_]+)` \|", f.read(), re.M))


def test_coverage_table_matches_registry():
    doc = _table_qids()
    reg = set(QUERIES)
    missing = sorted(reg - doc)
    stale = sorted(doc - reg)
    assert not missing, f"qids registered but absent from COVERAGE.md: {missing}"
    assert not stale, f"COVERAGE.md rows for unregistered qids: {stale}"


def test_coverage_header_counts_are_real():
    with open(_DOC) as f:
        head = f.read().split("| qid |")[0]
    m = re.search(r"(\d+) registered qids, each DuckDB-oracle-checked", head)
    assert m, "COVERAGE.md count line missing or reformatted"
    n = int(m.group(1))
    assert n == len(QUERIES), f"header says {n}, registry has {len(QUERIES)}"

"""Self-run mirror of the driver's t2 gate: every qid (the registry
requires an oracle) is run on Spark AND DuckDB at sf0.01 and compared on
count+schema+values."""

from __future__ import annotations

import pytest

from tests.conftest import compare_query


def _registry():
    import __spark_entry__ as entry_mod

    return entry_mod.queries(), entry_mod.oracle_sql()


QUERIES, ORACLE = _registry()

# The ONLY qids whose result is legitimately empty at sf0.01 (an
# anti-join and a set-difference that correctly find nothing in this
# fixture). Everything else must return rows: an empty relation
# hash-matches an empty oracle, so without this gate a qid that
# computes nothing passes the whole compare vacuously — j_good_turing's
# unigram draft did exactly that in r14 until its trigram rewrite
# (SCALE.md §4u). A new legitimately-empty qid gets listed HERE, by
# name, not waved through.
_EMPTY_OK = {"c_join_anti", "g_except"}


@pytest.mark.parametrize("qid", sorted(ORACLE))
def test_oracle_match(spark, duck, qid):
    n = compare_query(spark, duck, QUERIES[qid], ORACLE[qid])
    assert n > 0 or qid in _EMPTY_OK, (
        f"{qid}: empty result matched an empty oracle — vacuous pass "
        f"(add to _EMPTY_OK only if emptiness is the correct answer)"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns

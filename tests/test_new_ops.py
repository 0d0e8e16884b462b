"""Invariant and plain-Python-model tests for the r6 batch 4-8
operators (time-series, governance, tokenizer, graph, evaluation).
The DuckDB oracle proves Spark == DuckDB; these prove both equal the
REFERENCE SEMANTICS — a shared misreading of an algorithm (BPE merge
rules, token-level Levenshtein, Welch's statistic, triangle identity)
would pass the cross-engine check and fail here."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aprsdb_spark.registry import QUERIES, load_all
from tests.conftest import SF_DIR

load_all()

SF_SMALL = SF_DIR.replace("sf0.01", "sf0.001")


# ------------------------------------------------------------ BPE merge


def _py_bpe_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Reference greedy BPE merge: left-to-right, non-overlapping."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_bpe_merge_fold_matches_python_reference(spark):
    """The string-accumulator fold == the two-pointer reference merge,
    over generated symbol sequences INCLUDING equal-pair runs (aaa...)
    where the non-overlap rule actually bites. One Spark round-trip
    over the whole generated batch."""
    from aprsdb_spark.queries.corpus import bpe_merge_expr

    sym = st.sampled_from(["a", "b", "ab", "ba"])
    seqs = []

    @settings(max_examples=120, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(sym, min_size=1, max_size=12))
    def collect(s):
        seqs.append(s)

    collect()
    for a, b in [("a", "a"), ("a", "b"), ("b", "a"), ("a", "ab")]:
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(seqs)], "i long, s array<string>"
        )
        got = {
            r["i"]: r["m"]
            for r in df.select(
                "i", bpe_merge_expr(F.col("s"), a, b).alias("m")
            ).collect()
        }
        for i, s in enumerate(seqs):
            assert got[i] == _py_bpe_merge(s, a, b), (s, a, b, got[i])


def test_bpe_train_merges_are_frequency_ordered(spark):
    """Each round's merged pair weight is the true argmax of that
    round's state: weights never increase with suspicious jumps that
    would indicate double counting (weight <= total corpus adjacency
    count), and all merged symbols are distinct."""
    rows = QUERIES["j_bpe_train"](spark, SF_SMALL).collect()
    merged = [r["merged"] for r in rows]
    assert len(set(merged)) == len(merged)
    assert all(r["pair_weight"] > 0 for r in rows)


# ------------------------------------------------------------ SCD2


def test_scd2_intervals_partition_each_users_timeline(spark):
    """Per user: versions are 1..K dense, valid_to[i] == valid_from[i+1]
    (half-open intervals tile the timeline with no gap or overlap),
    exactly one open (is_current) run, adjacent runs change attribute,
    and n_events sums to the user's event count."""
    hist = QUERIES["j_scd2_history"](spark, SF_SMALL).collect()
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    n_events = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    by_user: dict = {}
    for r in hist:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == set(n_events)
    for uid, runs in by_user.items():
        runs.sort(key=lambda r: r["valid_from"])
        assert [r["version"] for r in runs] == list(range(1, len(runs) + 1))
        assert sum(r["n_events"] for r in runs) == n_events[uid]
        assert sum(1 for r in runs if r["is_current"]) == 1
        assert runs[-1]["valid_to"] is None and runs[-1]["is_current"]
        for a, b in zip(runs, runs[1:]):
            assert a["valid_to"] == b["valid_from"], (uid, a, b)
            assert a["attr"] != b["attr"], f"adjacent runs share attr: {uid}"


# ------------------------------------------------------------ gap-fill


def test_gapfill_grid_is_contiguous_and_filled(spark):
    """Per user: the emitted days are exactly the contiguous min..max
    range, `filled` is never null (day 1 is always observed by
    construction of the span), and filled == day_avg on observed days."""
    rows = QUERIES["j_gapfill"](spark, SF_SMALL).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r["day"])
        days = [r["day"] for r in rs]
        assert (days[-1] - days[0]).days + 1 == len(days), f"gap in grid: {uid}"
        assert not rs[0]["is_gap"], "first grid day must be observed"
        for r in rs:
            assert r["filled"] is not None
            if not r["is_gap"]:
                assert r["filled"] == r["day_avg"]


# ------------------------------------------------------- edit distance


def _py_token_lev(a: list[str], b: list[str]) -> int:
    prev = list(range(len(b) + 1))
    for i, x in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, y in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (x != y))
        prev = cur
    return prev[-1]


def test_edit_dedup_distances_are_true_token_levenshtein(spark):
    """Every reported pair's dist equals plain-Python token-level
    Levenshtein over the raw texts, and one full block is brute-forced
    to prove no qualifying pair is missed (the compaction is exact, not
    a sketch)."""
    from aprsdb_spark.queries.governance import _EDIT_MAX

    docs = {
        r["doc_id"]: (r["lang"], r["source"], r["text"].split(" "))
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    }
    out = QUERIES["j_dedup_edit"](spark, SF_SMALL).collect()
    for r in out:
        d = _py_token_lev(docs[r["id_a"]][2], docs[r["id_b"]][2])
        assert d == r["dist"], (r["id_a"], r["id_b"], d, r["dist"])
        assert d <= _EDIT_MAX
    # completeness on the largest block
    blocks: dict = {}
    for did, (lang, src, toks) in docs.items():
        blocks.setdefault((lang, src), []).append((did, toks))
    key = max(blocks, key=lambda k: len(blocks[k]))
    ids = blocks[key]
    reported = {(r["id_a"], r["id_b"]) for r in out}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            (ida, ta), (idb, tb) = sorted([ids[i], ids[j]])
            if _py_token_lev(ta, tb) <= _EDIT_MAX:
                assert (ida, idb) in reported, (ida, idb)


def test_edit_dedup_leaves_no_cache_entry(spark, duck):
    """j_dedup_edit materializes its encoded frame once for both join
    sides; that must leave no CacheManager entry behind the qid (a
    persist() there leaked one corpus-scale entry per call), and the
    qid must still match its DuckDB oracle at sf0.01."""
    from aprsdb_spark.registry import ORACLE
    from tests.conftest import compare_query

    spark.catalog.clearCache()
    n = compare_query(spark, duck, QUERIES["j_dedup_edit"], ORACLE["j_dedup_edit"])
    assert n > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ------------------------------------------------------------ triangles


def test_triangle_count_matches_python_brute(spark):
    """Per-node counts equal a brute-force enumeration over the same
    undirected edge set."""
    from aprsdb_spark.queries.analytics import _trade_edges
    from aprsdb_spark.tables import load

    e = _trade_edges(load(spark, SF_SMALL)).collect()
    und = {tuple(sorted((r["src"], r["dst"]))) for r in e if r["src"] != r["dst"]}
    nodes = sorted({n for uv in und for n in uv})
    per = Counter()
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if (a, b) not in und:
                continue
            for c in nodes[nodes.index(b) + 1:]:
                if (b, c) in und and (a, c) in und:
                    per[a] += 1
                    per[b] += 1
                    per[c] += 1
    got = {
        r["n_nationkey"]: r["n_triangles"]
        for r in QUERIES["j_triangle_count"](spark, SF_SMALL).collect()
    }
    for nk, cnt in got.items():
        assert cnt == per.get(nk, 0), (nk, cnt, per.get(nk, 0))


# ------------------------------------------------------------ Welch t


def test_ab_ttest_matches_python_welch(spark):
    """The t statistic equals Welch's formula computed in plain Python
    from the same md5 arm assignment (on the rounded moments, as the
    query defines)."""
    import hashlib
    import statistics

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "user_id", "event_type", "value"
    ).collect()
    arms: dict = {}
    for r in ev:
        h = hashlib.md5(f"ab{r['user_id']}".encode()).hexdigest()
        grp = "A" if h[0] < "8" else "B"
        arms.setdefault((r["event_type"], grp), []).append(r["value"])

    def rnd6(x):
        import math

        return math.floor(x * 1e6 + 0.5) / 1e6

    got = {r["event_type"]: r for r in QUERIES["j_ab_ttest"](spark, SF_SMALL).collect()}
    for et, row in got.items():
        va = arms[(et, "A")]
        vb = arms[(et, "B")]
        assert row["n_a"] == len(va) and row["n_b"] == len(vb)
        ma, mb = rnd6(sum(va) / len(va)), rnd6(sum(vb) / len(vb))
        assert abs(row["mean_a"] - ma) < 1e-9 and abs(row["mean_b"] - mb) < 1e-9
        sa, sb = rnd6(statistics.variance(va)), rnd6(statistics.variance(vb))
        t = (ma - mb) / ((sa / len(va) + sb / len(vb)) ** 0.5)
        import math

        assert abs(row["t_stat"] - math.floor(t * 1e4 + 0.5) / 1e4) < 1e-9


# -------------------------------------------------- priority sampling


def test_weighted_sample_is_partitioning_invariant(spark):
    """The priority sample must be identical under any input
    partitioning — the whole point of hash-derived priorities."""
    base = QUERIES["j_sample_weighted"](spark, SF_SMALL)
    ids = sorted(r["doc_id"] for r in base.collect())
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").repartition(13)
    from aprsdb_spark.queries.governance import _SAMPLE_K

    u_int = F.conv(
        F.substring(F.md5(F.concat(F.lit("wsmp"), F.col("doc_id").cast("string"))), 1, 6),
        16,
        10,
    ).cast("long")
    q = F.col("n_chars") * F.lit(16777216.0) / (u_int + F.lit(1)).cast("double")
    re_ids = sorted(
        r["doc_id"]
        for r in docs.select("doc_id", q.alias("q"))
        .orderBy(F.desc("q"), "doc_id")
        .limit(_SAMPLE_K)
        .collect()
    )
    assert ids == re_ids


def test_compaction_plan_conserves_and_packs(spark):
    """j_compaction_plan invariants beyond cross-engine parity: bytes
    and doc counts are CONSERVED (no file dropped or double-binned),
    bins are contiguous per source (order-preserving first-fit —
    first_file..last_file ranges never interleave), and every bin
    except possibly the trailing one per source reaches the target."""
    rows = QUERIES["j_compaction_plan"](spark, SF_SMALL).collect()
    from aprsdb_spark.queries.layout import _COMPACT_FILE_DIV, _COMPACT_TARGET
    from aprsdb_spark.tables import load

    docs = load(spark, SF_SMALL).documents
    want_bytes = docs.agg(F.sum("n_chars")).collect()[0][0]
    want_docs = docs.count()
    assert sum(r.bytes for r in rows) == want_bytes
    assert sum(r.n_docs for r in rows) == want_docs
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, bins in by_src.items():
        bins.sort(key=lambda r: r.bin)
        for a, b in zip(bins, bins[1:]):
            assert a.last_file < b.first_file, (src, a, b)
        for r in bins[:-1]:
            assert r.full_bin and r.bytes >= _COMPACT_TARGET, (src, r)


def test_cdc_apply_conserves_changes(spark):
    """j_cdc_apply: no tombstoned key appears, and the change counts of
    surviving keys plus the (recomputed) deleted keys' counts account
    for every event exactly once."""
    from aprsdb_spark.tables import load

    out = QUERIES["j_cdc_apply"](spark, SF_SMALL).collect()
    assert all(r.last_op != "D" for r in out)
    ev = load(spark, SF_SMALL).events
    total = ev.count()
    per_user = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    surviving = {r.user_id: r.n_changes for r in out}
    assert all(per_user[u] == n for u, n in surviving.items())
    deleted = set(per_user) - set(surviving)
    assert sum(per_user[u] for u in deleted) + sum(surviving.values()) == total


def test_interval_overlap_bounds(spark):
    rows = QUERIES["j_interval_overlap"](spark, SF_SMALL).collect()
    for r in rows:
        assert 1 <= r.max_concurrent <= r.n_intervals, r


def test_feature_snapshot_monotone(spark):
    """Nested trailing windows must nest: n_7d <= n_14d <= n_lifetime;
    recency is non-negative and every value_14d is consistent with
    having n_14d contributing events."""
    rows = QUERIES["j_feature_snapshot"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_7d <= r.n_14d <= r.n_lifetime, r
        assert r.days_since_last >= 0, r
        if r.n_14d == 0:
            assert r.value_14d == 0.0, r


def test_markov_rows_sum_to_one(spark):
    """Transition counts per from-state must sum to n_from exactly (the
    probability normalization in exact integers, no float tolerance)."""
    rows = QUERIES["j_markov_transitions"](spark, SF_SMALL).collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r)
    for ft, rs in by_from.items():
        assert sum(r.n for r in rs) == rs[0].n_from, ft


def test_dq_checks_all_pass_on_clean_fixture(spark):
    """The committed fixtures are clean by construction — every
    expectation must pass; a failing check here means either the data
    drifted or a check definition broke."""
    rows = QUERIES["j_dq_checks"](spark, SF_SMALL).collect()
    assert len(rows) == 6
    assert all(r.passed for r in rows), [r for r in rows if not r.passed]


# ------------------------------------------------------- r8 batch invariants


def test_token_budget_admission_is_maximal_and_within_budget(spark):
    """The selected set must (a) fit the budget and (b) be MAXIMAL for
    the priority order: the first rejected document in (n_chars DESC,
    doc_id) order would overflow the budget if admitted."""
    from pyspark.sql import Window

    t_docs = (
        spark.read.parquet(SF_SMALL + "/documents.parquet")
        .select("doc_id", "n_chars", F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    )
    total = t_docs.agg(F.sum("n_tok")).collect()[0][0]
    budget = total // 2
    w = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = t_docs.select("n_tok", F.sum("n_tok").over(w).alias("running")).collect()
    sel = [r for r in cum if r.running <= budget]
    rej = [r for r in cum if r.running > budget]
    assert sum(r.n_tok for r in sel) <= budget
    if rej:  # first rejection overflows — maximality
        first = min(rej, key=lambda r: r.running)
        assert first.running > budget
    got = QUERIES["j_token_budget"](spark, SF_SMALL).agg(
        F.sum("tokens_sel").cast("long")
    ).collect()[0][0]
    assert got == sum(r.n_tok for r in sel)


def test_kfold_assignment_partitions_the_corpus(spark):
    """Folds partition documents: every doc in exactly one fold, fold
    ids in [0, k), and no fold empty at sf0.001 (hash-balance sanity)."""
    rows = QUERIES["j_kfold_assign"](spark, SF_SMALL).collect()
    n_docs = spark.read.parquet(SF_SMALL + "/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    folds = {r.fold for r in rows}
    assert folds <= set(range(5)) and len(folds) == 5


def test_clean_text_is_idempotent_and_normal(spark):
    """Reference semantics of the normalizer: output is lowercase
    [a-z0-9 ], single-spaced, trimmed — so cleaning is IDEMPOTENT.
    Checked in plain Python against the same dirtying construction."""
    import re as _re

    docs = spark.read.parquet(SF_SMALL + "/documents.parquet").select(
        "doc_id", "text", "lang"
    ).limit(50).collect()
    got = {
        r.doc_id: r.clean_md5
        for r in QUERIES["j_clean_text"](spark, SF_SMALL).collect()
    }
    import hashlib

    for r in docs:
        raw = f"  {r.lang.upper()}: {r.text}!!  "
        clean = _re.sub(" +", " ", _re.sub("[^a-z0-9 ]", " ", raw.lower())).strip()
        assert _re.sub(" +", " ", _re.sub("[^a-z0-9 ]", " ", clean.lower())).strip() == clean
        assert got[r.doc_id] == hashlib.md5(clean.encode()).hexdigest()


def test_ohlc_bar_invariants(spark):
    """low <= open, close <= high; n_ticks positive; and per type the
    tick counts sum to the series length."""
    rows = QUERIES["j_ts_ohlc"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.low <= r.open <= r.high and r.low <= r.close <= r.high
        assert r.n_ticks > 0
    n_events = spark.read.parquet(SF_SMALL + "/events.parquet").count()
    assert sum(r.n_ticks for r in rows) == n_events


def test_seasonality_ratios_center_on_one(spark):
    """Per event type, the tick-weighted mean of hour ratios must sit at
    ~1 by construction (each hour's ratio is its mean over the series
    mean)."""
    rows = QUERIES["j_ts_seasonality"](spark, SF_SMALL).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, hs in by_type.items():
        n = sum(h.n for h in hs)
        weighted = sum(h.ratio_to_mean * h.n for h in hs) / n
        assert abs(weighted - 1.0) < 1e-4, (et, weighted)


def test_graph_degree_sums_match_edge_count(spark):
    """sum(out_deg) == sum(in_deg) == |E| and total = out + in."""
    rows = QUERIES["j_graph_degree"](spark, SF_SMALL).collect()
    assert sum(r.out_deg for r in rows) == sum(r.in_deg for r in rows)
    assert all(r.total_deg == r.out_deg + r.in_deg for r in rows)
    assert sum(r.out_deg for r in rows) > 0


def test_nullsafe_join_conserves_customers(spark):
    """Every customer matches exactly one dim row under <=> (including
    the NULLIF'd nation): per-key counts sum to |customer|."""
    rows = QUERIES["c_join_nullsafe"](spark, SF_SMALL).collect()
    n_cust = spark.read.parquet(SF_SMALL + "/customer.parquet").count()
    assert sum(r.n_cust for r in rows) == n_cust
    assert any(r.join_key is None for r in rows), "the NULL-key row vanished"


def test_offset_page_is_the_right_slice(spark):
    """f_offset's page == rows 101-150 of the f_topk-style full order,
    computed independently by sorting the table in the driver."""
    rows = QUERIES["f_offset"](spark, SF_SMALL).collect()
    allrows = (
        spark.read.parquet(SF_SMALL + "/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    want = sorted(allrows, key=lambda r: (-r.o_totalprice, r.o_orderkey))[100:150]
    assert [(r.o_orderkey, r.o_totalprice) for r in rows] == [
        (r.o_orderkey, r.o_totalprice) for r in want
    ]


def test_exec_immediate_equals_inline(spark):
    """Parameter binding must change nothing: EXECUTE IMMEDIATE with
    USING == the same SQL with literals inlined."""
    got = QUERIES["c_sql_exec_immediate"](spark, SF_SMALL).collect()
    want = spark.sql("""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                          AS DOUBLE) * 100 + 0.5) / 100 AS total_value
        FROM v_orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND CAST(o_totalprice AS DECIMAL(12,2)) > 150000.00
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_transpose_cells_match_direct_aggregate(spark):
    """Each transposed cell (metric row x lang column) equals the
    direct groupBy value; column order is lexicographic by contract."""
    rows = {r.key: r for r in QUERIES["d_transpose"](spark, SF_SMALL).collect()}
    direct = {
        r.lang: r
        for r in spark.read.parquet(SF_SMALL + "/documents.parquet")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .collect()
    }
    assert set(rows) == {"n_docs", "sum_chars", "sum_tokens"}
    for lang, d in direct.items():
        assert rows["n_docs"][lang] == d.n_docs
        assert rows["sum_chars"][lang] == d.sum_chars


def test_observe_metrics_equal_second_pass_aggregate(spark):
    """The listener-accumulated metrics must equal a plain .agg over
    the same filter — observe is telemetry, not approximation."""
    got = QUERIES["a_observe_metrics"](spark, SF_SMALL).collect()[0]
    li = spark.read.parquet(SF_SMALL + "/lineitem.parquet").where(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    want = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")).alias("c"),
    ).collect()[0]
    assert got.n_rows == want.n
    assert got.revenue_cents == want.c


def test_kanon_conserves_rows_and_flags_small_cells(spark):
    """Row mass is conserved across generalization; every unsuppressed
    cell satisfies k; level-0 survivors are exactly the >=k cells."""
    rows = QUERIES["j_kanon_check"](spark, SF_SMALL).collect()
    n_docs = spark.read.parquet(SF_SMALL + "/documents.parquet").count()
    assert sum(r.n_rows for r in rows) == n_docs
    for r in rows:
        if not r.suppress:
            assert r.n_rows >= 5
        if r.gen_level == 0:
            assert r.source is not None and r.n_rows >= 5
        else:
            assert r.source is None


def test_feature_hashing_conserves_mass_and_buckets(spark):
    """Bucket ids live in [0, 64); total_count sums to the corpus token
    count; each top_token actually hashes to its bucket (recomputed
    with Python's md5 — the portable-hash contract)."""
    import hashlib

    rows = QUERIES["j_feature_hashing"](spark, SF_SMALL).collect()
    docs = spark.read.parquet(SF_SMALL + "/documents.parquet")
    n_tokens = docs.select(F.explode(F.split("text", " "))).count()
    assert sum(r.total_count for r in rows) == n_tokens
    for r in rows:
        assert 0 <= r.bucket < 64
        h = hashlib.md5(r.top_token.encode()).hexdigest()
        assert int(h[8:16], 16) % 64 == r.bucket


def test_embed_pca_axis_is_dominant_direction(spark):
    """At SF_SMALL the training sample covers the whole relation, so
    the power-iterated axis is the top eigenvector of the full
    covariance: variance along it must dominate variance along every
    coordinate axis. Also pins unit norm and sign orientation."""
    import numpy as np

    from aprsdb_spark.operators.similarity import pca_axis_local

    mean, axis, offset = pca_axis_local(SF_SMALL)
    v = np.array(axis)
    assert abs(float(v @ v) - 1.0) < 1e-9
    nz = v[np.abs(v) > 1e-9]
    assert len(nz) and float(nz[0]) > 0  # sign convention
    emb = spark.read.parquet(SF_SMALL + "/embeddings.parquet").collect()
    X = np.array([[float(x) for x in r.embedding] for r in emb])
    Xc = X - X.mean(axis=0)
    var_axis = float(((Xc @ v) ** 2).mean())
    var_coords = (Xc**2).mean(axis=0)
    assert var_axis >= float(var_coords.max()) - 1e-9
    rows = QUERIES["j_embed_pca"](spark, SF_SMALL).collect()
    assert sum(r.n for r in rows) == len(emb)


def test_knn_confusion_partitions_the_query_set(spark):
    """Every query lands in exactly one confusion cell (cells sum to
    nq=20); n_correct fills the diagonal and only the diagonal."""
    rows = QUERIES["j_knn_confusion"](spark, SF_SMALL).collect()
    assert sum(r.n_queries for r in rows) == 20
    for r in rows:
        if r.true_label == r.pred_label:
            assert r.n_correct == r.n_queries
        else:
            assert r.n_correct == 0


def test_source_overlap_is_a_full_asymmetric_matrix(spark):
    """All 20x19 ordered pairs present; shared-gram counts are
    symmetric while containment need not be; containment in [0,1]."""
    rows = QUERIES["j_source_overlap"](spark, SF_SMALL).collect()
    assert len(rows) == 380
    shared = {(r.source_a, r.source_b): r.n_shared for r in rows}
    for (a, b), n in shared.items():
        assert shared[(b, a)] == n
    assert all(0.0 <= r.containment <= 1.0 for r in rows)


def test_lateral_alias_chain_equals_hand_expansion(spark):
    """The alias chain must equal the same expressions expanded by
    hand with DataFrame ops (no SQL sugar)."""
    got = {r.o_orderkey: tuple(r) for r in QUERIES["h_lateral_alias"](spark, SF_SMALL).collect()}
    o = spark.read.parquet(SF_SMALL + "/orders.parquet").where(F.col("o_orderkey") % 5 == 0)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    dollars = (cents - cents % 100) / F.lit(100)
    band = (
        F.when(dollars >= 300000, "high").when(dollars >= 150000, "mid").otherwise("low")
    )
    want = o.select(
        "o_orderkey",
        cents.alias("cents"),
        (cents % 100).alias("rem_cents"),
        dollars.cast("long").alias("dollars"),
        band.alias("band"),
        F.concat(band, F.lit(":"), (dollars.cast("long") / 100000).cast("long").cast("string")).alias("shard_key"),
    )
    for r in want.collect():
        assert got[r.o_orderkey] == tuple(r)


def test_bucketed_join_matches_plain_join(spark):
    """The bucketed round trip must lose nothing: per-priority counts
    equal the plain parquet join."""
    got = {r.o_orderpriority: r.n_items for r in QUERIES["a_sink_bucketed"](spark, SF_SMALL).collect()}
    li = spark.read.parquet(SF_SMALL + "/lineitem.parquet")
    od = spark.read.parquet(SF_SMALL + "/orders.parquet")
    want = {
        r.o_orderpriority: r.n
        for r in li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_changepoint_cusum_matches_python_reference(spark):
    """The window lowering (cum - running-min) must equal the textbook
    recursion S_i = max(0, S_{i-1} + d_i) computed in plain Python."""
    rows = {r.event_type: r for r in QUERIES["j_ts_changepoint"](spark, SF_SMALL).collect()}
    from aprsdb_spark.tables import load as _load

    ev = sorted(
        _load(spark, SF_SMALL).events.select("event_type", "ts_ms", "event_id", "value").collect(),
        key=lambda r: (r.event_type, r.ts_ms, r.event_id),
    )
    from collections import defaultdict
    series = defaultdict(list)
    for r in ev:
        series[r.event_type].append((r.ts_ms, int(r.value * 1_000_000 + 0.5)))
    for et, pts in series.items():
        mu = sum(v for _, v in pts) // len(pts)
        madev = sum(abs(v - mu) for _, v in pts) // len(pts)
        hi = lo = 0
        max_score, n_alarm, first_ms = 0, 0, None
        for ts, v in pts:
            d = v - mu
            hi = max(0, hi + d - madev // 2)
            lo = max(0, lo - d - madev // 2)
            sc = max(hi, lo)
            max_score = max(max_score, sc)
            if sc > 8 * madev:
                n_alarm += 1
                if first_ms is None:
                    first_ms = ts
        r = rows[et]
        assert (r.n_points, r.max_score, r.n_alarm_points, r.first_alarm_ms) == (
            len(pts), max_score, n_alarm, first_ms,
        ), et


def test_auc_rank_matches_python_midrank(spark):
    """2U from the per-score lowering must equal the textbook midrank
    Mann-Whitney computed in plain Python."""
    r = QUERIES["j_auc_rank"](spark, SF_SMALL).collect()[0]
    emb = spark.read.parquet(SF_SMALL + "/embeddings.parquet").collect()
    q = next(e for e in emb if e.vec_id == 0)
    qv = [float(x) for x in q.embedding]

    def dot(v):
        s = 0.0
        for a, b in zip(v, qv):
            s += a * b
        return s

    import math
    pts = [
        (math.floor(dot([float(x) for x in e.embedding]) * 1_000_000 + 0.5), e.label == q.label)
        for e in emb
        if e.vec_id != 0
    ]
    pts.sort()
    # midrank 2U: for each positive, 2*(#neg strictly below) + (#neg tied)
    from collections import Counter
    neg_counts = Counter(s for s, y in pts if not y)
    u2 = 0
    below = 0
    for s in sorted(neg_counts | Counter(s for s, y in pts if y)):
        npos = sum(1 for t, y in pts if y and t == s)
        u2 += npos * (2 * below + neg_counts.get(s, 0))
        below += neg_counts.get(s, 0)
    assert r.u2 == u2
    assert r.n_pos + r.n_neg == len(pts)
    assert 0.0 <= r.auc <= 1.0


def test_ts_trend_matches_numpy_lstsq(spark):
    """Slope/intercept from integer sufficient statistics must agree
    with numpy's least squares on the same (x, y) points."""
    import numpy as np

    from aprsdb_spark.tables import load as _load

    rows = {r.event_type: r for r in QUERIES["j_ts_trend"](spark, SF_SMALL).collect()}
    ev = _load(spark, SF_SMALL).events.select("event_type", "ts_ms", "value").collect()
    from collections import defaultdict
    series = defaultdict(list)
    for r in ev:
        series[r.event_type].append((r.ts_ms, int(r.value * 100 + 0.5)))
    for et, pts in series.items():
        tmin = min(t for t, _ in pts)
        x = np.array([(t - tmin) // 1000 for t, _ in pts], dtype=float)
        y = np.array([v for _, v in pts], dtype=float)
        A = np.vstack([x, np.ones_like(x)]).T
        slope, intercept = np.linalg.lstsq(A, y, rcond=None)[0]
        assert abs(rows[et].slope_cents_per_day - slope * 86400) < 1e-3, et
        assert abs(rows[et].intercept_cents - intercept) < 0.05, et


def test_dp_release_noise_is_bounded_and_reproducible(spark):
    """Laplace noise from the 32-bit hash uniform is bounded by
    ln(2^32)/eps ~ 22.18; two runs produce identical releases (the
    documented determinism trade-off)."""
    a = sorted(tuple(r) for r in QUERIES["j_dp_release"](spark, SF_SMALL).collect())
    b = sorted(tuple(r) for r in QUERIES["j_dp_release"](spark, SF_SMALL).collect())
    assert a == b
    for lang, source, n, noisy, eps in a:
        assert abs(noisy - n) <= 22.19
        assert eps == 1.0


def test_retrieval_mrr_first_rank_is_consistent(spark):
    """Each query yields one row; rr == 1/first_rel_rank; hit@10 agrees
    with the rank; a relevant candidate always exists (every label has
    >=2 members at SF_SMALL)."""
    rows = QUERIES["j_retrieval_mrr"](spark, SF_SMALL).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.first_rel_rank >= 1
        assert abs(r.rr - round(1.0 / r.first_rel_rank, 6)) < 2e-6
        assert r.hit_at_10 == (r.first_rel_rank <= 10)


def test_topp_vocab_is_the_minimal_nucleus(spark):
    """Per lang: kept mass reaches p=0.9 of total, and dropping the
    last kept token would fall below it (minimality) — recomputed from
    the raw corpus in plain Python."""
    rows = {r.lang: r for r in QUERIES["j_topp_vocab"](spark, SF_SMALL).collect()}
    docs = spark.read.parquet(SF_SMALL + "/documents.parquet").collect()
    from collections import Counter, defaultdict
    by_lang = defaultdict(Counter)
    for d in docs:
        by_lang[d.lang].update(d.text.split(" "))
    for lang, cnt in by_lang.items():
        total = sum(cnt.values())
        ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        mass, kept = 0, 0
        for tok, n in ordered:
            if mass * 10 < total * 9:
                kept += 1
                mass += n
            else:
                break
        r = rows[lang]
        assert (r.n_vocab, r.total_mass, r.n_kept, r.mass_kept) == (
            len(cnt), total, kept, mass,
        ), lang
        assert mass * 10 >= total * 9  # reached the nucleus
        prev = mass - ordered[kept - 1][1]
        assert prev * 10 < total * 9  # minimal prefix


def test_span_corruption_round_trips_and_matches_python(spark):
    """Splicing each sentinel's target span back into the corrupted
    text must reconstruct the original document byte-for-byte; the
    emitted md5s match a plain-Python reimplementation."""
    import hashlib
    import re as _re

    rows = {r.doc_id: r for r in QUERIES["j_span_corruption"](spark, SF_SMALL).collect()}
    docs = spark.read.parquet(SF_SMALL + "/documents.parquet").collect()
    for d in docs:
        toks = d.text.split(" ")
        n = len(toks)
        nblocks = (n + 4) // 5
        corrupted_parts, target_parts = [], []
        k = 0
        for i in range(nblocks):
            h = int(hashlib.md5(f"{d.doc_id}:sp:{i}".encode()).hexdigest()[8:16], 16)
            masked = (i * 5 + 3 <= n) and (h % 2 == 0)
            if masked:
                tail = toks[i * 5 + 3 : i * 5 + 5]
                corrupted_parts.append(f"<X{k}>" + (" " + " ".join(tail) if tail else ""))
                target_parts.append(f"<X{k}> " + " ".join(toks[i * 5 : i * 5 + 3]))
                k += 1
            else:
                corrupted_parts.append(" ".join(toks[i * 5 : i * 5 + 5]))
        corrupted = " ".join(corrupted_parts)
        targets = " ".join(target_parts)
        r = rows[d.doc_id]
        assert r.corrupted_md5 == hashlib.md5(corrupted.encode()).hexdigest(), d.doc_id
        assert r.targets_md5 == hashlib.md5(targets.encode()).hexdigest(), d.doc_id
        assert r.n_masked_blocks == k
        # round trip: splice targets back in
        spans = dict(_re.findall(r"<X(\d+)> ((?:\S+ \S+ \S+))(?= <X|$)", targets))
        rebuilt = corrupted
        for kk, span in spans.items():
            rebuilt = rebuilt.replace(f"<X{kk}>", span, 1)
        if len(spans) == k:  # regex split is well-defined only when all spans parsed
            assert rebuilt == d.text, d.doc_id


def test_fim_partition_is_nonempty_and_reconstructible(spark):
    """prefix/middle/suffix are all non-empty whenever applied, and the
    PSM md5 matches a plain-Python re-serialization (which also proves
    the three slices partition the document)."""
    import hashlib

    rows = {r.doc_id: r for r in QUERIES["j_fim_transform"](spark, SF_SMALL).collect()}
    docs = spark.read.parquet(SF_SMALL + "/documents.parquet").collect()
    for d in docs:
        toks = d.text.split(" ")
        n = len(toks)
        r = rows[d.doc_id]
        if n < 3:
            assert not r.applied
            continue
        h1 = int(hashlib.md5(f"{d.doc_id}:fim1".encode()).hexdigest()[8:16], 16)
        a = 1 + h1 % (n - 2)
        h2 = int(hashlib.md5(f"{d.doc_id}:fim2".encode()).hexdigest()[8:16], 16)
        b = a + 1 + h2 % (n - 1 - a)
        assert 1 <= a < b <= n - 1
        psm = (
            "<PRE> " + " ".join(toks[:a])
            + " <SUF> " + " ".join(toks[b:])
            + " <MID> " + " ".join(toks[a:b])
        )
        assert r.psm_md5 == hashlib.md5(psm.encode()).hexdigest(), d.doc_id
        assert (r.prefix_len, r.middle_len) == (a, b - a)


def test_crosstab_cells_match_direct_counts(spark):
    """Every crosstab cell equals the direct (event_type, dow) count;
    row sums conserve the event count."""
    from aprsdb_spark.tables import load as _load

    rows = QUERIES["d_crosstab"](spark, SF_SMALL).collect()
    ev = _load(spark, SF_SMALL).events.select(
        "event_type", ((F.expr("ts_ms div 86400000") + 4) % 7).alias("dow")
    ).collect()
    from collections import Counter
    want = Counter((e.event_type, str(e.dow)) for e in ev)
    total = 0
    for r in rows:
        for d in map(str, range(7)):
            assert r[d] == want.get((r.event_type_dow, d), 0)
            total += r[d]
    assert total == len(ev)


def test_active_margin_picks_boundary_points(spark):
    """Margins are non-negative, sorted ascending, and each selected
    vector's best centroid truly maximizes its scaled dot (recomputed
    in Python against the trained centroids)."""
    import math

    from aprsdb_spark.operators.similarity import kmeans_train_local

    rows = QUERIES["j_active_margin"](spark, SF_SMALL).collect()
    assert len(rows) == 20
    margins = [r.margin_scaled for r in rows]
    assert margins == sorted(margins) and all(m >= 0 for m in margins)
    cents = kmeans_train_local(SF_SMALL, k=16, iters=2)
    emb = {e.vec_id: [float(x) for x in e.embedding]
           for e in spark.read.parquet(SF_SMALL + "/embeddings.parquet").collect()}
    for r in rows:
        scores = []
        for cid, cv in cents:
            s = 0.0
            for a, b in zip(emb[r.vec_id], cv):
                s += a * b
            scores.append((math.floor(s * 1_000_000 + 0.5), -cid))
        scores.sort(reverse=True)
        assert (-scores[0][1]) == r.best_cid
        assert scores[0][0] - scores[1][0] == r.margin_scaled


def test_head_template_share_bounds_and_majority(spark):
    """top_share in (0,1]; n_top is the true modal head count
    (recomputed in Python); template count <= doc count."""
    import hashlib
    from collections import Counter, defaultdict

    rows = {r.source: r for r in QUERIES["j_head_template"](spark, SF_SMALL).collect()}
    docs = spark.read.parquet(SF_SMALL + "/documents.parquet").collect()
    heads = defaultdict(Counter)
    for d in docs:
        head = " ".join(d.text.split(" ")[:8])
        heads[d.source][hashlib.md5(head.encode()).hexdigest()] += 1
    for source, cnt in heads.items():
        r = rows[source]
        assert r.n_docs == sum(cnt.values())
        assert r.n_templates == len(cnt)
        assert r.n_top == max(cnt.values())
        assert 0.0 < r.top_share <= 1.0


def test_lang_confusion_conserves_documents(spark):
    """Confusion cells sum to |documents|; every true lang row-sum
    equals that language's document count."""
    rows = QUERIES["j_lang_confusion"](spark, SF_SMALL).collect()
    docs = spark.read.parquet(SF_SMALL + "/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    per_lang = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    from collections import Counter
    got = Counter()
    for r in rows:
        got[r.true_lang] += r.n_docs
    assert dict(got) == per_lang


def test_cluster_purity_bounds_and_conservation(spark):
    """Purity in (0,1]; members sum to the vector count; n_major is
    consistent with purity and never exceeds n_vecs."""
    rows = QUERIES["j_cluster_purity"](spark, SF_SMALL).collect()
    n_vectors = spark.read.parquet(SF_SMALL + "/embeddings.parquet").count()
    assert sum(r.n_vecs for r in rows) == n_vectors
    for r in rows:
        assert 0 < r.n_major <= r.n_vecs
        assert abs(r.purity - round(r.n_major / r.n_vecs, 6)) < 2e-6
        assert 0.0 < r.purity <= 1.0


def test_burstiness_fano_is_exact_beyond_bigint(spark):
    """The Fano scaled division must survive daily sums whose square
    overflows BIGINT (the r10 ADVICE cliff at S1 ~ 3e9): the 128-bit
    num/den split in j_burstiness — (num div den)*1e6 + (num mod
    den)*1e6 div den over DECIMAL(38,0) / HUGEINT — is checked here
    against exact Python integers on both engines, over counts the
    old (D*S2 - S1^2)*1e6 BIGINT form silently wrapped on."""
    import duckdb

    # S2 = 9.0e18 still fits BIGINT (it is a BIGINT sum in the query),
    # but S1 = 9.0e9 puts S1^2 at 8.1e19 — past the int64 cliff.
    counts = [1_000_000_000] * 8 + [999_999_937]
    d, s1 = len(counts), sum(counts)
    s2 = sum(n * n for n in counts)
    num, den = d * s2 - s1 * s1, d * s1
    expect = ((num // den) * 1_000_000 + (num % den) * 1_000_000 // den) / 1_000_000.0

    s = spark.createDataFrame(
        [("t", d, s1, s2)], "event_type string, n_days long, s1 long, s2 long"
    )
    nd = s.withColumns(
        {
            "num": F.expr(
                "CAST(n_days AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"
            ),
            "den": F.expr("CAST(n_days AS DECIMAL(38,0)) * s1"),
        }
    )
    got_spark = nd.select(
        (
            F.expr("(num div den) * 1000000 + ((num % den) * 1000000) div den")
            .cast("long")
            / F.lit(1000000.0)
        ).alias("fano")
    ).collect()[0].fano
    got_duck = duckdb.sql(
        f"""
        SELECT CAST((num // den) * 1000000
                    + ((num % den) * 1000000) // den AS BIGINT) / 1000000.0 AS fano
        FROM (SELECT CAST({d} AS HUGEINT) * {s2}
                       - CAST({s1} AS HUGEINT) * {s1} AS num,
                     CAST({d} AS HUGEINT) * {s1} AS den)
        """
    ).fetchone()[0]
    assert got_spark == expect
    assert float(got_duck) == expect


def test_pq_sink_rebuilds_when_embeddings_regenerate(spark, tmp_path):
    """j_ann_pq_sink's write-once latch keys on a source fingerprint,
    not bare table existence: regenerating embeddings.parquet under the
    SAME sf_dir basename must trigger a rebuild (new stamp), while a
    repeat call with an untouched source must reuse the table (same
    stamp) — the r10 ADVICE stale-index scenario, both directions."""
    import shutil

    sf = tmp_path / "sfstampcheck"
    sf.mkdir()
    src = SF_SMALL + "/embeddings.parquet"
    shutil.copyfile(src, sf / "embeddings.parquet")
    db = "sg_pqidx_sfstampcheck"
    spark.sql(f"DROP TABLE IF EXISTS {db}.pq_codes")

    QUERIES["j_ann_pq_sink"](spark, str(sf)).collect()
    s1 = spark.sql(f"SHOW TBLPROPERTIES {db}.pq_codes ('sg.src_stamp')").collect()[0].value
    QUERIES["j_ann_pq_sink"](spark, str(sf)).collect()
    s2 = spark.sql(f"SHOW TBLPROPERTIES {db}.pq_codes ('sg.src_stamp')").collect()[0].value
    assert s1 == s2, "untouched source must not rebuild"

    shutil.copyfile(src, sf / "embeddings.parquet")  # same bytes, new mtime
    from aprsdb_spark.operators.similarity import clear_trainer_caches

    clear_trainer_caches()  # the paired hook: models keyed on sf_dir are stale too
    QUERIES["j_ann_pq_sink"](spark, str(sf)).collect()
    s3 = spark.sql(f"SHOW TBLPROPERTIES {db}.pq_codes ('sg.src_stamp')").collect()[0].value
    assert s3 != s1, "regenerated source must rebuild the code table"


def test_floordiv_twins_match_python_floor_across_int64(spark):
    """floordiv()/sql_floordiv() (the canonical sign-safe bucketing
    form, functions/exprs.py) must equal Python's floor `//` on BOTH
    engines across the full signed range including LONG_MIN/LONG_MAX —
    the case the bare-div parity preconditions excluded by docstring.
    Spark `div` and DuckDB 1.0.0 integer `//` both truncate, so a raw
    lowering would disagree with floor on every negative non-multiple;
    the helper's correction closes exactly that gap."""
    import duckdb

    from aprsdb_spark.functions import floordiv, sql_floordiv

    vals = [-(2**63), -251, -250, -101, -100, -1, 0, 1, 99, 100, 251, 2**63 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    for m in (1, 7, 100):
        got = {r.x: r.q for r in df.select("x", floordiv(F.col("x"), m).alias("q")).collect()}
        for v in vals:
            assert got[v] == v // m, ("spark", v, m, got[v])
            duck = duckdb.sql(
                "SELECT " + sql_floordiv(f"CAST({v} AS BIGINT)", m) + " AS q"
            ).fetchone()[0]
            assert duck == v // m, ("duckdb", v, m, duck)


# ------------------------------------------------- r11 statistics wave


def test_wasserstein_lengths_matches_python_brute(spark):
    """W1 per source == brute-force ECDF integral over raw Python
    lengths (grid = corpus-distinct lengths, step x gap weighting)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    lens = [(r.source, len(r.text.split(" "))) for r in docs]
    all_n = sorted({n for _, n in lens})
    N = len(lens)
    out = {r.source: r for r in QUERIES["j_wasserstein_lengths"](spark, SF_SMALL).collect()}
    for src in {s for s, _ in lens}:
        mine = sorted(n for s, n in lens if s == src)
        ns = len(mine)
        w1 = 0
        for i, x in enumerate(all_n[:-1]):
            gap = all_n[i + 1] - x
            cs = sum(1 for v in mine if v <= x)
            cc = sum(1 for _, v in lens if v <= x)
            w1 += abs(cs * N - cc * ns) * gap
        r = out[src]
        assert r.n_docs == ns and r.w1_num == w1, (src, w1, r.w1_num)
        assert abs(r.w1_tokens - w1 / (ns * N)) < 2e-6


def test_hill_tail_matches_python_brute(spark):
    """Hill xi/alpha per source == brute order statistics of token
    counts in plain Python (k=_HILL_K, threshold = the (k+1)-th count),
    and the relation must be NON-empty (the k=50 form was empty at
    every SF because the fixture vocabulary is ~31 types/source)."""
    from collections import Counter

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    by_src: dict = {}
    for r in docs:
        by_src.setdefault(r.source, Counter()).update(r.text.split(" "))
    import math

    from aprsdb_spark.queries.infostats import _HILL_K

    got = {r.source: r for r in QUERIES["j_hill_tail"](spark, SF_SMALL).collect()}
    assert got, "hill relation is empty — k exceeds the fixture vocabulary"
    for src, cnt in by_src.items():
        cs = sorted(cnt.values(), reverse=True)
        if len(cs) <= _HILL_K:
            assert src not in got, f"{src}: estimator undefined but emitted"
            continue
        xi = sum(math.log(c) for c in cs[:_HILL_K]) / _HILL_K - math.log(cs[_HILL_K])
        r = got[src]
        assert r.k_used == _HILL_K
        assert abs(r.hill_xi - xi) < 2e-6 and abs(r.hill_alpha - 1 / xi) < 2e-6


def test_perplexity_eval_matches_python_brute(spark):
    """Per-source cross-entropy under the global add-one bigram LM ==
    a dict-based Python model over the same corpus."""
    import math
    from collections import Counter

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    gb: Counter = Counter()
    per_src: dict = {}
    for r in docs:
        toks = r.text.split(" ")
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        gb.update(bgs)
        per_src.setdefault(r.source, Counter()).update(bgs)
    gp: Counter = Counter()
    for g, c in gb.items():
        gp[g.split(" ")[0]] += c
    v = len({g.split(" ", 1)[1] for g in gb})
    got = {r.source: r for r in QUERIES["j_perplexity_eval"](spark, SF_SMALL).collect()}
    for src, cnt in per_src.items():
        num = -sum(
            tf * math.log((gb[g] + 1.0) / (gp[g.split(" ")[0]] + v))
            for g, tf in cnt.items()
        )
        n = sum(cnt.values())
        r = got[src]
        assert r.n_bigrams == n
        assert abs(r.cross_entropy - num / n) < 5e-6
        assert abs(r.perplexity - math.exp(num / n)) < 5e-4


def test_heaps_fit_residuals_sum_to_zero(spark):
    """OLS identity: residuals of the fitted line sum to ~0 across
    sources, and beta/ln_k match a plain-Python normal-equation fit."""
    import math

    rows = QUERIES["j_heaps_law"](spark, SF_SMALL).collect()
    pts = [(math.log(r.n_tokens), math.log(r.n_types)) for r in rows]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    lnk = (sy - beta * sx) / n
    assert abs(sum(r.resid for r in rows)) < 1e-4
    for r in rows:
        assert abs(r.heaps_beta - beta) < 2e-6 and abs(r.ln_k - lnk) < 2e-6


# ------------------------------------------------ r11 evaluation wave


def test_ndcg_matches_python_brute(spark):
    """NDCG@k against a brute Python DCG over the two rank lists pulled
    from the same registered legs (exact leg re-derived in Python from
    scores; approximate leg = the registered j_ann_pq output order)."""
    import math

    ap_rows = QUERIES["j_ann_pq"](spark, SF_SMALL).collect()
    ap = [r.vec_id for r in sorted(ap_rows, key=lambda r: (-r.score, r.vec_id))]
    emb = {r.vec_id: list(r.embedding) for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()}
    q = emb[0]
    scored = sorted(
        (
            (-round(sum(float(a) * float(b) for a, b in zip(v, q)), 6), vid)
            for vid, v in emb.items()
            if vid != 0
        ),
    )[:10]
    ex = [vid for _, vid in scored]
    gain = {vid: 10 - i for i, vid in enumerate(ex)}  # 10, 9, ... 1
    got = {r.k: r for r in QUERIES["j_ndcg"](spark, SF_SMALL).collect()}
    for k in range(1, 11):
        dcg = sum(gain.get(vid, 0) / math.log(1 + i) for i, vid in enumerate(ap[:k], 1))
        idcg = sum((11 - i) / math.log(1 + i) for i in range(1, k + 1))
        assert abs(got[k].ndcg - dcg / idcg) < 5e-6, (k, got[k].ndcg, dcg / idcg)
        assert got[k].ndcg <= 1.0 + 1e-9


def test_ece_calibration_conserves_queries(spark):
    """Bins partition the query set; per-bin identities hold; the
    summed ece_term equals the direct ECE recomputation."""
    rows = QUERIES["j_ece_calibration"](spark, SF_SMALL).collect()
    n_total = sum(r.n_queries for r in rows)
    assert n_total == 200
    ece = 0.0
    for r in rows:
        assert 1 <= r.votes <= 10
        assert 0 <= r.n_correct <= r.n_queries
        assert abs(r.confidence - r.votes / 10) < 2e-6
        assert abs(r.accuracy - round(r.n_correct / r.n_queries, 6)) < 2e-6
        term = abs(r.n_correct / r.n_queries - r.votes / 10) * r.n_queries / 200
        assert abs(r.ece_term - term) < 2e-6
        ece += term
    assert 0.0 <= ece < 1.0


def test_rank_tau_matches_python_brute(spark):
    """Kendall tau-a and Spearman rho against itertools over the common
    rank pairs (re-derived exactly as the qid defines them)."""
    import itertools
    import math

    emb = {r.vec_id: list(r.embedding) for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()}
    q = emb[0]
    scored = sorted(
        ((-round(sum(float(a) * float(b) for a, b in zip(v, q)), 6), vid)
         for vid, v in emb.items() if vid != 0)
    )[:10]
    ex = {vid: i + 1 for i, (_, vid) in enumerate(scored)}
    ap_rows = QUERIES["j_ann_pq"](spark, SF_SMALL).collect()
    ap = {r.vec_id: i + 1 for i, r in enumerate(sorted(ap_rows, key=lambda r: (-r.score, r.vec_id)))}
    common = [(ex[v], ap[v]) for v in ex if v in ap]
    n = len(common)
    conc = disc = 0
    for (a1, b1), (a2, b2) in itertools.combinations(common, 2):
        s = (a1 - a2) * (b1 - b2)
        conc += s > 0
        disc += s < 0
    d2 = sum((a - b) ** 2 for a, b in common)
    r = QUERIES["j_rank_tau"](spark, SF_SMALL).collect()[0]
    assert r.n_common == n and r.concordant == conc and r.discordant == disc
    npairs = n * (n - 1) // 2
    assert abs(r.kendall_tau - (conc - disc) / npairs) < 2e-6
    assert abs(r.spearman_rho - (1 - 6 * d2 / (n * (n * n - 1)))) < 2e-6


# ------------------------------------------------ r11 governance wave


def test_dedup_prefix_matches_python_brute(spark):
    """Prefix families == a dict over the literal first-16-token join."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    groups: dict = {}
    for r in docs:
        pfx = " ".join(r.text.split(" ")[:16])
        groups.setdefault(pfx, []).append((r.doc_id, r.text))
    want = {
        pfx: g for pfx, g in groups.items() if len(g) > 1
    }
    got = QUERIES["j_dedup_prefix"](spark, SF_SMALL).collect()
    assert len(got) == len(want)
    by_keeper = {r.keeper_id: r for r in got}
    for pfx, g in want.items():
        keeper = min(d for d, _ in g)
        r = by_keeper[keeper]
        assert r.n_docs == len(g)
        assert r.n_distinct_full == len({t for _, t in g})
        assert r.prefix_only == (r.n_distinct_full > 1)


def test_split_leakage_matches_python_brute(spark):
    """Cross-split duplicate groups — both kinds — == dicts over
    (md5(key), split); the prefix16 kind must be NON-empty (the
    exact kind alone was empty at the small SFs)."""
    import hashlib

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()

    def split_of(doc_id: int) -> str:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        return "train" if h < "cd" else ("val" if h < "e6" else "test")

    want: dict = {}
    for kind, keyfn in (
        ("exact", lambda t: t),
        ("prefix16", lambda t: " ".join(t.split(" ")[:16])),
    ):
        per_hash: dict = {}
        for r in docs:
            h = hashlib.md5(keyfn(r.text).encode()).hexdigest()
            per_hash.setdefault(h, {}).setdefault(split_of(r.doc_id), 0)
            per_hash[h][split_of(r.doc_id)] += 1
        for h, splits in per_hash.items():
            for a in splits:
                for b in splits:
                    if a < b:
                        key = (kind, a, b)
                        g, na, nb = want.get(key, (0, 0, 0))
                        want[key] = (g + 1, na + splits[a], nb + splits[b])
    got = {(r.kind, r.split_a, r.split_b): (r.n_groups, r.n_docs_a, r.n_docs_b)
           for r in QUERIES["j_split_leakage"](spark, SF_SMALL).collect()}
    assert got == want
    assert any(k[0] == "prefix16" for k in got), "prefix16 kind empty"


def test_sample_debias_identities(spark):
    """HT estimate == n_kept/rate exactly; zh (keep-all) has zero
    error; kept counts never exceed the stratum."""
    rows = QUERIES["j_sample_debias"](spark, SF_SMALL).collect()
    langs = {r.lang for r in rows}
    assert "zh" in langs
    for r in rows:
        assert 0 <= r.n_kept <= r.n_true
        assert abs(r.ht_estimate - round(r.n_kept / r.keep_rate, 4)) < 0.02
        if r.lang == "zh":
            assert r.keep_rate == 1.0 and r.n_kept == r.n_true and r.rel_err == 0.0


def test_logreg_quality_scores_are_probabilities(spark):
    """Scores are probabilities; per-lang doc counts conserve; the
    accuracy column is consistent with n_pred_en for en vs non-en."""
    rows = QUERIES["j_logreg_quality"](spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    per_lang = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert {r.lang: r.n_docs for r in rows} == per_lang
    for r in rows:
        assert 0.0 <= r.mean_score <= 1.0
        assert 0 <= r.n_pred_en <= r.n_docs
        want_correct = r.n_pred_en if r.lang == "en" else r.n_docs - r.n_pred_en
        assert abs(r.accuracy - round(want_correct / r.n_docs, 6)) < 2e-6


def test_cogrouped_recon_matches_direct_join(spark):
    """The cogrouped pandas reconciliation equals the pure-DataFrame
    join-aggregate computed in the same session."""
    from aprsdb_spark.queries.udfs import _COGROUP_CUT
    from aprsdb_spark.tables import load

    t = load(spark, SF_SMALL)
    got = {r.o_orderkey: r for r in QUERIES["k_cogrouped_pandas"](spark, SF_SMALL).collect()}
    o = t.orders.where(F.col("o_orderkey") < _COGROUP_CUT)
    li = (
        t.lineitem.where(F.col("l_orderkey") < _COGROUP_CUT)
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")).alias("qty_c"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")).alias("ext_c"),
        )
    )
    want = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left").collect()
    assert len(want) == len(got)
    for r in want:
        g = got[r.o_orderkey]
        assert g.n_lines == (r.n_lines or 0)
        assert g.qty_cents == (r.qty_c or 0)
        assert g.ext_cents == (r.ext_c or 0)
        assert g.recon_diff_cents == g.ext_cents - g.total_cents


def test_pq_arrow_kernels_match_expression_form(spark):
    """pq_codes_arrow / pq_adc_arrow must equal the best_code_expr +
    chained-element_at expression form ROW FOR ROW (codes exactly,
    ADC scores bitwise after the shared 1e-6 floor) — the contract
    that lets the kernels serve the query path while the expression
    form remains the registered reference in the streaming ingest."""
    from aprsdb_spark.operators.similarity import (
        _lit_vector,
        as_double,
        best_code_expr,
        pq_adc_arrow,
        pq_codes_arrow,
        pq_train_local,
        seq_dot,
    )
    from aprsdb_spark.tables import load

    t = load(spark, SF_SMALL)
    books = pq_train_local(SF_SMALL, n_blocks=8, k=32, iters=2)
    d = len(books[0][0][1])
    want_codes = {
        r.vec_id: tuple(r)[1:]
        for r in t.embeddings.select(
            "vec_id",
            *[
                (-best_code_expr(
                    books[b], F.slice(as_double("embedding"), b * d + 1, d)
                )["ncid"]).cast("int").alias(f"c{b}")
                for b in range(8)
            ],
        ).collect()
    }
    got_codes = {
        r.vec_id: tuple(r)[1:]
        for r in pq_codes_arrow(t.embeddings, books).collect()
    }
    assert got_codes == want_codes

    qrow = t.embeddings.where(F.col("vec_id") == 0).select("embedding").head()
    q = [float(x) for x in qrow.embedding]
    adc_lits = [
        _lit_vector([seq_dot(q[b * d : (b + 1) * d], cv) for _, cv in books[b]])
        for b in range(8)
    ]
    adc = None
    for b in range(8):
        term = F.element_at(adc_lits[b], (F.lit(want_codes[0][b]) * 0 + F.col(f"c{b}") + 1).cast("int"))
        adc = term if adc is None else adc + term
    codes_df = pq_codes_arrow(t.embeddings, books)
    from aprsdb_spark.functions import rnd

    want_adc = {
        r.vec_id: r.s
        for r in codes_df.select("vec_id", rnd(adc, 6).alias("s")).collect()
    }
    got_adc = {
        r.vec_id: r.adc_score
        for r in pq_adc_arrow(t.embeddings, books, q).collect()
    }
    assert got_adc == want_adc


def test_topk_scores_arrow_is_partitioning_invariant(spark):
    """The batch-partial top-k kernel must reproduce the exact global
    top-k regardless of how candidates split into partitions/batches —
    the soundness property j_ece_calibration's plan rests on. The
    fixture's single parquet file arrives as ONE Arrow batch, so this
    forces 7 partitions AND a tiny Arrow batch size, then compares the
    final per-qid top-k against the single-partition run AND a plain
    Python brute force."""
    from aprsdb_spark.operators.similarity import topk_scores_arrow

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    qrows = emb.where(F.col("vec_id") < 5).collect()
    qmat = [[float(x) for x in r.embedding] for r in qrows]
    qids = [int(r.vec_id) for r in qrows]
    cand = emb.where(F.col("vec_id") >= 5)

    def final_topk(df):
        from pyspark.sql import Window

        w = Window.partitionBy("qid").orderBy(F.col("s6").desc(), F.col("vec_id").asc())
        rows = (
            topk_scores_arrow(df, qmat, qids, 10)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 10)
            .collect()
        )
        return sorted((r.qid, r.rk, r.vec_id, r.s6) for r in rows)

    one = final_topk(cand.coalesce(1))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
        many = final_topk(cand.repartition(7))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert one == many, "partial top-k merge is partitioning-dependent"

    # python brute force for one query
    import math

    cands = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in cand.collect()]
    q0 = qmat[0]
    scored = sorted(
        ((-(math.floor(sum(a * b for a, b in zip(v, q0)) * 1e6 + 0.5))), vid)
        for vid, v in cands
    )[:10]
    want0 = [(qids[0], i + 1, vid, -s) for i, (s, vid) in enumerate(scored)]
    got0 = [t for t in one if t[0] == qids[0]]
    assert got0 == sorted(want0)


def test_hapax_rate_matches_python_brute(spark):
    from collections import Counter

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    by_src: dict = {}
    for r in docs:
        by_src.setdefault(r.source, Counter()).update(r.text.split(" "))
    got = {r.source: r for r in QUERIES["j_hapax_rate"](spark, SF_SMALL).collect()}
    assert set(got) == set(by_src)
    for src, cnt in by_src.items():
        h = sum(1 for c in cnt.values() if c == 1)
        r = got[src]
        assert (r.n_tokens, r.n_types, r.n_hapax) == (
            sum(cnt.values()), len(cnt), h,
        )
        assert abs(r.hapax_type_rate - round(h / len(cnt), 6)) < 2e-6


def test_vocab_jaccard_matches_python_brute(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    vocab: dict = {}
    for r in docs:
        vocab.setdefault(r.source, set()).update(r.text.split(" "))
    got = {(r.src_a, r.src_b): r for r in QUERIES["j_vocab_jaccard_sources"](spark, SF_SMALL).collect()}
    srcs = sorted(vocab)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            inter = len(vocab[a] & vocab[b])
            if inter == 0:
                assert (a, b) not in got
                continue
            r = got[(a, b)]
            assert (r.v_a, r.v_b, r.n_common) == (len(vocab[a]), len(vocab[b]), inter)
            jac = inter / len(vocab[a] | vocab[b])
            assert abs(r.vocab_jaccard - round(jac, 6)) < 2e-6


def test_embed_mmd_matches_python_brute(spark):
    """MMD2 == exact integer arithmetic over per-dim means on the 1e-6
    grid, where each element quantizes to the 1e-9 grid FIRST (so the
    whole chain is order-free integers — this brute force replays the
    exact definition, including the sign-safe floor-div)."""
    import math

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    by_label: dict = {}
    for r in emb:
        by_label.setdefault(int(r.label), []).append([float(x) for x in r.embedding])
    mu6 = {
        lab: [
            (2 * sum(math.floor(v[j] * 1e9 + 0.5) for v in vs) + 1000 * len(vs))
            // (2000 * len(vs))
            for j in range(len(vs[0]))
        ]
        for lab, vs in by_label.items()
    }
    got = {(r.label_a, r.label_b): r for r in QUERIES["j_embed_mmd"](spark, SF_SMALL).collect()}
    labs = sorted(mu6)
    assert len(got) == len(labs) * (len(labs) - 1) // 2
    for i, a in enumerate(labs):
        for b in labs[i + 1:]:
            s12 = sum((x - y) ** 2 for x, y in zip(mu6[a], mu6[b]))
            r = got[(a, b)]
            assert r.mmd2_s12 == s12, (a, b)
            assert (r.n_a, r.n_b) == (len(by_label[a]), len(by_label[b]))


def test_slice_deciles_are_exact_per_lang_quantiles(spark):
    """Per-lang boundaries equal plain-Python lower quantiles of the
    raw length lists."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    by_lang: dict = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append(r.n_chars)
    got = {(r.lang, r.decile): r for r in QUERIES["j_slice_deciles"](spark, SF_SMALL).collect()}
    for lang, vals in by_lang.items():
        vals.sort()
        n = len(vals)
        for d in range(1, 10):
            target = (d * n + 9) // 10
            want = vals[target - 1]
            r = got[(lang, d)]
            assert r.boundary == want, (lang, d, want, r.boundary)
            assert r.target_rank == target
            assert r.n_le >= target


# ------------------------------------------------------------ r12 wave 1


def test_dedup_keep_best_elects_longest_member(spark):
    """Keeper = most tokens, tie -> min doc_id; tokens_dropped = family
    token mass minus the keeper's — replayed in plain Python."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    import hashlib

    fams: dict = {}
    for r in docs:
        toks = r.text.split(" ")
        ph = hashlib.md5(" ".join(toks[:16]).encode()).hexdigest()
        fams.setdefault(ph, []).append((len(toks), r.doc_id))
    got = {r.prefix_md5: r for r in QUERIES["j_dedup_keep_best"](spark, SF_SMALL).collect()}
    want = {ph: ms for ph, ms in fams.items() if len(ms) > 1}
    assert set(got) == set(want)
    for ph, ms in want.items():
        best = max(ms, key=lambda t: (t[0], -t[1]))
        r = got[ph]
        assert (r.keep_id, r.keep_n_tokens) == (best[1], best[0])
        assert r.n_docs == len(ms)
        assert r.tokens_dropped == sum(t[0] for t in ms) - best[0]


def test_wilson_ci_matches_python_formula(spark):
    """Wilson bounds == the closed form on exact (x, n), z = sqrt(3.8416);
    interval contains the point estimate and sits inside [0, 1]."""
    import math

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    agg: dict = {}
    for r in docs:
        n, x = agg.get(r.source, (0, 0))
        defect = not (100 <= r.n_chars <= 2000 and len(r.text.split(" ")) >= 20)
        agg[r.source] = (n + 1, x + int(defect))
    z2 = 3.8416
    z = math.sqrt(z2)
    for row in QUERIES["j_wilson_ci"](spark, SF_SMALL).collect():
        n, x = agg[row.source]
        assert (row.n_docs, row.n_defects) == (n, x)
        center = (x + z2 / 2) / (n + z2)
        half = (z / (n + z2)) * math.sqrt(float(x * (n - x)) / n + z2 / 4)
        assert abs(row.ci_low - (center - half)) < 2e-6
        assert abs(row.ci_high - (center + half)) < 2e-6
        assert 0.0 <= row.ci_low <= x / n <= row.ci_high <= 1.0


def test_data_card_counts_match_python(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    per: dict = {}
    for r in docs:
        d = per.setdefault(
            r.source,
            {"n": 0, "langs": set(), "chars": 0, "toks": 0, "types": set(), "texts": set()},
        )
        d["n"] += 1
        d["langs"].add(r.lang)
        d["chars"] += r.n_chars
        ws = r.text.split(" ")
        d["toks"] += len(ws)
        d["types"].update(ws)
        d["texts"].add(r.text)
    for row in QUERIES["j_data_card"](spark, SF_SMALL).collect():
        d = per[row.source]
        assert (row.n_docs, row.n_langs, row.total_chars) == (d["n"], len(d["langs"]), d["chars"])
        assert (row.n_tokens, row.n_types) == (d["toks"], len(d["types"]))
        assert row.n_exact_dups == d["n"] - len(d["texts"])


def test_feature_corr_matches_python_pearson(spark):
    import math

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    per: dict = {}
    for r in docs:
        per.setdefault(r.source, []).append((r.n_chars, len(r.text.split(" "))))
    for row in QUERIES["j_feature_corr"](spark, SF_SMALL).collect():
        pts = per[row.source]
        n = len(pts)
        sx = sum(p[0] for p in pts); sy = sum(p[1] for p in pts)
        sxx = sum(p[0] * p[0] for p in pts); syy = sum(p[1] * p[1] for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        num = n * sxy - sx * sy
        d1 = n * sxx - sx * sx
        d2 = n * syy - sy * sy
        assert (row.n_docs, row.sum_chars, row.sum_tokens) == (n, sx, sy)
        assert row.cov_num == float(num)
        if d1 > 0 and d2 > 0:
            want = num / (math.sqrt(d1) * math.sqrt(d2))
            assert abs(row.pearson_r - want) < 2e-6
            assert -1.0 - 1e-9 <= row.pearson_r <= 1.0 + 1e-9
        else:
            assert row.pearson_r is None


# ------------------------------------------------------------ r12 wave 2


def test_drift_timeslices_chi2_matches_python(spark):
    """Chi-square per day == plain-Python replay of the exact pipeline
    (quantize, equi-width bucket, per-term 1e-6 floor, integer sum)."""
    import math
    from collections import Counter

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").collect()
    rows = []
    for r in ev:
        ms = int(r.ts.timestamp() * 1000) if hasattr(r.ts, "timestamp") else r.ts // 10**6
        rows.append((ms // 86400000, math.floor(r.value * 1e6 + 0.5)))
    lo = min(v for _, v in rows); hi = max(v for _, v in rows)
    big_n = len(rows)
    buck = [(d, ((v - lo) * 10) // (hi - lo + 1)) for d, v in rows]
    g = Counter(b for _, b in buck)
    nd = Counter(d for d, _ in buck)
    oc = Counter(buck)
    got = {r.day_idx: r for r in QUERIES["j_drift_timeslices"](spark, SF_SMALL).collect()}
    assert set(got) == set(nd)
    for d, n in nd.items():
        s6 = 0
        best = None
        for b, gc in g.items():
            o = oc.get((d, b), 0)
            num = o * big_n - n * gc
            s6 += math.floor(num * num / (n * gc * big_n) * 1e6 + 0.5)
            key = (abs(num), -b)
            if best is None or key > best[0]:
                best = (key, b, o, gc)
        r = got[d]
        assert r.n_events == n
        assert abs(r.chi2 - s6 / 1e6) < 1e-9
        assert r.top_bucket == best[1]


def test_ngram_entropy_curve_is_monotone_and_matches_python(spark):
    """H_n/n falls with n (more context, less per-token surprise);
    values match the plain-Python Shannon identity."""
    import math
    from collections import Counter

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    got = {r.n: r for r in QUERIES["j_ngram_entropy_curve"](spark, SF_SMALL).collect()}
    assert set(got) == {1, 2, 3}
    hs = {}
    for n in (1, 2, 3):
        c = Counter()
        for r in docs:
            toks = r.text.split(" ")
            for i in range(max(len(toks) - n + 1, 0)):
                c[" ".join(toks[i : i + n])] += 1
        big_n = sum(c.values())
        h = math.log(big_n) - sum(v * math.log(v) for v in c.values()) / big_n
        hs[n] = h
        row = got[n]
        assert (row.n_grams, row.n_types) == (big_n, len(c))
        assert abs(row.entropy - h) < 2e-6
        assert abs(row.per_token_entropy - h / n) < 2e-6
        assert abs(row.redundancy - (1 - h / (n * hs[1]))) < 2e-6
    assert got[1].per_token_entropy >= got[2].per_token_entropy >= got[3].per_token_entropy


def test_decile_grid_2d_marginals_and_lift(spark):
    """Cells partition the corpus; marginals are decile-balanced; lift
    is observed/expected over exact integers."""
    rows = QUERIES["j_decile_grid_2d"](spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert sum(r.n for r in rows) == docs
    # row/col marginals consistent with the per-cell sums
    from collections import defaultdict

    rt = defaultdict(int); ct = defaultdict(int)
    for r in rows:
        rt[r.gx] += r.n; ct[r.gy] += r.n
    for r in rows:
        assert r.row_tot == rt[r.gx] and r.col_tot == ct[r.gy]
        want = r.n * docs / (r.row_tot * r.col_tot)
        assert abs(r.lift - want) < 2e-6
        assert 1 <= r.gx <= 10 and 1 <= r.gy <= 10


# ------------------------------------------------------------ r12 wave 3


def test_brier_score_matches_python_knn(spark):
    """Per-label Brier == brute-force python kNN (k=10, ranked by the
    1e-6-floored dot, vec_id tiebreak) with the exact-integer identity
    K^2*B = sum(v^2) - 2*K*v_true + K^2."""
    import math

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb}
    labs = {int(r.vec_id): int(r.label) for r in emb}
    NQ, K = 200, 10

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    per_label: dict = {}
    for qid in [i for i in vecs if i < NQ]:
        scored = sorted(
            (
                (-math.floor(dot(vecs[c], vecs[qid]) * 1e6 + 0.5), c)
                for c in vecs
                if c >= NQ
            ),
        )[:K]
        votes = Counter(labs[c] for _, c in scored)
        vt = votes.get(labs[qid], 0)
        bq = sum(v * v for v in votes.values()) - 2 * K * vt + K * K
        n, s = per_label.get(labs[qid], (0, 0))
        per_label[labs[qid]] = (n + 1, s + bq)
    got = {r.true_label: r for r in QUERIES["j_brier_score"](spark, SF_SMALL).collect()}
    assert set(got) == set(per_label)
    for lab, (n, s) in per_label.items():
        r = got[lab]
        assert (r.n_queries, r.brier_sum_scaled) == (n, s)
        assert abs(r.brier - s / (n * K * K)) < 2e-6
        assert 0.0 <= r.brier <= 2.0


def test_bpe_compression_consistent_with_encode(spark):
    """Per-source sums == the per-doc j_bpe_encode rollup grouped by the
    documents' sources (the two qids must tell one story)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    src = {r.doc_id: r.source for r in docs}
    enc = QUERIES["j_bpe_encode"](spark, SF_SMALL).collect()
    agg: dict = {}
    for r in enc:
        a = agg.setdefault(src[r.doc_id], [0, 0])
        a[0] += r.n_tokens_ws
        a[1] += r.n_tokens_bpe
    got = {r.source: r for r in QUERIES["j_bpe_compression"](spark, SF_SMALL).collect()}
    assert set(got) == set(agg)
    for s, (nw, nb) in agg.items():
        assert (got[s].n_words, got[s].n_subtokens) == (nw, nb)
        assert got[s].n_word_chars >= got[s].n_subtokens  # each subtoken >= 1 char


def test_source_tfidf_ranks_by_floored_score(spark):
    """Top-5 terms per source == plain-Python tf-idf with the floored
    integer rank key."""
    import math

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    tf: dict = {}
    for r in docs:
        for w in r.text.split(" "):
            tf[(r.source, w)] = tf.get((r.source, w), 0) + 1
    dfc = Counter(term for _, term in tf)
    srcs = {s for s, _ in tf}
    got: dict = {}
    for r in QUERIES["j_source_tfidf"](spark, SF_SMALL).collect():
        got.setdefault(r.source, []).append(r)
    assert set(got) == srcs
    for s in srcs:
        scored = sorted(
            (
                (
                    -math.floor(
                        tf[(s, w)] * math.log((len(srcs) + 1.0) / (dfc[w] + 1.0)) * 1e6
                        + 0.5
                    ),
                    w,
                )
                for (s2, w) in tf
                if s2 == s
            ),
        )[:5]
        rows = sorted(got[s], key=lambda r: r.rk)
        assert len(rows) == min(5, len(scored))
        for rk, ((negs6, w), row) in enumerate(zip(scored, rows), start=1):
            assert (row.term, row.rk) == (w, rk), (s, rk)
            assert abs(row.tfidf - (-negs6) / 1e6) < 1e-9
            assert row.tf == tf[(s, w)] and row.df == dfc[w]


# ------------------------------------------------------------ r12 wave 4


def test_simhash_hamming_separates_near_pairs(spark):
    """Histogram partitions all same-block pairs; near pairs sit at
    strictly lower mean Hamming than far pairs (the separation the
    audit exists to measure); buckets bound their members."""
    rows = QUERIES["j_simhash_hamming"](spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    blocks = Counter((r.lang, r.source) for r in docs)
    want_pairs = sum(c * (c - 1) // 2 for c in blocks.values())
    assert sum(r.n_pairs for r in rows) == want_pairs
    for r in rows:
        assert r.hbucket * 8 <= r.min_hamming <= r.max_hamming < (r.hbucket + 1) * 8
        assert 0.0 <= r.mean_jaccard <= 1.0
    near = [r for r in rows if r.is_near]
    far = [r for r in rows if not r.is_near]
    if near and far:
        near_mean = sum(r.min_hamming * r.n_pairs for r in near) / sum(r.n_pairs for r in near)
        far_mean = sum(r.min_hamming * r.n_pairs for r in far) / sum(r.n_pairs for r in far)
        assert near_mean < far_mean


def test_assortativity_matches_python(spark):
    """One-row Pearson over edge endpoint degrees == plain Python on
    the collected edge list (edges reconstructed from j_graph_degree's
    relation via the registered degree query invariants)."""
    import math

    row = QUERIES["j_assortativity"](spark, SF_SMALL).collect()[0]
    deg = QUERIES["j_graph_degree"](spark, SF_SMALL).collect()
    # total edges = sum of out degrees = sum of in degrees
    m_edges = sum(r.out_deg for r in deg)
    assert row.n_edges == m_edges == sum(r.in_deg for r in deg)
    if row.assortativity is not None:
        assert -1.0 - 1e-9 <= row.assortativity <= 1.0 + 1e-9


def test_scan_xml_roundtrip_matches_parquet(spark):
    """XML scan aggregate == the same aggregate over the parquet table
    (fidelity through the XML write/read, including md5 name check)."""
    from aprsdb_spark.operators.dedup import portable_hash32

    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    want = {
        r.c_mktsegment: r
        for r in cust.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum("c_custkey").cast("long").alias("key_check"),
            F.sum(portable_hash32(F.col("c_name"))).cast("long").alias("name_check"),
        )
        .collect()
    }
    got = {r.c_mktsegment: r for r in QUERIES["a_scan_xml"](spark, SF_SMALL).collect()}
    assert set(got) == set(want)
    for seg, w in want.items():
        g = got[seg]
        assert (g.n_cust, g.key_check, g.name_check) == (w.n_cust, w.key_check, w.name_check)


# ------------------------------------------------------------ r12 waves 5-6


def test_split_balance_partitions_and_chi2_sign(spark):
    """Splits partition the corpus with the 80/10/10 hash shares; chi2
    is non-negative; shares sum to 1 on the 1e-6 grid."""
    rows = QUERIES["j_split_balance"](spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    assert sum(r.n_docs for r in rows) == docs
    for r in rows:
        assert r.chi2 >= 0.0
        assert abs(r.share - r.n_docs / docs) < 2e-6


def test_neyman_allocation_matches_python(spark):
    """Weights proportional to sqrt(n*sxx - sx^2); allocation is the
    exact integer half-up split of K=1000."""
    import math

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    per: dict = {}
    for r in docs:
        n, sx, sxx = per.get(r.source, (0, 0, 0))
        per[r.source] = (n + 1, sx + r.n_chars, sxx + r.n_chars * r.n_chars)
    s6 = {
        s: math.floor(math.sqrt(n * sxx - sx * sx) * 1e6 + 0.5)
        for s, (n, sx, sxx) in per.items()
    }
    s6_tot = sum(s6.values())
    got = {r.source: r for r in QUERIES["j_neyman_allocation"](spark, SF_SMALL).collect()}
    assert set(got) == set(per)
    for s, r in got.items():
        assert r.n_docs == per[s][0]
        assert abs(r.weight - s6[s] / s6_tot) < 2e-6
        assert r.alloc == (2 * 1000 * s6[s] + s6_tot) // (2 * s6_tot)
    # allocations sum to ~K (half-up rounding drift < |strata|)
    assert abs(sum(r.alloc for r in got.values()) - 1000) <= len(got)


def test_ks_embed_matches_python_brute(spark):
    """One-vs-rest KS on the 1e-3 projection grid == plain Python CDF
    scan (same literal axis/offset)."""
    import math

    from aprsdb_spark.operators.similarity import pca_axis_local

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    _, axis, offset = pca_axis_local(SF_SMALL)

    def proj(v):
        s = 0.0
        for x, a in zip(v, axis):
            s += float(x) * a
        return s - offset

    pts = [(int(r.label), math.floor(proj(r.embedding) * 1000 + 0.5)) for r in emb]
    grid = sorted({p for _, p in pts})
    big_n = len(pts)
    got = {r.label: r for r in QUERIES["j_ks_embed"](spark, SF_SMALL).collect()}
    labels = {l for l, _ in pts}
    assert set(got) == labels
    for lab in labels:
        nl = sum(1 for l, _ in pts if l == lab)
        best = (-1, None)
        cuml = cumg = 0
        for v in grid:
            cuml += sum(1 for l, p in pts if l == lab and p == v)
            cumg += sum(1 for _, p in pts if p == v)
            d = abs(cuml * (big_n - nl) - (cumg - cuml) * nl)
            if d > best[0]:
                best = (d, v)
        r = got[lab]
        assert (r.n_in, r.n_rest) == (nl, big_n - nl)
        assert abs(r.ks_stat - best[0] / (nl * (big_n - nl))) < 2e-6
        assert r.ks_at == best[1] / 1000.0


def test_ks_embed_runs_on_one_leaf(spark):
    """Everything after j_ks_embed's (label, cell) count runs on one
    single-partition leaf: the executed plan holds no shuffle exchange
    (the corpus aggregation sits behind the checkpointed leaf, and AQE
    runs its shuffle stages while the qid is built) and three
    broadcasts (label totals, cell counts, corpus total). A noop write
    of the built frame runs 4 Spark jobs with AQE on, the three
    broadcasts and the result; the persisted form it replaced planned
    10 shuffles and 6 broadcasts and ran 27 jobs per write."""
    from aprsdb_spark.plans.inspect import exchange_nodes

    spark.catalog.clearCache()
    df = QUERIES["j_ks_embed"](spark, SF_DIR)
    assert exchange_nodes(df) == {"shuffle": 0, "broadcast": 3}
    sc = spark.sparkContext
    group = "ks-embed-write-jobs"
    sc.setJobGroup(group, "j_ks_embed noop write")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 4, jobs
    assert exchange_nodes(df) == {"shuffle": 0, "broadcast": 3}


def test_ks_embed_leaves_no_cache_entry(spark, duck):
    """j_ks_embed's cell-count leaf is a lazy local checkpoint, not a
    persist (which leaked one CacheManager entry per call), and the
    qid still matches its DuckDB oracle at sf0.01."""
    from aprsdb_spark.registry import ORACLE
    from tests.conftest import compare_query

    spark.catalog.clearCache()
    n = compare_query(spark, duck, QUERIES["j_ks_embed"], ORACLE["j_ks_embed"])
    assert n > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_est_error_unbiased_shape(spark):
    """Estimate buckets cover all block pairs; per-bucket mean exact
    jaccard increases with the match count (the estimator is monotone
    on average); the zero-match bucket sits near zero jaccard."""
    rows = sorted(QUERIES["j_minhash_est_error"](spark, SF_SMALL).collect(),
                  key=lambda r: r.n_matches)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    blocks = Counter((r.lang, r.source) for r in docs)
    assert sum(r.n_pairs for r in rows) == sum(c * (c - 1) // 2 for c in blocks.values())
    for r in rows:
        assert 0 <= r.n_matches <= 16
        assert abs(r.est_jaccard - r.n_matches / 16) < 1e-9
        assert 0.0 <= r.mean_jaccard <= 1.0
        assert r.mean_abs_err >= 0.0
    if len(rows) >= 3:
        lo, hi = rows[0], rows[-1]
        assert lo.mean_jaccard < hi.mean_jaccard


# ------------------------------------------------------------ r12 wave 7


def test_dedup_survivors_ordering_and_python_counts(spark):
    """Raw >= exact >= prefix keepers (hash groups only coarsen);
    exact/prefix counts replayed in plain Python; near leg removes
    exactly the larger ids of the >=0.8 blocked pair set."""
    import hashlib

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    rows = {r.strategy: r for r in QUERIES["j_dedup_survivors"](spark, SF_SMALL).collect()}
    n0 = rows["raw"].n_survivors
    assert n0 == len(docs)
    exact = len({hashlib.md5(r.text.encode()).hexdigest() for r in docs})
    prefix = len({
        hashlib.md5(" ".join(r.text.split(" ")[:16]).encode()).hexdigest()
        for r in docs
    })
    assert rows["exact_md5"].n_survivors == exact
    assert rows["prefix16"].n_survivors == prefix
    assert n0 >= exact >= prefix
    near = rows["near_jaccard08"]
    dropped = {r.id_b for r in QUERIES["j_dedup_ngram"](spark, SF_SMALL).collect()}
    assert near.n_survivors == n0 - len(dropped)
    for r in rows.values():
        assert r.n_removed == n0 - r.n_survivors


def test_dup_transitivity_matches_python(spark):
    """Edges/wedges/closures replayed in plain Python over the
    registered >=0.8 pair set."""
    pairs = {(r.id_a, r.id_b) for r in QUERIES["j_dedup_ngram"](spark, SF_SMALL).collect()}
    adj: dict = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    wedges = closed = 0
    for m, nbrs in adj.items():
        ns = sorted(nbrs)
        for i, x in enumerate(ns):
            for y in ns[i + 1:]:
                wedges += 1
                if (min(x, y), max(x, y)) in pairs:
                    closed += 1
    row = QUERIES["j_dup_transitivity"](spark, SF_SMALL).collect()[0]
    assert (row.n_edges, row.n_wedges, row.n_closed) == (len(pairs), wedges, closed)
    if wedges:
        assert abs(row.closure_rate - closed / wedges) < 2e-6


def test_ts_autocorr_matches_python(spark):
    """Per-type lag-1 Pearson == plain Python over the
    (ts_ms, event_id)-ordered quantized series."""
    import math

    from aprsdb_spark.tables import load as tload

    ev = tload(spark, SF_SMALL).events.select(
        "event_type", "ts_ms", "event_id", "value"
    ).collect()
    series: dict = {}
    for r in sorted(ev, key=lambda r: (r.ts_ms, r.event_id)):
        series.setdefault(r.event_type, []).append(math.floor(r.value * 1e6 + 0.5))
    got = {r.event_type: r for r in QUERIES["j_ts_autocorr"](spark, SF_SMALL).collect()}
    assert set(got) == set(series)
    for et, xs in series.items():
        pairs = list(zip(xs, xs[1:]))
        n = len(pairs)
        r = got[et]
        assert r.n_pairs == n
        sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
        sxx = sum(x * x for x, _ in pairs); syy = sum(y * y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        d1 = n * sxx - sx * sx; d2 = n * syy - sy * sy
        if d1 > 0 and d2 > 0:
            want = (n * sxy - sx * sy) / (math.sqrt(d1) * math.sqrt(d2))
            assert abs(r.autocorr - want) < 2e-6
            assert -1.0 - 1e-9 <= r.autocorr <= 1.0 + 1e-9


# --------------------------------------------- shared-rollup properties


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # day/key
            st.integers(min_value=0, max_value=9),   # bucket
            st.integers(min_value=1, max_value=500), # count
        ),
        min_size=1,
        max_size=24,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_drift_from_counts_properties(spark, cells):
    """The shared batch/stream χ² rollup on arbitrary count matrices:
    chi2 >= 0, day totals reproduce the matrix, the named top bucket
    carries the maximal |oN − n·g| deviation (tie -> smallest)."""
    from aprsdb_spark.queries.timeseries import drift_from_counts

    o = spark.createDataFrame(cells, "day_idx long, bucket long, oc long")
    rows = drift_from_counts(o).collect()
    tot = {}
    for d, _b, c in cells:
        tot[d] = tot.get(d, 0) + c
    assert {r.day_idx for r in rows} == set(tot)
    big_n = sum(tot.values())
    g = {}
    for _d, b, c in cells:
        g[b] = g.get(b, 0) + c
    byc = {(d, b): c for d, b, c in cells}
    for r in rows:
        assert r.n_events == tot[r.day_idx]
        assert r.chi2 >= 0.0
        devs = {
            b: abs(byc.get((r.day_idx, b), 0) * big_n - tot[r.day_idx] * gc)
            for b, gc in g.items()
        }
        best = min(sorted(devs), key=lambda b: (-devs[b], b))
        assert r.top_bucket == best


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**9),  # n
            st.integers(min_value=0, max_value=10**9),  # x <= n enforced below
        ),
        min_size=1,
        max_size=6,
    )
)
def test_wilson_from_counts_properties(spark, counts):
    """The shared batch/stream Wilson rollup on arbitrary (n, x):
    0 <= ci_low <= rate <= ci_high <= 1 (grid tolerance) for any
    stratum size, including x=0 and x=n."""
    from aprsdb_spark.queries.governance import wilson_from_counts

    data = [(f"s{i}", n, min(x, n)) for i, (n, x) in enumerate(counts)]
    a = spark.createDataFrame(data, "source string, n long, x long")
    for r in wilson_from_counts(a).collect():
        eps = 2e-6
        assert -eps <= r.ci_low <= r.defect_rate + eps
        assert r.defect_rate - eps <= r.ci_high <= 1.0 + eps

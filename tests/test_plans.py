"""Physical-plan regression tests: the 100 TB story lives or dies on
these properties — filter pushdown reaching the parquet scan, column
pruning, dimension broadcasts, top-k without a global sort. A code
change that silently breaks one of these passes correctness tests and
then falls over at scale; these tests make the plan part of the spec.

PINNED SPARK VERSION: these tests assert against Spark 4.1.x physical
plans (exact Exchange node counts, codegen substrings like
'aggregate(zip_with'). A Spark minor-version bump or an AQE default
change can flip dozens of them at once with zero real regression —
test_pinned_spark_version below fails FIRST in that event, so a mass
failure is immediately attributable to the version, not to plan
regressions (ADVICE r14).
"""

from __future__ import annotations

import os

import pytest

from aprsdb_spark.registry import QUERIES, load_all
from tests.conftest import SF_DIR

load_all()


def test_pinned_spark_version():
    """Plan-string pins in this module were measured on Spark 4.1.x. If
    this fails, re-measure the Exchange ceilings and codegen substrings
    under the new version before trusting any other failure here."""
    import pyspark

    assert pyspark.__version__.startswith("4.1."), (
        f"plan pins were measured on Spark 4.1.x; running "
        f"{pyspark.__version__} — re-baseline this module's plan strings"
    )


def _plan(spark, qid: str) -> str:
    df = QUERIES[qid](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_scan_pruned_pushes_filter_and_prunes_columns(spark):
    p = _plan(spark, "a_scan_pruned")
    assert "GreaterThanOrEqual(l_shipdate" in p, "date filter not pushed to parquet"
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read and "l_extendedprice" in read and "l_shipdate" in read
    assert "l_quantity" not in read, "column pruning lost: full row read for 3-col query"


def test_star_dims_are_broadcast(spark):
    from aprsdb_spark.plans.inspect import plan_nodes

    nodes = plan_nodes(QUERIES["c_join_bcast"](spark, SF_DIR))
    assert nodes["BroadcastHashJoinExec"] >= 2, "nation/region must broadcast, not shuffle"
    assert nodes["SortMergeJoinExec"] == 0


def test_topk_avoids_global_sort(spark):
    p = _plan(spark, "f_topk")
    assert "TakeOrderedAndProject" in p, "top-k regressed to a full global sort"


def test_smj_hint_respected_for_large_join(spark):
    p = _plan(spark, "c_join_smj")
    assert "SortMergeJoin" in p


def test_agg_is_two_phase(spark):
    """Partial (map-side) + final hash agg: the shuffle carries one row
    per group per partition, not per input row."""
    from aprsdb_spark.plans.inspect import plan_nodes

    assert plan_nodes(QUERIES["d_agg_basic"](spark, SF_DIR))["HashAggregateExec"] >= 2


def test_semi_anti_join_shapes(spark):
    assert "LeftSemi" in _plan(spark, "c_join_semi")
    assert "LeftAnti" in _plan(spark, "c_join_anti")


def test_q10_pushes_filters_and_heaps_topk(spark):
    """TPC-H Q10 shape: returnflag reaches the lineitem scan, the date
    range the orders scan, nation broadcasts, and the final ORDER BY +
    LIMIT 20 is per-partition heaps — never a global sort."""
    p = _plan(spark, "c_sql_q10")
    assert "EqualTo(l_returnflag,R)" in p, "returnflag filter not pushed to lineitem scan"
    assert "GreaterThanOrEqual(o_orderdate" in p, "date range not pushed to orders scan"
    assert "TakeOrderedAndProject" in p, "top-20 regressed to a global sort"
    assert "BroadcastHashJoin" in p, "nation dim must broadcast"


def test_staged_arrays_share_one_producing_chain(spark):
    """The r5 staging rule (SCALE.md §4): multi-referenced computed
    arrays must carry ONE producing chain in the physical plan, not one
    per reference. Winnowing references its md5-hash array 5 times and
    quality_score its token array 6 times — inlined, these plans carried
    8 and 8 producer copies respectively."""
    df = QUERIES["j_winnow_fingerprints"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("md5") <= 2, f"winnowing md5 chain duplicated: {p.count('md5')} nodes"
    df = QUERIES["j_quality_score"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("split(") <= 2, f"quality_score split duplicated: {p.count('split(')} nodes"


def test_semdedup_broadcasts_centroids_and_windows_on_bucket(spark):
    """SemDeDup's centroid join must broadcast (256 rows) and its rank
    window must partition by the bucket key — a global or label window
    would collapse to one partition at scale."""
    p = _plan(spark, "j_semdedup")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    spec = next(l for l in p.splitlines() if "windowspecdefinition" in l)
    assert "windowspecdefinition(bucket" in spec, f"rank window not bucket-keyed: {spec}"


def test_asof_has_no_range_join_explosion(spark):
    """The as-of lowering must be window-over-union — a single exchange
    on user_id and NO join operator at all."""
    p = _plan(spark, "c_join_asof")
    assert "Join" not in p or "BroadcastNestedLoopJoin" not in p
    assert "Window" in p
    assert "Union" in p


def test_lsh_candidates_join_is_hash_equi(spark):
    """LSH banding must produce an equi join on (band, hash) — a nested
    loop here means the bucketing key got lost."""
    p = _plan(spark, "j_dedup_near")
    assert "BroadcastNestedLoopJoin" not in p


def test_sim_topk_projects_only_needed_columns(spark):
    p = _plan(spark, "j_sim_topk")
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read and all("embedding" in l or "vec_id" in l for l in read)
    assert "TakeOrderedAndProject" in p


def test_ivf_assignment_is_narrow(spark):
    """IVF cluster assignment must be a pure map stage — argmax over
    literal centroids via array_max(struct(s, -cid)), zero Exchange.
    (The window-over-explode form cost a k-fold row blowup plus a full
    hash-partition shuffle per assignment pass.)"""
    from aprsdb_spark.operators.similarity import ivf_assign
    from aprsdb_spark.plans.inspect import exchange_nodes
    from aprsdb_spark.tables import load

    assigned, _ = ivf_assign(load(spark, SF_DIR).embeddings, k_clusters=8)
    assert exchange_nodes(assigned) == {"shuffle": 0, "broadcast": 0}


def test_bucketed_allpairs_join_on_sketch(spark):
    """The scale-safe all-pairs variants must equi-join on the hyperplane
    sketch bucket — if the bucket key falls out of the join condition the
    plan degrades to the quadratic these qids exist to replace."""
    for qid in ("j_sim_pairs_bucketed", "j_dedup_embed_bucketed"):
        p = _plan(spark, qid)
        assert "BroadcastNestedLoopJoin" not in p, f"{qid}: lost the equi-key"
        assert "CartesianProduct" not in p, f"{qid}: lost the equi-key"
        keys = [l for l in p.splitlines() if "keys" in l and "bucket" in l]
        assert keys, f"{qid}: join keys do not include the LSH bucket"


def _physical(spark, qid: str) -> str:
    """Simple-mode physical plan: operator arguments (hashpartitioning
    keys, SinglePartition) appear inline, unlike formatted mode."""
    df = QUERIES[qid](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_contamination_benchmark_side_broadcasts(spark):
    """The benchmark shingle dictionary must broadcast — a shuffle here
    means the whole corpus re-partitions by term for a membership probe
    against a set that fits in memory."""
    p = _plan(spark, "j_contamination")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_funnel_is_single_user_shuffle(spark):
    """All four stage minima must stack on ONE user_id exchange — a
    second hash exchange means the same-window-spec fusion broke and
    funnel depth became a per-stage shuffle multiplier. (SinglePartition
    exchanges are the final 1-row global agg — expected.)"""
    p = _physical(spark, "j_funnel_stages")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_pack_sequences_big_side_window_is_partitioned(spark):
    """The corpus-sized running sum must ride the range-partitioned
    window; only the tiny range-offset roll-up may be a single-partition
    window. One unpartitioned window over the full table is the global
    sort this qid exists to avoid."""
    p = _physical(spark, "j_pack_sequences")
    # the per-range window: partitioned by range_id
    assert "range_id" in p
    # exactly one SinglePartition exchange (the n/256-row offsets window)
    assert p.count("Exchange SinglePartition") == 1, p


def test_token_budget_big_side_window_is_partitioned(spark):
    """The corpus-sized running sum over (n_chars DESC, doc_id) must
    ride the range-partitioned window (range_id = -(n_chars div 16)).
    Only two tiny single-partition stages are allowed: the |ranges|-row
    offset roll-up window and the 1-row budget aggregate. An
    unpartitioned window over the documents relation is the one-task
    global sort this lowering exists to avoid."""
    p = _physical(spark, "j_token_budget")
    assert "range_id" in p
    assert p.count("Exchange SinglePartition") <= 2, p
    # the documents-sized window carries the range_id partition spec
    big_win = [
        l for l in p.splitlines() if "Window" in l and "doc_id" in l and "n_chars" in l
    ]
    assert big_win and all("range_id" in l for l in big_win), big_win


def test_release_pipeline_shuffles_hashes_not_text(spark):
    """The dedup agg must key on md5(text): the exchange carries 16-byte
    digests, never the documents themselves."""
    p = _physical(spark, "j_pipeline_release")
    exch = [l for l in p.splitlines() if "Exchange hashpartitioning" in l]
    assert exch and all("text#" not in l for l in exch), exch


# qids where these physical operators are the POINT, not a smell;
# test_no_accidental_cartesian_or_row_python fails on a qid listed here
# whose plan has lost the operator, so each list is exact
_EXPECTED_BNLJ = {
    "c_join_cross",   # cartesian of two tiny dims
    "c_join_theta",   # pure non-equi join
    "j_knn_label", "j_lang_id", "j_multimodal_sim", "j_sim_topk",  # 1-row/tiny broadcast query side
    "j_lang_confusion",  # reuses the registered j_lang_id plan verbatim (same fan-outs)
    "j_rank_fusion",  # dense leg: same 1-row broadcast query-vector cross-join
    "j_knn_batch",  # the batch query set (20 rows) broadcasts onto the candidate scan
    "j_knn_confusion", "j_retrieval_mrr",  # same 20-row broadcast query fan-out
    "j_tfidf",  # crossJoin(broadcast(corpus)): 1-row scalar-aggregate build side
    "j_domain_mix", "j_ngram_lm", "j_lm_buckets",  # same 1-row broadcast totals cross-join shape
    "j_dsir_weights",  # same shape: broadcast 1-row (qt, tt) totals
    "j_mix_temperature",  # two 1-row broadcast totals (corpus total, Z)
    "j_bloom_decontam",  # 1-row broadcast bloom bitmap cross-join
    "j_kl_sources",  # 1-row broadcast corpus total
    "j_pmi_bigrams",  # two 1-row broadcast totals (bigram/unigram mass)
    "j_bm25_topk",  # 1-row broadcast corpus stats (N, avgdl)
    # --- r14 additions, same 1-row/tiny broadcast build sides
    "j_ams_f2",      # 1-row broadcast exact-F2 x median-of-means fold
    "j_burrows_delta",  # |sources| x top-30 spine cross-join (both tiny)
    "j_cramers_v",   # 1-row broadcast total + dims onto the cell relation
    "j_dim_truncation_curve",  # the 20-row query panel broadcast (j_knn_batch shape)
    "j_encoding_audit",  # 1-row broadcast distinct-counts onto the run sums
    "j_fdr_bh",      # 1-row broadcast i* onto the K-row p-value relation
    "j_minmax_prune",  # 1-row broadcast min/max day onto the scan + sweep
    "j_join_card_est",  # 1-row broadcast split-day / top-k cut onto metadata
    "j_good_turing",  # 1-row broadcast token total onto the N_r relation
    "j_hubness",     # the 200-row query panel broadcast (j_knn_batch shape)
    "j_jackknife_variance",  # 1-row broadcast totals/thbar onto 32 shard rows
    "j_lift_gains",  # 1-row broadcast pos/n totals onto the decile relation
    "j_median_test",  # 1-row broadcast grand median + margins onto cells
    "j_youden_threshold",  # 1-row broadcast pos/neg totals onto score groups
    "j_histogram_equi",  # 1-row broadcast percentile-boundary array
    "j_hll_portable",  # 1-row broadcast exact-truth cross-join next to the estimate
    "j_ann_recall",  # 1-row broadcast hits x n_exact fuse of the two recall legs
    "j_skew_stats",  # 1-row broadcast (n_total, n_keys) totals onto the top-N
    "j_hard_negatives",  # broadcast 20-row query set (the j_knn_batch fan-out)
    "j_class_weights",  # 1-row broadcast (total, n_classes) onto |classes| rows
    "j_chi2_independence",  # 1-row broadcast grand total onto the <=35-cell table
    "j_token_budget",  # 1-row broadcast token-budget scalar onto the running sums
    "j_curriculum_order",  # 1-row broadcast corpus-count N onto the ranked docs
    "j_ann_pq_recall",  # 1-row broadcast hits x n_exact fuse (the j_ann_recall shape)
    "j_negative_sampling",  # 1-row broadcast |V| modulus onto the exploded slots
    "j_bootstrap_ci",  # 1-row broadcast CI bounds onto the 1-row point estimate
    "j_ks_lengths",  # sources x length-grid metadata cross + 1-row corpus total
    "j_mutual_info",  # 1-row broadcast totals/entropies onto the cell table
    "j_cohen_kappa",  # three 1-row frames over the confusion cells cross-join
    # (plus j_lang_confusion's own broadcast fan-outs, reused verbatim)
    # --- r10 additions, all metadata-scale build sides by design:
    "j_chargram_confusion",  # the j_lang_id langs/vocab broadcast fan-out
    "j_f1_macro",  # reuses the confusion cells (j_lang_id fan-out) + 1-row unions
    "j_selective_accuracy",  # _lang_scores fan-out + 1-row broadcast total
    "j_length_deciles",  # 9-row broadcast decile grid theta-joined (c >= target)
    "j_recall_curve",  # 10-row k-grid x <=10 matched-rank pairs
    # --- r11 additions, all metadata-scale build sides by design:
    "j_wasserstein_lengths",  # sources x length-grid cross + 1-row total (the j_ks_lengths shape)
    "j_heaps_law",  # 1-row broadcast OLS fit onto the |sources| scatter
    "j_perplexity_eval",  # 1-row broadcast vocab size onto the scored types
    "j_ngram_coverage",  # |grid|-row k marks theta-joined (r <= k) vs <=10k ranks
    "j_ndcg",  # k-grid x <=10 graded ranks, twice (dcg + ideal)
    "j_rank_tau",  # <=10-row rank-pair self-join (re < rb) + two 1-row frames
    # --- r12 additions, all metadata-scale build sides by design:
    "j_drift_timeslices",  # 1-row broadcast MIN/MAX grid + 1-row total + <=10-row bucket masses
    "j_ngram_entropy_curve",  # 1-row broadcast H1 onto the 3-row curve
    # --- r16 additions, all metadata-scale build sides by design:
    "j_modularity",  # 1-row edge-total mm cross-joined onto |communities| rows
    "j_wilcoxon_signed",  # 1-row zero-pair count cross-joined onto the fold
    "j_kendall_w",  # 1-row n / tie-mass frames cross-joined (x3)
    # --- r16 continuation (wave 10): 1-row fold build sides by design:
    "j_kaplan_meier",  # 1-row broadcast (gmax, total) fold onto |users| rows
    "j_logrank_test",  # 1-row gmax + 1-row (tn1, tn2) folds, the KM shape
    "j_cronbach_alpha",  # 1-row sufficient-stat fold x 5-row literal item spine
    "j_mantel_haenszel",  # 1-row min-day fold broadcast onto the event scan
    "j_hurst_exponent",  # 4-row literal block-size spine x calendar relation
    "j_pacf",  # 3-row lag grid + 1-row pivot/n folds cross-joined (ljung shape)
    "j_breslow_day",  # 1-row min-day + pooled-OR folds cross-joined per stratum
    "j_log_loss",  # 1-row |labels| broadcast onto the per-query vote rows
    "j_hellinger",  # 1-row corpus total cross-join (the j_kl_sources shape)
    "j_map_eval",  # 20-row query panel broadcast (the j_knn_batch fan-out)
    "j_holm_bonferroni",  # 1-row first-fail fold cross-joined onto K rows
    "j_cochran_armitage",  # 1-row min/max band fold cross-join (drift shape)
    "j_ljung_box",  # 7-row lag grid cross-joined onto the |days| relation
    # --- r15 additions, all metadata-scale build sides by design:
    "j_kmv_jaccard",  # 15-row pair grid theta-joined (supp = a OR supp = b)
    "j_rbo_overlap",  # 10-row depth grid theta-joined (m <= i) + two 1-row frames
    "j_t_closeness",  # 1-row broadcast corpus total onto the QI-cell rows
    "j_ts_crosscorr",  # 8-row lag grid cross-joined onto the |days| relation
    "j_js_divergence",  # 1-row broadcast corpus total (the j_kl_sources shape)
    "j_theil_index",  # 1-row broadcast totals + 1-row t_between cross-joins
    "j_decile_grid_2d",  # two 1-row broadcast 9-element boundary arrays + 1-row total
    "j_source_tfidf",  # 1-row broadcast source count onto the scored types
    "j_neyman_allocation",  # 1-row broadcast allocation denominator
    "j_split_balance",  # 1-row broadcast corpus total (the shared drift rollup's)
    # --- r13 additions, all metadata-scale build sides by design:
    "j_kcore_peel",  # two 1-row aggregates (n_nodes x n_edges) per peel round
    "j_ivf_balance",  # 1-row broadcast (big_n, n_cells) onto the 16-cell spine
    "j_hll_precision_curve",  # 1-row broadcast exact truth per geometry row
    "j_bloom_fpr_curve",  # four 1-row counts fused per size (keys/bits/probes/fp)
    "j_graph_reciprocity",  # 1-row n_edges x 1-row n_reciprocal fuse
    "j_dedup_yield_curve",  # 1-row conditional-count aggregate x 1-row total
    "j_permutation_test",  # 1-row broadcast observed moments onto B replica stats
    "j_ivf_nprobe_curve",  # 1-row broadcast n_exact per depth row
    "j_horvitz_thompson",  # three 1-row frames (estimate, expected size, truth)
    "j_epoch_plan",  # two 1-row broadcast totals (corpus, normalizer Z)
    "j_mcc_multiclass",  # the j_knn_batch 20-row query fan-out + 1-row dot fuses
    "j_dedup_survivors",  # 1-row broadcast raw count onto the 4-row stage union
    "j_dup_transitivity",  # three 1-row count frames cross-joined
    "j_ks_embed",  # |labels|-row broadcast x grid cells + 1-row total
}
_EXPECTED_ROW_PYTHON = {
    # the documented slow-path escape hatches; UDTFs (incl. the Spark-4
    # TABLE-arg and polymorphic-analyze forms) evaluate row-at-a-time by
    # construction — demonstrating that surface is these qids' purpose
    "k_sql_udf", "k_udtf", "k_udtf_table", "k_udtf_analyze",
}


def test_tpch_subquery_shapes_decorrelate(spark):
    """The decorrelation family (queries/tpch_sql.py): every shape must
    lower to hash joins — no nested loop, no cartesian product — even
    though four of them are written as correlated subqueries (Q4's
    non-equi EXISTS, Q17's scalar AVG, Q21's EXISTS + NOT EXISTS with a
    two-tables-away outer reference). The semi/anti lowering is the
    spec: if Catalyst ever falls back to a per-row subquery evaluation,
    these shapes stop scaling and this test fails first."""
    for qid in (
        "c_sql_q4", "c_sql_q13", "c_sql_q14", "c_sql_q15",
        "c_sql_q17", "c_sql_q19", "c_sql_q21", "c_sql_q22",
    ):
        p = _plan(spark, qid)
        assert "BroadcastNestedLoopJoin" not in p, f"{qid}: nested loop"
        assert "CartesianProduct" not in p, f"{qid}: cartesian"
    assert "LeftSemi" in _plan(spark, "c_sql_q4"), "Q4 EXISTS must lower to semi join"
    p21 = _plan(spark, "c_sql_q21")
    assert "LeftSemi" in p21 and "LeftAnti" in p21, (
        "Q21's EXISTS/NOT-EXISTS pair must lower to semi + anti joins"
    )


def test_tpch_prefilters_share_the_base_predicates():
    """Q2/Q11/Q20's pushed-down prefilters interpolate the SAME
    predicate constants as their base (oracle) queries, so the two
    cannot drift apart: each constant sits in the base form and once
    more in the Spark form."""
    from aprsdb_spark.queries import tpch_sql as T

    for base, pushed, preds in (
        (T._Q2, T._Q2_SPARK, (T._Q2_PART, T._EUROPE)),
        (T._Q11, T._Q11_SPARK, (T._EUROPE,)),
        (T._Q20, T._Q20_SPARK, (T._BOLT,)),
    ):
        for pred in preds:
            assert pred in base and pushed.count(pred) == base.count(pred) + 1


def test_tpch_r7_family_shapes(spark):
    """The r7 completion batch (Q1/Q2/Q6/Q7/Q8/Q9/Q11/Q12/Q16/Q20):
    same no-nested-loop/no-cartesian spec, plus the shape facts that
    make each one scale — Q1/Q6 must stay join-free scan-aggregates,
    Q2's correlated per-part MIN must decorrelate to an aggregate
    joined on the equi key, and Q16/Q20's NOT IN / IN must lower to
    anti / semi joins."""
    for qid in (
        "c_sql_q1", "c_sql_q2", "c_sql_q6", "c_sql_q7", "c_sql_q8",
        "c_sql_q9", "c_sql_q11", "c_sql_q12", "c_sql_q16", "c_sql_q20",
    ):
        p = _plan(spark, qid)
        assert "CartesianProduct" not in p, f"{qid}: cartesian"
        assert "BroadcastNestedLoopJoin" not in p, f"{qid}: nested loop"
    for qid in ("c_sql_q1", "c_sql_q6"):
        assert "Join" not in _plan(spark, qid), f"{qid} must be a pure scan-aggregate"
    assert "LeftAnti" in _plan(spark, "c_sql_q16"), "Q16 NOT IN must lower to anti join"
    assert "LeftSemi" in _plan(spark, "c_sql_q20"), "Q20 IN must lower to semi join"


def test_salted_join_actually_salts(spark):
    """c_join_salted must keep the salt in the physical plan: an
    explode (Generate) replicating the dim side and a two-column join
    key. Dropping the salt degenerates to a plain join — results stay
    correct (the oracle can't see it), but the hot-key protection
    silently vanishes; this pin is the only thing that notices."""
    p = _plan(spark, "c_join_salted")
    assert "explode(" in p, "dim side no longer replicated per salt"
    assert "_fsalt" in p and "_dsalt" in p, "join key lost the salt column"


def test_ann_queries_have_no_training_shuffles(spark):
    """r6: both registered ANN queries are probe-only plans — zero
    Exchange (the IVF quantizer trains on a bounded sample driver-side,
    so no Lloyd aggregation appears; LSH sketches are literal). The only
    ordering operator is the per-partition top-k heap."""
    from aprsdb_spark.plans.inspect import exchange_nodes

    for qid in ("j_ann_ivf", "j_ann_lsh"):
        df = QUERIES[qid](spark, SF_DIR)
        assert exchange_nodes(df) == {"shuffle": 0, "broadcast": 0}, (
            f"{qid}: training/probe shuffle appeared"
        )
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in p, f"{qid}: top-k regressed to global sort"


def test_simhash_is_one_hash_agg(spark):
    """SimHash must stay explode -> ONE hash aggregate keyed on doc_id
    (map-side partial bit-votes): exactly one Exchange, and the md5
    token hash evaluated once per token row, not once per vote bit."""
    p = _physical(spark, "j_dedup_simhash")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Exchange SinglePartition") == 0, p
    # portable_hash64 packs two conv() halves of ONE md5 per token row
    assert p.count("md5") <= 2, f"md5 re-evaluated per bit: {p.count('md5')} nodes"


def test_dsir_ratio_table_broadcasts(spark):
    """DSIR's log-ratio table (B=1024 rows) must broadcast into the
    join-back — a sort-merge here would shuffle the exploded n-gram
    frame a second time on the bucket key. The totals cross-join is the
    whitelisted 1-row broadcast shape."""
    p = _plan(spark, "j_dsir_weights")
    assert "BroadcastHashJoin" in p, "ratio-table join lost its broadcast"
    assert "SortMergeJoin" not in p, "bucket join degraded to SMJ"


def test_shuffle_shards_window_is_shard_partitioned(spark):
    """The in-shard position window must partition by the shard key —
    zero SinglePartition exchanges (a global row_number would be the
    global sort this operator exists to avoid)."""
    p = _physical(spark, "j_shuffle_shards")
    assert p.count("Exchange SinglePartition") == 0, p
    spec = next(l for l in p.splitlines() if "row_number" in l.lower() or "Window" in l)
    assert "shard" in spec, spec


def test_scd2_is_one_user_exchange(spark):
    """SCD2 builds three logical windows (change flag, run id, lead) plus
    a run rollup, ALL keyed on user_id — Catalyst must plan exactly one
    user_id Exchange and reuse its partitioning through every stage. A
    second exchange here means the gaps-and-islands chain broke the
    co-partitioning and the history build shuffles raw events twice."""
    p = _physical(spark, "j_scd2_history")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Exchange SinglePartition") == 0, p


def test_gapfill_grid_is_generated_not_joined(spark):
    """The calendar grid must come from sequence()+explode on the
    per-user span (Generate node), never from a cross join against a
    global calendar — and the forward-fill window adds no exchange
    beyond the two aggregations' own."""
    p = _physical(spark, "j_gapfill")
    assert "Generate explode(sequence" in p, "grid no longer sequence()-generated"
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_weighted_sample_is_heap_topk(spark):
    """Priority sampling selects top-k by q: per-partition heaps merged
    once (TakeOrderedAndProject), zero exchanges — a full global sort of
    the corpus to pick 100 docs is exactly what priority sampling
    exists to avoid."""
    p = _physical(spark, "j_sample_weighted")
    assert "TakeOrderedAndProject" in p, "weighted sample regressed to global sort"
    assert p.count("Exchange hashpartitioning") == 0, p


def test_upsert_merge_is_single_anti_join(spark):
    """MERGE INTO = one anti equi-join on the merge key plus a union:
    no window, no distinct, and the update side broadcasts at this SF
    (AQE) exactly as a table-format MERGE would plan it."""
    p = _physical(spark, "j_upsert_merge")
    assert "LeftAnti" in p, p
    assert "Window" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_edit_dedup_is_block_bounded(spark):
    """Levenshtein ground truth must stay an equi-join on the
    (lang, source) blocking key — a CartesianProduct/BNLJ here is the
    unblocked O(n^2) this operator's design forbids."""
    p = _physical(spark, "j_dedup_edit")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_rank_fusion_legs_are_heap_topk(spark):
    """RRF fuses top-N LISTS: both retrieval legs must select their
    candidates with TakeOrderedAndProject (per-partition heaps), and the
    only single-partition work is the rank window over the N=20-row
    lists — exactly one SinglePartition exchange pair feeding windows,
    never a global sort of the corpus."""
    p = _physical(spark, "j_rank_fusion")
    assert "TakeOrderedAndProject" in p, "a retrieval leg regressed to a global sort"
    assert "CartesianProduct" not in p


def test_profile_stats_is_one_pass(spark):
    """The ANALYZE profile computes all columns' stats in ONE wide
    aggregate: a single scan of orders (multi-distinct plans as one
    Expand + one shuffle + the final 1-row agg), then the stack()
    unpivot — a per-column loop of scans would read the table N times."""
    p = _physical(spark, "j_profile_stats")
    assert p.count("Scan parquet") == 1, "profile reads the table more than once"
    assert p.count("Exchange hashpartitioning") <= 1, p


def test_reservoir_rank_is_stratum_partitioned(spark):
    """The per-stratum reservoir's row_number must partition by
    (lang, source) — zero SinglePartition exchanges (a global ranking
    would serialize the corpus through one task)."""
    p = _physical(spark, "j_reservoir_pergroup")
    assert p.count("Exchange SinglePartition") == 0, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_snapshot_diff_is_single_outer_join(spark):
    """CDC derivation = ONE full-outer equi-join on the snapshot key
    plus stateless classification: no window, no distinct, no second
    join."""
    p = _physical(spark, "j_snapshot_diff")
    assert "FullOuter" in p, p
    assert "Window" not in p
    assert p.count("Join") == 1, "snapshot diff grew a second join"


def test_edit_dedup_vocab_windows_are_vocab_sized(spark):
    """j_dedup_edit's only single-partition work is the vocabulary rank
    (|vocab| rows, 31 on the fixture) — the document encode path must
    shuffle on doc_id / the blocking key only. And the pair filter must
    evaluate the BANDED levenshtein (threshold argument present in the
    physical plan), not the unbounded form."""
    from aprsdb_spark.queries.governance import _EDIT_MAX

    p = _physical(spark, "j_dedup_edit")
    assert f"levenshtein(sa#" in p or "levenshtein(" in p
    assert f"Some({_EDIT_MAX})" in p, (
        "banded levenshtein(threshold) lost — unbounded DP is 122 s at sf0.1"
    )


def test_salted_agg_is_two_exchange_fanout(spark):
    """The salted aggregate must plan exactly two hash exchanges — the
    (key, salt) partial and the tiny key-level merge — and no window: a
    single-exchange plan means the salt collapsed and the hot key
    serializes again."""
    p = _physical(spark, "d_agg_salted")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "Window" not in p


def test_ab_ttest_is_one_pass_no_self_join(spark):
    """Both experiment arms must come out of ONE conditional-aggregate
    pass over events — a join between arm subsets doubles the scan and
    shuffles twice."""
    p = _physical(spark, "j_ab_ttest")
    assert "Join" not in p, "arms were self-joined"
    assert p.count("Exchange hashpartitioning") == 1, p


def test_knn_batch_window_is_query_partitioned(spark):
    """Batch kNN ranks each query's candidates in ONE window keyed on
    qid — zero SinglePartition exchanges (a global rank would serialize
    all queries' candidates through one task) and exactly one hash
    exchange (the qid partitioning)."""
    p = _physical(spark, "j_knn_batch")
    assert p.count("Exchange SinglePartition") == 0, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_winnow_pairs_df_cap_before_pairing(spark):
    """The boilerplate df-cap must drop hot fingerprints BEFORE the
    posting-list self-join (broadcast membership filter), or one
    corpus-wide fingerprint explodes the join quadratically."""
    p = _physical(spark, "j_winnow_pairs")
    assert "BroadcastHashJoin" in p, "df-cap filter lost its broadcast"
    assert "CartesianProduct" not in p


def test_bpe_argmax_is_model_state_not_lineage(spark):
    """BPE training's per-round argmax must be collected bounded model
    state (1 row x R rounds, the kmeans_train precedent), NOT a lazy
    1-row frame: lazy argmax makes every round reference the previous
    words frame twice and the lineage grows 2^R (63 duplicated
    TakeOrderedAndProject nodes at R=6, measured before the fix). With
    literal merges the plan carries ZERO top-k operators and the
    per-round frames ride the cache (InMemoryTableScan present), so
    execution is linear in R."""
    p = _physical(spark, "j_bpe_encode")
    assert "TakeOrderedAndProject" not in p, "argmax frames leaked back into lineage"
    assert "InMemoryTableScan" in p, "per-round persist lost — corpus re-scans 2^R times"


def test_incremental_agg_merges_partials_not_raw(spark):
    """IVM: the state/delta merge must re-aggregate (day, n, sum)
    PARTIAL rows, not union raw orders — two hash exchanges total (one
    per partial build; the merge re-agg rides AQE/partial combine), no
    join, no window."""
    p = _physical(spark, "j_incremental_agg")
    assert p.count("Exchange hashpartitioning") <= 2, p
    assert "Join" not in p and "Window" not in p


def test_winsorize_cutpoints_broadcast(spark):
    """The per-type percentile band (|event_type| rows) must broadcast
    onto the event scan — an SMJ here re-shuffles the full stream to
    join 5 rows."""
    p = _physical(spark, "j_winsorize")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_attribution_windows_share_one_exchange(spark):
    """First-touch and last-touch come from windows over the same
    user_id partitioning — one hash exchange total (the j_funnel_stages
    same-spec fusion), zero SinglePartition work."""
    p = _physical(spark, "j_attribution")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Exchange SinglePartition") == 0, p


def test_q18_aggregates_before_joining(spark):
    """Q18's HAVING rollup must reduce lineitem to qualifying keys
    BEFORE the three-way join fans out (semi-reduction), the big join
    stays broadcast/hash at this SF, and the top-100 is per-partition
    heaps."""
    p = _physical(spark, "c_sql_q18")
    assert "TakeOrderedAndProject" in p, "top-100 regressed to a global sort"
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_cms_sketch_is_fixed_size_agg(spark):
    """The CMS build must collapse to the (depth x width) cell agg —
    the sketch side of the probe join is small enough to broadcast, and
    nothing sorts or windows."""
    p = _physical(spark, "j_cms_sketch")
    assert "BroadcastHashJoin" in p, "sketch probe lost its broadcast"
    assert "Window" not in p and "SortMergeJoin" not in p


def test_hll_registers_aggregate_two_phase(spark):
    """Portable HLL must build registers via hash aggregation (the
    distinct + register max are both partial-aggregated map-side — the
    HLL merge property) with only 1-row finals on single partitions."""
    p = _physical(spark, "j_hll_portable")
    assert p.count("HashAggregate") >= 4, p
    assert "Window" not in p


def test_lateral_limit_decorrelates_to_group_limit(spark):
    """c_join_lateral's per-order ORDER BY + LIMIT must lower to
    WindowGroupLimit + ONE hash join on the correlation key — the
    naive execution of a correlated LIMIT is a nested loop re-running
    the subquery per outer row."""
    p = _plan(spark, "c_join_lateral")
    assert "WindowGroupLimit" in p, "correlated LIMIT lost the group-limit lowering"
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_shuffled_hash_join_hint_respected(spark):
    p = _plan(spark, "c_join_shj")
    assert "ShuffledHashJoin" in p, "shuffle_hash hint ignored"
    assert "SortMergeJoin" not in p


# ------------------------------------------------------------ r8 plan pins


def test_offset_compiles_to_take_ordered(spark):
    """LIMIT+OFFSET must be ONE TakeOrderedAndProject (per-partition
    150-row heaps), never a global Sort. The offset argument only
    prints in the simple plan string, so inspect executedPlan."""
    df = QUERIES["f_offset"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "offset=100" in p, "offset not folded into the top-k operator"
    assert "Exchange rangepartitioning" not in p, "global sort crept in"


def test_nullsafe_join_stays_hash_equi(spark):
    """<=> is an equi key: the plan must be a broadcast hash join, not
    a nested-loop fallback (the failure mode when a null-safe condition
    is mis-expressed as a theta join)."""
    p = _plan(spark, "c_join_nullsafe")
    assert "BroadcastHashJoin" in p, p[:1500]
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ohlc_is_one_aggregate_no_window(spark):
    """OHLC bars must lower to hash aggregation with max_by/min_by
    partials — a Window/Sort formulation re-sorts every bar."""
    p = _plan(spark, "j_ts_ohlc")
    assert "Window" not in p, "OHLC fell back to a window sort"
    assert "HashAggregate" in p


def test_token_budget_two_windows_and_broadcast_budget(spark):
    """The r9 two-level lowering: exactly TWO window nodes (the
    range-partitioned corpus window + the tiny offsets roll-up — see
    test_token_budget_big_side_window_is_partitioned for which is
    which), and BROADCASTs for both the range offsets and the 1-row
    budget — a shuffled join on either would move the corpus to join
    against metadata-sized relations."""
    df = QUERIES["j_token_budget"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Window [") == 2, "expected corpus window + offsets window"
    assert "BroadcastExchange" in p, "offset/budget sides must broadcast"
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_groupall_resolves_to_plain_aggregate(spark):
    """GROUP BY ALL is sugar: the physical plan must be the same
    scan -> partial agg -> exchange -> final agg as an explicit
    grouping, with both keys resolved."""
    p = _plan(spark, "d_agg_groupall")
    assert "HashAggregate" in p
    assert "Expand" not in p, "ALL resolution exploded into grouping sets"


def test_pipe_sql_matches_clause_plan_shape(spark):
    """The |> chain must produce the scan-filter-aggregate shape with
    the shipdate filter PUSHED to the parquet scan — pipe syntax is
    resolution sugar, not a different executor."""
    p = _plan(spark, "c_sql_pipe")
    assert "LessThanOrEqual(l_shipdate" in p, "pipe WHERE not pushed to scan"
    assert "HashAggregate" in p
    assert "Join" not in p


def test_sink_partitioned_prunes_partitions(spark):
    """a_sink_partitioned's read-back must satisfy the priority filter
    from the directory LISTING (PartitionFilters on the scan), not by
    reading data files — the property that makes date-partitioned fact
    tables queryable at 100 TB."""
    p = _plan(spark, "a_sink_partitioned")
    part_lines = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert part_lines, "scan node lost its PartitionFilters entry"
    assert any("o_orderpriority" in l and "1-URGENT" in l for l in part_lines), (
        "priority IN-filter not applied at partition-listing time"
    )
    # the partition column must NOT appear as a data-file filter
    assert not any(
        "o_orderpriority" in l for l in p.splitlines() if "PushedFilters" in l
    ), "partition filter leaked into the data-file filter set"


def test_sink_bucketed_join_has_no_exchange(spark):
    """a_sink_bucketed's fact-fact SMJ must run on bucket co-location:
    both scans Bucketed, no Exchange below the join (the only Exchange
    allowed is the final 5-row priority rollup)."""
    # executedPlan tree (not formatted mode: its node-detail appendix
    # repeats every operator name after the tree, so substring position
    # does not reflect tree structure there)
    df = QUERIES["a_sink_bucketed"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in p
    assert p.count("Bucketed: true") == 2, p[:2000]
    join_subtree = p[p.index("SortMergeJoin"):]
    assert "Exchange" not in join_subtree, (
        "bucketed join still shuffles:\n" + join_subtree[:2000]
    )


def test_pq_sink_search_leg_reads_codes_only(spark):
    """j_ann_pq_sink's write-once/search-many contract: the ADC
    shortlist subtree scans the persisted code table (vec_id + c0..c7,
    ~5 B/row) and the 256 B float vector appears ONLY in the
    {shortlist}-row re-rank probe scan. The code table must carry the
    8-way vec_id bucket spec in the catalog (paid once at write time,
    co-locating future vec_id-keyed appends)."""
    df = QUERIES["j_ann_pq_sink"](spark, SF_DIR)  # latches the table
    p = df._jdf.queryExecution().executedPlan().toString()
    code_scans = [l for l in p.splitlines() if "FileScan" in l and "pq_codes" in l]
    assert code_scans, "persisted code-table scan missing from the search plan"
    assert all("embedding" not in l for l in code_scans), (
        "ADC leg reads the float column — the ÷50 memory-traffic win is lost"
    )
    assert any(
        "FileScan" in l and "embedding" in l for l in p.splitlines()
    ), "re-rank leg lost its float scan"
    base = os.path.basename(os.path.normpath(SF_DIR)).replace(".", "_")
    desc = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE EXTENDED sg_pqidx_{base}.pq_codes").collect()
    }
    assert desc.get("Num Buckets") == "8", desc
    assert desc.get("Bucket Columns") == "[`vec_id`]", desc


def test_histogram_statistics_never_globally_sort(spark):
    """The r10 histogram-discipline qids replace ranked-row scans with
    value histograms: none of their plans may contain a range-partition
    exchange (the global-sort shuffle) — the only acceptable orderings
    are metadata-window sorts after the histogram agg. A
    rangepartitioning Exchange appearing here means corpus rows are
    being totally ordered again."""
    for qid in ("j_length_deciles", "j_gini_tokens", "j_burstiness",
                "j_simpson_diversity"):
        p = QUERIES[qid](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in p, f"{qid} grew a global sort:\n{p[:1500]}"


def test_zipf_topn_is_window_group_limited(spark):
    """j_zipf_fit's r <= 50 filter must lower to WindowGroupLimit with
    a PARTIAL (map-side) stage: every task keeps at most 50 rows per
    source BEFORE the source exchange, so no task ever sorts a full
    source vocabulary (the r9-verdict bound). Losing the Partial node
    (e.g. by separating the filter from the window) re-creates the
    single-task full-vocab sort this pin exists to prevent."""
    df = QUERIES["j_zipf_fit"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("WindowGroupLimit") == 2, p[:2000]
    assert "Partial" in p[p.rindex("WindowGroupLimit"):], (
        "map-side (Partial) WindowGroupLimit missing — full per-source "
        "vocabulary reaches the sort:\n" + p[:2000]
    )


def test_ngram_coverage_topk_is_heap_based(spark):
    """The global top-k over the bigram-type histogram must lower to
    TakeOrderedAndProject (per-partition heaps). InferWindowGroupLimit
    does NOT fire for an unpartitioned rank window (measured r11), so
    the filter-on-row_number form would single-partition-sort the
    whole vocabulary — exactly the regression this pin catches."""
    df = QUERIES["j_ngram_coverage"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p, p[:2000]


def test_gini_never_materializes_ranks(spark):
    """j_gini_tokens must use the tie-block triangular-run identity:
    no row_number over the vocabulary, and the ONLY window in the plan
    runs over the (source, count) histogram (<= sqrt(2N) rows/source),
    never the (source, token) relation."""
    df = QUERIES["j_gini_tokens"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in p, "vocabulary rank window re-appeared"
    assert p.count("Window [") == 1, p[:2000]
    win_input = p[p.index("Window ["):]
    assert "w#" not in win_input.split("HashAggregate")[1], (
        "window input still carries the token column"
    )


# Shuffle budgets: per qid, the shuffle + broadcast exchanges its cold
# plan runs, counted as plan nodes by the one registry walk
# (registry_plans) and checked by test_shuffle_budgets_hold. A
# regression here means an operator silently grew an Exchange (lost a
# broadcast, lost partial aggregation, lost bucket co-location) — the
# class of performance bug correctness tests cannot see. The counts
# depend on the core count (at local[2] the spread() repartitions drop
# out of some plans; local[8] plans as local[4]), so budgets are UPPER
# bounds, measured at local[4]; lowering a plan should lower the budget
# too.
_SHUFFLE_BUDGETS = {
    "c_sql_q1": 2,          # agg + sort, no join shuffle
    "c_sql_q9": 6,          # 8-table shape: fact shuffles, dims broadcast
    "c_sql_q21": 6,         # EXISTS/NOT EXISTS share the l_orderkey exchange
    "j_dedup_near": 5,      # signatures + band join + verify
    "j_sim_pairs_banded": 2,  # (band,key) bucketing is THE shuffle
    "j_pack_sequences": 4,  # range window + |ranges|-row rollup
    "j_token_budget": 7,    # two-level prefix sum, no SinglePartition corpus sort
    "j_curriculum_order": 7,
    "j_auc_rank": 2,        # scored scan agg + metadata window
    "j_topp_vocab": 5,
    "j_ts_changepoint": 3,  # ONE series-keyed exchange + mean/rollup
    "j_ts_trend": 3,
    "j_source_overlap": 10,  # +1 spread() repartition
    "j_feature_hashing": 5,
    "j_span_corruption": 1,  # pure map + 1 spread() scan repartition (r17
                             #   single-row-group heal) — still zero data-
                             #   dependent shuffles
    "j_fim_transform": 0,    # pure map — zero-shuffle contract
    "j_knn_confusion": 4,
    "j_retrieval_mrr": 2,
    "d_crosstab": 2,
    "j_gini_tokens": 3,     # token agg + distinct-count histogram agg + source rollup
    "j_context_fit": 1,     # narrow map + ONE ctx_len-keyed hash agg
    "j_bootstrap_ci": 4,    # rep-keyed agg + 64-row metadata window + point agg
    "j_zipf_fit": 2,        # (source,token) agg + per-source rank window
    "j_pq_distortion": 2,   # Arrow-map partials + 8-row distinct-cid rollup
    "j_ks_lengths": 13,     # 2 corpus aggs; rest metadata-grid windows/broadcasts
    "j_mutual_info": 8,    # ONE corpus (lang,source) agg; rest broadcast-scale
    # --- r10 expansion: the r9 batch's remaining qids + everything the
    # r10 window rescores.
    "j_ann_pq": 1,          # zero-shuffle ADC map; one top-k exchange
    "j_ann_pq_sink": 1,     # code-table TakeOrdered + ONE broadcast re-rank
    "j_ann_pq_recall": 3,   # exact leg + PQ leg + 1-row join
    "j_chunk_documents": 0,  # pure per-row array map — zero-shuffle contract
    "j_cooccur_window": 3,  # +1 spread() repartition
    "j_dedup_chunks": 4,
    "j_negative_sampling": 6,
    "c_sql_exec_immediate": 2,
    "d_transpose": 0,       # collect-based transpose of a pre-aggregated frame
    "a_observe_metrics": 0,  # single-pass telemetry — zero second scan
    "j_kanon_check": 3,
    "j_embed_pca": 1,       # literal-axis projection + 1 histogram agg
    "h_lateral_alias": 0,
    "a_sink_bucketed": 1,   # bucket co-located SMJ; only the rollup shuffles
    "j_dp_release": 1,
    "j_active_margin": 0,   # broadcast top-2 margin, no corpus shuffle
    "j_head_template": 5,
    "j_lang_confusion": 16,  # the full lang-id scoring pipeline + cell agg
    "j_cluster_purity": 5,
    "j_jaccard_threshold_curve": 4,  # +1 spread() repartition
    "j_cohen_kappa": 21,    # the persisted confusion cells, run once
    "j_simpson_diversity": 2,
    "k_pandas_scalar": 0,
    "k_pandas_grouped_agg": 1,
    "k_apply_in_pandas": 1,
    "k_udtf": 0,
    "k_sql_udf": 0,
    "a_scan_pruned": 0,     # pruned scan must stay exchange-free
    "b_filter_pred": 0,
    "b_filter_like": 0,
    "a_scan_parquet": 0,
    "e_win_lastpos": 1,
    "j_lang_id": 14,        # profile build + broadcast score + doc agg
    "j_tfidf": 7,
    "j_multimodal": 0,      # Arrow map over binary column, no shuffle
    "j_knn_label": 1,
    "j_text_stats": 1,
    "j_fingerprint": 1,
    "j_embed_centroid": 1,
    "j_dedup_cluster": 18,  # fixed-round label propagation
    "j_split_train_val": 0,
    "j_quality_score": 0,
    "j_token_count": 0,
    "h_map": 0,
    "h_json": 0,
    "h_hash": 2,
    "h_geo_range": 0,
    "h_geo_pairs": 1,
    # --- r10 additions
    "j_f1_macro": 21,
    "j_selective_accuracy": 17,  # scoring pipeline referenced exactly once
    "j_hll_merge": 8,
    "j_length_deciles": 5,
    "j_entropy_rate": 8,
    "j_fertility_audit": 1,     # narrow map + ONE lang-keyed agg
    "j_clustering_coeff": 16,
    "j_recall_curve": 4,
    "j_burstiness": 2,
    "j_chargram_confusion": 22,  # +2 spread() scan repartitions (single-row-group fixture heal)
    "j_bleu_precision": 26,  # +2 spread() repartitions
    "j_pagerank": 15,   # 14 shuffle + 1 broadcast: the r17 single-partition
    #                     leaf fuse runs every round in-partition
    "k_apply_in_arrow": 1,
    "j_dup_rate": 2,        # digest agg + source rollup
    # --- r11 expansion: the full r11 REFRESH window (joins, agg
    # shapes, the r5-era j_* set) so every qid the driver rescores this
    # round carries a ceiling. Measured on the cold sf0.01 plan at
    # review time; counts include BroadcastExchange (a lost broadcast
    # REPLACES it with a bigger shuffle pair, still caught).
    "b_filter_null": 0,
    "b_project_expr": 0,
    "c_join_inner": 1,
    "c_join_bcast": 3,
    "c_join_smj": 3,
    "c_join_outer": 2,
    "c_join_semi": 1,
    "c_join_anti": 1,
    "c_join_theta": 2,
    "c_join_interval": 1,
    "c_join_asof": 1,
    "c_join_self": 2,
    "c_join_cross": 1,
    "c_sql_q3": 3,
    "c_sql_q10": 4,
    "c_sql_q5": 6,
    "d_agg_basic": 1,
    "d_agg_approx": 2,
    "d_agg_rollup": 3,
    "d_agg_filtered": 1,
    "d_agg_stats": 1,
    "d_agg_cube": 2,
    "d_agg_grouping_sets": 2,
    "d_agg_mode": 3,
    "d_agg_approx_quantile": 1,
    "e_win_rank": 1,
    "e_win_sessionize": 1,
    "s_dedup_30s_batch": 1,
    "j_semdedup": 7,       # bucket-keyed windows
    "j_pii_scrub": 0,       # pure per-row scrub — zero-shuffle contract
    "j_sample_stratified": 0,  # hash-deterministic per-row keep decision
    "j_contamination": 7,  # +1 spread() repartition
    "j_dedup_containment": 6,
    "j_embed_quantize": 0,  # literal-grid per-row quantization map
    # --- r11 additions
    "j_wasserstein_lengths": 13,
    "j_heaps_law": 6,
    "j_hill_tail": 2,
    "j_ngram_coverage": 6,  # TakeOrdered heaps, never a full vocab sort
    "j_perplexity_eval": 12,
    "j_ndcg": 7,
    "j_ece_calibration": 2,
    "j_rank_tau": 8,
    "j_dedup_prefix": 2,    # digest agg + HAVING rollup
    "j_embed_norm_audit": 1,  # zero-shuffle assignment + ONE cluster agg
    "j_logreg_quality": 1,  # narrow literal-model score + ONE lang agg
    "k_cogrouped_pandas": 2,  # the cogroup contract: one Exchange per side
    "j_sample_debias": 1,   # narrow hash-threshold map + ONE lang agg
    "j_split_leakage": 4,
    # --- r11 wave 5
    "j_hapax_rate": 2,      # (source,token) agg + source rollup
    "j_vocab_jaccard_sources": 10,
    "j_embed_mmd": 10,
    "j_slice_deciles": 5,
    # --- r12 expansion: everything the r12 window rescores (the 10 r5
    # spillovers + the 20 oldest r6 qids) plus the four label/bucket
    # all-pairs variants.
    "c_sql_q18": 5,         # top-100 big-customer 3-way: fact shuffles, HAVING agg
    "d_agg_salted": 2,      # salted partial + de-salt final
    "j_dedup_simhash": 1,   # sketch is a map; ONE digest-keyed agg
    "j_ann_lsh": 0,         # literal planes: zero-shuffle bucket probe
    "j_ann_ivf": 0,         # literal centroids: zero-shuffle probe
    "j_lsh_recall": 5,      # both legs by construction (exact + LSH)
    "j_knn_batch": 3,       # query panel broadcast; per-query top-k
    "j_shuffle_shards": 1,  # ONE shard-keyed exchange IS the operator
    "j_reservoir_pergroup": 1,  # group-keyed draw-rank agg
    "j_dsir_weights": 6,
    "j_winnow_pairs": 7,  # inherits the fingerprint spread() repartition
    "j_dedup_lines": 6,
    "j_dedup_substr": 5,  # +1 spread() repartition
    "j_chunk_overlap": 0,   # pure map over chunk grid — zero-shuffle
    "j_vocab_coverage": 4,
    "j_bloom_decontam": 8,
    "j_mix_temperature": 10,
    "j_bpe_train": 0,       # driver-literal trainer: scoring is a map
    "j_bpe_encode": 2,      # r17: coalesced-vocab training
    "j_pipeline_release": 2,
    "j_inverted_index": 2,  # (term,doc) agg + per-term ranked lists
    "j_repetition": 5,  # +1 spread() repartition
    "j_domain_mix": 4,
    "j_ngram_lm": 6,
    "j_lm_buckets": 14,     # LM fit + per-bucket rollup chain
    "j_winnow_fingerprints": 1,  # +1 spread() repartition before the rolling-hash map
    "j_embed_outlier": 8,
    "j_retention_cohort": 4,
    "j_funnel_stages": 2,
    "j_sim_pairs": 1,       # GEMM kernel: label exchange only
    "j_dedup_embed": 4,     # GEMM pairs + directed union + keeper agg
    "j_sim_pairs_bucketed": 1,  # bucket equi-key IS the shuffle
    "j_dedup_embed_bucketed": 3,
    # --- r12 additions
    "j_dedup_keep_best": 1,     # ONE family-key shuffle serves 3 windows
    "j_wilson_ci": 1,
    "j_data_card": 5,
    "j_feature_corr": 1,
    "j_drift_timeslices": 15,
    "j_ngram_entropy_curve": 5,
    "j_decile_grid_2d": 17,
    "j_brier_score": 2,         # Arrow top-k partials + vote rollups
    "j_bpe_compression": 2,     # r17: coalesced-vocab training
    "j_source_tfidf": 8,
    "j_simhash_hamming": 4,
    "j_assortativity": 10,
    "a_scan_xml": 1,
    "j_split_balance": 15,
    "j_neyman_allocation": 4,
    "j_ks_embed": 3,            # the 3 BroadcastExchanges; the corpus agg sits
    #                             behind the checkpointed single-partition
    #                             cell-count leaf
    "j_minhash_est_error": 4,
    "j_dedup_survivors": 13,  # +1 spread() repartition
    "j_dup_transitivity": 12,
    "j_ts_autocorr": 1,         # ONE event_type exchange serves lead + moments
    "j_mannwhitney": 2,         # source filter agg + bounded rank window
    "j_kcore_peel": 3,          # r17 single-partition leaf fuse
    "j_ivf_balance": 6,         # literal-centroid map + 16-row occupancy agg
    "j_lsh_bucket_skew": 4,     # signature agg + (band,key) agg + 4-row rollup
    "j_lsh_band_plan": 2,       # blocked quadratic + 2-row agg fan-out
    "j_pr_auc": 2,              # scored scan agg + grid-bounded window
    "j_shard_skew": 2,          # 64-row shard agg + 1-row fold
    "j_cms_width_curve": 14,    # +1 spread() repartition
    "j_hll_precision_curve": 12,
    "j_bloom_fpr_curve": 19,   # one size-exploded probe pass (r16)
    "j_graph_reciprocity": 9,
    "j_markov_stationary": 10,  # r17 single-partition leaf fuse: matrix and
                                #   spine are checkpoint leaves
    "j_dedup_yield_curve": 5,
    "j_permutation_test": 6,    # two-source slice + replica explode agg
    "j_topk_stability": 4,      # ONE (half,term) agg + bounded rank window
    "j_ivf_nprobe_curve": 12,
    "j_power_analysis": 1,      # ONE event_type FILTER-moment agg
    "j_mcc_multiclass": 14,
    "j_horvitz_thompson": 7,
    "j_epoch_plan": 6,
    # --- r14 additions
    "j_minmax_prune": 7,        # zone-map agg + threshold sweep on metadata
    "j_join_card_est": 14,
    "j_ams_f2": 6,              # one histogram agg + 64-estimator fan-out
    "j_encoding_audit": 5,      # one shard window pass + multi-distinct agg
    "j_kmv_distinct": 2,        # distinct collapse + bounded rank window
    "j_levene_test": 2,         # one event_type shuffle: window + moment agg
    "j_fdr_bh": 5,              # one moment agg + K-row p-value windows
    "j_cramers_v": 11,
    "j_spearman_corr": 7,       # one event_type shuffle reused by ranks+moments
    "j_jackknife_variance": 10,
    "j_median_test": 16,        # histogram + median broadcast + cell agg
    "j_common_neighbors": 19,   # nation-bounded metadata
    "j_good_turing": 5,
    "j_burrows_delta": 12,
    "j_hubness": 14,            # batch-kNN fan-out + occurrence spine join
    "j_dim_truncation_curve": 27,  # four unioned kNN legs + persisted exact set
    "j_lift_gains": 8,          # one scored agg + decile windows on metadata
    "j_youden_threshold": 5,    # one scored agg + heap TakeOrdered(1)
    "j_l_diversity": 2,         # one QI-cell hash agg (distinct expands)
    "j_capture_recapture": 2,   # one vocab agg + single-row fold
    # --- r15 additions ---
    "j_quantile_sketch_curve": 7,  # ONE corpus histogram agg (no hit fork);
                                   # rest is 36-row metadata windows/grids
    "j_kmv_jaccard": 5,         # panel scan + distinct + pair window +
                                # single conditional agg (no mem fork)
    "j_text_integrity": 1,      # stateless detectors + ONE source agg
    "j_bpe_roundtrip": 3,       # r17: coalesced-vocab training + 1 distinct agg
    "j_anova_oneway": 2,        # one event_type moment agg + 5-row fold
    "j_kruskal_wallis": 2,      # one (lang,len) agg; midrank windows on it
    "j_fleiss_kappa": 1,        # stateless raters + single-row fold
    "j_rbo_overlap": 4,         # two <=10-row index legs + 10-row grid
    "j_rouge_recall": 20,       # j_bleu_precision's exact shuffle shape
    "j_t_closeness": 6,         # QI-cell agg + 20-row broadcast + rollup
    "j_ts_crosscorr": 4,        # one day agg (persisted) + lag-grid joins
    "j_mcnemar_test": 1,        # stateless raters + single-row fold
    "j_cochran_q": 1,           # stateless raters + single-row fold
    "j_benford_digits": 2,      # 9-digit agg + 9-row total window
    "j_mmr_diversity": 0,       # createDataFrame of the driver-collected
                                # greedy picks (shortlist leg runs inside
                                # the loop, persisted)
    "j_js_divergence": 13,      # j_kl_sources' shape
    "j_theil_index": 15,        # (source,len) histogram agg, persisted h
    "j_filter_bias": 2,         # one lang agg + 5-row total window
    "j_two_proportion_z": 1,    # stateless split + single-row fold
    "j_runs_test": 2,           # one day agg + |days|-row lag windows
    # --- r16 additions
    "a_scan_csv_permissive": 1,   # one PERMISSIVE scan + 4-class hash agg
    "a_scan_json_permissive": 1,  # one PERMISSIVE scan + 3-class hash agg
    "j_label_propagation": 21,    # r17 single-partition leaf fuse: und is a
                                  # checkpoint leaf, rounds are in-partition
                                  # SHJs; the residual 25-row exchanges are
                                  # the LeftOuter-chain stop point
    "j_modularity": 1,            # r17 single-partition leaf fuse: the whole
                                  # modularity fold plans with ZERO
                                  # EnsureRequirements exchanges
    "j_connected_components": 1,   # r17 single-partition leaf fuse: all 5
                                   # HashMin rounds in-partition, ZERO ensure
                                   # exchanges
    "j_adamic_adar": 17,          # wedge join + degree broadcast
    "j_harmonic_centrality": 21,  # 4 min-plus rounds over persisted und2
    "j_wilcoxon_signed": 5,       # one day agg (persisted) + |d|-histogram
    "j_friedman_test": 1,         # stateless ranks + single-row fold
    "j_kendall_w": 21,            # 3 value-domain histograms + rank joins
                                  # over the persisted score frame
    "j_cohens_d": 1,              # the j_ab_ttest single conditional agg
    "j_log_loss": 5,              # _ece_votes Arrow partial-top pipeline
                                  # + label-count broadcast + rollup
    "j_hellinger": 13,            # j_kl_sources' shape
    "j_readability": 1,           # stateless counts + one source agg
    "j_map_eval": 2,              # panel broadcast + qid windows + agg
    "j_cliffs_delta": 2,          # j_mannwhitney's value-domain chain
    "j_holm_bonferroni": 5,       # moment agg + K-row p-value windows
    "j_cochran_armitage": 4,      # min/max fold + 5-band agg (persisted v)
    "j_chao1": 2,                 # (source,token) agg + source rollup
    "j_ljung_box": 7,             # one day agg (persisted) + 7-row lag grid
    # --- r14 net completion: ceilings for every remaining registered
    # qid — the shuffle net now covers the FULL registry, so any
    # operator that silently grows an Exchange goes red here, not in a
    # 100x-scale incident.
    "a_pysrc_replay": 1,
    "a_scan_binary": 0,
    "a_scan_csv": 1,
    "a_scan_evolve": 1,
    "a_scan_json": 1,
    "a_scan_orc": 1,
    "a_sink_partitioned": 1,
    "aprs_decode_udf": 0,
    "aprs_lastpos": 1,
    "aprs_malformed": 0,
    "aprs_msg_ack": 1,
    "aprs_objects": 0,
    "aprs_pipeline": 0,
    "aprs_telemetry_eng": 2,
    "aprs_wx": 0,
    "c_join_asof_tol": 1,
    "c_join_lateral": 2,
    "c_join_nullsafe": 2,
    "c_join_salted": 2,
    "c_join_shj": 3,
    "c_sql_pipe": 2,
    "c_sql_q11": 38,  # r17 EUROPE prefilter: the semi subquery subtree
                      #   sits under each natps consumer (rollup input 1/5)
    "c_sql_q12": 3,
    "c_sql_q13": 4,
    "c_sql_q14": 2,
    "c_sql_q15": 5,
    "c_sql_q16": 5,
    "c_sql_q17": 4,
    "c_sql_q19": 2,
    "c_sql_q2": 30,   # r17 prefilter under both ps consumers (the rollup
                      #   input drops to ~1%)
    "c_sql_q20": 8,   # r17 bolt-part semi prefilter under the rollup
    "c_sql_q22": 8,
    "c_sql_q4": 3,
    "c_sql_q6": 1,
    "c_sql_q7": 7,
    "c_sql_q8": 9,
    "c_sql_recursive": 1,
    "c_sql_script": 0,
    "c_sql_variables": 1,
    "d_agg_argminmax": 1,
    "d_agg_bitmap": 5,
    "d_agg_bitwise": 1,
    "d_agg_collect": 1,
    "d_agg_distinct": 2,
    "d_agg_groupall": 2,
    "d_agg_listagg": 1,
    "d_agg_percentile": 1,
    "d_agg_pivot": 2,
    "d_agg_unpivot": 2,
    "e_win_analytic": 1,
    "e_win_dist": 1,
    "e_win_ignorenulls": 1,
    "e_win_lag": 1,
    "e_win_moving": 2,
    "e_win_running": 2,
    "f_offset": 0,
    "f_sort_multi": 0,
    "f_topk": 0,
    "f_topk_group": 1,
    "g_except": 2,
    "g_except_all": 1,
    "g_intersect": 2,
    "g_intersect_all": 1,
    "g_union": 1,
    "g_union_all": 0,
    "g_union_by_name": 0,
    "h_array": 0,
    "h_collate": 0,
    "h_cond": 0,
    "h_date": 0,
    "h_encode": 0,
    "h_interval": 0,
    "h_mask": 0,
    "h_math": 0,
    "h_regexp": 0,
    "h_str": 0,
    "h_str_parse_phg": 0,
    "h_str_parse_pos": 0,
    "h_str_parse_tnc2": 0,
    "h_struct": 0,
    "h_try_arith": 1,
    "h_url": 0,
    "h_variant": 1,
    "h_xml": 1,  # +1 spread() scan repartition (r17)
    "j_ab_ttest": 1,
    "j_ann_recall": 8,
    "j_attribution": 1,
    "j_bfs_distance": 1,
    "j_bm25_topk": 8,
    "j_cdc_apply": 1,
    "j_chi2_independence": 11,
    "j_class_weights": 4,
    "j_clean_text": 0,
    "j_cms_sketch": 4,  # +1 spread() repartition
    "j_compaction_plan": 2,
    "j_dedup_edit": 1,
    "j_dedup_exact": 1,
    "j_dedup_ngram": 2,  # +1 spread() repartition
    "j_dq_checks": 2,
    "j_entropy": 2,
    "j_feature_snapshot": 1,
    "j_gapfill": 3,
    "j_graph_degree": 13,
    "j_group_split": 1,
    "j_hard_negatives": 2,
    "j_histogram_equi": 3,
    "j_hll_portable": 6,
    "j_incremental_agg": 2,
    "j_interval_overlap": 7,
    "j_kfold_assign": 1,
    "j_kl_sources": 13,
    "j_lang_quality": 0,
    "j_lsh_recall_banded": 5,
    "j_markov_transitions": 6,
    "j_multimodal_decode": 0,
    "j_multimodal_features": 0,
    "j_multimodal_frames": 0,
    "j_multimodal_resize": 0,
    "j_multimodal_sim": 1,
    "j_ngram_novelty": 5,  # +1 spread() repartition
    "j_outlier_mad": 7,
    "j_pipeline_curate": 2,
    "j_pmi_bigrams": 9,
    "j_profile_stats": 2,
    "j_rank_fusion": 9,
    "j_rolling_corr": 2,
    "j_sample_weighted": 0,
    "j_scd2_history": 1,
    "j_shard_manifest": 1,
    "j_sim_topk": 1,
    "j_skew_stats": 4,
    "j_snapshot_diff": 2,
    "j_triangle_count": 14,
    "j_ts_anomaly": 2,
    "j_ts_ewma": 1,
    "j_ts_ohlc": 1,
    "j_ts_seasonality": 4,
    "j_upsert_merge": 1,
    "j_winsorize": 2,
    "j_zorder_stats": 1,
    "k_arrow_udf": 0,
    "k_map_in_arrow": 0,
    "k_pandas_iter": 0,
    "k_udtf_analyze": 0,
    "k_udtf_table": 1,
    # --- r16 continuation-session additions (wave 9+) ---
    "j_mann_kendall": 8,  # ONE (type,day) corpus agg (persisted) +
    #                        broadcast pair self-join; sign /
    #                        tie / day-count rollups all on the <=|types|x
    #                        |days| relation
    "j_sen_slope": 4,      # same (type,day) agg + broadcast pair join + ONE
    #                        per-type rank window + 5-row median agg
    "j_kaplan_meier": 5,   # ONE (user_id) corpus agg (persisted) +
    #                        1-row fold broadcast + unpartitioned windows over
    #                        the <=|lifetimes| relation
    "j_logrank_test": 10,  # the KM user agg (persisted) +
    #                        two 1-row folds + preceding-frame windows + final
    #                        single-row agg, all on <=|lifetimes| rows
    "j_jarque_bera": 2,    # ONE (type,day) corpus agg + |types|-row moment
    #                        fold — no window, no join
    "j_durbin_watson": 8, # ONE (type,day) corpus agg (persisted)
    #                        + |types|-row OLS folds broadcast back + ONE
    #                        per-type lag window over <=31 rows
    "j_cronbach_alpha": 3, # ONE (user_id) agg with 5 conditional sums + a
    #                        1-row fold + 5-row literal spine cross-join
    "j_partial_corr": 2,   # ONE (user_id) agg + single-row fold — no join
    "j_cusum_drift": 4,    # ONE (type,day) agg (persisted) +
    #                        |types|-row fold broadcast + per-type windows
    "j_ewma_chart": 6,     # same agg + broadcast pair self-join (unrolled
    #                        recursion) + per-type row_number window
    "j_krippendorff_alpha": 1,  # one corpus projection folding to 1 row —
    #                             the j_fleiss_kappa plan verbatim
    "j_mantel_haenszel": 4,  # 1-row min-day fold broadcast + |weeks| agg +
    #                          single-row fold (the j_cochran_armitage class)
    "j_seasonal_decompose": 9,  # (type,day) agg (persisted) +
    #                              OLS folds broadcast + 35-row dow agg +
    #                              per-type window
    "j_hurst_exponent": 7,  # (type,day) agg + 4-row literal spine cross +
    #                         per-(type,k,blk) windows + two metadata folds
    "j_pacf": 8,          # ONE day agg (persisted) +
    #                        3-row lag grid joins + 1-row pivot fold + unpivot
    "j_breslow_day": 8,   # the j_mantel_haenszel stratum agg (persisted)
    #                        + pooled-OR fold + per-stratum pass +
    #                        single-row folds
}


def test_exchange_nodes_run_an_unloaded_cache_once(spark):
    """A persisted aggregate joined to itself plans two scans of one
    cache. Before the first action its aggregation shuffle runs once,
    so the walk enters the cached plan once; after the write the
    buffers are loaded and the shuffle runs no more."""
    from pyspark.sql import functions as F

    from aprsdb_spark.plans.inspect import exchange_nodes

    agg = (
        spark.range(1000)
        .groupBy((F.col("id") % 10).alias("k"))
        .agg(F.count("*").alias("n"))
        .persist()
    )
    try:
        df = agg.alias("a").join(F.broadcast(agg.alias("b")), "k")
        assert exchange_nodes(df) == {"shuffle": 1, "broadcast": 1}
        df.write.format("noop").mode("overwrite").save()
        assert exchange_nodes(df) == {"shuffle": 0, "broadcast": 1}
    finally:
        agg.unpersist()


@pytest.fixture(scope="module")
def registry_plans(spark):
    """The suite-wide plan audit's one registry walk: every registered
    qid, planned once from an empty CacheManager and read by one
    structural walk (plans.inspect.plan_nodes). Maps qid -> node-class
    counts; the tests below read it, none plans the registry again."""
    from aprsdb_spark.plans.inspect import plan_nodes

    nodes = {}
    for qid in sorted(QUERIES):
        spark.catalog.clearCache()
        nodes[qid] = plan_nodes(QUERIES[qid](spark, SF_DIR))
    return nodes


def test_shuffle_budget_net_is_complete():
    """EVERY registered qid carries an Exchange ceiling, and no ceiling
    outlives its qid — a new qid without a measured budget is a scale
    regression waiting to happen unobserved."""
    assert set(_SHUFFLE_BUDGETS) == set(QUERIES), (
        "registered qids without an Exchange ceiling: "
        f"{sorted(set(QUERIES) - set(_SHUFFLE_BUDGETS))}; ceilings for "
        f"unregistered qids: {sorted(set(_SHUFFLE_BUDGETS) - set(QUERIES))}"
    )


def test_shuffle_budgets_hold(registry_plans):
    """Per qid, shuffle + broadcast exchanges <= the qid's
    _SHUFFLE_BUDGETS ceiling (a lost broadcast REPLACES it with a bigger
    shuffle pair, still caught). Every qid over its ceiling is reported
    in one message, with the counts to re-measure it from."""
    over = []
    for qid, nodes in registry_plans.items():
        shuffle = nodes["ShuffleExchangeExec"]
        broadcast = nodes["BroadcastExchangeExec"]
        ceiling = _SHUFFLE_BUDGETS[qid]
        if shuffle + broadcast > ceiling:
            over.append(
                f"{qid}: {shuffle} shuffle + {broadcast} broadcast > ceiling {ceiling}"
            )
    assert not over, "\n".join(over)


def test_no_accidental_cartesian_or_row_python(registry_plans):
    """No qid plans a CartesianProduct; a BroadcastNestedLoopJoin
    appears exactly in the _EXPECTED_BNLJ qids and a row-at-a-time
    Python eval exactly in the _EXPECTED_ROW_PYTHON ones, so both lists
    shrink with the plans. Every violation is reported in one message."""
    bad = []
    for qid, nodes in registry_plans.items():
        if nodes["CartesianProductExec"]:
            bad.append(f"{qid}: CartesianProduct")
        bnlj = nodes["BroadcastNestedLoopJoinExec"] > 0
        if bnlj != (qid in _EXPECTED_BNLJ):
            bad.append(f"{qid}: {'unexpected' if bnlj else 'allow-listed, no'} BNLJ")
        row_python = any(cls.startswith("BatchEvalPython") for cls in nodes)
        if row_python != (qid in _EXPECTED_ROW_PYTHON):
            bad.append(
                f"{qid}: {'unexpected' if row_python else 'allow-listed, no'} "
                "row-at-a-time python"
            )
    assert not bad, "\n".join(bad)


def test_pagerank_standalone_plan_stays_tight(spark):
    """j_pagerank planned alone from an empty CacheManager stays within
    its ceiling (14 shuffle + 1 broadcast since the single-partition
    leaf fuse: the edge frame is a checkpointed SinglePartition leaf,
    rounds are in-partition ShuffledHashJoins) and keeps the fuse
    contract: no per-round broadcast build, the final nation dim join
    is the only BroadcastExchange."""
    from aprsdb_spark.plans.inspect import exchange_nodes

    spark.catalog.clearCache()
    n = exchange_nodes(QUERIES["j_pagerank"](spark, SF_DIR))
    assert n["shuffle"] + n["broadcast"] <= _SHUFFLE_BUDGETS["j_pagerank"], (
        f"standalone j_pagerank plan grew: {n}"
    )
    assert n["broadcast"] <= 1, f"per-iteration broadcast builds reappeared: {n}"

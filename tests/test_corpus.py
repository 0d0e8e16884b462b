"""Corpus-structure operators (queries/corpus.py): semantic properties
the oracle compare can't see (reassembly invariants, chunk coverage,
bloom no-false-negatives) plus the plan shapes that make them survive
100 TB (zero-shuffle chunking, digest-keyed exchanges, broadcast vocab
probe)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aprsdb_spark.plans.inspect import exchange_nodes, formatted_plan
from aprsdb_spark.registry import QUERIES, load_all
from tests.conftest import SF_DIR

load_all()


def _df(spark, qid):
    return QUERIES[qid](spark, SF_DIR)


def _physical(spark, qid):
    """Simple-mode physical plan: hashpartitioning keys appear inline."""
    return _df(spark, qid)._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- semantics


def test_line_dedup_reassembly_is_consistent(spark):
    """text_clean must contain exactly n_segs - n_dropped segments, and
    an unchanged doc's text_clean must equal its original text."""
    out = _df(spark, "j_dedup_lines").alias("o")
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .alias("d")
    )
    j = out.join(docs, "doc_id")
    bad_unchanged = j.where(
        (~F.col("changed")) & (F.col("text_clean") != F.col("text"))
    ).count()
    assert bad_unchanged == 0, "unchanged docs must round-trip byte-identical"
    # every changed doc really lost content (clean is a strict shrink)
    bad_changed = j.where(
        F.col("changed") & (F.length("text_clean") >= F.length("text"))
    ).count()
    assert bad_changed == 0
    # n_dropped bounded by n_segs, and at least one doc changed at sf0.01
    assert out.where(F.col("n_dropped") > F.col("n_segs")).count() == 0
    assert out.where("changed").count() > 0


def test_substr_dup_positions_bounded_and_symmetric(spark):
    """n_dup_pos <= n_windows everywhere; duplicated positions come in
    cross-document groups, so the total over the corpus is >= 2x the
    number of shared window strings."""
    out = _df(spark, "j_dedup_substr")
    assert out.where(F.col("n_dup_pos") > F.col("n_windows")).count() == 0
    assert out.where(F.col("n_dup_pos") > 0).count() >= 2  # pairs, not singletons


def test_chunks_cover_every_token_in_order(spark):
    """Union of chunks at stride 24 must cover all n tokens: the last
    chunk ends at the doc end, chunk k starts at 24k, and every chunk
    except the last holds >= 8 tokens (the overlap tail)."""
    out = _df(spark, "j_chunk_overlap")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    )
    agg = (
        out.groupBy("doc_id")
        .agg(
            F.max(F.col("chunk_start") + F.col("n_chunk_tokens")).alias("covered"),
            F.count("*").alias("n_chunks"),
            F.max("chunk_id").alias("max_id"),
        )
        .join(docs, "doc_id")
    )
    assert agg.where(F.col("covered") != F.col("n")).count() == 0, "coverage gap"
    assert agg.where(F.col("n_chunks") != F.col("max_id") + 1).count() == 0
    # overlap really exists: some consecutive chunks share tokens
    assert out.where(F.col("n_chunk_tokens") > 24).count() > 0


def test_vocab_coverage_oov_bounded(spark):
    out = _df(spark, "j_vocab_coverage")
    assert out.where(F.col("n_oov") > F.col("n_tokens")).count() == 0
    assert out.where((F.col("oov_frac") < 0) | (F.col("oov_frac") > 1)).count() == 0


def test_bloom_never_loses_a_true_hit(spark):
    """The bitmap prefilter must be semantically invisible: per-doc hit
    counts equal the plain exact-overlap join's counts. (This is the
    no-false-negative property — the whole point of the design.)"""
    out = _df(spark, "j_bloom_decontam").select("doc_id", "n_hit")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from aprsdb_spark.queries.corpus import _BLOOM_W
    from aprsdb_spark.queries.quality import ngrams_col

    g = docs.select(
        "doc_id",
        "source",
        F.array_distinct(ngrams_col("text", _BLOOM_W)).alias("gs"),
    )
    bench = g.where("source = 'src0'").select(F.explode("gs").alias("s")).distinct()
    exact = (
        g.where("source <> 'src0'")
        .select("doc_id", F.explode("gs").alias("s"))
        .join(bench, "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_exact"))
    )
    diff = (
        out.join(exact, "doc_id", "outer")
        .fillna(0, ["n_hit", "n_exact"])
        .where(F.col("n_hit") != F.col("n_exact"))
        .count()
    )
    assert diff == 0


def test_temperature_mix_is_a_distribution(spark):
    row = (
        _df(spark, "j_mix_temperature")
        .agg(F.sum("q_frac").alias("s"), F.min("mix_weight").alias("mn"))
        .collect()[0]
    )
    assert abs(row["s"] - 1.0) < 1e-4, "sampling shares must sum to 1"
    assert row["mn"] > 0
    # temperature < 1 flattens: the head language is downweighted, tails up
    w = {r["lang"]: r["mix_weight"] for r in _df(spark, "j_mix_temperature").collect()}
    assert w["en"] < 1.0 < max(v for k, v in w.items() if k != "en")


# --------------------------------------------------------------- plan shapes


def test_chunking_has_zero_exchanges(spark):
    """Chunking is a scan-speed narrow explode — any Exchange here would
    shuffle the whole corpus for a per-row computation."""
    assert exchange_nodes(_df(spark, "j_chunk_overlap")) == {"shuffle": 0, "broadcast": 0}


def test_line_dedup_shuffles_digests_not_segments(spark):
    """Both wide ops (boilerplate vote, reassembly agg) must key on
    md5/doc_id — no exchange may partition by seg_text or raw text."""
    p = _physical(spark, "j_dedup_lines")
    exch = [l for l in p.splitlines() if "Exchange hashpartitioning" in l]
    assert exch and all(
        "seg_text#" not in l and "text#" not in l for l in exch
    ), exch


def test_substr_vote_shuffles_digests_not_windows(spark):
    p = _physical(spark, "j_dedup_substr")
    exch = [l for l in p.splitlines() if "Exchange hashpartitioning" in l]
    assert exch and all("wins#" not in l and "text#" not in l for l in exch), exch


def test_vocab_probe_broadcasts(spark):
    """The K-row vocabulary must broadcast into the anti-join probe and
    the top-K must be TakeOrderedAndProject, not a global sort."""
    p = formatted_plan(_df(spark, "j_vocab_coverage"))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    assert "TakeOrderedAndProject" in p, "vocab top-K regressed to global sort"


def test_bloom_bitmap_broadcasts_and_verify_join_is_exact(spark):
    """The bitmap row reaches the probe via BroadcastExchange, and the
    exact verify join keys on the md5 digest column."""
    p = _physical(spark, "j_bloom_decontam")
    assert "BroadcastExchange" in p
    exch = [l for l in p.splitlines() if "Exchange hashpartitioning" in l]
    assert all("text#" not in l for l in exch), exch

"""§2.J additions (r6 continuation) — data-GOVERNANCE operators: the
merge/sample/split primitives a training-data release needs around the
dedup and quality families:

- batch MERGE/upsert (the Delta/Iceberg ``MERGE INTO`` semantics,
  public, expressed with vanilla DataFrame ops: matched rows take the
  update, unmatched updates insert, untouched base rows survive),
- deterministic weighted sampling without replacement via priority
  sampling (Duffield, Lund & Thorup 2007, public: priority q = w/u with
  u a unit uniform, keep the k largest priorities — here u derives from
  an md5 hash so the sample is stable across runs/engines/partitioning),
- leakage-safe group split: train/val/test assignment hashed on the
  DUPLICATE-GROUP key rather than the document key, so exact duplicates
  can never straddle a split boundary (the test-set-contamination
  failure mode j_split_train_val alone cannot rule out),
- token-level edit-distance near-dup pairs (Levenshtein over an exact
  vocab-compacted encoding) within (lang, source) blocks — the
  sequence-edit ground-truth companion to the token-set j_dedup_ngram,
  deliberately block-bounded quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import floordiv, rnd, sql_floordiv, sql_rnd
from ..operators.dedup import tokens_col
from ..registry import query
from ..tables import load

# Token-edit near-dup threshold (in TOKEN edits over the compacted
# encoding): 15 of ~773 length-filtered block pairs at sf0.01 — tight
# enough to mean "near duplicate", loose enough to be non-trivial.
_EDIT_MAX = 18

# Priority-sampling target size.
_SAMPLE_K = 100


@query(
    "j_upsert_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 != 0),
    upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             FLOOR(o_totalprice * 1.05 * 100 + 0.5) / 100 AS o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0)
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'upd' AS src
    FROM upd
    UNION ALL
    SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice,
           'base' AS src
    FROM base b ANTI JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def j_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO semantics (the Delta/Iceberg upsert, public)
    without a table format: given a base relation (orders not divisible
    by 7 — a stand-in for the current snapshot) and an updates relation
    (orders divisible by 3, repriced +5% with status 'U'), produce the
    merged snapshot — WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN
    INSERT — as updates UNION (base LEFT ANTI updates). Keys in both
    (matched) take the update exactly once; update keys absent from base
    (multiples of 21) insert; the rest of base passes through tagged.

    Scale shape: ONE anti equi-join on the merge key (AQE broadcasts the
    update side when it is small, as MERGE engines do) plus a union —
    no window, no distinct. At 100 TB this is the standard
    copy-on-write MERGE plan minus the file rewrite."""
    t = load(spark, sf_dir)
    base = t.orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    upd = t.orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        rnd(F.col("o_totalprice") * 1.05, 2).alias("o_totalprice"),
    )
    kept = base.join(upd.select("o_orderkey"), "o_orderkey", "left_anti")
    return upd.withColumn("src", F.lit("upd")).unionByName(
        kept.withColumn("src", F.lit("base"))
    )


@query(
    "j_sample_weighted",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, n_chars,
             n_chars * 16777216.0 /
               (CAST('0x' || substr(md5('wsmp' || CAST(doc_id AS VARCHAR)), 1, 6)
                     AS BIGINT) + 1) AS q
      FROM documents)
    SELECT doc_id, n_chars,
           FLOOR(q * 1000000 + 0.5) / 1000000 AS priority
    FROM pri
    ORDER BY q DESC, doc_id
    LIMIT {_SAMPLE_K}
    """,
)
def j_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via PRIORITY SAMPLING
    (Duffield, Lund & Thorup 2007, public): each document draws a unit
    uniform u from md5('wsmp' || doc_id) — 6 hex digits scaled by 2^24,
    +1 so u > 0 — and gets priority q = weight/u with weight = n_chars;
    the k largest priorities form the sample. Longer documents are
    proportionally likelier to be kept, and because u is hash-derived
    the sample is bit-stable across runs, engines, and repartitioning
    (random() is none of those — the j_split_train_val argument).

    q uses only integer-derived values and one IEEE division, so Spark
    and DuckDB order pairs identically; doc_id breaks exact ties. The
    plan is TakeOrderedAndProject — per-partition top-k then a k-row
    merge on the driver side of the exchange, never a full sort (the
    f_topk shape). Output priority is display-rounded AFTER selection."""
    t = load(spark, sf_dir)
    u_int = F.conv(
        F.substring(F.md5(F.concat(F.lit("wsmp"), F.col("doc_id").cast("string"))), 1, 6),
        16,
        10,
    ).cast("long")
    q = F.col("n_chars") * F.lit(16777216.0) / (u_int + F.lit(1)).cast("double")
    return (
        t.documents.select("doc_id", "n_chars", q.alias("q"))
        .orderBy(F.desc("q"), "doc_id")
        .limit(_SAMPLE_K)
        .select("doc_id", "n_chars", rnd(F.col("q"), 6).alias("priority"))
    )


@query(
    "j_group_split",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS group_id,
             COUNT(*) OVER (PARTITION BY md5(text)) AS group_size
      FROM documents)
    SELECT doc_id, group_id, group_size,
           CASE WHEN substr(md5('grp' || CAST(group_id AS VARCHAR)), 1, 2) < 'cd'
                  THEN 'train'
                WHEN substr(md5('grp' || CAST(group_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'val'
                ELSE 'test' END AS split
    FROM g
    """,
)
def j_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: documents are first grouped by
    exact-text identity (md5(text) — the j_dedup_exact key), then the
    SPLIT hash keys on the group's canonical id (min doc_id), not the
    document's. Exact duplicates therefore always land in the same
    split — hashing doc_id alone (j_split_train_val) can put a verbatim
    copy of a training document into the test set, the classic
    contamination leak. Thresholds mirror j_split_train_val's 80/10/10
    hex ranges; the 'grp' salt decorrelates this hash from that one.

    Scale shape: one window over md5(text) — a 16-byte uniformly
    distributed key (no skew beyond true duplicate mass), min+count in a
    single Window node, then pure row-level hashing. At 100 TB the
    group_id becomes a write-time column and the split a partition
    key."""
    t = load(spark, sf_dir)
    wg = Window.partitionBy(F.md5("text"))
    g = t.documents.select(
        "doc_id",
        F.min("doc_id").over(wg).alias("group_id"),
        F.count("*").over(wg).alias("group_size"),
    )
    prefix = F.substring(
        F.md5(F.concat(F.lit("grp"), F.col("group_id").cast("string"))), 1, 2
    )
    return g.select(
        "doc_id",
        "group_id",
        "group_size",
        F.when(prefix < "cd", "train")
        .when(prefix < "e6", "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "j_dedup_edit",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, source, string_split(text, ' ') AS a
                  FROM documents),
    pos AS (SELECT doc_id, lang, source, generate_subscripts(a, 1) AS pos,
                   unnest(a) AS tok
            FROM toks),
    vocab AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY tok) AS INTEGER) AS rk
              FROM (SELECT DISTINCT tok FROM pos)),
    enc AS (SELECT doc_id, lang, source,
                   string_agg(chr(64 + rk), '' ORDER BY pos) AS s
            FROM pos JOIN vocab USING (tok)
            GROUP BY doc_id, lang, source)
    SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist,
           FLOOR((1.0 - levenshtein(a.s, b.s) * 1.0 /
                  greatest(len(a.s), len(b.s))) * 1000000 + 0.5)
             / 1000000 AS sim
    FROM enc a JOIN enc b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE abs(len(a.s) - len(b.s)) <= {_EDIT_MAX}
      AND levenshtein(a.s, b.s) <= {_EDIT_MAX}
    """,
)
def j_dedup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-level edit-distance near-dup pairs within (lang, source)
    blocks, kept at dist <= {max} token edits with a normalized
    similarity 1 - dist/max(n_tokens) — the sequence-edit companion to
    the token-SET j_dedup_ngram ground truth (Jaccard is blind to
    reordering and run-length mutations; edit distance is not).

    The DP runs on an EXACT compaction: the corpus vocabulary (31
    tokens on this fixture; any corpus where it fits one byte) is
    ranked alphabetically and each document becomes a one-char-per-
    token string, so Levenshtein over ~60-char encodings IS token-level
    Levenshtein over ~300-char texts at ~25x fewer DP cells — the
    char-level variant of this query measured 122 s at sf0.1, this
    form ~2 s. Two further exact cuts: the necessary length condition
    |len_a - len_b| <= {max} runs before any DP, and Spark evaluates
    the banded levenshtein(_, _, threshold) form that abandons a pair
    once {max} is exceeded (DuckDB's unbanded form only affects oracle
    runtime, not values — -1 sentinels are filtered before output).

    Still deliberately quadratic WITHIN blocks, like j_dedup_ngram:
    the (lang, source) equi-join bounds each task to one block's pairs;
    the encode pass is one explode + broadcast vocab join + one doc_id
    agg (order-explicit concat, the d_agg_collect pattern). The 31-row
    vocab rank window is single-partition over |vocab| rows only. The
    scale path for unblocked corpora remains the banded LSH / winnowing
    family — this qid is the labeled oracle those are judged against."""
    t = load(spark, sf_dir)
    pos = t.documents.select(
        "doc_id", "lang", "source",
        F.posexplode(F.split("text", " ")).alias("p", "tok"),
    )
    vocab = (
        pos.select("tok")
        .distinct()
        .select(
            "tok",
            F.row_number().over(Window.orderBy("tok")).cast("int").alias("rk"),
        )
    )
    ch = F.char(F.col("rk") + 64)
    enc = (
        pos.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", ch.alias("c")))),
                    lambda x: x["c"],
                ),
            ).alias("s")
        )
    )
    # the self-join references enc TWICE — materialize it with an EAGER
    # local checkpoint so the encode pass (explode + vocab join +
    # order-explicit concat agg) computes once, not once per join side.
    # The |docs|-row encoded frame is far smaller than its explode
    # input, and unlike persist() it leaves no CacheManager entry behind
    # the qid: checkpoint blocks are context-cleaned on GC (the
    # j_bfs_distance rule). The pair join stays lazy on top of it.
    enc = enc.localCheckpoint(eager=True)
    a = enc.select(
        "lang", "source", F.col("doc_id").alias("id_a"), F.col("s").alias("sa")
    )
    b = enc.select(
        "lang", "source", F.col("doc_id").alias("id_b"), F.col("s").alias("sb")
    )
    dist = F.levenshtein("sa", "sb", _EDIT_MAX)
    return (
        a.join(b, ["lang", "source"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.length("sa") - F.length("sb")) <= _EDIT_MAX)
        .withColumn("dist", dist.cast("long"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= _EDIT_MAX))
        .select(
            "lang",
            "source",
            "id_a",
            "id_b",
            "dist",
            rnd(
                1.0
                - F.col("dist").cast("double")
                / F.greatest(F.length("sa"), F.length("sb")),
                6,
            ).alias("sim"),
        )
    )


j_dedup_edit.__doc__ = j_dedup_edit.__doc__.replace("{max}", str(_EDIT_MAX))


@query(
    "j_snapshot_diff",
    oracle="""
    WITH a AS (SELECT o_orderkey, o_totalprice FROM orders),
    b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 0
                  THEN FLOOR(o_totalprice * 1.02 * 100 + 0.5) / 100
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 11 != 3
      UNION ALL
      SELECT o_orderkey + 10000000,
             FLOOR(o_totalprice * 0.5 * 100 + 0.5) / 100
      FROM orders WHERE o_orderkey % 13 = 0),
    d AS (SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                 a.o_totalprice AS old_price, b.o_totalprice AS new_price
          FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey)
    SELECT o_orderkey, old_price, new_price,
           CASE WHEN old_price IS NULL THEN 'inserted'
                WHEN new_price IS NULL THEN 'deleted'
                WHEN old_price != new_price THEN 'updated'
                ELSE 'unchanged' END AS change
    FROM d
    """,
)
def j_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC derivation: classify every key across two
    table versions as inserted / deleted / updated / unchanged — the
    change feed a lakehouse emits between commits, derived here by a
    single full-outer equi-join on the key (the j_upsert_merge
    operation run in reverse). The "next" snapshot is simulated
    deterministically from orders: keys ≡3 (mod 11) deleted, keys ≡0
    (mod 4) repriced +2%, and keys ≡0 (mod 13) re-inserted under a
    shifted key at half price.

    Scale shape: ONE full-outer join on the snapshot key plus stateless
    classification — both sides shuffle-partition on the same key (or
    bucket-join shuffle-free when snapshots share a layout, the
    operators/layout story); no window, no distinct. The value compare
    runs on the already-rounded stored prices, so 'updated' is
    engine-stable."""
    t = load(spark, sf_dir)
    a = t.orders.select("o_orderkey", F.col("o_totalprice").alias("old_price"))
    survived = t.orders.filter(F.col("o_orderkey") % 11 != 3).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 4 == 0, rnd(F.col("o_totalprice") * 1.02, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    inserted = t.orders.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        rnd(F.col("o_totalprice") * 0.5, 2).alias("new_price"),
    )
    b = survived.unionByName(inserted)
    d = a.join(b, "o_orderkey", "full_outer")
    return d.select(
        "o_orderkey",
        "old_price",
        "new_price",
        F.when(F.col("old_price").isNull(), "inserted")
        .when(F.col("new_price").isNull(), "deleted")
        .when(F.col("old_price") != F.col("new_price"), "updated")
        .otherwise("unchanged")
        .alias("change"),
    )


@query(
    "j_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value,
             CASE WHEN event_type = 'signup' THEN 'I'
                  WHEN event_type = 'error' THEN 'D'
                  ELSE 'U' END AS op
      FROM events),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts_ms DESC, event_id DESC) AS rk,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM log)
    SELECT user_id, op AS last_op, value AS last_value,
           ts_ms AS last_ts_ms, CAST(n_changes AS BIGINT) AS n_changes
    FROM ranked
    WHERE rk = 1 AND op <> 'D'
    """,
)
def j_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction (the Debezium/Delta CDF apply step, public):
    collapse an insert/update/delete change log to the final snapshot —
    last change per key wins by the (ts, event_id) total order, and a
    key whose last change is a DELETE leaves the snapshot entirely. The
    synthetic op mapping (signup -> I, error -> D, else U) is
    documented data adaptation; the operator is the shape. Emits the
    surviving keys with their last op/value/timestamp and the change
    count the compaction absorbed.

    Plan: ONE user_id exchange feeding both window functions (rank and
    per-key change count evaluate in the same Window node — the
    j_scd2_history pattern), then a stateless filter. This is exactly
    the foreachBatch upsert sink's batch twin (streaming/ingest.py
    upsert_stations_sink), extended with delete semantics; at 100 TB
    the same plan runs per micro-batch partition with the snapshot as
    the merge target. The tie order is total (event_id is unique), so
    both engines pick the same last row for every key."""
    t = load(spark, sf_dir)
    from pyspark.sql import Window

    log = t.events.select(
        "user_id",
        "ts_ms",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_ms").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id")
    ranked = log.select(
        "*",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wc).cast("long").alias("n_changes"),
    )
    return ranked.where((F.col("rk") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("value").alias("last_value"),
        F.col("ts_ms").alias("last_ts_ms"),
        "n_changes",
    )


@query(
    "j_dq_checks",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS null_cust,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
             CAST(COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS BIGINT)
               AS nonpos_price,
             CAST(COUNT(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                              OR o_orderdate >= TIMESTAMP '2030-01-01'
                             THEN 1 END) AS BIGINT) AS ts_out_of_range,
             CAST(COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                             THEN 1 END) AS BIGINT) AS bad_status
      FROM orders)
    SELECT 'row_count_positive' AS check_name, n_rows AS observed,
           n_rows > 0 AS passed FROM m
    UNION ALL
    SELECT 'custkey_not_null', null_cust, null_cust = 0 FROM m
    UNION ALL
    SELECT 'orderkey_unique', n_rows - n_keys, n_keys = n_rows FROM m
    UNION ALL
    SELECT 'price_positive', nonpos_price, nonpos_price = 0 FROM m
    UNION ALL
    SELECT 'orderdate_in_range', ts_out_of_range, ts_out_of_range = 0 FROM m
    UNION ALL
    SELECT 'status_in_domain', bad_status, bad_status = 0 FROM m
    """,
)
def j_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations relation (the dbt-test /
    Great-Expectations shape, public): named assertions over `orders`
    — non-empty, key completeness and uniqueness, value-domain and
    range bounds — each emitting (check_name, observed, passed) so a
    pipeline gate reads ONE small relation instead of running N
    scans. All six checks fold into a SINGLE wide aggregate pass
    (one scan, one 1-row result, the j_profile_stats pattern), then a
    stack() unpivots the verdicts; counts are exact BIGINTs so
    pass/fail booleans are engine-trivial. At 100 TB this runs as the
    post-write validation step of every pipeline release
    (j_pipeline_release's gate), costing one scan."""
    t = load(spark, sf_dir)
    m = t.orders.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).cast("long").alias("null_cust"),
        F.countDistinct("o_orderkey").cast("long").alias("n_keys"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).cast("long").alias("nonpos_price"),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2030-01-01").cast("timestamp")),
                1,
            )
        )
        .cast("long")
        .alias("ts_out_of_range"),
        F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1))
        .cast("long")
        .alias("bad_status"),
    )
    # ONE stack() over the 1-row aggregate — the r7 ADVICE found the
    # previous 6-way unionByName re-evaluated the wide aggregate per
    # branch (no exchange reuse guarantee); the unpivot keeps a single
    # Aggregate node in the plan
    return m.select(
        F.expr(
            """
            stack(6,
              'row_count_positive', n_rows, n_rows > 0,
              'custkey_not_null', null_cust, null_cust = 0,
              'orderkey_unique', n_rows - n_keys, n_keys = n_rows,
              'price_positive', nonpos_price, nonpos_price = 0,
              'orderdate_in_range', ts_out_of_range, ts_out_of_range = 0,
              'status_in_domain', bad_status, bad_status = 0
            ) AS (check_name, observed, passed)
            """
        )
    )


_KANON_K = 5


@query(
    "j_kanon_check",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, CAST({sql_floordiv("n_chars", 100)} AS BIGINT) AS chars_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM documents GROUP BY 1, 2, 3),
    ok0 AS (SELECT lang, source, chars_bucket, n_rows,
                   0 AS gen_level, FALSE AS suppress
            FROM cells WHERE n_rows >= {_KANON_K}),
    viol AS (SELECT * FROM cells WHERE n_rows < {_KANON_K}),
    lvl1 AS (SELECT lang, CAST(NULL AS VARCHAR) AS source, chars_bucket,
                    CAST(SUM(n_rows) AS BIGINT) AS n_rows,
                    1 AS gen_level,
                    SUM(n_rows) < {_KANON_K} AS suppress
             FROM viol GROUP BY lang, chars_bucket)
    SELECT lang, source, chars_bucket, n_rows,
           CAST(gen_level AS INT) AS gen_level, suppress
    FROM (SELECT * FROM ok0 UNION ALL SELECT * FROM lvl1)
    """,
)
def j_kanon_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit with one generalization step (public Sweeney
    2002 model): quasi-identifier cells (lang, source, n_chars div
    100) below k={k} are GENERALIZED by dropping the most specific
    attribute (source -> NULL) and re-counting; cells still below k
    after generalization carry suppress=true — the rows a privacy-
    gated release must drop. This is the governance gate that runs
    BEFORE j_pii_scrub's content pass: scrubbing text fields does not
    help if the metadata tuple itself identifies a user.

    chars_bucket is lowered through the shared sign-safe floor form
    floordiv()/sql_floordiv() (functions/exprs.py — the canonical
    engine-portable lowering the r9/r10 ADVICE asked for): truncating
    integer division plus a negative-remainder correction on BOTH
    engines, so the bucketing stays correct even if a signed column
    (a delta, an offset) is swapped in for the non-negative n_chars.

    Plan: two hash aggregates — the cell count (map-side partials,
    shuffle carries one row per cell, never documents), then the
    violating-cells-only regroup, whose input is AT MOST |cells| rows
    (metadata-sized). At 100 TB the quasi-identifier domain (~10^4
    cells) is dashboard-sized regardless of corpus row count; the
    suppress flags drive a broadcast semi-join back onto the corpus in
    the release pipeline."""
    t = load(spark, sf_dir)
    cells = (
        t.documents.groupBy(
            "lang", "source", floordiv("n_chars", 100).cast("long").alias("chars_bucket")
        )
        .agg(F.count("*").cast("long").alias("n_rows"))
    )
    ok0 = cells.where(F.col("n_rows") >= _KANON_K).select(
        "lang",
        "source",
        "chars_bucket",
        "n_rows",
        F.lit(0).cast("int").alias("gen_level"),
        F.lit(False).alias("suppress"),
    )
    lvl1 = (
        cells.where(F.col("n_rows") < _KANON_K)
        .groupBy("lang", "chars_bucket")
        .agg(F.sum("n_rows").cast("long").alias("n_rows"))
        .select(
            "lang",
            F.lit(None).cast("string").alias("source"),
            "chars_bucket",
            "n_rows",
            F.lit(1).cast("int").alias("gen_level"),
            (F.col("n_rows") < _KANON_K).alias("suppress"),
        )
    )
    return ok0.unionByName(lvl1)


j_kanon_check.__doc__ = j_kanon_check.__doc__.replace("{k}", str(_KANON_K))


@query(
    "j_dp_release",
    oracle="""
    WITH g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
               FROM documents GROUP BY lang, source),
    u AS (SELECT lang, source, n,
                 (CAST('0x' || substr(md5('dp:' || lang || ':' || source), 1, 8)
                       AS BIGINT) + 0.5) / 4294967296.0 AS uu
          FROM g),
    z AS (SELECT lang, source, n,
                 -(CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END)
                   * ln(1.0 - 2.0 * abs(uu - 0.5)) AS noise
          FROM u)
    SELECT lang, source, n,
           FLOOR((CAST(n AS DOUBLE) + noise) * 10000 + 0.5) / 10000
             AS noisy_count,
           1.0 AS epsilon
    FROM z
    """,
)
def j_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release mechanics for aggregate counts
    (Dwork et al. 2006, public): per-(lang, source) cells get Laplace
    (sensitivity 1 / epsilon=1) noise via the inverse-CDF transform
    u -> -sign(u-1/2) * ln(1-2|u-1/2|) — exercising the exact plumbing
    (cell aggregation, noise injection, post-processing grid) a
    privacy-gated pipeline ships. The uniform u here is a HASH of the
    cell key, NOT secret randomness: that makes the qid reproducible
    and oracle-checkable, and is explicitly NOT private (a real
    release swaps in a sealed per-release seed and drops the true n
    column — the j_kanon_check suppressions compose in front). ln is
    libm, so the noisy count rounds through the portable floor form
    before leaving the query (the entropy/KL rule).

    Plan: one map-side-partial hash agg to the ~|langs x sources| cell
    relation, then narrow per-cell expressions — noise costs nothing
    at any corpus size because it rides metadata, which is the actual
    production argument for DP-at-aggregation over DP-at-row."""
    t = load(spark, sf_dir)
    g = t.documents.groupBy("lang", "source").agg(F.count("*").cast("long").alias("n"))
    key = F.concat(F.lit("dp:"), F.col("lang"), F.lit(":"), F.col("source"))
    uu = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") + F.lit(0.5)
    ) / F.lit(4294967296.0)
    noise = -F.when(uu >= 0.5, 1.0).otherwise(-1.0) * F.log(
        F.lit(1.0) - 2.0 * F.abs(uu - 0.5)
    )
    return g.select(
        "lang",
        "source",
        "n",
        rnd(F.col("n").cast("double") + noise, 4).alias("noisy_count"),
        F.lit(1.0).alias("epsilon"),
    )


@query(
    "j_dup_rate",
    oracle=f"""
    WITH g AS (SELECT source, md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS c
               FROM documents GROUP BY source, md5(text))
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup,
           CAST(MAX(c) AS BIGINT) AS max_cluster,
           {sql_rnd("(SUM(c) - COUNT(*)) * 1.0 / SUM(c)", 6)} AS dup_rate
    FROM g GROUP BY source
    """,
)
def j_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate MASS audit — the dashboard number a
    crawl operator reads before anyone runs a dedup job: how much of
    each source is verbatim repeats (n_docs − distinct texts), and how
    big the worst cluster is (one viral page syndicated 10⁵× is a
    different problem from 10⁵ pages duplicated twice). j_dedup_exact
    decides WHICH rows survive; this measures HOW MUCH there is to
    remove, per slice, so ingestion alerts fire before storage is
    paid. Exact BIGINT counts; dup_rate is one division (rnd 1e-6).

    Plan: one (source, md5) hash agg — the 16-byte digest shuffles,
    never text — then a |sources|-row rollup with map-side partials."""
    t = load(spark, sf_dir)
    g = t.documents.groupBy("source", F.md5("text").alias("h")).agg(
        F.count("*").cast("long").alias("c")
    )
    return g.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_distinct"),
        (F.sum("c") - F.count("*")).cast("long").alias("n_dup"),
        F.max("c").cast("long").alias("max_cluster"),
        rnd((F.sum("c") - F.count("*")) * 1.0 / F.sum("c"), 6).alias("dup_rate"),
    )



# Wilson 95% interval: z² as the single shared literal; z itself is
# derived as sqrt(z²) AT QUERY TIME on both engines — IEEE-754 requires
# a correctly-rounded sqrt (unlike exp/ln/pow, which are
# implementation-defined libm), so sqrt(3.8416) is the identical double
# everywhere and no rounded-z literal has to be kept in sync.
_WILSON_Z2 = "CAST(3.8416 AS DOUBLE)"

# One shared defect predicate and one shared Wilson expression string,
# interpolated into BOTH the Spark plan (F.expr) and the DuckDB oracle
# — cross-engine parity by construction (x, n are exact BIGINTs; the
# expression tree over them is identical, token for token). The z²
# literal carries an explicit DOUBLE cast: a bare `3.8416` is DECIMAL
# in Spark SQL but DOUBLE in DuckDB — the one way a shared string can
# still diverge.
_WILSON_CENTER = f"(x + {_WILSON_Z2} / 2) / (n + {_WILSON_Z2})"
_WILSON_HALF = (
    f"(sqrt({_WILSON_Z2}) / (n + {_WILSON_Z2})) * "
    f"sqrt(CAST(x * (n - x) AS DOUBLE) / n + {_WILSON_Z2} / 4)"
)


@query(
    "j_wilson_ci",
    oracle=f"""
    WITH d AS (SELECT source,
                      CASE WHEN n_chars BETWEEN 100 AND 2000
                            AND len(string_split(text, ' ')) >= 20
                           THEN 0 ELSE 1 END AS defect
               FROM documents),
    a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(defect) AS BIGINT) AS x
          FROM d GROUP BY source)
    SELECT source, n AS n_docs, x AS n_defects,
           {sql_rnd("x * 1.0 / n", 6)} AS defect_rate,
           {sql_rnd(f"{_WILSON_CENTER} - {_WILSON_HALF}", 6)} AS ci_low,
           {sql_rnd(f"{_WILSON_CENTER} + {_WILSON_HALF}", 6)} AS ci_high
    FROM a
    """,
)
def j_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source defect rate with a Wilson 95% score interval — the
    governance number an ingestion gate thresholds on: a source with
    8/40 defects and one with 200/1000 have the same point rate but
    very different upper bounds, and Wilson (unlike the textbook Wald
    interval) stays inside [0,1] and behaves at x=0 — exactly the
    small-slice regime new crawl sources arrive in. Defect = the
    complement of j_lang_quality's structural bounds (length window,
    ≥20 tokens), so the gate and the filter agree by construction.

    Parity: x and n are exact BIGINTs; ci bounds evaluate ONE shared
    expression string on both engines (interpolated into F.expr and
    the oracle SQL), with z = sqrt(z²) computed at query time — sqrt
    is IEEE-correctly-rounded on both engines, unlike libm exp/ln, so
    no rounded-z literal can drift. Display rounds 1e-6.

    Plan: one narrow map (two comparisons + a token count on the scan)
    into ONE |sources|-keyed hash agg with map-side partials; the CI
    arithmetic runs on the |sources|-row result. Nothing but (source,
    two BIGINTs) ever shuffles at any corpus scale."""
    t = load(spark, sf_dir)
    a = (
        t.documents.select("source", wilson_defect_col().alias("defect"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("defect").cast("long").alias("x"),
        )
    )
    return wilson_from_counts(a)


def wilson_defect_col() -> Column:
    """The structural defect predicate (0/1) over (n_chars, text) —
    j_lang_quality's bounds complemented, shared by the batch gate and
    the streaming quality monitor so both audit ONE definition."""
    return (
        F.when(
            F.col("n_chars").between(100, 2000)
            & (F.size(tokens_col("text")) >= 20),
            0,
        )
        .otherwise(1)
    )


def wilson_from_counts(a: DataFrame) -> DataFrame:
    """The j_wilson_ci rollup from the (source, n, x) count relation —
    factored out so the streaming quality gate
    (streaming/ingest.quality_gate_sink) serves the IDENTICAL relation
    from its accumulated state: streamed ≡ batch is an identity over
    equal counts (the drift_from_counts pattern)."""
    return a.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("x").alias("n_defects"),
        rnd(F.col("x") * 1.0 / F.col("n"), 6).alias("defect_rate"),
        rnd(F.expr(f"{_WILSON_CENTER} - {_WILSON_HALF}"), 6).alias("ci_low"),
        rnd(F.expr(f"{_WILSON_CENTER} + {_WILSON_HALF}"), 6).alias("ci_high"),
    )


@query(
    "j_data_card",
    oracle=f"""
    WITH doc AS (SELECT source,
                        CAST(COUNT(*) AS BIGINT) AS n_docs,
                        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                        CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                          AS n_tokens,
                        CAST(COUNT(DISTINCT md5(text)) AS BIGINT)
                          AS n_distinct_texts
                 FROM documents GROUP BY source),
    ty AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types
           FROM (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
                 FROM documents)
           GROUP BY source)
    SELECT doc.source, n_docs, n_langs, total_chars, n_tokens,
           ty.n_types,
           n_docs - n_distinct_texts AS n_exact_dups,
           {sql_rnd("(n_docs - n_distinct_texts) * 1.0 / n_docs", 6)}
             AS dup_rate,
           {sql_rnd("total_chars * 1.0 / n_docs", 6)} AS mean_chars,
           {sql_rnd("n_tokens * 1.0 / ty.n_types", 6)} AS type_token_ratio
    FROM doc JOIN ty ON ty.source = doc.source
    """,
)
def j_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card — the one-row-per-source summary a dataset
    release publishes (docs, languages, char/token mass, vocabulary
    size, exact-dup mass, mean length, inverse type-token ratio): the
    operator that turns ten dashboard queries into one relation a
    release pipeline snapshots per build. Every count is an exact
    BIGINT; the three display ratios round 1e-6.

    Plan: TWO corpus passes, each collapsing immediately — a doc-level
    |sources|-keyed agg (counts, sums, two distinct-counts over
    16-byte digests / lang codes), and a (source, token)-distinct agg
    for vocabulary size; the join runs on |sources| rows. At 100 TB
    the type count is the expensive leg (token-keyed exchange) — the
    same relation j_hapax_rate/j_vocab_jaccard_sources already price;
    nothing else shuffles more than (source, digest)."""
    t = load(spark, sf_dir)
    # direct single-pass form, NOT the data_card_parts decomposition:
    # the parts exist so the STREAMING monitor can maintain the card
    # incrementally (distinct counts as summed stores), but the batch
    # qid pays ~3x for routing through them (0.26 -> 0.75 s at sf0.1,
    # measured) — test_streaming pins view == this output, so the two
    # forms stay equal without sharing the batch plan
    doc = t.documents.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.size(tokens_col("text"))).cast("long").alias("n_tokens"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_distinct_texts"),
    )
    ty = (
        t.documents.select("source", F.explode(tokens_col("text")).alias("w"))
        .distinct()
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_types"))
    )
    return doc.join(ty, "source").select(
        "source",
        "n_docs",
        "n_langs",
        "total_chars",
        "n_tokens",
        "n_types",
        (F.col("n_docs") - F.col("n_distinct_texts")).alias("n_exact_dups"),
        rnd(
            (F.col("n_docs") - F.col("n_distinct_texts")) * 1.0 / F.col("n_docs"), 6
        ).alias("dup_rate"),
        rnd(F.col("total_chars") * 1.0 / F.col("n_docs"), 6).alias("mean_chars"),
        rnd(F.col("n_tokens") * 1.0 / F.col("n_types"), 6).alias("type_token_ratio"),
    )


def data_card_parts(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three ADDITIVE part relations every data-card column derives
    from — (source, lang) counts, (source, text-digest) counts with
    char/token mass, (source, token) counts. Each part merges across
    micro-batches by plain summation, which is what lets the streaming
    card monitor (streaming/ingest.card_monitor_sink) maintain the
    SAME dashboard incrementally: distinct-counts become row counts of
    a summed store, never re-scans."""
    a = docs.groupBy("source", "lang").agg(F.count("*").cast("long").alias("n"))
    b = docs.groupBy("source", F.md5("text").alias("digest")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.size(tokens_col("text"))).cast("long").alias("sum_toks"),
    )
    c = docs.select(
        "source", F.explode(tokens_col("text")).alias("token")
    ).groupBy("source", "token").agg(F.count("*").cast("long").alias("n"))
    return a, b, c


def data_card_from_parts(
    a: DataFrame, b: DataFrame, c: DataFrame
) -> DataFrame:
    """The j_data_card rollup from the three part relations — shared
    verbatim by the batch qid and the streaming monitor's view, so
    streamed ≡ batch is an identity over equal parts."""
    doc = b.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("sum_chars").cast("long").alias("total_chars"),
        F.sum("sum_toks").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct_texts"),
    )
    langs = a.groupBy("source").agg(F.count("*").cast("long").alias("n_langs"))
    ty = c.groupBy("source").agg(F.count("*").cast("long").alias("n_types"))
    return (
        doc.join(F.broadcast(langs), "source")
        .join(ty, "source")
        .select(
            "source",
            "n_docs",
            "n_langs",
            "total_chars",
            "n_tokens",
            "n_types",
            (F.col("n_docs") - F.col("n_distinct_texts")).alias("n_exact_dups"),
            rnd(
                (F.col("n_docs") - F.col("n_distinct_texts")) * 1.0 / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
            rnd(F.col("total_chars") * 1.0 / F.col("n_docs"), 6).alias("mean_chars"),
            rnd(F.col("n_tokens") * 1.0 / F.col("n_types"), 6).alias(
                "type_token_ratio"
            ),
        )
    )


@query(
    "j_split_balance",
    oracle="""
    WITH d AS (SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                           THEN 'train'
                           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                           THEN 'val' ELSE 'test' END AS split,
                      lang
               FROM documents),
    o AS (SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS oc
          FROM d GROUP BY split, lang),
    g AS (SELECT lang, CAST(SUM(oc) AS BIGINT) AS gc FROM o GROUP BY lang),
    st AS (SELECT split, CAST(SUM(oc) AS BIGINT) AS ns FROM o GROUP BY split),
    tot AS (SELECT CAST(SUM(oc) AS BIGINT) AS big_n FROM o),
    grid AS (SELECT st.split, st.ns, g.lang, g.gc, COALESCE(o.oc, 0) AS oc,
                    tot.big_n
             FROM st CROSS JOIN g
             LEFT JOIN o ON o.split = st.split AND o.lang = g.lang
             CROSS JOIN tot),
    terms AS (SELECT split, ns, lang, gc, oc, big_n,
                     CAST(FLOOR(
                       CAST((CAST(oc AS HUGEINT) * big_n - CAST(ns AS HUGEINT) * gc)
                            * (CAST(oc AS HUGEINT) * big_n - CAST(ns AS HUGEINT) * gc)
                            AS DOUBLE)
                       / CAST(CAST(ns AS HUGEINT) * gc * big_n AS DOUBLE)
                       * 1000000 + 0.5) AS BIGINT) AS term6,
                     ABS(CAST(oc AS HUGEINT) * big_n - CAST(ns AS HUGEINT) * gc)
                       AS dev
              FROM grid),
    ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY split
                                            ORDER BY dev DESC, lang) AS rk
               FROM terms)
    SELECT t.split, t.ns AS n_docs,
           FLOOR(t.ns * 1.0 / t.big_n * 1000000 + 0.5) / 1000000 AS share,
           CAST(SUM(t.term6) AS BIGINT) / 1000000.0 AS chi2,
           MIN(r.lang) AS top_lang,
           FLOOR(MIN(ABS(r.oc * 1.0 / r.ns - r.gc * 1.0 / r.big_n))
                 * 1000000 + 0.5) / 1000000 AS top_dev
    FROM terms t
    JOIN ranked r ON r.split = t.split AND r.rk = 1
    GROUP BY t.split, t.ns, t.big_n
    """,
)
def j_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition balance of the canonical train/val/test split: per
    split, its share of the corpus and the χ² of its LANGUAGE mix
    against the global mix, plus the most-deviant language — the
    statistical complement of j_split_leakage (that audits CONTENT
    crossing splits; this audits whether the eval sets are even drawn
    from the same distribution they claim to test — a val set that
    under-represents a language silently mis-scores that slice). The
    split is the identical md5-prefix CASE as j_split_train_val, so
    the three split qids audit one assignment by construction.

    χ² arithmetic is byte-for-byte the j_drift_timeslices discipline
    (exact integer (oN − n·g)² / n·g·N terms, widened before the
    multiply, 1e-6-floored then integer-summed); Spark serves it
    through the SAME drift_from_counts rollup — shared code, not a
    reimplementation.

    Plan: one narrow map (md5 prefix CASE) into ONE (split, lang)
    hash agg; everything after runs on ≤ 3·|langs| metadata rows."""
    from .timeseries import drift_from_counts

    t = load(spark, sf_dir)
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(prefix < "cd", "train").when(prefix < "e6", "val").otherwise("test")
    )
    o = (
        t.documents.select(split.alias("day_idx"), F.col("lang").alias("bucket"))
        .groupBy("day_idx", "bucket")
        .agg(F.count("*").cast("long").alias("oc"))
    )
    rolled = drift_from_counts(o)
    tot = F.broadcast(o.agg(F.sum("oc").cast("long").alias("big_n")))
    return rolled.crossJoin(tot).select(
        F.col("day_idx").alias("split"),
        F.col("n_events").alias("n_docs"),
        rnd(F.col("n_events") * 1.0 / F.col("big_n"), 6).alias("share"),
        "chi2",
        F.col("top_bucket").alias("top_lang"),
        "top_dev",
    )


# Neyman-allocation sample size (the literal K the allocation divides).
_NEYMAN_K = 1000


@query(
    "j_neyman_allocation",
    oracle=f"""
    WITH m AS (SELECT source,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(n_chars) AS BIGINT) AS sx,
                      SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS sxx
               FROM documents GROUP BY source),
    d AS (SELECT source, n, sx,
                 CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
                   AS dnum
          FROM m),
    s AS (SELECT source, n, dnum,
                 CAST(FLOOR(sqrt(CAST(dnum AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                   AS s6
          FROM d),
    tot AS (SELECT CAST(SUM(s6) AS BIGINT) AS s6_tot FROM s)
    SELECT s.source, s.n AS n_docs,
           FLOOR(sqrt(CAST(s.dnum AS DOUBLE)) / s.n * 1000000 + 0.5) / 1000000
             AS sigma,
           FLOOR(s.s6 * 1.0 / t.s6_tot * 1000000 + 0.5) / 1000000 AS weight,
           CAST((2 * {_NEYMAN_K} * s.s6 + t.s6_tot) // (2 * t.s6_tot) AS BIGINT)
             AS alloc
    FROM s CROSS JOIN tot t
    """,
)
def j_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal sample allocation across source strata (Neyman
    1934, public): stratum c of a {k}-document quality-review sample
    gets k_c ∝ N_c·σ_c — big AND internally-varied sources get more
    reviewers, uniform template farms get few. This is the DESIGN step
    j_sample_stratified executes with hand-set rates and
    j_sample_debias audits after the fact; the identity
    N_c·σ_c = sqrt(N_c·Σx² − (Σx)²) lets the whole allocation run on
    the exact integer variance numerators.

    EXACT: moments in BIGINT/HUGEINT; the ONLY float op per stratum is
    one IEEE sqrt of an exact integer, immediately floored to the 1e-6
    scaled grid, so the weight denominator is an exact integer sum and
    the allocation k_c = (2·K·s6 + S6) div (2·S6) is pure integer
    half-up arithmetic — no order-dependent float sum anywhere (the
    j_embed_mmd convention).

    Plan: ONE |sources|-keyed hash agg with map-side partials; the
    allocation arithmetic runs on |sources| rows against a broadcast
    1-row total."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    m = t.documents.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum((F.col("n_chars") * F.col("n_chars")).cast(dec)).alias("sxx"),
    )
    dnum = F.col("n") * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    s = m.select(
        "source",
        "n",
        dnum.alias("dnum"),
        F.floor(F.sqrt(dnum.cast("double")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("s6"),
    )
    tot = F.broadcast(s.agg(F.sum("s6").cast("long").alias("s6_tot")))
    return s.crossJoin(tot).select(
        "source",
        F.col("n").alias("n_docs"),
        (
            F.floor(
                F.sqrt(F.col("dnum").cast("double")) / F.col("n") * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("sigma"),
        rnd(F.col("s6") * 1.0 / F.col("s6_tot"), 6).alias("weight"),
        F.expr(f"(2 * {_NEYMAN_K} * s6 + s6_tot) div (2 * s6_tot)")
        .cast("long")
        .alias("alloc"),
    )


j_neyman_allocation.__doc__ = j_neyman_allocation.__doc__.replace(
    "{k}", str(_NEYMAN_K)
)


# Horvitz-Thompson audit: expected sample size of the PPS-Bernoulli
# design (inclusion probability proportional to n_chars, capped at 1).
_HT_K = 100


@query(
    "j_horvitz_thompson",
    oracle=f"""
    WITH base AS (SELECT doc_id, n_chars,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                  FROM documents),
    tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS sc,
                   CAST(SUM(n_tok) AS BIGINT) AS true_total
            FROM base),
    p AS (SELECT doc_id, n_tok,
                 least(1000000,
                       CAST((2 * 1000000 * {_HT_K} * CAST(n_chars AS HUGEINT) + sc)
                            // (2 * CAST(sc AS HUGEINT)) AS BIGINT)) AS p6,
                 CAST('0x' || substr(md5('ht' || CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 1000000 AS u6
          FROM base CROSS JOIN tot),
    inc AS (SELECT doc_id, n_tok, p6 FROM p WHERE u6 < p6),
    est AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_included,
                   CAST(SUM(CAST((2 * 1000000 * CAST(n_tok AS HUGEINT) + p6)
                                 // (2 * CAST(p6 AS HUGEINT)) AS BIGINT))
                        AS BIGINT) AS ht_total
            FROM inc),
    ev AS (SELECT CAST(SUM(p6) AS BIGINT) AS sum_p6 FROM p)
    SELECT est.n_included,
           FLOOR(ev.sum_p6 / 1000000.0 * 100 + 0.5) / 100 AS expected_n,
           est.ht_total, tot.true_total,
           FLOOR(abs(est.ht_total - tot.true_total) * 1.0 / tot.true_total
                 * 1000000 + 0.5) / 1000000 AS rel_err
    FROM est CROSS JOIN ev CROSS JOIN tot
    """,
)
def j_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimator audit for PPS-Bernoulli sampling
    (Horvitz & Thompson 1952, public): documents enter a sample
    independently with probability proportional to n_chars (target
    expected size {k}, capped at 1 on the exact 1e-6 grid); the HT
    total Σ n_tok/p over the INCLUDED docs estimates the corpus token
    total, and the row reports it against the true total. This is
    the estimator-calibration audit for every weighted-sample
    derivative in the registry (j_sample_weighted picks the docs,
    j_dsir_weights reweights them; this measures whether
    inverse-probability totals computed from such samples can be
    trusted, and its rel_err is the number a sampled-metrics
    dashboard quotes as its error bar).

    Determinism: inclusion probabilities are scaled BIGINTs from the
    (2S+n) div 2n half-up idiom (HUGEINT in the oracle); the draw
    u6 < p6 compares integers derived from portable md5 (no RNG
    state — the j_bootstrap_ci discipline); each HT term rounds
    half-up to integer tokens BEFORE the exact BIGINT sum, so no
    float accumulates.

    Plan: one corpus pass for totals, one narrow map for (p6, u6),
    one filtered agg — three metadata-scale rows join at the end. At
    100 TB the design is one write-time column and the audit is one
    scan."""
    t = load(spark, sf_dir)
    base = t.documents.select(
        "doc_id",
        "n_chars",
        F.size(tokens_col("text")).cast("long").alias("n_tok"),
    )
    tot = base.agg(
        F.sum("n_chars").cast("long").alias("sc"),
        F.sum("n_tok").cast("long").alias("true_total"),
    )
    p = base.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tok",
        F.least(
            F.lit(1000000).cast("long"),
            F.expr(
                f"CAST((2 * 1000000 * {_HT_K} * CAST(n_chars AS DECIMAL(38,0)) + sc)"
                " div (2 * CAST(sc AS DECIMAL(38,0))) AS BIGINT)"
            ),
        ).alias("p6"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ht"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1000000
        ).alias("u6"),
        "true_total",
    )
    p = p.persist()  # consumers: inclusion agg + expected-size agg
    inc = p.where(F.col("u6") < F.col("p6"))
    est = inc.agg(
        F.count("*").cast("long").alias("n_included"),
        F.sum(
            F.expr(
                "CAST((2 * 1000000 * CAST(n_tok AS DECIMAL(38,0)) + p6)"
                " div (2 * CAST(p6 AS DECIMAL(38,0))) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("ht_total"),
    )
    ev = p.agg(F.sum("p6").cast("long").alias("sum_p6"))
    return (
        est.crossJoin(F.broadcast(ev))
        .crossJoin(F.broadcast(tot.select("true_total")))
        .select(
            "n_included",
            (F.floor(F.col("sum_p6") / F.lit(1000000.0) * 100 + F.lit(0.5)) / 100)
            .alias("expected_n"),
            "ht_total",
            "true_total",
            rnd(
                F.abs(F.col("ht_total") - F.col("true_total"))
                * 1.0
                / F.col("true_total"),
                6,
            ).alias("rel_err"),
        )
    )


j_horvitz_thompson.__doc__ = j_horvitz_thompson.__doc__.replace("{k}", str(_HT_K))


# l-diversity: distinct-sensitive-value floor per quasi-identifier cell.
_LDIV_L = 3


@query(
    "j_l_diversity",
    oracle=f"""
    WITH cells AS (
      SELECT lang, CAST({sql_floordiv("n_chars", 100)} AS BIGINT)
               AS chars_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS l_distinct
      FROM documents GROUP BY 1, 2)
    SELECT lang, chars_bucket, n_rows, l_distinct,
           l_distinct >= {_LDIV_L} AS diverse
    FROM cells
    """,
)
def j_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007, public) over
    the (lang, chars-bucket) quasi-identifier cells with `source` as
    the sensitive attribute — the attack j_kanon_check does NOT
    cover: a cell can hold k >= 5 rows (k-anonymous) while every row
    shares ONE source, so membership in the cell REVEALS the source
    (the homogeneity attack). A release gate reads both relations:
    kanon's suppress flags AND these diverse=false cells, whose rows
    need source-generalization before publication.

    EXACT: the bucket is the shared sign-safe floordiv lowering; the
    cell counts and the distinct-sensitive count are BIGINT; the
    flag compares integers — nothing floats.

    Plan: ONE hash agg over documents to the quasi-identifier domain
    (metadata-sized at any corpus scale — the j_kanon_check
    argument); the distinct-count partials combine map-side."""
    t = load(spark, sf_dir)
    cells = t.documents.groupBy(
        "lang", floordiv("n_chars", 100).cast("long").alias("chars_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("source").cast("long").alias("l_distinct"),
    )
    return cells.select(
        "lang",
        "chars_bucket",
        "n_rows",
        "l_distinct",
        (F.col("l_distinct") >= _LDIV_L).alias("diverse"),
    )


# t-closeness threshold t <= 0.25 as the exact integer compare
# 4 * num <= 2 * n_cell * N (num is the 2*n*N-scaled variational
# distance), so the flag can never float-flip between engines. 0.25
# sits INSIDE the fixture's per-cell t range at every scale
# (0.225-0.9 at sf0.001/0.01, 0.077-0.279 at sf0.1), so both flag
# values occur — a threshold no cell ever crosses would be a vacuous
# gate (the j_good_turing lesson applied to booleans).
_TCLOSE_NUM, _TCLOSE_DEN = 1, 4  # t = 0.25


@query(
    "j_t_closeness",
    oracle=f"""
    WITH cells AS (SELECT lang,
                          CAST({sql_floordiv("n_chars", 100)} AS BIGINT)
                              AS chars_bucket,
                          source, CAST(COUNT(*) AS BIGINT) AS c
                   FROM documents GROUP BY 1, 2, 3),
    gsrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS g FROM documents
             GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
    j AS (SELECT cells.lang, cells.chars_bucket, cells.c, gsrc.g, tot.nn
          FROM cells JOIN gsrc USING (source) CROSS JOIN tot),
    w AS (SELECT lang, chars_bucket, c, g, nn,
                 CAST(SUM(c) OVER (PARTITION BY lang, chars_bucket)
                     AS HUGEINT) AS ncell
          FROM j),
    r AS (SELECT lang, chars_bucket, MAX(nn) AS nn,
                 CAST(SUM(c) AS BIGINT) AS n_rows,
                 CAST(SUM(ABS(CAST(c AS HUGEINT) * nn - ncell * g)
                          - ncell * g) AS HUGEINT) AS adj
          FROM w GROUP BY lang, chars_bucket)
    SELECT lang, chars_bucket, n_rows,
           {sql_rnd(
               "(CAST(adj AS DOUBLE) + CAST(n_rows AS DOUBLE) * nn)"
               " / (2.0 * n_rows * nn)", 6)} AS t_closeness,
           {_TCLOSE_DEN} * (adj + CAST(n_rows AS HUGEINT) * nn)
               <= 2 * {_TCLOSE_NUM} * CAST(n_rows AS HUGEINT) * nn AS close
    FROM r
    """,
)
def j_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007, public) over the SAME
    (lang, chars-bucket) quasi-identifier cells as j_kanon_check /
    j_l_diversity, with `source` as the categorical sensitive
    attribute — the attack l-diversity does NOT cover: a cell can hold
    l >= 3 distinct sources (diverse) while its source DISTRIBUTION is
    wildly skewed vs the corpus, so membership still shifts an
    attacker's posterior (the skewness attack). For a categorical
    attribute the EMD of the t-closeness definition reduces to total
    variation distance t = (1/2) SUM_j |p_j - q_j|; the release gate
    is the closure of the governance triptych: k bounds cell size, l
    bounds sensitive cardinality, t bounds distributional leak.

    EXACT: the scaled numerator SUM_j |c_j N - n g_j| is computed over
    PRESENT sources only via the absent-mass identity
    SUM_absent n g_j = n N - SUM_present n g_j (so missing (cell,
    source) combos never need materializing); every term is
    HUGEINT/DECIMAL (widened before multiply); t is ONE display
    division and the `close` flag is the pure-integer compare
    {DEN} num <= 2 {NUM_}*... (t <= 0.25) that cannot float-flip.

    Plan: ONE (lang, bucket, source) hash agg over the corpus
    (quasi-identifier x sensitive domain — metadata at any scale), a
    20-row broadcast of global source counts, and a per-cell rollup.
    Same shuffle shape as j_l_diversity plus the broadcast."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    cells = t.documents.groupBy(
        "lang",
        floordiv("n_chars", 100).cast("long").alias("chars_bucket"),
        "source",
    ).agg(F.count("*").cast("long").alias("c"))
    glob = t.documents.groupBy("source").agg(F.count("*").cast("long").alias("g"))
    tot = t.documents.agg(F.count("*").cast("long").alias("nn"))
    j = cells.join(F.broadcast(glob), "source").crossJoin(F.broadcast(tot))
    wcell = Window.partitionBy("lang", "chars_bucket")
    ncell = F.sum("c").over(wcell).cast(dec)
    term = F.abs(F.col("c").cast(dec) * F.col("nn") - ncell * F.col("g")) - (
        ncell * F.col("g")
    )
    r = j.select(
        "lang", "chars_bucket", "c", "nn", term.alias("term")
    ).groupBy("lang", "chars_bucket").agg(
        F.max("nn").cast("long").alias("nn"),
        F.sum("c").cast("long").alias("n_rows"),
        F.sum("term").cast(dec).alias("adj"),
    )
    num = F.col("adj") + F.col("n_rows").cast(dec) * F.col("nn")
    return r.select(
        "lang",
        "chars_bucket",
        "n_rows",
        rnd(
            (F.col("adj").cast("double") + F.col("n_rows").cast("double") * F.col("nn"))
            / (2.0 * F.col("n_rows") * F.col("nn")),
            6,
        ).alias("t_closeness"),
        (
            F.lit(_TCLOSE_DEN).cast(dec) * num
            <= F.lit(2 * _TCLOSE_NUM).cast(dec)
            * (F.col("n_rows").cast(dec) * F.col("nn"))
        ).alias("close"),
    )


j_t_closeness.__doc__ = j_t_closeness.__doc__.replace(
    "{DEN}", str(_TCLOSE_DEN)
).replace("{NUM_}*...", f"{_TCLOSE_NUM} n N")

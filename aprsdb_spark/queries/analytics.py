"""Behavioral analytics over the `events` stream table — the classic
product-analytics operators (retention cohorts, conversion funnels) a
query engine serving event data must cover. Both are single-shuffle-
family plans keyed on user_id; event-time math runs on epoch-ms longs
(`ts_ms`, tables.py) so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import rnd, sql_rnd
from ..registry import query
from ..tables import load

_DAY_MS = 86400000


@query(
    "j_retention_cohort",
    oracle=f"""
    WITH ev AS (SELECT user_id, epoch_ms(ts) // {_DAY_MS} AS day FROM events),
         first AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id)
    SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM ev e JOIN first f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def j_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort matrix: users grouped by first-seen day, counted
    on each later day they return (the day-N retention triangle).

    Plan: one agg for first-seen (shuffle on user_id), join back to the
    event stream on user_id — both sides hash on the same key, so the
    join reuses the aggregation's partitioning — then a hash agg on
    (cohort_day, day_offset), whose distinct-count is per-user and
    partially aggregated map-side. first-seen is |users| rows, far
    smaller than |events|; at 100 TB AQE picks broadcast when the user
    dimension fits, else the co-partitioned SMJ. Day arithmetic is
    integer division on epoch-ms — no timezone, no timestamp type."""
    t = load(spark, sf_dir)
    ev = t.events.select("user_id", F.expr(f"ts_ms div {_DAY_MS}").alias("day"))
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


@query(
    "j_funnel_stages",
    oracle="""
    WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
         s1 AS (SELECT user_id, MIN(ts_ms) AS t1 FROM e
                WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, MIN(ts_ms) AS t2 FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'view' AND ts_ms >= t1 GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, MIN(ts_ms) AS t3 FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'click' AND ts_ms >= t2 GROUP BY e.user_id),
         s4 AS (SELECT e.user_id, MIN(ts_ms) AS t4 FROM e JOIN s3 USING (user_id)
                WHERE event_type = 'purchase' AND ts_ms >= t3 GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_click,
           CAST((SELECT COUNT(*) FROM s4) AS BIGINT) AS n_purchase
    """,
)
def j_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → click → purchase:
    a user converts stage k only with an event at-or-after their stage
    k-1 conversion time (strict min-chain semantics).

    Plan: four chained window minimums over the SAME window spec
    (partitionBy user_id) — Spark stacks same-spec Window operators on
    one Exchange+Sort, so the whole per-user chain costs a single
    shuffle regardless of funnel depth, then a 1-row global agg. The
    SQL formulation needs one self-join per stage; the window form is
    the scale-correct lowering (no |events|-sized join per stage)."""
    t = load(spark, sf_dir)
    return funnel_counts(
        t.events.select("user_id", "event_type", "ts_ms"),
        [("signup", "n_signup"), ("view", "n_view"),
         ("click", "n_click"), ("purchase", "n_purchase")],
    )


def funnel_counts(events: DataFrame, stages: list[tuple[str, str]]) -> DataFrame:
    """Strict-order funnel over (user_id, event_type, ts_ms): stage k
    counts users with a stage-k event at-or-after their stage k-1
    conversion time. One shuffle total (stacked same-spec windows)."""
    w = Window.partitionBy("user_id")

    def stage_min(event_type: str, after_col: str | None) -> Column:
        cond = F.col("event_type") == event_type
        if after_col is not None:
            cond = cond & (F.col("ts_ms") >= F.col(after_col))
        return F.min(F.when(cond, F.col("ts_ms"))).over(w)

    staged, prev = events, None
    for i, (etype, _) in enumerate(stages):
        staged = staged.withColumn(f"t{i}", stage_min(etype, prev))
        prev = f"t{i}"
    tcols = [f"t{i}" for i in range(len(stages))]
    per_user = staged.groupBy("user_id").agg(
        *[F.max(c).alias(c) for c in tcols]
    )
    return per_user.agg(
        *[
            F.count(c).cast("long").alias(out)
            for c, (_, out) in zip(tcols, stages)
        ]
    )


_PR_ITERS = 5
# Damping as an exact rational (17/20 = 0.85): the integer-nanorank
# recurrence is built ONLY from integer floor-divisions, so the damping
# factor must itself be a ratio of BIGINT literals. Every occurrence in
# both engines' expressions derives from these two numbers (plus the
# teleport mass below) — editing the ratio edits Spark and the oracle
# alike, the drift the r10 ADVICE flagged when 0.85 lived beside
# hardcoded 17/20/150000000 literals.
_PR_DAMP_NUM = 17
_PR_DAMP_DEN = 20
# (1 - d) in nanorank units: 1e9 * 3/20 = 150_000_000, exact.
_PR_TELEPORT9 = 1_000_000_000 * (_PR_DAMP_DEN - _PR_DAMP_NUM) // _PR_DAMP_DEN
assert 1_000_000_000 * (_PR_DAMP_DEN - _PR_DAMP_NUM) % _PR_DAMP_DEN == 0
# The trade graph is near-complete on uniform TPC-H data (every nation
# trades with every nation), which would make PageRank exactly uniform;
# keeping each nation's top-3 partners by lineitem flow (deterministic
# tie-break on dst) gives the sparse directed graph the algorithm is
# actually interesting on.
_PR_FANOUT = 3


# Trade-graph CTE chain (flow agg + top-_PR_FANOUT capped edge list),
# shared by the j_pagerank and j_triangle_count oracles.
_TRADE_E_CTES = f"""flow AS (SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                         CAST(COUNT(*) AS BIGINT) AS w
                  FROM lineitem l
                  JOIN orders o ON l.l_orderkey = o.o_orderkey
                  JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN supplier s ON l.l_suppkey = s.s_suppkey
                  GROUP BY 1, 2),
    e AS (SELECT src, dst FROM (
              SELECT src, dst,
                     ROW_NUMBER() OVER (PARTITION BY src
                                        ORDER BY w DESC, dst) AS rk
              FROM flow) WHERE rk <= {_PR_FANOUT})"""


def _trade_edges(t) -> DataFrame:
    """The capped directed trade-partner edge list (src, dst) — each
    supplier nation's top-_PR_FANOUT customer nations by lineitem flow —
    shared by j_pagerank and j_triangle_count."""
    flow = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(t.orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    rk = F.row_number().over(
        Window.partitionBy("src").orderBy(F.col("w").desc(), F.col("dst").asc())
    )
    return flow.withColumn("rk", rk).where(F.col("rk") <= _PR_FANOUT).select("src", "dst")


def _meta1(df) -> DataFrame:
    """Pin a |V|-bounded metadata frame to ONE partition, as a plan
    LEAF (r17, guide §2.4 "remove shuffles outright"). SinglePartition
    satisfies every clustered distribution, so every downstream
    join/aggregate/window over the frame plans with NO exchange — the
    graph family's fixed-round iterations fuse into a single stage
    instead of 2-3 exchanges (and as many sequential AQE stage
    round-trips) per round. Pair with .hint("shuffle_hash") on the
    |V|-row join sides: the hint suppresses the size-estimate
    broadcast that would otherwise rebuild a BroadcastExchange job
    every round. Correct at ANY scale BY THE SAME ARGUMENT as the
    oracle's unrolled CTEs: the trade graph is nation-cardinality
    (|V| = 25 in TPC-H at every SF, edges <= |V| x fanout), so one
    partition of it is metadata, not data — the corpus-sized flow agg
    upstream keeps its parallel scan/shuffle shape.

    The exact sequence matters (each step probed on Spark 4.1):
    - repartition(1): the one real exchange. coalesce(1) alone is NOT
      honored above an exchange-bearing subtree (EnsureRequirements
      re-exchanged both join sides); and a bare repartition(1) sitting
      directly under a requiring join gets REWRITTEN by
      EnsureRequirements to hashpartitioning(key, shuffle.partitions),
      silently dissolving the fuse — hence the leaf below.
    - persist(): CacheManager dedups the canonical plan, so a bench
      run's second execution reuses the materialized flow agg (the
      warm regime the bench measures).
    - lazy localCheckpoint(): turns the frame into a LogicalRDD leaf
      the planner cannot rewrite; non-reliable executor-local storage
      is acceptable ONLY because the frame is |V|-bounded metadata
      (the c_sql_recursive / j_dedup_cluster size-bound rule).
    - coalesce(1) above the leaf: a leaf has no exchange beneath, which
      is exactly the case where CoalesceExec's SinglePartition property
      is honored; it is free on the already-1-partition RDD."""
    df = df.repartition(1)
    df.persist()
    return df.localCheckpoint(eager=False).coalesce(1)


@query(
    "j_pagerank",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
    n AS (SELECT n_nationkey AS nk FROM nation),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM n),
    it0 AS (SELECT nk, 1000000000 // cnt AS pr9
            FROM n CROSS JOIN nn),
    {','.join(f'''
    it{k} AS (SELECT n.nk,
                     CAST({_PR_TELEPORT9} // nn.cnt
                          + ({_PR_DAMP_NUM} * COALESCE(c.s, 0)) // {_PR_DAMP_DEN} AS BIGINT) AS pr9
              FROM n CROSS JOIN nn
              LEFT JOIN (SELECT e.dst AS nk,
                                CAST(SUM(p.pr9 // deg.d) AS BIGINT) AS s
                         FROM e JOIN it{k - 1} p ON e.src = p.nk
                         JOIN deg ON deg.src = e.src
                         GROUP BY e.dst) c ON c.nk = n.nk)''' for k in range(1, _PR_ITERS + 1))}
    SELECT nat.n_nationkey, nat.n_name, itf.pr9 / 1000000000.0 AS pagerank
    FROM it{_PR_ITERS} itf JOIN nation nat ON nat.n_nationkey = itf.nk
    """,
)
def j_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round PageRank (d = _PR_DAMP_NUM/_PR_DAMP_DEN = 0.85,
    _PR_ITERS = 5 iterations) over the TPC-H trade
    graph — a directed edge supplier-nation → customer-nation to each
    nation's top-3 trade partners by lineitem flow (uniform TPC-H data
    makes the full trade graph complete, i.e. PageRank-uniform; the
    fan-out cap keeps the graph sparse and the ranks informative).
    The one ITERATIVE fixpoint algorithm in the registry with a full
    value-level oracle: each Spark iteration is mirrored by an unrolled
    CTE in the DuckDB SQL, and every rank is an EXACT BIGINT
    "nanorank" (1e-9 units): per-edge contributions are pr9 div d,
    damping is (num·s) div den, teleport is _PR_TELEPORT9 div |V| — all
    non-negative integer floor-divisions, so iteration k is a pure
    function of iteration k−1 REGARDLESS of accumulation order. The
    first form kept doubles and re-floored each round to a 1e-9 grid;
    summing grid-valued terms lands on ×1e9+0.5 boundaries often
    enough that the order-dependent last ulp flipped a rank between
    runs (observed r10, NATION_3 at 0.065756096|97 — exactly the
    pre-rounded-sum trap the repo's integer discipline exists for).
    The integer form loses ≤1e-9 mass per edge per round
    (deterministically) and the display value is one exact division.
    Dangling nodes keep their teleport mass and contribute nothing
    (documented variant — no dangling redistribution).

    Scale shape: the edge list is built once (flow agg on two int keys
    — the shuffle carries 2 ints and a count — then a top-3 window per
    src over |V| fan-in rows), persisted with its
    out-degrees, and every iteration is edge⋈rank (broadcast rank — the
    rank table is |V| rows) + one dst-keyed agg. Lineage grows linearly
    with a fixed iteration count; a high-iteration deployment would add
    the lazy localCheckpoint every ~8 rounds exactly as
    j_dedup_cluster's pointer-doubling variant does
    (queries/curation.py:525)."""
    t = load(spark, sf_dir)
    # r17: the |V|-bounded edge frame pins to ONE partition as a leaf
    # (_meta1) and every per-iteration join is SHUFFLE_HASH-hinted —
    # with both sides SinglePartition the planner inserts no exchange
    # and builds no per-round BroadcastExchange job, so all _PR_ITERS
    # iterations execute as one fused stage after the (still parallel)
    # flow agg.
    e1 = _meta1(_trade_edges(t))
    deg = e1.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    # the free coalesce(1) after each INNER join/agg restores the plain
    # SinglePartition property: an inner ShuffledHashJoin reports a
    # PartitioningCollection, which the downstream co-partition check
    # rejects (probed: chained inner SHJs re-exchanged without this)
    ed = (
        e1.join(deg.hint("shuffle_hash"), "src")
        .select("src", "dst", "d")
        .coalesce(1)
    )
    # a plain scan leaf has no exchange beneath, so coalesce(1) alone
    # is honored here (see _meta1)
    nodes = t.nation.select(F.col("n_nationkey").alias("nk")).coalesce(1)
    # |V| as a global window count, NOT a 1-row crossJoin: the
    # BroadcastNestedLoopJoin the crossJoin plans does not propagate
    # the stream side's SinglePartition, which re-exchanged the whole
    # iteration chain; the unpartitioned window is exchange-free on
    # the single-partition spine and computes the identical integer
    nodes_cnt = nodes.select(
        "nk",
        F.count("*").over(Window.partitionBy()).cast("long").alias("cnt"),
    )
    ranks = nodes_cnt.select(
        "nk", "cnt", F.expr("1000000000 div cnt").alias("pr9")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            ed.join(
                ranks.select("nk", "pr9").hint("shuffle_hash"),
                ed.src == F.col("nk"),
            )
            .groupBy("dst")
            .agg(F.sum(F.expr("pr9 div d")).cast("long").alias("s"))
            .coalesce(1)
        )
        ranks = (
            nodes_cnt
            .join(
                contrib.hint("shuffle_hash"), F.col("nk") == F.col("dst"), "left"
            )
            .select(
                "nk",
                "cnt",
                F.expr(
                    f"{_PR_TELEPORT9} div cnt + ({_PR_DAMP_NUM} * "
                    f"COALESCE(s, CAST(0 AS BIGINT))) div {_PR_DAMP_DEN}"
                )
                .cast("long")
                .alias("pr9"),
            )
        )
    return ranks.join(
        F.broadcast(t.nation), F.col("nk") == F.col("n_nationkey")
    ).select(
        "n_nationkey",
        "n_name",
        (F.col("pr9") / F.lit(1000000000.0)).alias("pagerank"),
    )


@query(
    "j_triangle_count",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e WHERE src != dst),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM und e1
            JOIN und e2 ON e2.u = e1.v
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
    corners AS (SELECT a AS nk FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri),
    cnt AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM corners GROUP BY nk)
    SELECT n.n_nationkey, n.n_name,
           COALESCE(cnt.n_triangles, 0) AS n_triangles
    FROM nation n LEFT JOIN cnt ON cnt.nk = n.n_nationkey
    """,
)
def j_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting over the (undirected) capped trade
    graph — the clustering-coefficient numerator and the standard
    distributed-graph benchmark beside PageRank. Edges canonicalize to
    u < v, so each triangle a<b<c is enumerated exactly once by the
    two-path join (a,b)⋈(b,c) closed by the (a,c) edge probe; every
    corner then votes once per triangle.

    Scale shape: the classic MapReduce triangle algorithm (Suri &
    Vassilvitskii 2011, public) IS this plan — two equi-joins on edge
    endpoints plus a count agg. Real deployments order by degree
    (join low-degree endpoints first) to bound skew; on the
    fan-out-capped trade graph (deg <= {_PR_FANOUT} + fan-in) the
    canonical u<v orientation already bounds every join key's fan-out,
    and the |V|-row edge list broadcasts. The expensive part at 100 TB
    is building `e` — one flow aggregation whose shuffle carries two
    int keys and a count, shared verbatim with j_pagerank."""
    t = load(spark, sf_dir)
    e = _trade_edges(t)
    und = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    und.persist()  # consumers: e1, e2, e3 legs of the triangle join
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(F.broadcast(e2), "b").join(F.broadcast(e3), ["a", "c"])
    corners = (
        tri.select(F.col("a").alias("nk"))
        .unionAll(tri.select(F.col("b").alias("nk")))
        .unionAll(tri.select(F.col("c").alias("nk")))
    )
    cnt = corners.groupBy("nk").agg(F.count("*").cast("long").alias("n_triangles"))
    return (
        t.nation.join(F.broadcast(cnt), F.col("n_nationkey") == F.col("nk"), "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


@query(
    "j_clustering_coeff",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e WHERE src != dst),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM und e1
            JOIN und e2 ON e2.u = e1.v
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
    corners AS (SELECT a AS nk FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri),
    cnt AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM corners GROUP BY nk),
    ends AS (SELECT u AS nk FROM und UNION ALL SELECT v FROM und),
    deg AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS degree
            FROM ends GROUP BY nk),
    base AS (SELECT n.n_nationkey, n.n_name,
                    COALESCE(deg.degree, 0) AS degree,
                    COALESCE(cnt.n_triangles, 0) AS n_triangles
             FROM nation n LEFT JOIN deg ON deg.nk = n.n_nationkey
                           LEFT JOIN cnt ON cnt.nk = n.n_nationkey)
    SELECT n_nationkey, n_name, degree, n_triangles,
           CASE WHEN degree < 2 THEN 0.0
                ELSE CAST((2 * n_triangles * 1000000)
                          // (degree * (degree - 1)) AS BIGINT) / 1000000.0
           END AS clustering_coeff
    FROM base
    """,
)
def j_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the undirected trade
    graph — C(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the fraction of a
    node's neighbor pairs that are themselves connected (Watts &
    Strogatz 1998, public). The triangle count's DENOMINATOR: a hub
    with many triangles can still be a loose star, and the coefficient
    is what community/quality analyses actually threshold on.

    Exact arithmetic: T(v) and deg(v) come from the same canonical
    u<v edge relation as j_triangle_count (triangles via the two-path
    join closed by the third-edge probe — each counted once), and the
    coefficient lowers to ONE integer floor-division on a 1e-6-scaled
    BIGINT (non-negative, so Spark `div` == DuckDB `//`), displayed by
    one exact /1e6. Zero-degree and degree-1 nodes define C = 0.

    Scale shape: identical to the triangle plan — the expensive part
    is the shared flow aggregation; degrees are a |V|-row agg over the
    broadcast edge list and everything after is node-table metadata."""
    t = load(spark, sf_dir)
    e = _trade_edges(t)
    und = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    und.persist()  # consumers: 3 triangle legs + both degree endpoints
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(F.broadcast(e2), "b").join(F.broadcast(e3), ["a", "c"])
    corners = (
        tri.select(F.col("a").alias("nk"))
        .unionAll(tri.select(F.col("b").alias("nk")))
        .unionAll(tri.select(F.col("c").alias("nk")))
    )
    cnt = corners.groupBy("nk").agg(F.count("*").cast("long").alias("n_triangles"))
    ends = und.select(F.col("u").alias("nk")).unionAll(
        und.select(F.col("v").alias("nk"))
    )
    deg = ends.groupBy("nk").agg(F.count("*").cast("long").alias("degree"))
    base = (
        t.nation.join(F.broadcast(deg), F.col("n_nationkey") == deg.nk, "left")
        .drop("nk")
        .join(F.broadcast(cnt), F.col("n_nationkey") == cnt.nk, "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )
    coeff = F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
        F.expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))")
        / F.lit(1000000.0)
    )
    return base.select(
        "n_nationkey", "n_name", "degree", "n_triangles",
        coeff.alias("clustering_coeff"),
    )


# Welch two-sample test: |t| beyond this flags a significant difference
# (two-sided 5% on the normal approximation — per-type daily n >= ~400).
_TTEST_CRIT = 1.96


@query(
    "j_ab_ttest",
    oracle=f"""
    WITH g AS (
      SELECT event_type, value,
             CASE WHEN substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS grp
      FROM events),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (grp = 'A') AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (grp = 'B') AS BIGINT) AS n_b,
             FLOOR(AVG(value) FILTER (grp = 'A') * 1000000 + 0.5) / 1000000 AS mean_a,
             FLOOR(AVG(value) FILTER (grp = 'B') * 1000000 + 0.5) / 1000000 AS mean_b,
             FLOOR(var_samp(value) FILTER (grp = 'A') * 1000000 + 0.5) / 1000000 AS var_a,
             FLOOR(var_samp(value) FILTER (grp = 'B') * 1000000 + 0.5) / 1000000 AS var_b
      FROM g GROUP BY event_type),
    tt AS (
      SELECT *, FLOOR((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)
                      * 10000 + 0.5) / 10000 AS t_stat
      FROM s)
    SELECT event_type, n_a, n_b, mean_a, mean_b, var_a, var_b, t_stat,
           abs(t_stat) > {_TTEST_CRIT} AS significant
    FROM tt
    """,
)
def j_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split into arms by a salted md5
    parity (deterministic, balanced, decorrelated from the other hashes
    — the j_split_train_val argument), then per event_type the Welch
    two-sample t statistic on `value` with a |t| > 1.96 significance
    flag. The analytics counterpart every event platform ships beside
    funnels and retention.

    One hash agg on event_type computes BOTH arms via FILTER/conditional
    aggregates — no self-join of the arms, no second scan. Means and
    variances pre-round at 1e-6 (parallel float sums), the t statistic
    derives from the ROUNDED moments and rounds at 1e-4 before the
    threshold compare, and sqrt is IEEE-correctly-rounded on both
    engines — so the significance flag can never flip between engines.
    Scale shape: |event_type| output rows from one map-side-combined
    shuffle of (type, partial-moment) rows."""
    t = load(spark, sf_dir)
    grp = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ab"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        "A",
    ).otherwise("B")
    g = t.events.select("event_type", "value", grp.alias("grp"))
    a = F.col("grp") == "A"
    b = F.col("grp") == "B"
    s = g.groupBy("event_type").agg(
        F.count(F.when(a, 1)).cast("long").alias("n_a"),
        F.count(F.when(b, 1)).cast("long").alias("n_b"),
        rnd(F.avg(F.when(a, F.col("value"))), 6).alias("mean_a"),
        rnd(F.avg(F.when(b, F.col("value"))), 6).alias("mean_b"),
        rnd(F.var_samp(F.when(a, F.col("value"))), 6).alias("var_a"),
        rnd(F.var_samp(F.when(b, F.col("value"))), 6).alias("var_b"),
    )
    tstat = rnd(
        (F.col("mean_a") - F.col("mean_b"))
        / F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")),
        4,
    )
    return s.select(
        "*",
        tstat.alias("t_stat"),
    ).withColumn("significant", F.abs(F.col("t_stat")) > _TTEST_CRIT)


# Winsorization clip quantiles.
_WINS_LO, _WINS_HI = 0.05, 0.95


@query(
    "j_winsorize",
    oracle=f"""
    WITH cut AS (
      SELECT event_type,
             FLOOR(quantile_cont(value, {_WINS_LO}) * 1000000 + 0.5) / 1000000 AS lo,
             FLOOR(quantile_cont(value, {_WINS_HI}) * 1000000 + 0.5) / 1000000 AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value, cut.lo, cut.hi,
           least(greatest(e.value, cut.lo), cut.hi) AS value_w,
           e.value < cut.lo OR e.value > cut.hi AS clipped
    FROM events e JOIN cut USING (event_type)
    """,
)
def j_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the outlier-robust feature-prep pass: clip
    events.value to each event_type's [p5, p95] band, emitting the band,
    the clipped value, and a clipped flag. The standard companion to
    z-scoring (k_apply_in_pandas) when heavy tails would dominate a
    mean/std normalization.

    Plan: exact linear-interpolation percentiles per type (ONE group
    agg — the d_agg_percentile parity surface) broadcast back onto the
    event scan; the clip itself is a stateless least/greatest
    projection. Cutpoints pre-round at 1e-6 so the clip and flag compare
    rounded values on both engines. At 100 TB the exact percentile
    swaps for approx_percentile per the pinned j_lm_buckets pattern —
    the band moves by the sketch error bound, the plan is unchanged."""
    t = load(spark, sf_dir)
    cut = t.events.groupBy("event_type").agg(
        rnd(F.percentile("value", F.lit(_WINS_LO)), 6).alias("lo"),
        rnd(F.percentile("value", F.lit(_WINS_HI)), 6).alias("hi"),
    )
    e = t.events.select("event_id", "event_type", "value")
    return e.join(F.broadcast(cut), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "lo",
        "hi",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
            "value_w"
        ),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "clipped"
        ),
    )


@query(
    "j_attribution",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
                      value
               FROM events),
    w AS (SELECT user_id, event_id, event_type, ts_ms, value,
                 MAX(CASE WHEN event_type = 'click' THEN ts_ms END)
                   OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_click_ms,
                 MIN(CASE WHEN event_type = 'click' THEN ts_ms END)
                   OVER (PARTITION BY user_id) AS first_click_ms
          FROM e)
    SELECT user_id, event_id, ts_ms, value,
           last_click_ms, first_click_ms,
           last_click_ms IS NOT NULL AS attributed
    FROM w WHERE event_type = 'purchase'
    """,
)
def j_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution for every purchase: LAST-TOUCH (the most
    recent click strictly before the purchase — the frame ends at
    1 PRECEDING, so a same-instant click never attributes to itself)
    and FIRST-TOUCH (the user's first click ever), plus an attributed
    flag for purchases with no preceding click. The third classic
    event-analytics op beside funnels (j_funnel_stages) and retention
    (j_retention_cohort).

    Both touch points come from windows over the SAME user_id
    partitioning — Catalyst stacks them on one exchange (the
    j_funnel_stages fusion) — and the purchase filter applies after, so
    the conditional MAX sees the full click history. Event-time stays
    epoch-ms longs end-to-end. At 100 TB: one user_id shuffle total,
    frames bounded by a user's own rows."""
    t = load(spark, sf_dir)
    e = t.events.select("user_id", "event_id", "event_type", "ts_ms", "value")
    click_ts = F.when(F.col("event_type") == "click", F.col("ts_ms"))
    w_before = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("user_id")
    return (
        e.select(
            "user_id",
            "event_id",
            "ts_ms",
            "value",
            "event_type",
            F.max(click_ts).over(w_before).alias("last_click_ms"),
            F.min(click_ts).over(w_all).alias("first_click_ms"),
        )
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "ts_ms",
            "value",
            "last_click_ms",
            "first_click_ms",
            F.col("last_click_ms").isNotNull().alias("attributed"),
        )
    )


@query(
    "j_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_ms(ts), event_id) AS next_type
      FROM events),
    p AS (SELECT event_type AS from_type, next_type AS to_type,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM s WHERE next_type IS NOT NULL
          GROUP BY 1, 2),
    t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM p GROUP BY 1)
    SELECT p.from_type, p.to_type, p.n, t.n_from,
           FLOOR(p.n * 1.0 / t.n_from * 1000000 + 0.5) / 1000000 AS prob
    FROM p JOIN t ON p.from_type = t.from_type
    """,
)
def j_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences:
    P(next event type | current), estimated from per-user (ts, event_id)
    ordered streams — the behavioral model behind next-action
    prediction, funnel leak analysis, and synthetic-session generation.

    Plan: ONE user_id exchange feeding a single LEAD window (the
    sequence pairing never self-joins — lead is the linear-cost way to
    form consecutive pairs), one (from, to) hash agg collapsing the
    stream to |types|^2 rows, then a broadcast-sized totals join. The
    probability is one division of exact BIGINTs on identical operands.
    Output is |types|^2 at any corpus size; at 100 TB only the LEAD
    window touches raw events and it reuses the partitioning every
    other per-user family here shuffles on."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    s = t.events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    p = s.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").cast("long").alias("n"))
    tot = p.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    return p.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        "n_from",
        rnd(F.col("n") * 1.0 / F.col("n_from"), 6).alias("prob"),
    )


# BFS: fixed rounds and the deterministic source nation.
_BFS_ROUNDS = 3
_BFS_SRC = 0


def _bfs_oracle() -> str:
    rounds = []
    for k in range(1, _BFS_ROUNDS + 1):
        rounds.append(f"""
    r{k} AS (SELECT nk, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT nk, dist FROM r{k - 1}
        UNION ALL
        SELECT e.dst AS nk, p.dist + 1 AS dist
        FROM e JOIN r{k - 1} p ON e.src = p.nk) u GROUP BY nk)""")
    return f"""
    WITH {_TRADE_E_CTES},
    r0 AS (SELECT CAST({_BFS_SRC} AS BIGINT) AS nk, CAST(0 AS BIGINT) AS dist),
    {','.join(rounds)}
    SELECT n.n_nationkey, n.n_name, r.dist AS hops,
           r.dist IS NOT NULL AS reached
    FROM nation n LEFT JOIN r{_BFS_ROUNDS} r ON r.nk = n.n_nationkey
    """


@query("j_bfs_distance", oracle=_bfs_oracle())
def j_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round BFS shortest-hop distances from nation {src} over
    the capped trade graph (the j_pagerank/j_triangle_count edge list)
    — the second iterative fixpoint in the registry with a full
    value-level oracle: each frontier expansion is mirrored by an
    unrolled CTE round, so the bounded-depth semantics (reachable
    within {R} hops, else NULL) are identical by construction, not by
    convergence luck.

    Plan: the edge list builds once (one fact rollup + top-K cap) and
    persists across rounds; each round is edges ⋈ current distances
    (|V|-row side broadcast) + a min-combine — distances stay
    O(|V|) rows, lineage stays linear in rounds (the j_dedup_cluster
    rule). At 100 TB rounds shuffle only the |V|-keyed distance
    relation, never the fact table."""
    t = load(spark, sf_dir)
    # r17: the single-partition leaf fuse (j_pagerank's _meta1 lowering,
    # inlined here so the edge cache can still be RELEASED in the
    # finally block — the r7 no-leaked-CacheManager-entry rule)
    e1 = _trade_edges(t).repartition(1)
    e1.persist()
    try:
        e = e1.localCheckpoint(eager=False).coalesce(1)
        dist = spark.range(1).select(
            F.lit(_BFS_SRC).cast("long").alias("nk"), F.lit(0).cast("long").alias("dist")
        ).coalesce(1)
        for _ in range(_BFS_ROUNDS):
            nd = e.join(dist.hint("shuffle_hash"), e.src == dist.nk).select(
                F.col("dst").alias("nk"), (F.col("dist") + 1).alias("dist")
            )
            dist = (
                dist.unionByName(nd)
                .coalesce(1)  # union of two 1-partition sides is 2 partitions
                .groupBy("nk")
                .agg(F.min("dist").cast("long").alias("dist"))
                .coalesce(1)  # inner-SHJ PartitioningCollection fix
            )
        # materialize the O(|V|)-row result and truncate its lineage off
        # the cached edges, so e can be RELEASED here instead of leaking
        # a CacheManager entry per invocation (r7 ADVICE); RDD-level
        # checkpoint blocks are context-cleaned on GC, unlike df.persist
        dist = dist.localCheckpoint(eager=True)
    finally:
        e1.unpersist()
    return (
        t.nation.join(F.broadcast(dist), t.nation.n_nationkey == dist.nk, "left")
        .select(
            "n_nationkey",
            "n_name",
            F.col("dist").alias("hops"),
            F.col("dist").isNotNull().alias("reached"),
        )
    )


j_bfs_distance.__doc__ = j_bfs_distance.__doc__.replace("{src}", str(_BFS_SRC)).replace(
    "{R}", str(_BFS_ROUNDS)
)


def _recursive_walk_sql() -> str:
    return f"""
    WITH RECURSIVE {_TRADE_E_CTES},
    walk(nk, dist) AS (
      SELECT CAST({_BFS_SRC} AS BIGINT) AS nk, CAST(0 AS BIGINT) AS dist
      UNION ALL
      SELECT e.dst AS nk, w.dist + 1 AS dist
      FROM walk w JOIN e ON e.src = w.nk
      WHERE w.dist < {_BFS_ROUNDS})
    SELECT nk, CAST(MIN(dist) AS BIGINT) AS hops,
           CAST(COUNT(*) AS BIGINT) AS n_walks
    FROM walk GROUP BY nk
    """


@query("c_sql_recursive", oracle=_recursive_walk_sql())
def c_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (new in Spark 4.0, SPARK-24497) — the SQL-native
    twin of j_bfs_distance: depth-bounded walk enumeration from nation
    {src} over the trade graph, then min-hop + walk-count per reached
    node. The oracle runs the same recursion with the edge CTE inlined
    (DuckDB's recursion semantics match for UNION ALL + an explicit
    depth bound, which is also the only safe recursion on a CYCLIC
    graph — an unbounded UNION ALL walk never terminates, and this
    graph has cycles by construction). n_walks counts distinct
    ≤{R}-step walks — a multiset-level check that both engines expanded
    the same frontier, strictly stronger than comparing min distances
    alone.

    The Spark side materializes the capped edge list ONCE
    (_trade_edges — identical to the oracle's flow/e CTEs, the
    equivalence j_pagerank already pins) and recurses over the
    localCheckpointed |V|·fanout-row relation: Spark's UnionLoop
    re-evaluates non-recursive CTE references in the step query each
    iteration, so the inlined form re-ran the 3-join flow aggregation
    per step. At scale the recursion materializes one frontier per
    step keyed on the |V|-bounded walk relation — same shuffle story as
    the DataFrame-loop BFS; prefer the loop form when you need to
    persist/checkpoint per round, the SQL form when the query ships to
    a SQL surface."""
    t = load(spark, sf_dir)
    e = _trade_edges(t).localCheckpoint(eager=True)
    e.createOrReplaceTempView("e_trade_walk")
    return spark.sql(f"""
    WITH RECURSIVE walk(nk, dist) AS (
      SELECT CAST({_BFS_SRC} AS BIGINT) AS nk, CAST(0 AS BIGINT) AS dist
      UNION ALL
      SELECT e.dst AS nk, w.dist + 1 AS dist
      FROM walk w JOIN e_trade_walk e ON e.src = w.nk
      WHERE w.dist < {_BFS_ROUNDS})
    SELECT nk, CAST(MIN(dist) AS BIGINT) AS hops,
           CAST(COUNT(*) AS BIGINT) AS n_walks
    FROM walk GROUP BY nk
    """)


c_sql_recursive.__doc__ = c_sql_recursive.__doc__.replace(
    "{src}", str(_BFS_SRC)
).replace("{R}", str(_BFS_ROUNDS))


@query(
    "j_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, (epoch_ms(ts) // 86400000) % 7 AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    tots AS (
      SELECT c.event_type, c.dow, c.o,
             rt.rt, ct.ct, n.n
      FROM cells c
      JOIN (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
            FROM cells GROUP BY 1) rt USING (event_type)
      JOIN (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct
            FROM cells GROUP BY 1) ct USING (dow)
      CROSS JOIN (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells) n),
    terms AS (
      SELECT CAST(FLOOR(
               CAST(o * n - rt * ct AS DOUBLE)
               * CAST(o * n - rt * ct AS DOUBLE)
               / (CAST(rt * ct AS DOUBLE) * CAST(n AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS term_s,
             1 AS k
      FROM tots)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           FLOOR(SUM(term_s) / 100.0 + 0.5) / 10000 AS chi2
    FROM terms
    """,
)
def j_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and weekday
    (Pearson's X² over the |types| x 7 contingency table) — the
    categorical-association sibling of j_ab_ttest. The float
    discipline is the repo's integer-sum rule: each cell's statistic
    is algebraically rearranged to (o·n − rt·ct)² / (rt·ct·n), both
    dev = o·n − rt·ct and rt·ct are computed as EXACT BIGINT products
    and cross the int→double boundary exactly ONCE each (one CAST,
    then one multiply per side, identical operation order on both
    engines — the r7 ADVICE found the previous chained rt*1.0*ct*n
    could round differently per engine), and the per-cell terms are
    floored to a scaled-BIGINT grid and summed in exact integer
    arithmetic — the order-dependent double-sum-of-rounded-terms trap
    (SCALE.md 4l) cannot occur. At event counts where dev exceeds
    2^53 the cast itself rounds (identically on both engines; the
    floor boundary then carries the repo's standard ~1e-10/cell
    boundary odds). Weekday is the portable epoch-day mod 7.

    Plan: one (type, dow) cell agg (the table collapses to ≤35 rows),
    two broadcast marginal joins + a 1-row total, then a 1-row final —
    at any corpus size only the first agg touches raw events."""
    t = load(spark, sf_dir)
    cells = (
        t.events.select(
            "event_type",
            ((F.col("ts_ms") / 86400000).cast("long") % 7).alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").cast("long").alias("o"))
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("ct"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    tots = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
    )
    dev = (F.col("o") * F.col("n") - F.col("rt") * F.col("ct")).cast("double")
    den = (F.col("rt") * F.col("ct")).cast("double") * F.col("n").cast("double")
    term_s = F.floor(dev * dev / den * 1000000 + F.lit(0.5)).cast("long")
    return tots.select(term_s.alias("term_s")).agg(
        F.count("*").cast("long").alias("n_cells"),
        (F.floor(F.sum("term_s") / 100.0 + F.lit(0.5)) / 10000).alias("chi2"),
    )


@query(
    "j_outlier_mad",
    oracle="""
    WITH med AS (
      SELECT event_type,
             FLOOR(quantile_cont(value, 0.5) * 1000000 + 0.5) / 1000000 AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             CAST(FLOOR(abs(e.value - m.med) * 1000000 + 0.5) AS BIGINT) AS dev_s
      FROM events e JOIN med m ON e.event_type = m.event_type),
    mad AS (
      SELECT event_type,
             CAST(FLOOR(quantile_cont(dev_s, 0.5) + 0.5) AS BIGINT) AS mad_s
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           FLOOR(d.med * 10000 + 0.5) / 10000 AS median_value,
           FLOOR(m.mad_s / 100.0 + 0.5) / 10000 AS mad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN d.dev_s > 3 * m.mad_s THEN 1 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type, d.med, m.mad_s
    """,
)
def j_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection — the ROBUST
    alternative to the z-score family (j_ts_anomaly, j_winsorize): a
    single extreme value drags mean and stddev but not median and MAD,
    so the 3-MAD fence survives contaminated data. Float discipline:
    the median pre-rounds to 1e-6 (so both engines compute deviations
    from the identical number), deviations floor to a scaled-BIGINT
    grid, the MAD is a percentile OF INTEGERS (interpolation midpoint
    of two BIGINTs — exact), and the 3-MAD fence compares integers —
    no float boundary anywhere in the decision.

    Plan: two percentile aggregates (each |types| rows, broadcast
    back) + one counting pass — three scans; at 100 TB swap
    approx_percentile exactly as j_histogram_equi documents."""
    t = load(spark, sf_dir)
    med = t.events.groupBy("event_type").agg(
        rnd(F.expr("percentile(value, 0.5D)"), 6).alias("med")
    )
    dev = t.events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.floor(F.abs(F.col("value") - F.col("med")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("dev_s"),
    )
    mad = dev.groupBy("event_type").agg(
        F.floor(F.expr("percentile(dev_s, 0.5D)") + F.lit(0.5))
        .cast("long")
        .alias("mad_s")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad_s")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count(F.when(F.col("dev_s") > 3 * F.col("mad_s"), 1))
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            (F.floor(F.col("med") * 10000 + F.lit(0.5)) / 10000).alias("median_value"),
            (F.floor(F.col("mad_s") / 100.0 + F.lit(0.5)) / 10000).alias("mad"),
            "n",
            "n_outliers",
        )
    )


@query(
    "j_graph_degree",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY src),
    ind  AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS in_deg  FROM e GROUP BY dst)
    SELECT n.n_nationkey, n.n_name,
           COALESCE(o.out_deg, 0) AS out_deg,
           COALESCE(i.in_deg, 0) AS in_deg,
           COALESCE(o.out_deg, 0) + COALESCE(i.in_deg, 0) AS total_deg,
           COALESCE(o.out_deg, 0) = 0 AND COALESCE(i.in_deg, 0) = 0 AS isolated
    FROM nation n
    LEFT JOIN outd o ON o.src = n.n_nationkey
    LEFT JOIN ind  i ON i.dst = n.n_nationkey
    """,
)
def j_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree profile of the capped trade graph — in/out/total degree
    per vertex plus an isolation flag, the standard first diagnostic
    before any iterative graph algorithm (pagerank damping, BFS
    reachability, triangle counting all key off it: a power-law
    out-degree predicts frontier skew; isolated vertices never
    converge information). Shares _trade_edges with
    j_pagerank/j_triangle_count/j_bfs_distance, so the degree relation
    prices exactly the graph those operators run on.

    100 TB: degrees are two |E|-row counts grouped on the |V|-bounded
    endpoints — map-side partials collapse to |V| rows per partition
    before the shuffle; the nation spine joins are |V|-row broadcasts."""
    t = load(spark, sf_dir)
    e = _trade_edges(t)
    outd = e.groupBy("src").agg(F.count("*").cast("long").alias("out_deg"))
    ind = e.groupBy("dst").agg(F.count("*").cast("long").alias("in_deg"))
    out_deg = F.coalesce(F.col("out_deg"), F.lit(0).cast("long"))
    in_deg = F.coalesce(F.col("in_deg"), F.lit(0).cast("long"))
    return (
        t.nation.join(F.broadcast(outd), t.nation.n_nationkey == outd.src, "left")
        .join(F.broadcast(ind), t.nation.n_nationkey == ind.dst, "left")
        .select(
            "n_nationkey",
            "n_name",
            out_deg.alias("out_deg"),
            in_deg.alias("in_deg"),
            (out_deg + in_deg).alias("total_deg"),
            ((out_deg == 0) & (in_deg == 0)).alias("isolated"),
        )
    )


@query(
    "j_assortativity",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS xd FROM e GROUP BY src),
    ind  AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS yd FROM e GROUP BY dst),
    ed AS (SELECT o.xd AS x, i.yd AS y
           FROM e JOIN outd o ON o.src = e.src
                  JOIN ind  i ON i.dst = e.dst),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM ed)
    SELECT n AS n_edges, sx AS sum_src_outdeg, sy AS sum_dst_indeg,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                           * 1000000 + 0.5) / 1000000
                ELSE NULL END AS assortativity
    FROM m
    """,
)
def j_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the capped trade graph (Newman 2002,
    public): the Pearson correlation, over directed EDGES, between the
    source's out-degree and the destination's in-degree — one number
    that says whether hub nations trade with hubs (assortative > 0,
    skew compounds under pagerank/BFS) or with the periphery
    (disassortative < 0, frontier fan-out stays bounded). Shares
    _trade_edges with j_pagerank/j_graph_degree, so the statistic
    prices exactly the graph those operators run on — and it is the
    one-row summary of j_graph_degree's full profile.

    EXACT: degrees are BIGINT counts; the five moment sums are exact
    integers over |E| edges (|V|-bounded degrees keep every term
    small); the correlation applies IEEE sqrt + one division to
    identical integers on both engines (the j_feature_corr recipe),
    floored 1e-6. Degenerate regular graphs (zero variance) yield
    NULL.

    Plan: degree relations are |E|-row counts collapsing to |V| rows
    map-side; both joins back to e broadcast the |V|-row degree
    tables; the moment agg is ONE reduce to a single row. Nothing
    wider than (src, dst) ever shuffles."""
    t = load(spark, sf_dir)
    # the edge list feeds both degree aggs AND the join-back: |V|-fanout
    # metadata behind three corpus joins — persist (SCALE.md 4r rule)
    e = _trade_edges(t).persist()
    outd = e.groupBy("src").agg(F.count("*").cast("long").alias("xd"))
    ind = e.groupBy("dst").agg(F.count("*").cast("long").alias("yd"))
    ed = (
        e.join(F.broadcast(outd), "src")
        .join(F.broadcast(ind), "dst")
        .select(F.col("xd").alias("x"), F.col("yd").alias("y"))
    )
    m = ed.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = (
        F.floor(
            num.cast("double") / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double")))
            * 1000000
            + F.lit(0.5)
        )
        / 1000000
    )
    return m.select(
        F.col("n").alias("n_edges"),
        F.col("sx").alias("sum_src_outdeg"),
        F.col("sy").alias("sum_dst_indeg"),
        F.when((d1 > 0) & (d2 > 0), r).alias("assortativity"),
    )


# Mann-Whitney U: the two compared sources (deterministic literals, the
# j_ab_ttest arm-naming convention) and the z significance threshold.
_MW_A, _MW_B = "src0", "src1"
_MW_CRIT = 1.96


@query(
    "j_mannwhitney",
    oracle=f"""
    WITH d AS (SELECT source, n_chars AS v FROM documents
               WHERE source IN ('{_MW_A}', '{_MW_B}')),
    g AS (SELECT v,
                 CAST(COUNT(*) FILTER (source = '{_MW_A}') AS BIGINT) AS ca,
                 CAST(COUNT(*) FILTER (source = '{_MW_B}') AS BIGINT) AS cb
          FROM d GROUP BY v),
    w AS (SELECT v, ca, cb, ca + cb AS c,
                 CAST(COALESCE(SUM(ca + cb) OVER (
                     ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS cumb
          FROM g),
    s AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                 CAST(SUM(cb) AS BIGINT) AS nb,
                 SUM(CAST(ca AS DECIMAL(38,0)) * (2 * cumb + c + 1)) AS r2a,
                 SUM(CAST(c AS DECIMAL(38,0)) * c * c
                     - CAST(c AS DECIMAL(38,0))) AS t3
          FROM w),
    f AS (SELECT na, nb, na + nb AS n,
                 r2a - CAST(na AS DECIMAL(38,0)) * (na + 1) AS u2a, t3
          FROM s)
    SELECT '{_MW_A}' AS source_a, '{_MW_B}' AS source_b,
           na AS n_a, nb AS n_b,
           CAST(u2a AS DOUBLE) / 2 AS u_a,
           FLOOR(CAST(u2a - CAST(na AS DECIMAL(38,0)) * nb AS DOUBLE)
                 / (2 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                     * (CAST(n + 1 AS DOUBLE)
                        - CAST(t3 AS DOUBLE)
                          / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))
                     / 12)) * 1000000 + 0.5) / 1000000 AS z,
           abs(FLOOR(CAST(u2a - CAST(na AS DECIMAL(38,0)) * nb AS DOUBLE)
                 / (2 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                     * (CAST(n + 1 AS DOUBLE)
                        - CAST(t3 AS DOUBLE)
                          / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))
                     / 12)) * 1000000 + 0.5) / 1000000) > {_MW_CRIT} AS significant
    FROM f
    """,
)
def j_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum, public 1947 statistic)
    between two sources on document length — the NONPARAMETRIC
    counterpart of j_ab_ttest for the heavy-tailed, heavily-tied
    length distributions where a t test's normality premise fails;
    the distribution-shift gate j_ks_lengths' hypothesis-test sibling
    (KS gives the max-gap location, U gives a tie-aware significance
    number).

    EXACT rank arithmetic: the corpus collapses to one row per
    DISTINCT length with per-source counts; average-tie ranks enter
    as 2·rank integers (2·avg_rank of a tie block = 2·cum_before +
    c + 1 — always an integer), so the rank sum R2a, the tie term
    T = Σ(c³−c), and 2·U are exact integers accumulated in
    DECIMAL(38,0) ↔ HUGEINT (operands WIDENED BEFORE MULTIPLY — the
    j_feature_corr overflow rule). The tie-corrected z applies one
    fixed sequence of IEEE ops (divide, subtract, multiply, sqrt —
    all correctly rounded) to those exact integers, then rounds 1e-6
    BEFORE the significance compare, so the flag cannot flip between
    engines.

    Plan: one corpus filter+hash-agg to |distinct lengths| rows
    (value-domain-bounded, the j_histogram_equi argument — document
    lengths, not documents); the rank window runs UNPARTITIONED on
    that bounded relation by design; the final fold is one row."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    d = t.documents.where(F.col("source").isin(_MW_A, _MW_B)).select(
        "source", F.col("n_chars").alias("v")
    )
    g = d.groupBy("v").agg(
        F.count(F.when(F.col("source") == _MW_A, 1)).cast("long").alias("ca"),
        F.count(F.when(F.col("source") == _MW_B, 1)).cast("long").alias("cb"),
    )
    win = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w = g.select(
        "v",
        "ca",
        "cb",
        (F.col("ca") + F.col("cb")).alias("c"),
        F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(win), F.lit(0))
        .cast("long")
        .alias("cumb"),
    )
    s = w.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("ca").cast(dec) * (2 * F.col("cumb") + F.col("c") + 1))
        .cast(dec)
        .alias("r2a"),
        F.sum(
            F.col("c").cast(dec) * F.col("c") * F.col("c") - F.col("c").cast(dec)
        )
        .cast(dec)
        .alias("t3"),
    )
    f = s.select(
        "na",
        "nb",
        (F.col("na") + F.col("nb")).alias("n"),
        (F.col("r2a") - F.col("na").cast(dec) * (F.col("na") + 1)).alias("u2a"),
        "t3",
    )
    z = (
        F.floor(
            (F.col("u2a") - F.col("na").cast(dec) * F.col("nb")).cast("double")
            / (
                2
                * F.sqrt(
                    F.col("na").cast("double")
                    * F.col("nb").cast("double")
                    * (
                        (F.col("n") + 1).cast("double")
                        - F.col("t3").cast("double")
                        / (F.col("n").cast(dec) * (F.col("n") - 1)).cast("double")
                    )
                    / 12
                )
            )
            * 1000000
            + F.lit(0.5)
        )
        / 1000000
    )
    return f.select(
        F.lit(_MW_A).alias("source_a"),
        F.lit(_MW_B).alias("source_b"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        (F.col("u2a").cast("double") / 2).alias("u_a"),
        z.alias("z"),
        (F.abs(z) > _MW_CRIT).alias("significant"),
    )


# k-core peeling: threshold degree and fixed peel rounds (linear
# lineage, the j_pagerank fixed-round convention).
_KCORE_K = 4
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """DuckDB twin of j_kcore_peel: the symmetric distinct neighbor
    relation over _TRADE_E_CTES, peeled {rounds} fixed rounds at
    k = {k} via chained CTEs (u0 -> k1/u1 -> k2/u2 -> ...), one
    (peel_round, n_nodes, n_edges) row per round."""
    steps = []
    prev = "u0"
    selects = []
    for r in range(1, _KCORE_ROUNDS + 1):
        steps.append(
            f"""d{r} AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS dg
            FROM {prev} GROUP BY a),
    k{r} AS (SELECT a FROM d{r} WHERE dg >= {_KCORE_K}),
    u{r} AS (SELECT u.a, u.b FROM {prev} u
             JOIN k{r} x ON u.a = x.a JOIN k{r} y ON u.b = y.a)"""
        )
        selects.append(
            f"""SELECT {r} AS peel_round,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM k{r}) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM u{r} WHERE a < b) AS n_edges"""
        )
        prev = f"u{r}"
    return f"""
    WITH {_TRADE_E_CTES},
    u0 AS (SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM e WHERE src <> dst
        UNION ALL
        SELECT dst AS a, src AS b FROM e WHERE src <> dst)),
    {','.join(steps)}
    {' UNION ALL '.join(selects)}
    """


@query("j_kcore_peel", oracle=_kcore_oracle())
def j_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling of the capped trade graph (Seidman 1983,
    public): {rounds} fixed rounds of "drop every vertex with fewer
    than k = {k} distinct neighbors, then recount" over the SYMMETRIC
    closure of _trade_edges — the degeneracy audit that says how much
    of the graph survives when the periphery is stripped, read next
    to j_graph_degree (raw degrees) and j_assortativity (who attaches
    to whom). A shrinking survivor count across rounds means the core
    is held up by peripheral degree; a fixed point means a genuine
    cohesive core.

    FIXED rounds, not iterate-to-fixpoint: like j_pagerank's literal
    iteration count, the lineage is linear and both engines run the
    IDENTICAL {rounds} peels (a convergence loop would put a
    driver-side data-dependent branch in the plan). All arithmetic is
    integer degree counts — nothing to round anywhere.

    Plan: the symmetric edge relation is |V|-bounded (nations); each
    round is one degree hash-agg plus two semi-join-shaped inner
    joins against the |V|-row keep list (broadcast both ways); the
    per-round summary rows are 1-row aggregates cross-joined. At
    100 TB the corpus cost is _trade_edges' single build (shared and
    capped); peeling itself never touches the fact tables again."""
    t = load(spark, sf_dir)
    e = _trade_edges(t).where(F.col("src") != F.col("dst"))
    und = (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    out = None
    # each round's survivor edge set feeds the NEXT round three times
    # (degree agg + both endpoint joins): plain lineage grows 3^rounds,
    # so truncate per round with the lazy localCheckpoint — the
    # cluster_labels_doubling lineage rule (curation.py:529).
    # r17: single-partition leaf + SHUFFLE_HASH keep-joins (j_pagerank's
    # lowering) — each peel round is one fused stage. The re-fuse after
    # each checkpoint is coalesce(1), not another repartition exchange:
    # the LogicalRDD leaf under it carries no exchange, which is exactly
    # the case where CoalesceExec's SinglePartition property is honored
    # (see _meta1), and the RDD already has one partition so it's free.
    cur = _meta1(und)
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = cur.groupBy("a").agg(F.count("*").cast("long").alias("dg"))
        keep = deg.where(F.col("dg") >= _KCORE_K).select("a")
        cur = (
            cur.join(keep.hint("shuffle_hash"), "a").join(
                keep.withColumnRenamed("a", "b").hint("shuffle_hash"), "b"
            ).localCheckpoint(eager=False).coalesce(1)
        )
        row = (
            keep.agg(F.count("*").cast("long").alias("n_nodes"))
            .crossJoin(
                cur.where(F.col("a") < F.col("b")).agg(
                    F.count("*").cast("long").alias("n_edges")
                )
            )
            .select(F.lit(r).alias("peel_round"), "n_nodes", "n_edges")
        )
        out = row if out is None else out.unionAll(row)
    return out


j_kcore_peel.__doc__ = j_kcore_peel.__doc__.replace(
    "{rounds}", str(_KCORE_ROUNDS)
).replace("{k}", str(_KCORE_K))


@query(
    "j_graph_reciprocity",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    d AS (SELECT src, dst FROM e WHERE src <> dst),
    r AS (SELECT d.src, d.dst FROM d
          WHERE EXISTS (SELECT 1 FROM d d2
                        WHERE d2.src = d.dst AND d2.dst = d.src))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_reciprocal,
           ((2000000 * (SELECT CAST(COUNT(*) AS HUGEINT) FROM r)
             + (SELECT COUNT(*) FROM d))
            // (2 * (SELECT CAST(COUNT(*) AS HUGEINT) FROM d)))
               / 1000000.0 AS reciprocity
    """,
)
def j_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the capped trade graph (the classic
    directed-graph mutuality statistic): the fraction of non-loop
    directed edges whose REVERSE edge also exists — read next to
    j_assortativity (who attaches to whom) and j_kcore_peel (what
    survives peeling): high reciprocity says the top-partner relation
    is mutual, so an undirected treatment (which k-core and triangle
    counting apply) loses little; low reciprocity says direction
    carries real information and undirected rollups overstate
    cohesion.

    EXACT: membership of the reverse edge is a semi-join on the
    |V|-bounded edge list; the ratio is the (2S+n) div 2n half-up
    integer idiom (HUGEINT in the oracle — DuckDB's // on DECIMAL is
    true division).

    Plan: _trade_edges builds once (the corpus cost, shared with the
    whole graph family); the reciprocity check is a broadcast
    self-semi-join of |V·fanout| rows and two 1-row counts."""
    t = load(spark, sf_dir)
    d = _trade_edges(t).where(F.col("src") != F.col("dst"))
    d = d.persist()  # both sides of the semi-join + the count
    rev = d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    r = d.join(F.broadcast(rev), ["src", "dst"], "left_semi")
    ne = d.agg(F.count("*").cast("long").alias("n_edges"))
    nr = r.agg(F.count("*").cast("long").alias("n_reciprocal"))
    return ne.crossJoin(nr).select(
        "n_edges",
        "n_reciprocal",
        (
            F.expr(
                "(2000000 * CAST(n_reciprocal AS DECIMAL(38,0)) + n_edges)"
                " div (2 * CAST(n_edges AS DECIMAL(38,0)))"
            )
            / 1000000.0
        ).alias("reciprocity"),
    )


# Stationary-distribution power iteration: fixed rounds, exact 1e-9
# integer "nanoprob" mass (the j_pagerank discipline).
_MSTAT_ITERS = 5


def _mstat_oracle() -> str:
    """DuckDB twin of j_markov_stationary: the j_markov_transitions
    count matrix, then {iters} unrolled power-iteration CTEs — every
    round is Σ_from (pi9·n) // n_from in pure BIGINT floor division,
    so iteration k is a pure function of iteration k−1 regardless of
    accumulation order."""
    its = []
    prev = "it0"
    for k in range(1, _MSTAT_ITERS + 1):
        its.append(f"""
    it{k} AS (SELECT sp.t,
                     CAST(COALESCE(SUM((pi.pi9 * p.n) // p.n_from), 0)
                          AS BIGINT) AS pi9
              FROM spine sp
              LEFT JOIN p ON p.to_type = sp.t
              LEFT JOIN {prev} pi ON pi.t = p.from_type
              GROUP BY sp.t)""")
        prev = f"it{k}"
    return f"""
    WITH s AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_ms(ts), event_id) AS next_type
      FROM events),
    c AS (SELECT event_type AS from_type, next_type AS to_type,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM s WHERE next_type IS NOT NULL
          GROUP BY 1, 2),
    tt AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c GROUP BY 1),
    p AS (SELECT c.from_type, c.to_type, c.n, tt.n_from
          FROM c JOIN tt ON c.from_type = tt.from_type),
    spine AS (SELECT DISTINCT event_type AS t FROM events),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM spine),
    it0 AS (SELECT t, 1000000000 // cnt AS pi9 FROM spine CROSS JOIN nn),
    {','.join(its)}
    SELECT t AS event_type, pi9,
           pi9 / 1000000000.0 AS pi
    FROM {prev}
    """


@query("j_markov_stationary", oracle=_mstat_oracle())
def j_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the j_markov_transitions chain by
    {iters} fixed power iterations — where user behavior CONCENTRATES
    if the observed dynamics run forever, the one-row-per-type
    summary a session simulator or funnel designer reads next to the
    full transition matrix. Fixed rounds, not convergence (the
    j_pagerank/j_kcore_peel determinism rule).

    EXACT integer mass: pi starts at 1e9 div |types| nanoprobs; each
    round moves floor(pi9·n / n_from) along every transition edge —
    non-negative BIGINT floor divisions, so round k is a pure
    function of round k−1 at any accumulation order. Mass leaks
    ≤ 1e-9 per edge per round (deterministically, both engines);
    types never observed as a FROM state absorb-and-release nothing
    (documented variant — no teleport, no dangling redistribution).

    Plan: the count matrix is ONE user-keyed LEAD window + a
    |types|²-row agg (the j_markov_transitions shape, shared
    partitioning); each iteration joins the |types|-row pi relation
    (broadcast) to the |types|²-row matrix — metadata-scale after
    the one corpus pass. Lineage is linear in the fixed round
    count."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    s = t.events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    # r17: the |types|²-bounded matrix and |types|-row spine pin to ONE
    # partition as leaves (_meta1) with SHUFFLE_HASH-hinted iteration
    # joins — the j_pagerank lowering: all _MSTAT_ITERS rounds plan
    # with zero exchange and no per-round broadcast build.
    c = _meta1(
        s.groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        ).agg(F.count("*").cast("long").alias("n"))
    )
    tt = c.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    # p re-derives from the checkpointed c per iteration — in-partition
    # SHJ over <=|types|² rows, cheaper than a second cache layer
    p = c.join(tt.hint("shuffle_hash"), "from_type").coalesce(1)
    spine = _meta1(t.events.select(F.col("event_type").alias("t")).distinct())
    # |types| via a global window on the single-partition spine — the
    # 1-row crossJoin's BroadcastNestedLoopJoin would not propagate
    # SinglePartition and re-exchange the iteration chain (j_pagerank)
    pi = spine.select(
        "t",
        F.expr("1000000000 div count(*) OVER ()").cast("long").alias("pi9"),
    )
    for _ in range(_MSTAT_ITERS):
        contrib = p.join(
            pi.hint("shuffle_hash"), p.from_type == F.col("t"), "left"
        ).select(
            F.col("to_type"),
            F.expr("(pi9 * n) div n_from").cast("long").alias("m"),
        )
        pi = (
            spine.join(
                contrib.groupBy("to_type").agg(
                    F.sum("m").cast("long").alias("s")
                ).coalesce(1).hint("shuffle_hash"),
                spine.t == F.col("to_type"),
                "left",
            )
            .select("t", F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("pi9"))
        )
    return pi.select(
        F.col("t").alias("event_type"),
        "pi9",
        (F.col("pi9") / F.lit(1000000000.0)).alias("pi"),
    )


j_markov_stationary.__doc__ = j_markov_stationary.__doc__.replace(
    "{iters}", str(_MSTAT_ITERS)
)


# Permutation test: replica count (odd, so the p-value denominator
# B+1 is round) and the compared sources (the j_mannwhitney pair).
_PERM_B = 199


@query(
    "j_permutation_test",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, n_chars FROM documents
               WHERE source IN ('{_MW_A}', '{_MW_B}')),
    obs AS (SELECT CAST(SUM(CASE WHEN source = '{_MW_A}' THEN n_chars END) AS BIGINT) AS sa,
                   CAST(COUNT(CASE WHEN source = '{_MW_A}' THEN 1 END) AS BIGINT) AS na,
                   CAST(SUM(CASE WHEN source = '{_MW_B}' THEN n_chars END) AS BIGINT) AS sb,
                   CAST(COUNT(CASE WHEN source = '{_MW_B}' THEN 1 END) AS BIGINT) AS nb
            FROM d),
    reps AS (SELECT doc_id, n_chars,
                    CAST(unnest(range(0, {_PERM_B})) AS BIGINT) AS rep
             FROM d),
    flip AS (SELECT rep, n_chars,
                    CASE WHEN substr(md5('perm' || CAST(doc_id AS VARCHAR)
                         || ':' || CAST(rep AS VARCHAR)), 1, 1) < '8'
                         THEN 0 ELSE 1 END AS grp
             FROM reps),
    pr AS (SELECT rep,
                  CAST(SUM(CASE WHEN grp = 0 THEN n_chars END) AS BIGINT) AS sa,
                  CAST(COUNT(CASE WHEN grp = 0 THEN 1 END) AS BIGINT) AS na,
                  CAST(SUM(CASE WHEN grp = 1 THEN n_chars END) AS BIGINT) AS sb,
                  CAST(COUNT(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS nb
           FROM flip GROUP BY rep),
    st AS (SELECT rep,
                  abs(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) AS t
           FROM pr WHERE na > 0 AND nb > 0),
    cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ge
            FROM st, obs
            WHERE st.t >= abs(CAST(obs.sa AS DOUBLE) / obs.na
                              - CAST(obs.sb AS DOUBLE) / obs.nb))
    SELECT obs.na AS n_a, obs.nb AS n_b,
           FLOOR(abs(CAST(obs.sa AS DOUBLE) / obs.na
                     - CAST(obs.sb AS DOUBLE) / obs.nb) * 1000000 + 0.5)
               / 1000000 AS obs_diff,
           cnt.n_ge,
           ((2000000 * CAST(cnt.n_ge + 1 AS HUGEINT) + ({_PERM_B} + 1))
            // (2 * CAST({_PERM_B} + 1 AS HUGEINT))) / 1000000.0 AS p_value
    FROM obs CROSS JOIN cnt
    """,
)
def j_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample permutation test on mean document length between
    the j_mannwhitney source pair: {b} label permutations, each a
    PURE FUNCTION of (doc_id, replica) via the portable md5 parity
    (the j_bootstrap_ci no-RNG-state discipline), statistic
    |mean_A − mean_B|, p = (1 + #{{t_perm ≥ t_obs}}) / (B + 1) — the
    assumption-free significance companion to j_ab_ttest (normality)
    and j_mannwhitney (rank model): when the three agree, the
    difference is real at any modeling taste.

    Determinism: per-replica group sums and counts are exact
    BIGINTs; each statistic is two BIGINT→DOUBLE divisions, one
    subtraction, one abs — a fixed IEEE sequence on identical
    operands, so the ≥-comparison against the observed statistic
    (built by the SAME expression shape) cannot flip between
    engines; the p-value is pure integer arithmetic on the exceed
    count.

    Plan: the two-source slice is tiny relative to the corpus; the
    replica fan-out is a map-side explode ({b} ints per doc, no
    shuffle growth — partials collapse per (rep, grp) before the
    exchange); the rollup is B rows then one. At 100 TB you
    permutation-test a sampled stratum — the operator shape is
    already the one-pass Chamandy form."""
    t = load(spark, sf_dir)
    d = t.documents.where(F.col("source").isin(_MW_A, _MW_B)).select(
        "doc_id", "source", "n_chars"
    )
    d = d.persist()  # consumers: observed stat + replica fan-out
    a = F.col("source") == _MW_A
    obs = d.agg(
        F.sum(F.when(a, F.col("n_chars"))).cast("long").alias("sa"),
        F.count(F.when(a, 1)).cast("long").alias("na"),
        F.sum(F.when(~a, F.col("n_chars"))).cast("long").alias("sb"),
        F.count(F.when(~a, 1)).cast("long").alias("nb"),
    )
    reps = d.select(
        "doc_id", "n_chars", F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("rep")
    )
    grp = (
        F.substring(
            F.md5(
                F.concat(
                    F.lit("perm"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("rep").cast("string"),
                )
            ),
            1,
            1,
        )
        < "8"
    )
    flip = reps.select("rep", "n_chars", F.when(grp, 0).otherwise(1).alias("grp"))
    pr = flip.groupBy("rep").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("n_chars"))).cast("long").alias("sa"),
        F.count(F.when(F.col("grp") == 0, 1)).cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_chars"))).cast("long").alias("sb"),
        F.count(F.when(F.col("grp") == 1, 1)).cast("long").alias("nb"),
    )
    st = pr.where((F.col("na") > 0) & (F.col("nb") > 0)).select(
        F.abs(
            F.col("sa").cast("double") / F.col("na")
            - F.col("sb").cast("double") / F.col("nb")
        ).alias("t")
    )
    obs_t = F.abs(
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    )
    cnt = (
        st.crossJoin(F.broadcast(obs))
        .where(F.col("t") >= obs_t)
        .agg(F.count("*").cast("long").alias("n_ge"))
    )
    return obs.crossJoin(F.broadcast(cnt)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        rnd(obs_t, 6).alias("obs_diff"),
        F.coalesce(F.col("n_ge"), F.lit(0)).cast("long").alias("n_ge"),
        (
            F.expr(
                f"(2000000 * CAST(n_ge + 1 AS DECIMAL(38,0)) + ({_PERM_B} + 1))"
                f" div (2 * CAST({_PERM_B} + 1 AS DECIMAL(38,0)))"
            )
            / 1000000.0
        ).alias("p_value"),
    )


j_permutation_test.__doc__ = j_permutation_test.__doc__.replace("{b}", str(_PERM_B))


# Power analysis constants: two-sided alpha=0.05 and 80% power normal
# quantiles, emitted as the SAME repr literals into both engines.
_PWR_ZA = 1.959964
_PWR_ZB = 0.841621


@query(
    "j_power_analysis",
    oracle=f"""
    WITH g AS (
      SELECT event_type, value,
             CASE WHEN substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS grp
      FROM events),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (grp = 'A') AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (grp = 'B') AS BIGINT) AS n_b,
             FLOOR(AVG(value) FILTER (grp = 'A') * 1000000 + 0.5) / 1000000 AS mean_a,
             FLOOR(var_samp(value) FILTER (grp = 'A') * 1000000 + 0.5) / 1000000 AS var_a,
             FLOOR(var_samp(value) FILTER (grp = 'B') * 1000000 + 0.5) / 1000000 AS var_b
      FROM g GROUP BY event_type)
    SELECT event_type, n_a, n_b,
           FLOOR(sqrt(var_a / n_a + var_b / n_b) * 1000000 + 0.5) / 1000000
               AS std_err,
           FLOOR((CAST({_PWR_ZA!r} AS DOUBLE) + CAST({_PWR_ZB!r} AS DOUBLE))
                 * sqrt(var_a / n_a + var_b / n_b) * 1000000 + 0.5) / 1000000
               AS mde,
           CASE WHEN mean_a <> 0 THEN
               FLOOR((CAST({_PWR_ZA!r} AS DOUBLE) + CAST({_PWR_ZB!r} AS DOUBLE))
                     * sqrt(var_a / n_a + var_b / n_b) / mean_a
                     * 1000000 + 0.5) / 1000000
           END AS mde_rel
    FROM s
    """,
)
def j_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for the j_ab_ttest experiment, per
    event_type: MDE = (z_{{0.975}} + z_{{0.80}})·sqrt(var_A/n_A +
    var_B/n_B) — the experiment-DESIGN table read before launching a
    test (j_ab_ttest reads out a finished one): an effect smaller
    than the MDE at the current traffic cannot be detected at 5%
    two-sided / 80% power, so the relative MDE column is the "how
    long must this run" number.

    Determinism: the arm moments are the REGISTERED j_ab_ttest
    1e-6-rounded aggregates (same salted-md5 split, same FILTER
    aggregate — one definition); the normal quantiles enter both
    engines as the same repr literals; sqrt is IEEE-correctly-rounded
    and every output re-rounds 1e-6 before display.

    Plan: ONE hash agg on event_type with FILTER moments (the
    j_ab_ttest pass verbatim) — |event_type| rows out of one
    map-side-combined shuffle at any corpus scale."""
    t = load(spark, sf_dir)
    grp = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ab"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        "A",
    ).otherwise("B")
    g = t.events.select("event_type", "value", grp.alias("grp"))
    a = F.col("grp") == "A"
    b = F.col("grp") == "B"
    s = g.groupBy("event_type").agg(
        F.count(F.when(a, 1)).cast("long").alias("n_a"),
        F.count(F.when(b, 1)).cast("long").alias("n_b"),
        rnd(F.avg(F.when(a, F.col("value"))), 6).alias("mean_a"),
        rnd(F.var_samp(F.when(a, F.col("value"))), 6).alias("var_a"),
        rnd(F.var_samp(F.when(b, F.col("value"))), 6).alias("var_b"),
    )
    se = F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b"))
    zsum = F.lit(_PWR_ZA) + F.lit(_PWR_ZB)
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        rnd(se, 6).alias("std_err"),
        rnd(zsum * se, 6).alias("mde"),
        # NULL, not Infinity, on a zero (or 1e-6-rounded-to-zero) arm
        # mean: Spark would emit Infinity while DuckDB's x/0 depends on
        # ieee_floating_point_ops — the same degenerate-case NULLing the
        # sibling estimators (j_mcc_multiclass) apply, mirrored by the
        # oracle's CASE on the identically-rounded mean_a.
        F.when(F.col("mean_a") != 0, rnd(zsum * se / F.col("mean_a"), 6)).alias(
            "mde_rel"
        ),
    )


# --- r14 statistics closure ------------------------------------------------

# Levene (mean-centered) F threshold: F(K-1, inf) at alpha = 0.05 for
# the fixture's K = 5 event types, as a shared literal.
_LEV_CRIT = 2.372


@query(
    "j_levene_test",
    oracle=f"""
    WITH v AS (SELECT event_type,
                      CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v6
               FROM events),
    g AS (SELECT event_type, v6,
                 CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS ng,
                 CAST(SUM(v6) OVER (PARTITION BY event_type) AS BIGINT) AS sg
          FROM v),
    z AS (SELECT event_type, ng,
                 (2 * abs(ng * v6 - sg) + ng) // (2 * ng) AS z6
          FROM g),
    p AS (SELECT event_type, CAST(MAX(ng) AS BIGINT) AS ng,
                 CAST(SUM(z6) AS BIGINT) AS sz,
                 SUM(CAST(z6 AS HUGEINT) * z6) AS szz
          FROM z GROUP BY 1),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(ng) AS BIGINT) AS n,
                 CAST(SUM(sz) AS BIGINT) AS sz_tot,
                 SUM(szz) AS szz_tot,
                 SUM(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / ng) AS bsum
          FROM p)
    SELECT k AS k_groups, n AS n_total,
           FLOOR((CAST(n - k AS DOUBLE) / (k - 1))
                 * (bsum - CAST(sz_tot AS DOUBLE) * CAST(sz_tot AS DOUBLE) / n)
                 / (CAST(szz_tot AS DOUBLE) - bsum) * 1000000 + 0.5) / 1000000
             AS w_stat,
           FLOOR((CAST(n - k AS DOUBLE) / (k - 1))
                 * (bsum - CAST(sz_tot AS DOUBLE) * CAST(sz_tot AS DOUBLE) / n)
                 / (CAST(szz_tot AS DOUBLE) - bsum) * 1000000 + 0.5) / 1000000
             > {_LEV_CRIT} AS significant
    FROM t
    """,
)
def j_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's homogeneity-of-variance test (mean-centered form,
    public 1960 statistic) across event types on `value` — the
    PRECONDITION audit for the pooled-variance reading of j_ab_ttest
    and j_power_analysis: W is a one-way ANOVA F on the absolute
    deviations z_ij = |v_ij - mean_j|, and a significant W says
    variances differ across groups, i.e. Welch (not pooled) is the
    right t to trust.

    EXACT centering: values pre-round to the v6 integer grid; the
    deviation keeps its exact rational form |n_g*v6 - S_g|/n_g and
    re-rounds to the SAME grid via pure-integer round-half-up
    (2*|num| + n) // (2n) — DuckDB `//` floors on BIGINT (SCALE.md
    4t), no double ever carries a group sum. The three W-assembly
    divisions run as one fixed IEEE sequence over exact integer
    moments (the between-group sum adds K=5 double terms — the
    accepted ~1e-10/term floor-boundary odds), rounded 1e-6 BEFORE
    the threshold compare so the flag cannot flip between engines.

    Plan: ONE shuffle on event_type serves both the per-group
    centering window and the moment agg (same key — Spark reuses the
    partitioning); the K-row relation folds to one output row.
    Nothing wider than (type, v6) ever shuffles at any corpus
    scale."""
    t = load(spark, sf_dir)
    v = t.events.select(
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    wg = Window.partitionBy("event_type")
    g = v.select(
        "event_type",
        "v6",
        F.count("*").over(wg).cast("long").alias("ng"),
        F.sum("v6").over(wg).cast("long").alias("sg"),
    )
    z = g.select(
        "event_type",
        "ng",
        F.expr("(2 * abs(ng * v6 - sg) + ng) div (2 * ng)").alias("z6"),
    )
    dec = "decimal(38,0)"
    p = z.groupBy("event_type").agg(
        F.max("ng").cast("long").alias("ng"),
        F.sum("z6").cast("long").alias("sz"),
        # z6^2 sums pass 2^63 at sf0.1 — widen BEFORE multiply
        F.sum(F.col("z6").cast(dec) * F.col("z6")).cast(dec).alias("szz"),
    )
    t2 = p.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sz").cast("long").alias("sz_tot"),
        F.sum("szz").cast("decimal(38,0)").alias("szz_tot"),
        F.sum(
            F.col("sz").cast("double") * F.col("sz").cast("double") / F.col("ng")
        ).alias("bsum"),
    )
    w = rnd(
        (F.col("n") - F.col("k")).cast("double")
        / (F.col("k") - 1)
        * (
            F.col("bsum")
            - F.col("sz_tot").cast("double") * F.col("sz_tot").cast("double") / F.col("n")
        )
        / (F.col("szz_tot").cast("double") - F.col("bsum")),
        6,
    )
    return t2.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_total"),
        w.alias("w_stat"),
        (w > _LEV_CRIT).alias("significant"),
    )


# Benjamini-Hochberg: FDR level, and the Abramowitz-Stegun 7.1.26 erf
# constants (public handbook) emitted as the SAME repr literals into
# both engines. p = 2*(1 - Phi(|t|)) = poly(s)*exp(-u*u), u = |t|/sqrt2.
_BH_Q_NUM, _BH_Q_DEN = 1, 10  # q = 0.1
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_SQRT2 = 1.4142135623730951


def _tail_sql(t4: str) -> str:
    """Two-sided normal tail probability of the (pre-rounded) |t4|,
    via the A&S 7.1.26 erfc polynomial — same Horner sequence as
    _tail_col, so both engines run identical IEEE ops."""
    u = f"(abs({t4}) / {_SQRT2!r})"
    s = f"(1.0 / (1.0 + {_AS_P!r} * {u}))"
    a1, a2, a3, a4, a5 = _AS_A
    poly = (
        f"({s} * ({a1!r} + {s} * ({a2!r} + {s} * ({a3!r} + {s} * ({a4!r}"
        f" + {s} * {a5!r})))))"
    )
    return f"({poly} * exp(-{u} * {u}))"


def _tail_col(t4) -> Column:
    u = F.abs(t4) / _SQRT2
    s = 1.0 / (u * _AS_P + 1.0)
    a1, a2, a3, a4, a5 = _AS_A
    poly = s * (a1 + s * (a2 + s * (a3 + s * (a4 + s * a5))))
    return poly * F.exp(-u * u)


def _welch_t4_sql() -> str:
    """The j_ab_ttest Welch t (1e-4-rounded, from 1e-6-rounded FILTER
    moments) per event_type, as oracle SQL."""
    return """
    WITH g AS (SELECT event_type, value,
                      CASE WHEN substr(md5('ab' || CAST(user_id AS VARCHAR)),
                                       1, 1) < '8'
                           THEN 'A' ELSE 'B' END AS grp
               FROM events),
    s AS (SELECT event_type,
                 CAST(COUNT(*) FILTER (grp = 'A') AS BIGINT) AS n_a,
                 CAST(COUNT(*) FILTER (grp = 'B') AS BIGINT) AS n_b,
                 FLOOR(AVG(value) FILTER (grp = 'A') * 1000000 + 0.5) / 1000000 AS mean_a,
                 FLOOR(AVG(value) FILTER (grp = 'B') * 1000000 + 0.5) / 1000000 AS mean_b,
                 FLOOR(var_samp(value) FILTER (grp = 'A') * 1000000 + 0.5) / 1000000 AS var_a,
                 FLOOR(var_samp(value) FILTER (grp = 'B') * 1000000 + 0.5) / 1000000 AS var_b
          FROM g GROUP BY event_type)
    SELECT event_type,
           FLOOR((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)
                 * 10000 + 0.5) / 10000 AS t4
    FROM s
    """


@query(
    "j_fdr_bh",
    oracle=f"""
    WITH tt AS ({_welch_t4_sql()}),
    pv AS (SELECT event_type, t4,
                  CAST(FLOOR({_tail_sql('t4')} * 1000000 + 0.5) AS BIGINT)
                    AS p6
           FROM tt),
    r AS (SELECT event_type, t4, p6,
                 ROW_NUMBER() OVER (ORDER BY p6, event_type) AS rk,
                 CAST(COUNT(*) OVER () AS BIGINT) AS m
          FROM pv),
    c AS (SELECT *, CASE WHEN p6 * m * {_BH_Q_DEN} <= 1000000 * {_BH_Q_NUM} * rk
                         THEN rk ELSE 0 END AS hit
          FROM r),
    k AS (SELECT CAST(MAX(hit) AS BIGINT) AS istar FROM c)
    SELECT event_type, t4 AS t_stat, p6 / 1000000.0 AS p_value,
           CAST(rk AS BIGINT) AS p_rank,
           FLOOR({_BH_Q_NUM}.0 * rk / ({_BH_Q_DEN} * m) * 1000000 + 0.5)
             / 1000000 AS bh_cutoff,
           rk <= k.istar AS rejected
    FROM c, k
    """,
)
def j_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (public 1995 procedure)
    over the j_ab_ttest family — the multiple-testing closure: one
    experiment readout per event type is K hypotheses, and flagging
    each at alpha = 0.05 alone inflates the family-wise false
    discovery rate; BH sorts the two-sided p-values, finds the
    largest i with p_(i) <= q*i/m, and rejects exactly ranks 1..i*.

    Engine parity: the Welch t re-uses j_ab_ttest's exact lowering
    (1e-6-rounded FILTER moments, 1e-4-rounded t); the normal tail
    converts |t| to p through the Abramowitz-Stegun 7.1.26 erfc
    polynomial — SAME repr literals, SAME Horner order, exp/sqrt are
    correctly-rounded libm on both engines — and p pre-rounds to the
    1e-6 integer grid BEFORE the procedure, so the step-up compare
    p6*m*10 <= 1e6*1*rk is EXACT integer arithmetic on both sides
    (boundary equality included), and rejection flags cannot flip.

    Plan: one event_type hash agg (the j_ab_ttest pass verbatim),
    then every window/compare runs on the K-row p-value relation —
    metadata. m and i* ride COUNT/MAX-over() on those K rows; at any
    corpus scale the data-sized work is the single moment scan."""
    t = load(spark, sf_dir)
    grp = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ab"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        "A",
    ).otherwise("B")
    g = t.events.select("event_type", "value", grp.alias("grp"))
    a = F.col("grp") == "A"
    b = F.col("grp") == "B"
    s = g.groupBy("event_type").agg(
        F.count(F.when(a, 1)).cast("long").alias("n_a"),
        F.count(F.when(b, 1)).cast("long").alias("n_b"),
        rnd(F.avg(F.when(a, F.col("value"))), 6).alias("mean_a"),
        rnd(F.avg(F.when(b, F.col("value"))), 6).alias("mean_b"),
        rnd(F.var_samp(F.when(a, F.col("value"))), 6).alias("var_a"),
        rnd(F.var_samp(F.when(b, F.col("value"))), 6).alias("var_b"),
    )
    t4 = rnd(
        (F.col("mean_a") - F.col("mean_b"))
        / F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")),
        4,
    )
    pv = s.select(
        "event_type",
        t4.alias("t4"),
    ).select(
        "event_type",
        "t4",
        F.floor(_tail_col(F.col("t4")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("p6"),
    )
    wr = Window.orderBy("p6", "event_type")
    r = pv.select(
        "*",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("m"),
    )
    c = r.select(
        "*",
        F.when(
            F.col("p6") * F.col("m") * _BH_Q_DEN
            <= 1000000 * _BH_Q_NUM * F.col("rk"),
            F.col("rk"),
        )
        .otherwise(0)
        .alias("hit"),
    )
    k = c.agg(F.max("hit").cast("long").alias("istar"))
    return c.crossJoin(F.broadcast(k)).select(
        "event_type",
        F.col("t4").alias("t_stat"),
        (F.col("p6") / 1000000.0).alias("p_value"),
        F.col("rk").cast("long").alias("p_rank"),
        rnd(
            F.lit(float(_BH_Q_NUM)) * F.col("rk") / (_BH_Q_DEN * F.col("m")), 6
        ).alias("bh_cutoff"),
        (F.col("rk") <= F.col("istar")).alias("rejected"),
    )


@query(
    "j_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT event_type, (epoch_ms(ts) // 86400000) % 7 AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    tots AS (
      SELECT c.event_type, c.dow, c.o, rt.rt, ct.ct, n.n
      FROM cells c
      JOIN (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
            FROM cells GROUP BY 1) rt USING (event_type)
      JOIN (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct
            FROM cells GROUP BY 1) ct USING (dow)
      CROSS JOIN (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells) n),
    terms AS (
      SELECT CAST(FLOOR(
               CAST(o * n - rt * ct AS DOUBLE)
               * CAST(o * n - rt * ct AS DOUBLE)
               / (CAST(rt * ct AS DOUBLE) * CAST(n AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS term_s,
             n
      FROM tots),
    dims AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
                    CAST(COUNT(DISTINCT dow) AS BIGINT) AS c
             FROM cells),
    s AS (SELECT CAST(SUM(term_s) AS BIGINT) AS chi2_6,
                 CAST(MAX(n) AS BIGINT) AS n
          FROM terms)
    SELECT s.n, dims.r AS r_levels, dims.c AS c_levels,
           FLOOR(s.chi2_6 / 100.0 + 0.5) / 10000 AS chi2,
           (dims.r - 1) * (dims.c - 1) AS dof,
           FLOOR(sqrt(s.chi2_6 / 1000000.0
                      / (CAST(s.n AS DOUBLE)
                         * (CASE WHEN dims.r < dims.c THEN dims.r
                                 ELSE dims.c END - 1)))
                 * 1000000 + 0.5) / 1000000 AS cramers_v
    FROM s, dims
    """,
)
def j_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size (public 1946 statistic) for the
    event-type x weekday association — the MAGNITUDE companion to
    j_chi2_independence's significance test (chi-square grows with N,
    so at 100 TB every association is "significant"; V = sqrt(chi2 /
    (N*(min(r,c)-1))) stays in [0,1] and answers whether the
    dependence is worth acting on). Shares j_chi2_independence's
    exact lowering verbatim: integer dev = o*n - rt*ct crossing to
    double ONCE per factor, per-cell terms floored to the scaled-
    BIGINT grid and summed in exact integers; V applies one
    div-then-sqrt IEEE sequence to that integer chi-square and
    rounds 1e-6.

    Plan: the contingency relation is one map-side-combined hash agg
    to |types| x 7 cells; margins and dims ride broadcast joins on
    that metadata relation. Output is one row at any corpus scale."""
    t = load(spark, sf_dir)
    cells = (
        t.events.select(
            "event_type", (F.expr("ts_ms div 86400000") % 7).alias("dow")
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").cast("long").alias("o"))
        .persist()  # consumers: margins x2, total, dims, terms
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("ct"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    tots = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
    )
    dev = F.col("o") * F.col("n") - F.col("rt") * F.col("ct")
    term = (
        F.floor(
            dev.cast("double")
            * dev.cast("double")
            / (
                (F.col("rt") * F.col("ct")).cast("double")
                * F.col("n").cast("double")
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("term_s")
    )
    terms = tots.select(term, "n")
    dims = cells.agg(
        F.countDistinct("event_type").cast("long").alias("r"),
        F.countDistinct("dow").cast("long").alias("c"),
    )
    s = terms.agg(
        F.sum("term_s").cast("long").alias("chi2_6"),
        F.max("n").cast("long").alias("n"),
    )
    return s.crossJoin(F.broadcast(dims)).select(
        "n",
        F.col("r").alias("r_levels"),
        F.col("c").alias("c_levels"),
        (F.floor(F.col("chi2_6") / 100.0 + F.lit(0.5)) / 10000).alias("chi2"),
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        rnd(
            F.sqrt(
                F.col("chi2_6")
                / 1000000.0
                / (
                    F.col("n").cast("double")
                    * (F.least(F.col("r"), F.col("c")) - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "j_spearman_corr",
    oracle="""
    WITH v AS (SELECT event_type,
                      CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS x,
                      epoch_ms(ts) AS y
               FROM events),
    gx AS (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS c,
                  CAST(COALESCE(SUM(COUNT(*)) OVER (
                      PARTITION BY event_type ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
           FROM v GROUP BY 1, 2),
    gy AS (SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS c,
                  CAST(COALESCE(SUM(COUNT(*)) OVER (
                      PARTITION BY event_type ORDER BY y
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
           FROM v GROUP BY 1, 2),
    rr AS (SELECT v.event_type,
                  2 * gx.cb + gx.c + 1 AS rx,
                  2 * gy.cb + gy.c + 1 AS ry
           FROM v
           JOIN gx ON v.event_type = gx.event_type AND v.x = gx.x
           JOIN gy ON v.event_type = gy.event_type AND v.y = gy.y),
    m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(rx) AS BIGINT) AS sx,
                 CAST(SUM(ry) AS BIGINT) AS sy,
                 SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
                 SUM(CAST(ry AS HUGEINT) * ry) AS syy,
                 SUM(CAST(rx AS HUGEINT) * ry) AS sxy
          FROM rr GROUP BY 1),
    f AS (SELECT event_type, n,
                 CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
                 CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS d1,
                 CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS d2
          FROM m)
    SELECT event_type, n,
           CASE WHEN d1 > 0 AND d2 > 0 THEN
             FLOOR(CAST(num AS DOUBLE)
                   / (sqrt(CAST(d1 AS DOUBLE)) * sqrt(CAST(d2 AS DOUBLE)))
                   * 1000000 + 0.5) / 1000000
           END AS rho
    FROM f
    """,
)
def j_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (public 1904 statistic) between
    `value` and event time per event type — the monotone-trend
    detector: Pearson on AVERAGE-TIE MIDRANKS, so it reads "is value
    drifting up or down over time" without j_rolling_corr's linearity
    premise, and complements j_rank_tau exactly as in the textbooks
    (rho is the cheap O(n log n) statistic, tau the O(n^2)-naive one
    this repo lowers to the same midrank trick).

    EXACT rank arithmetic end-to-end: both variables collapse to
    per-group DISTINCT-value relations whose tie blocks yield integer
    DOUBLED midranks 2r = 2*cum_before + c + 1 (the j_mannwhitney
    device — the doubling cancels in rho); rows join their midranks
    back by value (bounded metadata joins); all five moments
    accumulate with operands WIDENED BEFORE MULTIPLY (HUGEINT <->
    DECIMAL(38,0) — 2r reaches 2e5 at sf0.1, its square 4e10, summed
    x2e4 rows past 2^63); the single rho division-and-sqrt runs on
    identical integers and rounds 1e-6, NULL on degenerate (all-tied)
    groups.

    Plan: ONE event_type shuffle serves the two distinct-value aggs,
    their cum windows (same key), the two rank join-backs, and the
    moment agg — Spark reuses the partitioning throughout; the output
    is |types| rows."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    v = t.events.select(
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("x"),
        F.col("ts_ms").alias("y"),
    )
    def midranks(col):
        wcum = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        g = v.groupBy("event_type", col).agg(F.count("*").cast("long").alias("c"))
        return g.select(
            "event_type",
            col,
            (2 * F.coalesce(F.sum("c").over(wcum), F.lit(0)) + F.col("c") + 1)
            .cast("long")
            .alias(f"r_{col}"),
        )
    rr = (
        v.join(midranks("x"), ["event_type", "x"])
        .join(midranks("y"), ["event_type", "y"])
        .select("event_type", F.col("r_x").alias("rx"), F.col("r_y").alias("ry"))
    )
    m = rr.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx").cast(dec) * F.col("rx")).cast(dec).alias("sxx"),
        F.sum(F.col("ry").cast(dec) * F.col("ry")).cast(dec).alias("syy"),
        F.sum(F.col("rx").cast(dec) * F.col("ry")).cast(dec).alias("sxy"),
    )
    f = m.select(
        "event_type",
        "n",
        (F.col("n").cast(dec) * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")).alias("num"),
        (F.col("n").cast(dec) * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")).alias("d1"),
        (F.col("n").cast(dec) * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")).alias("d2"),
    )
    rho = rnd(
        F.col("num").cast("double")
        / (F.sqrt(F.col("d1").cast("double")) * F.sqrt(F.col("d2").cast("double"))),
        6,
    )
    return f.select(
        "event_type",
        "n",
        F.when((F.col("d1") > 0) & (F.col("d2") > 0), rho).alias("rho"),
    )


# Jackknife: delete-one-shard over a 32-shard split of the event stream.
_JK_SHARDS = 32


@query(
    "j_jackknife_variance",
    oracle=f"""
    WITH v AS (SELECT user_id % {_JK_SHARDS} AS shard,
                      CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v6
               FROM events),
    sh AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS ns,
                  CAST(SUM(v6) AS BIGINT) AS ss,
                  SUM(CAST(v6 AS HUGEINT) * v6) AS qs
           FROM v GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(ns) AS BIGINT) AS n,
                   CAST(SUM(ss) AS BIGINT) AS s,
                   SUM(qs) AS q
            FROM sh),
    loo AS (SELECT CAST(t.s - sh.ss AS DOUBLE) / (t.n - sh.ns) / 1000000.0
                     AS th
            FROM sh, tot t),
    jb AS (SELECT AVG(th) AS thbar FROM loo),
    jv AS (SELECT SUM((th - jb.thbar) * (th - jb.thbar)) AS ssq
           FROM loo, jb)
    SELECT t.m AS m_shards, t.n AS n_rows,
           FLOOR(CAST(t.s AS DOUBLE) / t.n / 1000000.0 * 1000000 + 0.5)
             / 1000000 AS mean,
           FLOOR(sqrt((t.m - 1.0) / t.m * jv.ssq) * 1000000 + 0.5) / 1000000
             AS jk_se,
           FLOOR(sqrt((CAST(t.q AS DOUBLE) / 1e12
                       - CAST(t.s AS DOUBLE) / 1000000.0
                         * (CAST(t.s AS DOUBLE) / 1000000.0) / t.n)
                      / (t.n - 1) / t.n) * 1000000 + 0.5) / 1000000
             AS iid_se
    FROM tot t, jv
    """,
)
def j_jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-SHARD jackknife standard error (Quenouille/Tukey,
    public 1950s) of the global mean of `value` — the resampling-
    family member that actually fits a cluster: where
    j_bootstrap_ci replays the data B times and j_permutation_test
    shuffles labels, the grouped jackknife needs ONE partitioned
    pass (per-shard count/sum partials), then m leave-one-shard-out
    means from the m-row partial relation. Reading jk_se beside the
    iid formula se prices the DESIGN EFFECT: sharding by user_id
    makes shards heterogeneous exactly as a per-host training split
    would, and jk_se/iid_se > 1 is that correlation made visible.

    EXACT: v6-grid integers; shard partials are BIGINT (squares
    widened HUGEINT <-> DECIMAL(38,0)); every leave-one-out mean is
    one fixed div sequence on exact integers; the m={m}-term
    variance sum carries the accepted ~1e-10 boundary odds; outputs
    round 1e-6.

    Plan: one hash agg on shard (map-side combine, {m} rows out),
    then all jackknife arithmetic on the {m}-row relation —
    metadata. The same two-level shape computes over any corpus:
    partials per file/executor, a driver-sized fold."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    v = t.events.select(
        (F.col("user_id") % _JK_SHARDS).alias("shard"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    sh = v.groupBy("shard").agg(
        F.count("*").cast("long").alias("ns"),
        F.sum("v6").cast("long").alias("ss"),
        F.sum(F.col("v6").cast(dec) * F.col("v6")).cast(dec).alias("qs"),
    )
    sh = sh.persist()  # consumers: totals + the leave-one-out relation
    tot = sh.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("ns").cast("long").alias("n"),
        F.sum("ss").cast("long").alias("s"),
        F.sum("qs").cast(dec).alias("q"),
    )
    loo = sh.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("s") - F.col("ss")).cast("double")
            / (F.col("n") - F.col("ns"))
            / 1000000.0
        ).alias("th")
    )
    jb = loo.agg(F.avg("th").alias("thbar"))
    jv = (
        loo.crossJoin(F.broadcast(jb))
        .select(((F.col("th") - F.col("thbar")) * (F.col("th") - F.col("thbar"))).alias("d2"))
        .agg(F.sum("d2").alias("ssq"))
    )
    return tot.crossJoin(F.broadcast(jv)).select(
        F.col("m").alias("m_shards"),
        F.col("n").alias("n_rows"),
        rnd(F.col("s").cast("double") / F.col("n") / 1000000.0, 6).alias("mean"),
        rnd(F.sqrt((F.col("m") - 1.0) / F.col("m") * F.col("ssq")), 6).alias(
            "jk_se"
        ),
        rnd(
            F.sqrt(
                (
                    F.col("q").cast("double") / 1e12
                    - F.col("s").cast("double")
                    / 1000000.0
                    * (F.col("s").cast("double") / 1000000.0)
                    / F.col("n")
                )
                / (F.col("n") - 1)
                / F.col("n")
            ),
            6,
        ).alias("iid_se"),
    )


j_jackknife_variance.__doc__ = j_jackknife_variance.__doc__.replace(
    "{m}", str(_JK_SHARDS)
)


@query(
    "j_median_test",
    oracle="""
    WITH v AS (SELECT event_type,
                      CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v6
               FROM events),
    h AS (SELECT v6, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1),
    cum AS (SELECT v6, CAST(SUM(c) OVER (ORDER BY v6) AS BIGINT) AS cm
            FROM h),
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
    med AS (SELECT MIN(v6) AS med FROM cum, nn
            WHERE cm >= (nn.n + 1) // 2),
    cls AS (SELECT event_type,
                   CAST(COUNT(*) FILTER (v6 <= med.med) AS BIGINT) AS n_le,
                   CAST(COUNT(*) FILTER (v6 > med.med) AS BIGINT) AS n_gt
            FROM v, med GROUP BY 1, med.med),
    tot AS (SELECT CAST(SUM(n_le) AS BIGINT) AS tl,
                   CAST(SUM(n_gt) AS BIGINT) AS tg,
                   CAST(SUM(n_le + n_gt) AS BIGINT) AS n
            FROM cls)
    SELECT c.event_type, med.med / 1000000.0 AS grand_median,
           c.n_le, c.n_gt,
           FLOOR(CAST((c.n_le + c.n_gt) AS DOUBLE) * t.tg / t.n
                 * 1000000 + 0.5) / 1000000 AS exp_gt,
           FLOOR((CAST(c.n_gt * t.n - (c.n_le + c.n_gt) * t.tg AS DOUBLE)
                  * CAST(c.n_gt * t.n - (c.n_le + c.n_gt) * t.tg AS DOUBLE)
                  / (CAST((c.n_le + c.n_gt) * t.tg AS DOUBLE) * t.n)
                  + CAST(c.n_le * t.n - (c.n_le + c.n_gt) * t.tl AS DOUBLE)
                  * CAST(c.n_le * t.n - (c.n_le + c.n_gt) * t.tl AS DOUBLE)
                  / (CAST((c.n_le + c.n_gt) * t.tl AS DOUBLE) * t.n))
                 * 1000000 + 0.5) / 1000000 AS chi2_cells
    FROM cls c, tot t, med
    """,
)
def j_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test (public 1950 statistic) across event types:
    split every value at the GRAND lower median (the smallest v6
    whose cumulative count reaches ceil(N/2) — an exact order
    statistic, no interpolation, so both engines pick the identical
    value), count each group's above/at-or-below cells, and emit each
    group's two-cell chi-square contribution against the margin-
    expected counts. The coarsest, most assumption-free of the
    location tests — j_ab_ttest needs moments, j_mannwhitney needs
    ranks, this needs only a 2xK table — and the one whose statistic
    survives ANY monotone transform of value.

    EXACT: the median is an integer pick from the cumulative
    histogram; cells and margins are BIGINT; each chi-square cell
    rearranges to (o*N - n_g*M)^2 / (n_g*M*N) with integer dev and
    denominator crossing to double ONCE each (the j_chi2_independence
    r7-hardened form), rounded 1e-6.

    Plan: one hash agg to the |distinct v6| histogram; the UNPARTI-
    TIONED cum window runs on that value-domain-bounded relation (the
    j_mannwhitney argument), never on events; the 1-row median
    broadcasts back onto the second (event_type-keyed, map-side-
    combined) cell agg. Two data passes, both narrow."""
    t = load(spark, sf_dir)
    v = t.events.select(
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    h = v.groupBy("v6").agg(F.count("*").cast("long").alias("c"))
    wc = Window.orderBy("v6").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select("v6", F.sum("c").over(wc).cast("long").alias("cm"))
    nn = h.agg(F.sum("c").cast("long").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(nn))
        .where(F.col("cm") >= F.expr("(n + 1) div 2"))
        .agg(F.min("v6").alias("med"))
    )
    cls = (
        v.crossJoin(F.broadcast(med))
        .groupBy("event_type", "med")
        .agg(
            F.count(F.when(F.col("v6") <= F.col("med"), 1)).cast("long").alias("n_le"),
            F.count(F.when(F.col("v6") > F.col("med"), 1)).cast("long").alias("n_gt"),
        )
    )
    tot = cls.agg(
        F.sum("n_le").cast("long").alias("tl"),
        F.sum("n_gt").cast("long").alias("tg"),
        F.sum(F.col("n_le") + F.col("n_gt")).cast("long").alias("n"),
    )
    ng = F.col("n_le") + F.col("n_gt")
    dev_gt = F.col("n_gt") * F.col("n") - ng * F.col("tg")
    dev_le = F.col("n_le") * F.col("n") - ng * F.col("tl")
    return cls.crossJoin(F.broadcast(tot)).select(
        "event_type",
        (F.col("med") / 1000000.0).alias("grand_median"),
        "n_le",
        "n_gt",
        rnd(ng.cast("double") * F.col("tg") / F.col("n"), 6).alias("exp_gt"),
        rnd(
            dev_gt.cast("double")
            * dev_gt.cast("double")
            / ((ng * F.col("tg")).cast("double") * F.col("n"))
            + dev_le.cast("double")
            * dev_le.cast("double")
            / ((ng * F.col("tl")).cast("double") * F.col("n")),
            6,
        ).alias("chi2_cells"),
    )


@query(
    "j_common_neighbors",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    und AS (SELECT DISTINCT u, v FROM (
              SELECT src AS u, dst AS v FROM e
              UNION ALL SELECT dst AS u, src AS v FROM e)
            WHERE u <> v),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
    pairs AS (SELECT a.u AS u, b.u AS v,
                     CAST(COUNT(*) AS BIGINT) AS n_common
              FROM und a JOIN und b ON a.v = b.v AND a.u < b.u
              GROUP BY 1, 2)
    SELECT p.u, p.v, p.n_common,
           du.d AS deg_u, dv.d AS deg_v,
           FLOOR(p.n_common * 1.0 / (du.d + dv.d - p.n_common)
                 * 1000000 + 0.5) / 1000000 AS jaccard,
           EXISTS (SELECT 1 FROM und WHERE und.u = p.u AND und.v = p.v)
             AS adjacent
    FROM pairs p
    JOIN deg du ON du.u = p.u
    JOIN deg dv ON dv.u = p.v
    """,
)
def j_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction (Liben-Nowell &
    Kleinberg 2003, public) over the undirected trade graph: for
    every node pair sharing at least one neighbor, the shared-
    neighbor count, the Jaccard overlap of their neighborhoods, and
    whether the pair is ALREADY adjacent — non-adjacent pairs with
    high scores are the predicted next edges, and adjacent pairs
    with low scores are the anomalous existing ones. Completes the
    structural family (degree/assortativity/k-core/reciprocity/
    triangles) with the PAIRWISE readout the others aggregate away;
    the two-hop join here is exactly one triangle-count leg
    (j_triangle_count closes these wedges, this qid scores them).

    EXACT: neighbor sets are distinct integer pairs; counts and
    degrees are BIGINT; Jaccard is one 1e-6-rounded division of
    exact integers.

    Plan: the edge CTE is the shared _trade_edges lowering (nation-
    level metadata after one data-sized flow agg); symmetrize-
    distinct, the wedge self-join on the shared-neighbor key, the
    degree agg, and the two broadcast joins back all run on the
    |nations|^2-bounded relation. At 100 TB the flow agg is the only
    data pass — the graph algebra is dashboard-sized."""
    t = load(spark, sf_dir)
    e = _trade_edges(t)
    und = (
        e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(e.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist()  # consumers: wedge join x2, degrees, adjacency
    )
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    a = und.select(F.col("u").alias("a_u"), F.col("v").alias("w"))
    b = und.select(F.col("u").alias("b_u"), F.col("v").alias("w"))
    pairs = (
        a.join(b, "w")
        .where(F.col("a_u") < F.col("b_u"))
        .groupBy(F.col("a_u").alias("u"), F.col("b_u").alias("v"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    adj = und.select(F.col("u"), F.col("v"), F.lit(True).alias("adjacent"))
    out = (
        pairs.join(
            F.broadcast(deg.select(F.col("u"), F.col("d").alias("deg_u"))), "u"
        )
        .join(
            F.broadcast(
                deg.select(F.col("u").alias("v"), F.col("d").alias("deg_v"))
            ),
            "v",
        )
        .join(F.broadcast(adj), ["u", "v"], "left")
    )
    return out.select(
        "u",
        "v",
        "n_common",
        "deg_u",
        "deg_v",
        rnd(
            F.col("n_common")
            * 1.0
            / (F.col("deg_u") + F.col("deg_v") - F.col("n_common")),
            6,
        ).alias("jaccard"),
        F.coalesce(F.col("adjacent"), F.lit(False)).alias("adjacent"),
    )


# One-way ANOVA F critical value at alpha = 0.05, df1 = 4 (the fixture's
# 5 event types), df2 -> large: same convention as _LEV_CRIT (Levene's W
# is itself an ANOVA F on deviations, so the literal is shared).
_ANOVA_CRIT = 2.372


@query(
    "j_anova_oneway",
    oracle=f"""
    WITH v AS (SELECT event_type,
                      CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v6
               FROM events),
    p AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS ng,
                 CAST(SUM(v6) AS BIGINT) AS sv,
                 CAST(SUM(CAST(v6 AS HUGEINT) * v6) AS HUGEINT) AS svv
          FROM v GROUP BY 1),
    t2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                  CAST(SUM(ng) AS BIGINT) AS n,
                  CAST(SUM(sv) AS BIGINT) AS sv_tot,
                  CAST(SUM(svv) AS HUGEINT) AS svv_tot,
                  SUM(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / ng) AS bsum
           FROM p)
    SELECT k AS k_groups, n AS n_total,
           {sql_rnd(
               "(CAST(n AS DOUBLE) - k) / (k - 1)"
               " * (bsum - CAST(sv_tot AS DOUBLE) * CAST(sv_tot AS DOUBLE) / n)"
               " / (CAST(svv_tot AS DOUBLE) - bsum)", 6)} AS f_stat,
           {sql_rnd(
               "(bsum - CAST(sv_tot AS DOUBLE) * CAST(sv_tot AS DOUBLE) / n)"
               " / (CAST(svv_tot AS DOUBLE)"
               "    - CAST(sv_tot AS DOUBLE) * CAST(sv_tot AS DOUBLE) / n)", 6)}
               AS eta_sq,
           {sql_rnd(
               "(CAST(n AS DOUBLE) - k) / (k - 1)"
               " * (bsum - CAST(sv_tot AS DOUBLE) * CAST(sv_tot AS DOUBLE) / n)"
               " / (CAST(svv_tot AS DOUBLE) - bsum)", 6)} > {_ANOVA_CRIT}
               AS significant
    FROM t2
    """,
)
def j_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across event types on `value` (public 1920s
    Fisher statistic) — THE test j_levene_test exists to guard: Levene
    checks the equal-variance precondition, this is the equal-MEANS
    test that reading is for, with eta-squared (between-group share of
    total variance) as the effect size a 100 TB dashboard actually
    acts on. Same fixed critical value discipline as _LEV_CRIT (df1 =
    4, df2 large), same grid: F is scale-invariant, so computing it on
    the 1e-6-rounded v6 integers equals computing it on the raw values
    up to the documented grid rounding.

    EXACT: per-group moments are BIGINT / HUGEINT integers (v6 squared
    widened BEFORE multiply, the j_feature_corr rule); the
    between-group sum adds K = 5 double terms (the accepted Levene
    floor-boundary odds); F and eta_sq round 1e-6 BEFORE the
    significance compare so the flag cannot flip between engines.

    Plan: ONE event_type hash agg with map-side partials (no window —
    unlike Levene, plain ANOVA needs no per-row centering), then a
    5-row fold. Nothing wider than (type, v6) ever shuffles."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    v = t.events.select(
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    p = v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("v6").cast("long").alias("sv"),
        F.sum(F.col("v6").cast(dec) * F.col("v6")).cast(dec).alias("svv"),
    )
    t2 = p.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sv").cast("long").alias("sv_tot"),
        F.sum("svv").cast(dec).alias("svv_tot"),
        F.sum(
            F.col("sv").cast("double") * F.col("sv").cast("double") / F.col("ng")
        ).alias("bsum"),
    )
    between = (
        F.col("bsum")
        - F.col("sv_tot").cast("double") * F.col("sv_tot").cast("double") / F.col("n")
    )
    f_stat = rnd(
        (F.col("n").cast("double") - F.col("k"))
        / (F.col("k") - 1)
        * between
        / (F.col("svv_tot").cast("double") - F.col("bsum")),
        6,
    )
    eta = rnd(
        between
        / (
            F.col("svv_tot").cast("double")
            - F.col("sv_tot").cast("double")
            * F.col("sv_tot").cast("double")
            / F.col("n")
        ),
        6,
    )
    return t2.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_total"),
        f_stat.alias("f_stat"),
        eta.alias("eta_sq"),
        (f_stat > _ANOVA_CRIT).alias("significant"),
    )


# Kruskal-Wallis: chi-square critical value at alpha = 0.05, df = 4
# (the fixture's 5 languages).
_KW_CRIT = 9.4877


@query(
    "j_kruskal_wallis",
    oracle=f"""
    WITH cells AS (SELECT lang, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM documents GROUP BY 1, 2),
    w AS (SELECT lang, v, cnt,
                 CAST(SUM(cnt) OVER (PARTITION BY v) AS BIGINT) AS nv,
                 CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
                     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cumb,
                 ROW_NUMBER() OVER (PARTITION BY v ORDER BY lang) AS rn
          FROM cells),
    g AS (SELECT lang,
                 CAST(SUM(cnt) AS BIGINT) AS ng,
                 CAST(SUM(CAST(cnt AS HUGEINT) * (2 * cumb + nv + 1))
                     AS HUGEINT) AS r2g,
                 CAST(SUM(CASE WHEN rn = 1
                          THEN CAST(nv AS HUGEINT) * nv * nv - nv
                          ELSE 0 END) AS HUGEINT) AS tpart
          FROM w GROUP BY 1),
    t2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                  CAST(SUM(ng) AS BIGINT) AS n,
                  CAST(SUM(tpart) AS HUGEINT) AS tie3,
                  SUM(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE) / ng) AS b
           FROM g),
    h AS (SELECT k, n, tie3,
                 3.0 * b / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)
                     AS h_raw,
                 1.0 - CAST(tie3 AS DOUBLE)
                     / (CAST(n AS DOUBLE) * n * n - n) AS c
          FROM t2)
    SELECT k AS k_groups, n AS n_total,
           {sql_rnd("h_raw", 6)} AS h_stat,
           {sql_rnd("c", 6)} AS tie_correction,
           {sql_rnd("h_raw / c", 6)} AS h_corrected,
           {sql_rnd("h_raw / c", 6)} > {_KW_CRIT} AS significant
    FROM h
    """,
)
def j_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test (public 1952 statistic) across the 5
    languages on document length — the k-group generalization of
    j_mannwhitney and the nonparametric twin of j_anova_oneway, for
    exactly the heavy-tailed heavily-tied length distributions where
    the F test's normality premise fails. Tie-corrected:
    H' = H / (1 - SUM(t^3 - t)/(N^3 - N)).

    EXACT rank arithmetic (the j_mannwhitney doubled-midrank device):
    the corpus collapses to one row per (lang, distinct length); the
    doubled midrank of a tie block is the integer 2*cum_before + n_v +
    1, so every group rank sum R2_g and the tie term are exact
    HUGEINT/DECIMAL integers (widened BEFORE multiply). In doubled
    ranks, H = 3*SUM(R2_g^2/n_g)/(N(N+1)) - 3(N+1) — the /4 of
    squared halves cancels against 12 -> 3. The K = 5 double terms of
    the between sum are the accepted Levene device; H rounds 1e-6
    BEFORE the significance compare.

    Plan: one (lang, n_chars) hash agg bounds everything downstream by
    |langs x distinct lengths| (value-domain metadata); the midrank
    windows run UNPARTITIONED over that bounded relation by design
    (the j_mannwhitney argument — lengths, not documents); the
    per-lang rollup is 5 rows and the fold is one."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    cells = t.documents.groupBy(
        F.col("lang"), F.col("n_chars").alias("v")
    ).agg(F.count("*").cast("long").alias("cnt"))
    wv = Window.partitionBy("v")
    wr = Window.orderBy("v").rangeBetween(Window.unboundedPreceding, -1)
    w = cells.select(
        "lang",
        "v",
        "cnt",
        F.sum("cnt").over(wv).cast("long").alias("nv"),
        F.coalesce(F.sum("cnt").over(wr), F.lit(0)).cast("long").alias("cumb"),
        F.row_number().over(Window.partitionBy("v").orderBy("lang")).alias("rn"),
    )
    g = w.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("ng"),
        F.sum(F.col("cnt").cast(dec) * (2 * F.col("cumb") + F.col("nv") + 1))
        .cast(dec)
        .alias("r2g"),
        F.sum(
            F.when(
                F.col("rn") == 1,
                F.col("nv").cast(dec) * F.col("nv") * F.col("nv") - F.col("nv"),
            ).otherwise(F.lit(0).cast(dec))
        )
        .cast(dec)
        .alias("tpart"),
    )
    t2 = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("tpart").cast(dec).alias("tie3"),
        F.sum(
            F.col("r2g").cast("double") * F.col("r2g").cast("double") / F.col("ng")
        ).alias("b"),
    )
    h_raw = (
        F.lit(3.0) * F.col("b") / (F.col("n").cast("double") * (F.col("n") + 1))
        - F.lit(3.0) * (F.col("n") + 1)
    )
    c = F.lit(1.0) - F.col("tie3").cast("double") / (
        F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
    )
    hc = rnd(h_raw / c, 6)
    return t2.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_total"),
        rnd(h_raw, 6).alias("h_stat"),
        rnd(c, 6).alias("tie_correction"),
        hc.alias("h_corrected"),
        (hc > _KW_CRIT).alias("significant"),
    )


# Fleiss' kappa raters: three deterministic keep/drop quality
# heuristics (length floor, whitespace-structure band, type-token
# diversity), thresholds picked at the fixture medians so every rater
# casts MIXED votes at every scale (a constant rater makes kappa
# vacuous). r = 3 raters, 2 categories.
_FK_LEN = 300
_FK_SPACE_NUM = 178  # space ratio >= 0.178 (per-mille, integer compare)


def quality_rater_cols() -> tuple[Column, Column, Column]:
    """The three deterministic keep/drop quality raters shared by
    j_fleiss_kappa / j_mcnemar_test / j_cochran_q — one definition so
    the agreement (kappa), the paired marginal test (McNemar), and the
    k-sample marginal test (Cochran's Q) all judge the SAME panel."""
    toks = F.split(F.col("text"), " ")
    k1 = (F.col("n_chars") >= _FK_LEN).cast("long")
    k2 = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
        * 1000
        >= _FK_SPACE_NUM * F.length("text")
    ).cast("long")
    k3 = (2 * F.size(F.array_distinct(toks)) >= F.size(toks)).cast("long")
    return k1, k2, k3


# The same three raters as DuckDB SQL fragments (kept textually beside
# the column forms above — a drift between the two breaks the oracle
# compare loudly, which is the test).
_R1_SQL = f"CASE WHEN n_chars >= {_FK_LEN} THEN 1 ELSE 0 END"
_R2_SQL = (
    "CASE WHEN (length(text) - length(replace(text, ' ', ''))) * 1000"
    f" >= {_FK_SPACE_NUM} * length(text) THEN 1 ELSE 0 END"
)
_R3_SQL = (
    "CASE WHEN 2 * len(list_distinct(string_split(text, ' ')))"
    " >= len(string_split(text, ' ')) THEN 1 ELSE 0 END"
)


@query(
    "j_fleiss_kappa",
    oracle=f"""
    WITH r AS (SELECT
                 (CASE WHEN n_chars >= {_FK_LEN} THEN 1 ELSE 0 END
                + CASE WHEN (length(text) - length(replace(text, ' ', '')))
                            * 1000 >= {_FK_SPACE_NUM} * length(text)
                       THEN 1 ELSE 0 END
                + CASE WHEN 2 * len(list_distinct(string_split(text, ' ')))
                            >= len(string_split(text, ' '))
                       THEN 1 ELSE 0 END) AS ki,
                 CASE WHEN n_chars >= {_FK_LEN} THEN 1 ELSE 0 END AS k1,
                 CASE WHEN (length(text) - length(replace(text, ' ', '')))
                           * 1000 >= {_FK_SPACE_NUM} * length(text)
                      THEN 1 ELSE 0 END AS k2,
                 CASE WHEN 2 * len(list_distinct(string_split(text, ' ')))
                           >= len(string_split(text, ' '))
                      THEN 1 ELSE 0 END AS k3
               FROM documents),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(ki) AS BIGINT) AS kk,
                 CAST(SUM(CAST(ki AS HUGEINT) * ki
                          + (3 - CAST(ki AS HUGEINT)) * (3 - ki))
                     AS HUGEINT) AS sq,
                 CAST(SUM(k1) AS BIGINT) AS r1_keeps,
                 CAST(SUM(k2) AS BIGINT) AS r2_keeps,
                 CAST(SUM(k3) AS BIGINT) AS r3_keeps
          FROM r),
    f AS (SELECT n, r1_keeps, r2_keeps, r3_keeps,
                 (CAST(sq AS DOUBLE) - 3.0 * n) / (6.0 * n) AS p_o,
                 (CAST(kk AS DOUBLE) * kk
                  + (3.0 * n - kk) * (3.0 * n - kk)) / (9.0 * n * n) AS p_e
          FROM s)
    SELECT n AS n_docs, CAST(3 AS BIGINT) AS n_raters,
           r1_keeps, r2_keeps, r3_keeps,
           {sql_rnd("p_o", 6)} AS p_observed,
           {sql_rnd("p_e", 6)} AS p_expected,
           {sql_rnd("(p_o - p_e) / (1.0 - p_e)", 6)} AS kappa
    FROM f
    """,
)
def j_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (public 1971 statistic) over THREE deterministic
    quality raters — length floor, whitespace-structure band,
    type-token diversity — each voting keep/drop per document: the
    inter-annotator-agreement audit a curation pipeline runs before
    trusting an ensemble of quality filters (j_quality_score gives one
    blended number; kappa says whether its components AGREE beyond
    chance, the j_cohen_kappa two-rater story generalized to r = 3).
    With 2 categories the per-subject agreement reduces to integers:
    sum_j n_ij^2 = k_i^2 + (3-k_i)^2 where k_i = keep votes, so
    P_o = (SUM(k^2+(3-k)^2) - 3n)/(6n) and
    P_e = (K^2 + (3n-K)^2)/(9n^2) with K = SUM k_i.

    EXACT: every rater is an integer-compare indicator (the space
    threshold enters as a per-mille integer, the diversity threshold
    as 2*distinct >= total — no division anywhere); moments are
    BIGINT/HUGEINT; P_o, P_e, kappa apply one fixed IEEE sequence to
    those integers and round 1e-6.

    Plan: ONE narrow projection over the corpus scan (the only array
    work is the per-doc distinct-token count, same cost class as
    j_text_stats) folding to a single row — map-side partials, zero
    joins, zero windows, scan-speed at 100 TB."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    k1, k2, k3 = quality_rater_cols()
    r = t.documents.select(
        (k1 + k2 + k3).alias("ki"),
        k1.alias("k1"),
        k2.alias("k2"),
        k3.alias("k3"),
    )
    s = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ki").cast("long").alias("kk"),
        F.sum(
            F.col("ki").cast(dec) * F.col("ki")
            + (3 - F.col("ki").cast(dec)) * (3 - F.col("ki"))
        )
        .cast(dec)
        .alias("sq"),
        F.sum("k1").cast("long").alias("r1_keeps"),
        F.sum("k2").cast("long").alias("r2_keeps"),
        F.sum("k3").cast("long").alias("r3_keeps"),
    )
    p_o = (F.col("sq").cast("double") - 3.0 * F.col("n")) / (6.0 * F.col("n"))
    p_e = (
        F.col("kk").cast("double") * F.col("kk")
        + (3.0 * F.col("n") - F.col("kk")) * (3.0 * F.col("n") - F.col("kk"))
    ) / (9.0 * F.col("n") * F.col("n"))
    return s.select(
        F.col("n").alias("n_docs"),
        F.lit(3).cast("long").alias("n_raters"),
        "r1_keeps",
        "r2_keeps",
        "r3_keeps",
        rnd(p_o, 6).alias("p_observed"),
        rnd(p_e, 6).alias("p_expected"),
        rnd((p_o - p_e) / (F.lit(1.0) - p_e), 6).alias("kappa"),
    )


# McNemar / Cochran's Q critical values at alpha = 0.05:
# chi-square df = 1 and df = 2 (3 raters).
_MCN_CRIT = 3.8415
_CQ_CRIT = 5.9915


@query(
    "j_mcnemar_test",
    oracle=f"""
    WITH r AS (SELECT {_R1_SQL} AS k1, {_R3_SQL} AS k3 FROM documents),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN k1 = 1 AND k3 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS b,
                 CAST(SUM(CASE WHEN k1 = 0 AND k3 = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS c
          FROM r)
    SELECT n AS n_docs, b AS len_only, c AS div_only,
           CASE WHEN b + c = 0 THEN NULL
                ELSE {sql_rnd(
                    "(ABS(CAST(b AS DOUBLE) - c) - 1.0)"
                    " * (ABS(CAST(b AS DOUBLE) - c) - 1.0) / (b + c)", 6)}
           END AS mcnemar_chi2,
           CASE WHEN b + c = 0 THEN NULL
                ELSE {sql_rnd(
                    "(ABS(CAST(b AS DOUBLE) - c) - 1.0)"
                    " * (ABS(CAST(b AS DOUBLE) - c) - 1.0) / (b + c)", 6)}
                     > {_MCN_CRIT}
           END AS significant
    FROM s
    """,
)
def j_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (public 1947 statistic, continuity-
    corrected form) between the length rater and the diversity rater
    of the j_fleiss_kappa panel, on the SAME documents — the marginal-
    homogeneity question kappa does not answer: kappa says whether two
    filters AGREE; McNemar says whether they keep DIFFERENT AMOUNTS
    (one systematically stricter), read off the discordant cells only
    (b = length-keeps-diversity-drops, c = the reverse):
    chi2 = (|b - c| - 1)^2 / (b + c). Swapping a filter implementation
    in a curation pipeline is exactly a paired comparison — same
    corpus, two labelers.

    EXACT: b and c are integer cell counts from ONE agg; the statistic
    is one fixed IEEE sequence on them, rounded 1e-6 BEFORE the
    critical-value compare; NULL when b + c = 0 (the statistic is
    undefined, not zero).

    Plan: one narrow projection + single-row fold — scan-speed, zero
    shuffles beyond the 1-row aggregate."""
    t = load(spark, sf_dir)
    k1, _, k3 = quality_rater_cols()
    s = t.documents.select(k1.alias("k1"), k3.alias("k3")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when((F.col("k1") == 1) & (F.col("k3") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("k1") == 0) & (F.col("k3") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    d = F.abs(F.col("b").cast("double") - F.col("c")) - 1.0
    stat = rnd(d * d / (F.col("b") + F.col("c")), 6)
    und = (F.col("b") + F.col("c")) == 0
    return s.select(
        F.col("n").alias("n_docs"),
        F.col("b").alias("len_only"),
        F.col("c").alias("div_only"),
        F.when(und, F.lit(None).cast("double")).otherwise(stat).alias("mcnemar_chi2"),
        F.when(und, F.lit(None).cast("boolean"))
        .otherwise(stat > _MCN_CRIT)
        .alias("significant"),
    )


@query(
    "j_cochran_q",
    oracle=f"""
    WITH r AS (SELECT {_R1_SQL} AS k1, {_R2_SQL} AS k2, {_R3_SQL} AS k3
               FROM documents),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(k1) AS BIGINT) AS c1,
                 CAST(SUM(k2) AS BIGINT) AS c2,
                 CAST(SUM(k3) AS BIGINT) AS c3,
                 CAST(SUM(k1 + k2 + k3) AS BIGINT) AS sr,
                 CAST(SUM(CAST(k1 + k2 + k3 AS HUGEINT)
                          * (k1 + k2 + k3)) AS HUGEINT) AS sr2
          FROM r)
    SELECT n AS n_docs, c1 AS r1_keeps, c2 AS r2_keeps, c3 AS r3_keeps,
           CASE WHEN 3 * sr - sr2 = 0 THEN NULL
                ELSE {sql_rnd(
                    "2.0 * (3.0 * (CAST(c1 AS DOUBLE) * c1"
                    " + CAST(c2 AS DOUBLE) * c2 + CAST(c3 AS DOUBLE) * c3)"
                    " - CAST(sr AS DOUBLE) * sr)"
                    " / (3.0 * sr - CAST(sr2 AS DOUBLE))", 6)}
           END AS cochran_q,
           CASE WHEN 3 * sr - sr2 = 0 THEN NULL
                ELSE {sql_rnd(
                    "2.0 * (3.0 * (CAST(c1 AS DOUBLE) * c1"
                    " + CAST(c2 AS DOUBLE) * c2 + CAST(c3 AS DOUBLE) * c3)"
                    " - CAST(sr AS DOUBLE) * sr)"
                    " / (3.0 * sr - CAST(sr2 AS DOUBLE))", 6)} > {_CQ_CRIT}
           END AS significant
    FROM s
    """,
)
def j_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q (public 1950 statistic) across ALL THREE
    j_fleiss_kappa raters — the k-sample generalization of
    j_mcnemar_test (Q reduces to McNemar's uncorrected chi2 at k = 2):
    do the three quality filters keep the same PROPORTION of the
    corpus, or is at least one systematically stricter? With binary
    votes, Q = (k-1)[k SUM(Cj^2) - (SUM Cj)^2] / [k SUM(Ri) -
    SUM(Ri^2)] needs only the per-rater keep totals Cj and the
    per-document keep counts Ri — the SAME integer moments the kappa
    already aggregates, so the two relations together read agreement
    AND marginal homogeneity off one panel.

    EXACT: all moments are BIGINT/HUGEINT from ONE agg (Ri^2 widened
    before multiply); Q is one fixed IEEE sequence rounded 1e-6 BEFORE
    the chi-square(df=2) compare; NULL when every document gets a
    unanimous vote (denominator zero — Q undefined).

    Plan: one narrow projection + single-row fold, the j_fleiss_kappa
    shape exactly — scan-speed at 100 TB."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    k1, k2, k3 = quality_rater_cols()
    ki = F.col("k1") + F.col("k2") + F.col("k3")
    s = t.documents.select(
        k1.alias("k1"), k2.alias("k2"), k3.alias("k3")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k1").cast("long").alias("c1"),
        F.sum("k2").cast("long").alias("c2"),
        F.sum("k3").cast("long").alias("c3"),
        F.sum(ki).cast("long").alias("sr"),
        F.sum(ki.cast(dec) * ki).cast(dec).alias("sr2"),
    )
    num = F.lit(3.0) * (
        F.col("c1").cast("double") * F.col("c1")
        + F.col("c2").cast("double") * F.col("c2")
        + F.col("c3").cast("double") * F.col("c3")
    ) - F.col("sr").cast("double") * F.col("sr")
    den = F.lit(3.0) * F.col("sr") - F.col("sr2").cast("double")
    q = rnd(F.lit(2.0) * num / den, 6)
    und = (3 * F.col("sr") - F.col("sr2")) == 0
    return s.select(
        F.col("n").alias("n_docs"),
        F.col("c1").alias("r1_keeps"),
        F.col("c2").alias("r2_keeps"),
        F.col("c3").alias("r3_keeps"),
        F.when(und, F.lit(None).cast("double")).otherwise(q).alias("cochran_q"),
        F.when(und, F.lit(None).cast("boolean"))
        .otherwise(q > _CQ_CRIT)
        .alias("significant"),
    )


# Benford first-digit expectations log10(1 + 1/d), emitted as the SAME
# repr literals into both engines (no query-time log10 — the libm ban).
import math as _math

_BENFORD_E = [_math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


@query(
    "j_benford_digits",
    oracle=f"""
    WITH c AS (SELECT CAST(l_extendedprice * 100 AS BIGINT) AS cents
               FROM lineitem),
    d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
              AS digit
          FROM c),
    g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
    SELECT digit, n,
           {sql_rnd("n * 1.0 / tot", 6)} AS share,
           CASE digit {' '.join(
               f'WHEN {d + 1} THEN CAST({e!r} AS DOUBLE)'
               for d, e in enumerate(_BENFORD_E))} END AS benford_expected,
           {sql_rnd(
               "ABS(n * 1.0 / tot - CASE digit " + ' '.join(
                   f'WHEN {d + 1} THEN CAST({e!r} AS DOUBLE)'
                   for d, e in enumerate(_BENFORD_E)) + " END)", 6)}
               AS abs_dev
    FROM g CROSS JOIN t
    """,
)
def j_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit (public 1938 law) over
    lineitem extended prices — the numeric-forensics tripwire a data
    platform runs on money columns: fabricated or truncated numeric
    feeds drift from the log10(1+1/d) curve, and the per-digit
    absolute deviation is the number an anomaly dashboard trends.
    (TPC-H prices are price-book multiples, NOT Benford-distributed —
    the audit MEASURES that deviation rather than asserting the law,
    which is exactly its production use: the baseline deviation of a
    known-clean feed is what a corrupted refresh gets compared to.)

    EXACT: cents are one exact DECIMAL(12,2)*100 -> BIGINT; the first
    digit is a SUBSTRING of the integer's decimal text (no log10 at
    query time — the expectations enter both engines as identical repr
    literals); counts are BIGINT, shares/deviations single divisions
    rounded 1e-6.

    Plan: one narrow projection + 9-group hash agg with map-side
    partials + a 1-row total broadcast — scan-speed at any corpus
    size."""
    t = load(spark, sf_dir)
    d = t.lineitem.select(
        F.substring(
            (F.col("l_extendedprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    g = d.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    # total via an unpartitioned window over the 9-row digit relation —
    # a g -> (g, tot) fork would rescan lineitem once per branch
    g = g.withColumn(
        "tot", F.sum("n").over(Window.partitionBy(F.lit(1))).cast("long")
    )
    exp_arr = F.array(*[F.lit(e).cast("double") for e in _BENFORD_E])
    expected = F.element_at(exp_arr, F.col("digit").cast("int"))
    share_raw = F.col("n") * 1.0 / F.col("tot")
    return g.select(
        "digit",
        "n",
        rnd(share_raw, 6).alias("share"),
        expected.alias("benford_expected"),
        rnd(F.abs(share_raw - expected), 6).alias("abs_dev"),
    )


# Filter-bias enrichment: |z| >= 1.96 (two-sided alpha = 0.05 normal).
_FB_CRIT = 1.96


@query(
    "j_filter_bias",
    oracle=f"""
    WITH r AS (SELECT lang,
                      CASE WHEN ({_R1_SQL}) + ({_R2_SQL}) + ({_R3_SQL}) >= 2
                           THEN 1 ELSE 0 END AS kept
               FROM documents),
    g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS k_lang,
                 CAST(SUM(kept) AS BIGINT) AS k_kept
          FROM r GROUP BY 1),
    t AS (SELECT CAST(SUM(k_lang) AS BIGINT) AS n,
                 CAST(SUM(k_kept) AS BIGINT) AS d
          FROM g)
    SELECT g.lang, g.k_lang AS n_lang, g.k_kept AS n_kept,
           {sql_rnd("g.k_kept * 1.0 / g.k_lang", 6)} AS kept_rate,
           {sql_rnd("t.d * 1.0 / t.n", 6)} AS overall_rate,
           {sql_rnd(
               "(g.k_kept - CAST(t.d AS DOUBLE) * g.k_lang / t.n)"
               " / sqrt(CAST(t.d AS DOUBLE) * (CAST(g.k_lang AS DOUBLE) / t.n)"
               "        * (1.0 - CAST(g.k_lang AS DOUBLE) / t.n)"
               "        * (t.n - t.d) / (t.n - 1))", 6)} AS z_score,
           ABS({sql_rnd(
               "(g.k_kept - CAST(t.d AS DOUBLE) * g.k_lang / t.n)"
               " / sqrt(CAST(t.d AS DOUBLE) * (CAST(g.k_lang AS DOUBLE) / t.n)"
               "        * (1.0 - CAST(g.k_lang AS DOUBLE) / t.n)"
               "        * (t.n - t.d) / (t.n - 1))", 6)}) >= {_FB_CRIT}
               AS biased
    FROM g CROSS JOIN t
    """,
)
def j_filter_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-FAIRNESS tripwire: hypergeometric enrichment z-score of
    each language inside the kept set of the majority-vote quality
    panel (the three j_fleiss_kappa raters, keep iff >= 2 votes) — the
    audit a multilingual pipeline runs BEFORE shipping a filtered
    corpus, because a length/whitespace/diversity heuristic tuned on
    one language silently starves another (the documented failure mode
    of web-scale quality filters). Under the null (language-blind
    filter), the kept count per language is hypergeometric with mean
    D*K/N and variance D*(K/N)*(1-K/N)*(N-D)/(N-1); |z| >= {C} flags
    systematic over/under-selection.

    EXACT: all cell counts are BIGINT from ONE agg; the z-score is one
    fixed IEEE sequence (one sqrt) on those integers, rounded 1e-6
    BEFORE the threshold compare.

    Plan: one narrow projection + one lang agg + a 1-row total
    broadcast — scan-speed; the enrichment math runs on |langs|
    rows."""
    t = load(spark, sf_dir)
    k1, k2, k3 = quality_rater_cols()
    kept = ((k1 + k2 + k3) >= 2).cast("long")
    g = t.documents.select("lang", kept.alias("kept")).groupBy("lang").agg(
        F.count("*").cast("long").alias("k_lang"),
        F.sum("kept").cast("long").alias("k_kept"),
    )
    g = g.select(
        "*",
        F.sum("k_lang").over(Window.partitionBy(F.lit(1))).cast("long").alias("n"),
        F.sum("k_kept").over(Window.partitionBy(F.lit(1))).cast("long").alias("d"),
    )
    share = F.col("k_lang").cast("double") / F.col("n")
    mean = F.col("d").cast("double") * F.col("k_lang") / F.col("n")
    var = (
        F.col("d").cast("double")
        * share
        * (F.lit(1.0) - share)
        * (F.col("n") - F.col("d"))
        / (F.col("n") - 1)
    )
    z = rnd((F.col("k_kept") - mean) / F.sqrt(var), 6)
    return g.select(
        "lang",
        F.col("k_lang").alias("n_lang"),
        F.col("k_kept").alias("n_kept"),
        rnd(F.col("k_kept") * 1.0 / F.col("k_lang"), 6).alias("kept_rate"),
        rnd(F.col("d") * 1.0 / F.col("n"), 6).alias("overall_rate"),
        z.alias("z_score"),
        (F.abs(z) >= _FB_CRIT).alias("biased"),
    )


j_filter_bias.__doc__ = j_filter_bias.__doc__.replace("{C}", str(_FB_CRIT))


@query(
    "j_two_proportion_z",
    oracle=f"""
    WITH g AS (SELECT CASE WHEN substr(md5('ab' || CAST(user_id AS VARCHAR)),
                                       1, 1) < '8'
                           THEN 'A' ELSE 'B' END AS grp,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                          AS conv
               FROM events),
    s AS (SELECT CAST(COUNT(*) FILTER (grp = 'A') AS BIGINT) AS n_a,
                 CAST(COUNT(*) FILTER (grp = 'B') AS BIGINT) AS n_b,
                 CAST(SUM(conv) FILTER (grp = 'A') AS BIGINT) AS c_a,
                 CAST(SUM(conv) FILTER (grp = 'B') AS BIGINT) AS c_b
          FROM g)
    SELECT n_a, n_b, c_a, c_b,
           {sql_rnd("c_a * 1.0 / n_a", 6)} AS rate_a,
           {sql_rnd("c_b * 1.0 / n_b", 6)} AS rate_b,
           {sql_rnd(
               "(c_a * 1.0 / n_a - c_b * 1.0 / n_b)"
               " / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
               "        * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
               "        * (1.0 / n_a + 1.0 / n_b))", 6)} AS z_score,
           ABS({sql_rnd(
               "(c_a * 1.0 / n_a - c_b * 1.0 / n_b)"
               " / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
               "        * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
               "        * (1.0 / n_a + 1.0 / n_b))", 6)}) >= {_FB_CRIT}
               AS significant
    FROM s
    """,
)
def j_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test (public textbook statistic) on
    CONVERSION — purchase share of the j_ab_ttest experiment split
    (the same md5 'ab' assignment, so the t on values and the z on
    rates read ONE experiment): the binary-outcome member of the A/B
    shelf, which is how most experiments actually conclude (conversion
    is a rate, not a mean). Pooled form under H0: z = (p_a - p_b) /
    sqrt(p(1-p)(1/n_a + 1/n_b)) with p the pooled rate.

    EXACT: four BIGINT cells from ONE agg; z is one fixed IEEE
    sequence (one sqrt) rounded 1e-6 BEFORE the |z| >= {C} compare.

    Plan: one narrow projection + single-row fold — scan-speed, the
    j_mcnemar_test shape."""
    t = load(spark, sf_dir)
    grp = F.when(
        F.substring(F.md5(F.concat(F.lit("ab"), F.col("user_id").cast("string"))), 1, 1)
        < "8",
        "A",
    ).otherwise("B")
    conv = (F.col("event_type") == "purchase").cast("long")
    s = t.events.select(grp.alias("grp"), conv.alias("conv")).agg(
        F.count(F.when(F.col("grp") == "A", 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("grp") == "B", 1)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("grp") == "A", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("grp") == "B", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    ra = F.col("c_a") * 1.0 / F.col("n_a")
    rb = F.col("c_b") * 1.0 / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    z = rnd(
        (ra - rb)
        / F.sqrt(
            pool * (F.lit(1.0) - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
        ),
        6,
    )
    return s.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        rnd(ra, 6).alias("rate_a"),
        rnd(rb, 6).alias("rate_b"),
        z.alias("z_score"),
        (F.abs(z) >= _FB_CRIT).alias("significant"),
    )


j_two_proportion_z.__doc__ = j_two_proportion_z.__doc__.replace("{C}", str(_FB_CRIT))


@query(
    "j_runs_test",
    oracle=f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    s AS (SELECT day, n,
                 n - LAG(n) OVER (ORDER BY day) AS delta
          FROM d),
    sg AS (SELECT day, CASE WHEN delta > 0 THEN 1 ELSE 0 END AS up
           FROM s WHERE delta IS NOT NULL AND delta <> 0),
    r AS (SELECT up,
                 CASE WHEN LAG(up) OVER (ORDER BY day) IS NULL
                        OR LAG(up) OVER (ORDER BY day) <> up
                      THEN 1 ELSE 0 END AS new_run
          FROM sg),
    t AS (SELECT CAST(SUM(up) AS BIGINT) AS n_plus,
                 CAST(SUM(1 - up) AS BIGINT) AS n_minus,
                 CAST(SUM(new_run) AS BIGINT) AS n_runs
          FROM r)
    SELECT n_plus, n_minus, n_runs,
           {sql_rnd(
               "1.0 + 2.0 * n_plus * n_minus / (n_plus + n_minus)", 6)}
               AS expected_runs,
           CASE WHEN n_plus = 0 OR n_minus = 0 THEN NULL
                ELSE {sql_rnd(
                    "(n_runs - (1.0 + 2.0 * n_plus * n_minus"
                    "           / (n_plus + n_minus)))"
                    " / sqrt(2.0 * n_plus * n_minus"
                    "        * (2.0 * n_plus * n_minus - n_plus - n_minus)"
                    "        / ((CAST(n_plus + n_minus AS DOUBLE))"
                    "           * (n_plus + n_minus)"
                    "           * (n_plus + n_minus - 1)))", 6)}
           END AS z_score,
           CASE WHEN n_plus = 0 OR n_minus = 0 THEN NULL
                ELSE ABS({sql_rnd(
                    "(n_runs - (1.0 + 2.0 * n_plus * n_minus"
                    "           / (n_plus + n_minus)))"
                    " / sqrt(2.0 * n_plus * n_minus"
                    "        * (2.0 * n_plus * n_minus - n_plus - n_minus)"
                    "        / ((CAST(n_plus + n_minus AS DOUBLE))"
                    "           * (n_plus + n_minus)"
                    "           * (n_plus + n_minus - 1)))", 6)}) >= {_FB_CRIT}
           END AS nonrandom
    FROM t
    """,
)
def j_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (public 1940 statistic) on the SIGNS of
    day-over-day event-volume deltas — the sequence-RANDOMNESS audit
    beside the distributional shelf: KS/ANOVA ask "same distribution?",
    the runs test asks "independent ORDER?" — too few runs flags
    trending/autocorrelated volume (the j_ts_autocorr story as a
    significance test), too many flags oscillation (a load-balancer
    thrashing between feeds). Zero deltas are dropped (the standard
    convention), runs counted by sign changes, and z uses the exact
    run-count mean 1 + 2ab/(a+b) and variance 2ab(2ab-a-b)/((a+b)^2
    (a+b-1)).

    EXACT: run/sign counts are integers off ONE lag window over the
    |days| relation; z is one fixed IEEE sequence on them, rounded
    1e-6 BEFORE the |z| >= 1.96 compare; NULL when one sign is absent
    (the statistic is undefined).

    Plan: one day hash agg collapses events to |days| rows; both lag
    windows run on that calendar-sized relation (the pinned 'offset
    table' class); the fold is one row."""
    t = load(spark, sf_dir)
    d = t.events.select(
        F.timestamp_millis(F.col("ts_ms")).cast("date").alias("day")
    ).groupBy("day").agg(F.count("*").cast("long").alias("n"))
    w = Window.orderBy("day")
    s = d.select("day", (F.col("n") - F.lag("n").over(w)).alias("delta"))
    sg = s.where(F.col("delta").isNotNull() & (F.col("delta") != 0)).select(
        "day", (F.col("delta") > 0).cast("long").alias("up")
    )
    r = sg.select(
        "up",
        F.when(
            F.lag("up").over(w).isNull() | (F.lag("up").over(w) != F.col("up")), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    tt = r.agg(
        F.sum("up").cast("long").alias("n_plus"),
        F.sum(1 - F.col("up")).cast("long").alias("n_minus"),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    a, b = F.col("n_plus"), F.col("n_minus")
    mu = F.lit(1.0) + 2.0 * a * b / (a + b)
    var = (
        2.0
        * a
        * b
        * (2.0 * a * b - a - b)
        / ((a + b).cast("double") * (a + b) * (a + b - 1))
    )
    z = rnd((F.col("n_runs") - mu) / F.sqrt(var), 6)
    und = (a == 0) | (b == 0)
    return tt.select(
        "n_plus",
        "n_minus",
        "n_runs",
        rnd(mu, 6).alias("expected_runs"),
        F.when(und, F.lit(None).cast("double")).otherwise(z).alias("z_score"),
        F.when(und, F.lit(None).cast("boolean"))
        .otherwise(F.abs(z) >= _FB_CRIT)
        .alias("nonrandom"),
    )


# --- r16: community detection + link prediction + centrality closure ---
#
# The structural family (degree / assortativity / reciprocity /
# triangles / clustering coeff / k-core / common-neighbors / BFS /
# PageRank) reads the trade graph's local shape; these close the shelf
# with the GLOBAL readouts: which nodes form communities (label
# propagation), how good the split is (modularity), which nodes are in
# the same component at all (connected components), which non-edges
# are most likely next (Adamic-Adar), and who is centrally placed
# (harmonic centrality). All share the _trade_edges lowering: one
# data-sized flow agg, then nation-cardinality metadata algebra.

_LP_ROUNDS = 3   # synchronous label-propagation rounds (fixed-round
                 # semantics, the j_pagerank discipline — NOT run-to-
                 # convergence, so iteration k is a pure function of
                 # k-1 and the oracle unrolls exactly k CTEs)
_CC_ROUNDS = 5   # min-label rounds: component = min node id within
                 # <= _CC_ROUNDS hops (converged on the test graphs,
                 # pinned by the every-edge-intra-component property)
_HC_ROUNDS = 4   # BFS horizon for harmonic centrality

# Symmetrized distinct neighbor relation (both directions), the
# undirected view of the capped trade graph — identical text to the
# j_common_neighbors oracle so all graph oracles agree on the graph.
_UND_CTE = """und AS (SELECT DISTINCT u, v FROM (
              SELECT src AS u, dst AS v FROM e
              UNION ALL SELECT dst AS u, src AS v FROM e)
            WHERE u <> v)"""


def _sym_neighbors(t) -> DataFrame:
    """Symmetrized distinct (u, v) neighbor frame of the capped trade
    graph — the DataFrame twin of _UND_CTE."""
    e = _trade_edges(t)
    return (
        e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(e.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _lp_ctes(rounds: int) -> str:
    """The unrolled synchronous label-propagation CTE chain lp0..lpR
    over `und` + `n` (nk spine): new label = most-frequent neighbor
    label, ties to the SMALLEST label, isolated nodes keep their own.
    Shared by the j_label_propagation and j_modularity oracles so both
    engines (and both qids) agree on the communities."""
    ctes = ["lp0 AS (SELECT nk, nk AS lbl FROM n)"]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""lp{k} AS (
      SELECT n.nk, COALESCE(p.newl, prev.lbl) AS lbl
      FROM n
      JOIN lp{k - 1} prev ON prev.nk = n.nk
      LEFT JOIN (
        SELECT u AS nk, lbl AS newl FROM (
          SELECT und.u, l.lbl,
                 ROW_NUMBER() OVER (PARTITION BY und.u
                                    ORDER BY COUNT(*) DESC, l.lbl) AS rk
          FROM und JOIN lp{k - 1} l ON l.nk = und.v
          GROUP BY und.u, l.lbl) x
        WHERE rk = 1) p ON p.nk = n.nk)"""
        )
    return ",\n    ".join(ctes)


def _lp_labels(t, und: DataFrame) -> DataFrame:
    """Synchronous label propagation, _LP_ROUNDS rounds: (nk, lbl) over
    the neighbor frame ``und`` (the caller's _meta1(_sym_neighbors(t))
    leaf, so a qid that also reads the graph builds it once).
    The DataFrame twin of _lp_ctes(_LP_ROUNDS)."""
    # r17: single-partition leaf (_meta1) + SHUFFLE_HASH-hinted round
    # joins — the whole _LP_ROUNDS iteration executes as one fused
    # stage with no per-round exchange or broadcast build (j_pagerank's
    # lowering; values are exact integers, partitioning-independent).
    nodes = t.nation.select(F.col("n_nationkey").alias("nk")).coalesce(1)
    labels = nodes.select("nk", F.col("nk").alias("lbl"))
    for _ in range(_LP_ROUNDS):
        cnt = (
            und.join(
                labels.select(F.col("nk").alias("v"), "lbl").hint("shuffle_hash"),
                "v",
            )
            .groupBy("u", "lbl")
            .agg(F.count("*").alias("c"))
            .coalesce(1)  # inner-SHJ PartitioningCollection fix (j_pagerank)
        )
        wpick = Window.partitionBy("u").orderBy(
            F.col("c").desc(), F.col("lbl").asc()
        )
        pick = (
            cnt.withColumn("rk", F.row_number().over(wpick))
            .where(F.col("rk") == 1)
            .select(F.col("u").alias("nk"), F.col("lbl").alias("newl"))
        )
        # Rebuild from the tiny node spine, NOT from the previous
        # labels frame: an isolated node's label is its own id in
        # every round, so COALESCE(newl, nk) == COALESCE(newl, prev)
        # — and referencing `labels` only once per round (inside
        # `pick`) keeps the lineage LINEAR in the round count (two
        # references double the plan per round: the first form
        # measured 213 Exchanges at 3 rounds from exactly that).
        labels = nodes.join(pick.hint("shuffle_hash"), "nk", "left").select(
            "nk", F.coalesce("newl", "nk").alias("lbl")
        )
    return labels


@query(
    "j_label_propagation",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    {_UND_CTE},
    n AS (SELECT n_nationkey AS nk FROM nation),
    {_lp_ctes(_LP_ROUNDS)},
    sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_members
           FROM lp{_LP_ROUNDS} GROUP BY lbl)
    SELECT nat.n_nationkey, nat.n_name,
           CAST(l.lbl AS BIGINT) AS community, sz.n_members
    FROM lp{_LP_ROUNDS} l
    JOIN sz ON sz.lbl = l.lbl
    JOIN nation nat ON nat.n_nationkey = l.nk
    """,
)
def j_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007, public) over the undirected capped trade
    graph, {R} fixed rounds: every node starts as its own community
    and repeatedly adopts the most-frequent label among its neighbors
    (ties to the smallest label — the determinism LPA famously lacks
    when run asynchronously with random tie-breaks; fixed-round
    synchronous + min-tie-break makes round k a pure function of round
    k-1, so the oracle unrolls exactly {R} CTE rounds, the j_pagerank
    discipline). Output: each nation's community plus the community
    size — the partition j_modularity scores.

    EXACT: labels are node ids (integers) end-to-end; the argmax is a
    (count DESC, label ASC) window rank — no floats anywhere.

    Plan: one data-sized flow agg (shared _trade_edges lowering), then
    {R} rounds of |V|-row broadcast join + (u,lbl) hash agg + per-u
    window — all nation-cardinality metadata. Lineage grows linearly
    in the fixed round count; a high-round deployment adds the lazy
    localCheckpoint every ~8 rounds as j_dedup_cluster does."""
    t = load(spark, sf_dir)
    labels = _lp_labels(t, _meta1(_sym_neighbors(t)))
    sz = labels.groupBy("lbl").agg(F.count("*").cast("long").alias("n_members"))
    return (
        labels.join(sz.hint("shuffle_hash"), "lbl")
        .join(
            F.broadcast(t.nation), F.col("nk") == F.col("n_nationkey")
        )
        .select(
            "n_nationkey",
            "n_name",
            F.col("lbl").cast("long").alias("community"),
            "n_members",
        )
    )


j_label_propagation.__doc__ = j_label_propagation.__doc__.replace(
    "{R}", str(_LP_ROUNDS)
)


@query(
    "j_modularity",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    {_UND_CTE},
    n AS (SELECT n_nationkey AS nk FROM nation),
    {_lp_ctes(_LP_ROUNDS)},
    edg AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM und),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edg),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
    intra AS (SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS e_c
              FROM edg
              JOIN lp{_LP_ROUNDS} la ON la.nk = edg.a
              JOIN lp{_LP_ROUNDS} lb ON lb.nk = edg.b
              WHERE la.lbl = lb.lbl GROUP BY la.lbl),
    dsum AS (SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                    CAST(SUM(deg.d) AS BIGINT) AS d_c
             FROM lp{_LP_ROUNDS} l
             LEFT JOIN deg ON deg.u = l.nk GROUP BY l.lbl)
    SELECT CAST(dsum.lbl AS BIGINT) AS community,
           dsum.n_nodes,
           COALESCE(intra.e_c, 0) AS intra_edges,
           COALESCE(dsum.d_c, 0) AS degree_sum,
           {sql_rnd(
               "(4.0 * mm.m * COALESCE(intra.e_c, 0)"
               " - CAST(COALESCE(dsum.d_c, 0) AS DOUBLE)"
               "   * COALESCE(dsum.d_c, 0))"
               " / (4.0 * mm.m * mm.m)", 6)} AS q_contrib
    FROM dsum CROSS JOIN mm
    LEFT JOIN intra ON intra.lbl = dsum.lbl
    """,
)
def j_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (2004, public) of the label-propagation
    partition — the score that says whether j_label_propagation's
    communities are real structure or noise: per community c,
    q_contrib = e_c/m - (d_c/2m)^2 (intra-edge share minus the share
    expected under the degree-preserving null model), total Q = sum.
    Q is bounded in [-1/2, 1) — pinned as a property test — and the
    per-community decomposition localizes WHICH communities carry the
    structure, the readout a single global Q hides.

    EXACT: edges, degrees, and communities are integers; q_contrib is
    one rounded division of the exact integer (4*m*e_c - d_c^2) by
    4m^2. The communities are the SAME relation as
    j_label_propagation's (shared _lp_ctes chain / _lp_labels frame),
    so the two qids cannot drift apart.

    Plan: the flow agg is the only data pass; edge canonicalization,
    the LP rounds, both rollups, and the final fold are
    |V|-cardinality broadcast algebra."""
    t = load(spark, sf_dir)
    # r17: single-partition leaf fuse — every rollup below is
    # |V|-bounded metadata, so with labels/und pinned (_meta1) and the
    # joins SHUFFLE_HASH-hinted the whole modularity fold is one stage
    # after the flow agg (j_pagerank's lowering). _meta1's checkpoint
    # leaf also serves the multi-consumer role the persists played.
    und = _meta1(_sym_neighbors(t))  # consumers: labels, edg, deg
    labels = _meta1(_lp_labels(t, und))  # consumers: intra (x2), dsum
    edg = und.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    mm = edg.agg(F.count("*").cast("long").alias("m"))
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    la = labels.select(F.col("nk").alias("a"), F.col("lbl").alias("lbl_a"))
    lb = labels.select(F.col("nk").alias("b"), F.col("lbl").alias("lbl_b"))
    intra = (
        edg.join(la.hint("shuffle_hash"), "a")
        .coalesce(1)  # inner-SHJ PartitioningCollection fix (j_pagerank)
        .join(lb.hint("shuffle_hash"), "b")
        .where(F.col("lbl_a") == F.col("lbl_b"))
        .groupBy(F.col("lbl_a").alias("lbl"))
        .agg(F.count("*").cast("long").alias("e_c"))
        .coalesce(1)
    )
    dsum = (
        labels.join(deg.hint("shuffle_hash"), labels.nk == deg.u, "left")
        .groupBy("lbl")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("d_c"),
        )
    )
    out = (
        # intra joins FIRST, while both sides are still SinglePartition;
        # the 1-row mm crossJoin (a BroadcastNestedLoopJoin that drops
        # the partitioning property) comes last, above every join that
        # needs the fuse
        dsum.join(intra.hint("shuffle_hash"), "lbl", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            F.col("lbl").cast("long").alias("community"),
            "n_nodes",
            F.coalesce("e_c", F.lit(0)).cast("long").alias("intra_edges"),
            F.coalesce("d_c", F.lit(0)).cast("long").alias("degree_sum"),
            rnd(
                (
                    4.0 * F.col("m") * F.coalesce("e_c", F.lit(0))
                    - F.coalesce("d_c", F.lit(0)).cast("double")
                    * F.coalesce("d_c", F.lit(0))
                )
                / (4.0 * F.col("m") * F.col("m")),
                6,
            ).alias("q_contrib"),
        )
    )
    return out


def _cc_ctes(rounds: int) -> str:
    """Unrolled min-label propagation cc0..ccR: component label =
    min node id within <= R hops."""
    ctes = ["cc0 AS (SELECT nk, nk AS lbl FROM n)"]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""cc{k} AS (
      SELECT n.nk, least(prev.lbl, COALESCE(mn.ml, prev.lbl)) AS lbl
      FROM n
      JOIN cc{k - 1} prev ON prev.nk = n.nk
      LEFT JOIN (SELECT und.u AS nk, MIN(l.lbl) AS ml
                 FROM und JOIN cc{k - 1} l ON l.nk = und.v
                 GROUP BY und.u) mn ON mn.nk = n.nk)"""
        )
    return ",\n    ".join(ctes)


@query(
    "j_connected_components",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    {_UND_CTE},
    n AS (SELECT n_nationkey AS nk FROM nation),
    {_cc_ctes(_CC_ROUNDS)},
    sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS comp_size
           FROM cc{_CC_ROUNDS} GROUP BY lbl)
    SELECT nat.n_nationkey, nat.n_name,
           CAST(c.lbl AS BIGINT) AS component, sz.comp_size
    FROM cc{_CC_ROUNDS} c
    JOIN sz ON sz.lbl = c.lbl
    JOIN nation nat ON nat.n_nationkey = c.nk
    """,
)
def j_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by fixed-round min-label propagation over
    the undirected trade graph: every node starts labeled with its own
    id and repeatedly takes the minimum of its own and its neighbors'
    labels — after R rounds the label is exactly the minimum node id
    within R hops, and once R reaches the component's eccentricity
    from its minimum node, the label IS the component id (the
    classic HashMin algorithm, e.g. Rastogi et al. 2013, public;
    the pointer-doubling variant in j_dedup_cluster covers the
    high-diameter regime — this qid is the plain propagation form on
    a low-diameter graph). Convergence at the test scales is pinned
    by the every-edge-joins-equal-labels property test, so the
    fixed-round semantics and the component semantics coincide.

    EXACT: labels are integer node ids; min is exact; sizes are
    counts.

    Plan: one data-sized flow agg, then {R} rounds of |V|-row
    broadcast join + min agg — nation-cardinality metadata; linear
    lineage in the fixed round count."""
    t = load(spark, sf_dir)
    und = _sym_neighbors(t)
    nodes = t.nation.select(F.col("n_nationkey").alias("nk")).coalesce(1)
    # Self-loops make each round a SINGLE reference to the previous
    # labels frame (min over neighbors-including-self == least(own,
    # min neighbor)) — linear lineage instead of the 2^R plan blowup
    # the least()/left-join form measured (871 Exchanges at 5 rounds).
    # r17: single-partition leaf + SHUFFLE_HASH rounds (j_pagerank's
    # lowering) — all _CC_ROUNDS min-label rounds run as one stage.
    und2 = _meta1(
        und.unionByName(
            nodes.select(F.col("nk").alias("u"), F.col("nk").alias("v"))
        )
    )
    labels = nodes.select("nk", F.col("nk").alias("lbl"))
    for _ in range(_CC_ROUNDS):
        labels = (
            und2.join(
                labels.select(F.col("nk").alias("v"), "lbl").hint("shuffle_hash"),
                "v",
            )
            .groupBy(F.col("u").alias("nk"))
            .agg(F.min("lbl").alias("lbl"))
            .coalesce(1)  # inner-SHJ PartitioningCollection fix (j_pagerank)
        )
    sz = labels.groupBy("lbl").agg(F.count("*").cast("long").alias("comp_size"))
    return (
        labels.join(sz.hint("shuffle_hash"), "lbl")
        .join(F.broadcast(t.nation), F.col("nk") == F.col("n_nationkey"))
        .select(
            "n_nationkey",
            "n_name",
            F.col("lbl").cast("long").alias("component"),
            "comp_size",
        )
    )


j_connected_components.__doc__ = j_connected_components.__doc__.replace(
    "{R}", str(_CC_ROUNDS)
)


@query(
    "j_adamic_adar",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    {_UND_CTE},
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
    wedge AS (SELECT a.u AS u, b.u AS v, a.v AS w
              FROM und a JOIN und b ON a.v = b.v AND a.u < b.u),
    scored AS (SELECT wedge.u, wedge.v,
                      CAST(COUNT(*) AS BIGINT) AS n_common,
                      CAST(SUM(CAST(FLOOR(1000000.0 / LN(deg.d) + 0.5)
                                    AS BIGINT)) AS BIGINT) AS aa6
               FROM wedge JOIN deg ON deg.u = wedge.w
               GROUP BY wedge.u, wedge.v)
    SELECT s.u, s.v, s.n_common,
           EXISTS (SELECT 1 FROM und WHERE und.u = s.u AND und.v = s.v)
             AS adjacent,
           s.aa6, s.aa6 / 1000000.0 AS aa_score
    FROM scored s
    """,
)
def j_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003, public) over
    the undirected trade graph — the degree-weighted refinement of
    j_common_neighbors: a shared neighbor w votes 1/ln(deg(w)), so a
    promiscuous hub certifies a pair far more weakly than a selective
    mutual partner. Scores every pair with >= 1 common neighbor plus
    an `adjacent` flag (non-adjacent high scorers are the predicted
    next edges).

    EXACT across engines: each 1/ln(d) term is floored ONCE onto the
    1e-6 grid as a BIGINT (d >= 2 always — a common neighbor has at
    least its two endpoints — so ln(d) > 0), the pair score sums those
    integers (the no-pre-rounded-double-sums rule), and the display
    value is one exact division. ln() is libm on both engines; the
    grid flooring is the repo's standard containment for its
    implementation-defined last ulp.

    Plan: identical wedge join to j_common_neighbors (one triangle
    leg) with the degree broadcast moved INSIDE the wedge agg; all
    |V|^2-bounded metadata after the shared flow agg."""
    t = load(spark, sf_dir)
    und = _sym_neighbors(t)
    und.persist()  # consumers: wedge x2, degrees, adjacency probe
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    a = und.select(F.col("u").alias("u"), F.col("v").alias("w"))
    b = und.select(F.col("u").alias("v"), F.col("v").alias("w"))
    term = F.expr("CAST(FLOOR(1000000.0 / LN(d) + 0.5) AS BIGINT)")
    scored = (
        a.join(b, "w")
        .where(F.col("u") < F.col("v"))
        .join(F.broadcast(deg.select(F.col("u").alias("w"), "d")), "w")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(term).cast("long").alias("aa6"),
        )
    )
    adj = und.select("u", "v", F.lit(True).alias("adjacent"))
    return (
        scored.join(F.broadcast(adj), ["u", "v"], "left")
        .select(
            "u",
            "v",
            "n_common",
            F.coalesce("adjacent", F.lit(False)).alias("adjacent"),
            "aa6",
            (F.col("aa6") / F.lit(1000000.0)).alias("aa_score"),
        )
    )


def _hc_ctes(rounds: int) -> str:
    """Unrolled all-pairs bounded-hop BFS hd0..hdR: hd{{k}}(s, t, dist)
    = shortest path length <= k between s and t."""
    ctes = ["hd0 AS (SELECT nk AS s, nk AS t, CAST(0 AS BIGINT) AS dist FROM n)"]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""hd{k} AS (
      SELECT s, t, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT s, t, dist FROM hd{k - 1}
        UNION ALL
        SELECT p.s, und.v AS t, p.dist + 1 AS dist
        FROM hd{k - 1} p JOIN und ON und.u = p.t) x
      GROUP BY s, t)"""
        )
    return ",\n    ".join(ctes)


@query(
    "j_harmonic_centrality",
    oracle=f"""
    WITH {_TRADE_E_CTES},
    {_UND_CTE},
    n AS (SELECT n_nationkey AS nk FROM nation),
    {_hc_ctes(_HC_ROUNDS)}
    SELECT nat.n_nationkey, nat.n_name,
           CAST(COUNT(*) FILTER (WHERE d.dist > 0) AS BIGINT) AS n_reached,
           CAST(SUM(CASE WHEN d.dist > 0 THEN 1000000 // d.dist
                         ELSE 0 END) AS BIGINT) AS hc6,
           CAST(SUM(CASE WHEN d.dist > 0 THEN 1000000 // d.dist
                         ELSE 0 END) AS BIGINT) / 1000000.0 AS harmonic
    FROM hd{_HC_ROUNDS} d
    JOIN nation nat ON nat.n_nationkey = d.s
    GROUP BY nat.n_nationkey, nat.n_name
    """,
)
def j_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna 2014, public) within a
    {R}-hop horizon over the undirected trade graph:
    HC(v) = sum over reachable u != v of 1/d(v, u) — the
    disconnection-robust closeness variant (unreachable nodes
    contribute 0 instead of breaking the mean), computed from
    all-pairs bounded-hop BFS (hd{R} = min distance within {R} hops,
    the multi-source generalization of j_bfs_distance's single-source
    frontier). The per-node readout that ranks WHERE in the graph a
    nation sits, beside j_pagerank's flow-based rank.

    EXACT: distances are integer hop counts; each 1/d term is the
    exact integer 1000000 div d summed in BIGINT; display is one
    division.

    Plan: after the shared flow agg everything is |V|^2-bounded
    metadata ({R} rounds of |V|^2-row broadcast join + min agg). At
    100 TB a node-level (rather than nation-level) centrality swaps
    this for the HyperBall sketch family (j_hll_merge's registers) —
    same round structure, registers instead of exact pair rows."""
    t = load(spark, sf_dir)
    und = _sym_neighbors(t)
    nodes = t.nation.select(F.col("n_nationkey").alias("nk"))
    # Zero-cost self-loops turn "union previous with the relaxed step"
    # (two references to d per round -> 2^R plan growth) into ONE
    # min-plus join per round: a walk may "wait" on a self-loop, so
    # min over walks of length <= k is unchanged. Linear lineage, the
    # j_pagerank discipline.
    und2 = und.select("u", "v", F.lit(1).alias("cost")).unionByName(
        nodes.select(
            F.col("nk").alias("u"), F.col("nk").alias("v"), F.lit(0).alias("cost")
        )
    )
    und2.persist()  # one consumer per round
    d = nodes.select(
        F.col("nk").alias("s"), F.col("nk").alias("t"), F.lit(0).cast("long").alias("dist")
    )
    for _ in range(_HC_ROUNDS):
        d = (
            d.join(F.broadcast(und2), d.t == und2.u)
            .select("s", F.col("v").alias("t"), (F.col("dist") + F.col("cost")).alias("dist"))
            .groupBy("s", "t")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
    pos = F.col("dist") > 0
    per = d.groupBy("s").agg(
        F.count(F.when(pos, 1)).cast("long").alias("n_reached"),
        F.sum(F.when(pos, F.expr("1000000 div dist")).otherwise(0))
        .cast("long")
        .alias("hc6"),
    )
    return per.join(
        F.broadcast(t.nation), F.col("s") == F.col("n_nationkey")
    ).select(
        "n_nationkey",
        "n_name",
        "n_reached",
        "hc6",
        (F.col("hc6") / F.lit(1000000.0)).alias("harmonic"),
    )


j_harmonic_centrality.__doc__ = j_harmonic_centrality.__doc__.replace(
    "{R}", str(_HC_ROUNDS)
)


# --- r16: paired / blocked rank-test closure --------------------------
#
# The rater panel (Fleiss / McNemar / Cochran) judges keep/drop VOTES;
# these close the ordinal side: three comparable per-mille quality
# SCORES per document (length, whitespace structure, type-token
# diversity — the same axes as quality_rater_cols, but graded), asked
# the two questions votes cannot answer: do the scorers differ in
# LEVEL (Friedman) and do they agree in ORDERING (Kendall's W)? Plus
# the paired two-sample member (Wilcoxon signed-rank) on the daily
# click/view series.

# The three graded raters, shared by j_friedman_test / j_kendall_w.
# All integer per-mille scores so rank ties are well-defined across
# engines.
_GR1_SQL = "LEAST(1000, n_chars)"
_GR2_SQL = (
    "(1000 * (length(text) - length(replace(text, ' ', ''))))"
    " // length(text)"
)
_GR3_SQL = (
    "(1000 * len(list_distinct(string_split(text, ' '))))"
    " // len(string_split(text, ' '))"
)


def graded_rater_cols() -> tuple[Column, Column, Column]:
    """The three integer per-mille quality scores (DataFrame twins of
    _GR1_SQL/_GR2_SQL/_GR3_SQL)."""
    toks = F.split(F.col("text"), " ")
    s1 = F.least(F.lit(1000), F.col("n_chars")).cast("long")
    s2 = F.expr(
        "(1000 * (length(text) - length(replace(text, ' ', ''))))"
        " div length(text)"
    ).cast("long")
    s3 = (
        (1000 * F.size(F.array_distinct(toks)))
        .cast("long")
        / F.size(toks).cast("long")
    ).cast("long")
    return s1, s2, s3


_FRIED_CRIT = 5.991  # chi-square 0.05 critical value, df = k - 1 = 2


@query(
    "j_friedman_test",
    oracle=f"""
    WITH s AS (SELECT CAST({_GR1_SQL} AS BIGINT) AS s1,
                      CAST({_GR2_SQL} AS BIGINT) AS s2,
                      CAST({_GR3_SQL} AS BIGINT) AS s3
               FROM documents),
    r AS (SELECT
            2 * (CASE WHEN s2 < s1 THEN 1 ELSE 0 END
               + CASE WHEN s3 < s1 THEN 1 ELSE 0 END)
            + (CASE WHEN s2 = s1 THEN 1 ELSE 0 END
             + CASE WHEN s3 = s1 THEN 1 ELSE 0 END) + 2 AS m1,
            2 * (CASE WHEN s1 < s2 THEN 1 ELSE 0 END
               + CASE WHEN s3 < s2 THEN 1 ELSE 0 END)
            + (CASE WHEN s1 = s2 THEN 1 ELSE 0 END
             + CASE WHEN s3 = s2 THEN 1 ELSE 0 END) + 2 AS m2,
            2 * (CASE WHEN s1 < s3 THEN 1 ELSE 0 END
               + CASE WHEN s2 < s3 THEN 1 ELSE 0 END)
            + (CASE WHEN s1 = s3 THEN 1 ELSE 0 END
             + CASE WHEN s2 = s3 THEN 1 ELSE 0 END) + 2 AS m3
          FROM s),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(m1) AS BIGINT) AS r2_1,
                 CAST(SUM(m2) AS BIGINT) AS r2_2,
                 CAST(SUM(m3) AS BIGINT) AS r2_3,
                 CAST(SUM(CAST(m1 AS HUGEINT) * m1
                        + CAST(m2 AS HUGEINT) * m2
                        + CAST(m3 AS HUGEINT) * m3) AS HUGEINT) AS a2
          FROM r)
    SELECT n AS n_blocks, CAST(3 AS BIGINT) AS k_treatments,
           r2_1, r2_2, r2_3,
           {sql_rnd(
               "2.0 * (CAST(r2_1 AS DOUBLE) * r2_1"
               "     + CAST(r2_2 AS DOUBLE) * r2_2"
               "     + CAST(r2_3 AS DOUBLE) * r2_3"
               "     - 48.0 * n * n)"
               " / (CAST(a2 AS DOUBLE) - 48.0 * n)", 6)} AS chi2_f,
           {sql_rnd(
               "2.0 * (CAST(r2_1 AS DOUBLE) * r2_1"
               "     + CAST(r2_2 AS DOUBLE) * r2_2"
               "     + CAST(r2_3 AS DOUBLE) * r2_3"
               "     - 48.0 * n * n)"
               " / (CAST(a2 AS DOUBLE) - 48.0 * n)", 6)} > {_FRIED_CRIT}
             AS significant
    FROM a
    """,
)
def j_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test (public 1937 statistic) for the three graded
    quality scorers over document blocks: within each document the
    three per-mille scores are midranked (k = 3, so the rank algebra
    is SIX inline comparisons — no window at all), and the
    tie-corrected statistic (Conover's form)
    chi2 = (k-1)(SUM R_j^2 - n^2 k(k+1)^2/4) / (A - n k(k+1)^2/4)
    asks whether any scorer systematically grades higher — the
    k-sample BLOCKED generalization of the sign test, and for graded
    scores what Cochran's Q is for the binary raters (same panel
    discipline). In doubled midranks every quantity is an exact
    integer: chi2 = 2(SUM R2_j^2 - 48 n^2)/(A2 - 48 n) for k = 3.

    EXACT: integer per-mille scores -> integer doubled midranks ->
    BIGINT/HUGEINT sums; one rounded display division.

    Plan: ONE stateless projection + ONE single-row fold over the
    document scan — the cheapest shape in the registry (the Fleiss
    discipline); at 100 TB it is a map-side-combined scalar agg."""
    t = load(spark, sf_dir)
    s1, s2, s3 = graded_rater_cols()
    s = t.documents.select(s1.alias("s1"), s2.alias("s2"), s3.alias("s3"))

    def m(self_c, o1, o2):
        # doubled midrank = 2*c_less + c_eq + 1 with c_eq INCLUDING
        # self, i.e. 2*less_others + eq_others + 2 (per-block ranks
        # must sum to k(k+1) = 12 — the property pin that caught the
        # off-by-one first draft)
        less = (o1 < self_c).cast("long") + (o2 < self_c).cast("long")
        eq = (o1 == self_c).cast("long") + (o2 == self_c).cast("long")
        return 2 * less + eq + 2

    r = s.select(
        m(F.col("s1"), F.col("s2"), F.col("s3")).alias("m1"),
        m(F.col("s2"), F.col("s1"), F.col("s3")).alias("m2"),
        m(F.col("s3"), F.col("s1"), F.col("s2")).alias("m3"),
    )
    dec = "decimal(38,0)"
    a = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("m1").cast("long").alias("r2_1"),
        F.sum("m2").cast("long").alias("r2_2"),
        F.sum("m3").cast("long").alias("r2_3"),
        F.sum(
            F.col("m1").cast(dec) * F.col("m1")
            + F.col("m2").cast(dec) * F.col("m2")
            + F.col("m3").cast(dec) * F.col("m3")
        )
        .cast(dec)
        .alias("a2"),
    )
    chi2 = rnd(
        2.0
        * (
            F.col("r2_1").cast("double") * F.col("r2_1")
            + F.col("r2_2").cast("double") * F.col("r2_2")
            + F.col("r2_3").cast("double") * F.col("r2_3")
            - 48.0 * F.col("n") * F.col("n")
        )
        / (F.col("a2").cast("double") - 48.0 * F.col("n")),
        6,
    )
    return a.select(
        F.col("n").alias("n_blocks"),
        F.lit(3).cast("long").alias("k_treatments"),
        "r2_1",
        "r2_2",
        "r2_3",
        chi2.alias("chi2_f"),
        (chi2 > _FRIED_CRIT).alias("significant"),
    )


_WSR_CRIT = 1.96  # two-sided normal 0.05


@query(
    "j_wilcoxon_signed",
    oracle=f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                           AS BIGINT) AS x,
                      CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                           AS BIGINT) AS y
               FROM events GROUP BY 1),
    nz AS (SELECT ABS(x - y) AS a,
                  CASE WHEN x > y THEN 1 ELSE 0 END AS pos
           FROM d WHERE x <> y),
    z AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_zero
          FROM d WHERE x = y),
    cells AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(SUM(pos) AS BIGINT) AS npos
              FROM nz GROUP BY a),
    rk AS (SELECT a, cnt, npos,
                  CAST(COALESCE(SUM(cnt) OVER (ORDER BY a
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cumb
           FROM cells),
    agg AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(npos * (2 * cumb + cnt + 1)) AS BIGINT) AS w2p,
                   CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
                        AS HUGEINT) AS tie3
            FROM rk)
    SELECT agg.n AS n_pairs, z.n_zero,
           agg.w2p AS w2_plus,
           agg.n * (agg.n + 1) - agg.w2p AS w2_minus,
           {sql_rnd(
               "(CAST(w2p AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2)"
               " / sqrt((2.0 * n * (n + 1) * (2 * n + 1)"
               "         - CAST(tie3 AS DOUBLE)) / 12)", 4)} AS z_stat,
           ABS({sql_rnd(
               "(CAST(w2p AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2)"
               " / sqrt((2.0 * n * (n + 1) * (2 * n + 1)"
               "         - CAST(tie3 AS DOUBLE)) / 12)", 4)}) > {_WSR_CRIT}
             AS significant
    FROM agg CROSS JOIN z
    """,
)
def j_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test (public 1945 statistic) on the PAIRED
    daily click-vs-view volumes: per day the difference d = clicks -
    views, zeros dropped (and counted), |d| midranked over the value
    domain, W+ = rank sum of the positive days; the tie-corrected
    normal approximation z = (W+ - n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 -
    T/48). The PAIRED member the inference shelf lacked: j_mannwhitney
    compares two independent samples, j_ab_ttest assumes
    interval-scale means — this is the distribution-free test for
    matched pairs (same day, two metrics), the one a metrics platform
    reaches for on day-over-day deltas.

    EXACT (the j_mannwhitney doubled-midrank device): |d| is an
    integer count difference, the doubled midrank of a tie block is
    2*cum_before + n_v + 1, W2+ = 2 W+ and the tie term are
    BIGINT/HUGEINT; in doubled units z = (W2+ - n(n+1)/2) /
    sqrt((2n(n+1)(2n+1) - T2)/12) with T2 = SUM(t^3 - t), one rounded
    display division.

    Plan: one day agg over the event scan (the j_ts_crosscorr
    lowering), then value-domain metadata: an |d|-histogram, one
    ordered prefix window over it (UNPARTITIONED by design — |distinct
    d| rows), one fold."""
    t = load(spark, sf_dir)
    d = (
        t.events.select(
            F.timestamp_millis(F.col("ts_ms")).cast("date").alias("day"),
            "event_type",
        )
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).cast("long").alias("x"),
            F.count(F.when(F.col("event_type") == "view", 1)).cast("long").alias("y"),
        )
    )
    d.persist()  # consumers: nonzero cells + zero count
    nz = d.where(F.col("x") != F.col("y")).select(
        F.abs(F.col("x") - F.col("y")).alias("a"),
        (F.col("x") > F.col("y")).cast("long").alias("pos"),
    )
    zeros = d.where(F.col("x") == F.col("y")).agg(
        F.count("*").cast("long").alias("n_zero")
    )
    cells = nz.groupBy("a").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("npos"),
    )
    wr = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, -1)
    rk = cells.select(
        "a",
        "cnt",
        "npos",
        F.coalesce(F.sum("cnt").over(wr), F.lit(0)).cast("long").alias("cumb"),
    )
    dec = "decimal(38,0)"
    agg = rk.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("npos") * (2 * F.col("cumb") + F.col("cnt") + 1))
        .cast("long")
        .alias("w2p"),
        F.sum(F.col("cnt").cast(dec) * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast(dec)
        .alias("tie3"),
    )
    z = rnd(
        (F.col("w2p").cast("double") - F.col("n").cast("double") * (F.col("n") + 1) / 2)
        / F.sqrt(
            (
                2.0 * F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1)
                - F.col("tie3").cast("double")
            )
            / 12
        ),
        4,
    )
    return agg.crossJoin(F.broadcast(zeros)).select(
        F.col("n").alias("n_pairs"),
        "n_zero",
        F.col("w2p").alias("w2_plus"),
        (F.col("n") * (F.col("n") + 1) - F.col("w2p")).alias("w2_minus"),
        z.alias("z_stat"),
        (F.abs(z) > _WSR_CRIT).alias("significant"),
    )


def _kw_rank_cte(j: int) -> str:
    """Per-rater corpus-wide doubled-midrank lookup table: for rater j,
    (value -> 2*cum_before + n_v + 1) plus the rater's tie mass."""
    return f"""h{j} AS (SELECT s{j} AS v, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM s GROUP BY s{j}),
    r{j} AS (SELECT v, cnt,
                    2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) + cnt + 1 AS m2
             FROM h{j}),
    t{j} AS (SELECT CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
                         AS HUGEINT) AS tie FROM h{j})"""


@query(
    "j_kendall_w",
    oracle=f"""
    WITH s AS (SELECT CAST({_GR1_SQL} AS BIGINT) AS s1,
                      CAST({_GR2_SQL} AS BIGINT) AS s2,
                      CAST({_GR3_SQL} AS BIGINT) AS s3
               FROM documents),
    {_kw_rank_cte(1)},
    {_kw_rank_cte(2)},
    {_kw_rank_cte(3)},
    per AS (SELECT r1.m2 + r2.m2 + r3.m2 AS s2sum
            FROM s
            JOIN r1 ON r1.v = s.s1
            JOIN r2 ON r2.v = s.s2
            JOIN r3 ON r3.v = s.s3),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(s2sum - 3 * ((SELECT COUNT(*) FROM s) + 1)
                                 AS HUGEINT)
                            * (s2sum - 3 * ((SELECT COUNT(*) FROM s) + 1)))
                        AS HUGEINT) AS dev2sq
            FROM per),
    ties AS (SELECT t1.tie + t2.tie + t3.tie AS tsum
             FROM t1 CROSS JOIN t2 CROSS JOIN t3)
    SELECT agg.n AS n_items, CAST(3 AS BIGINT) AS m_raters,
           {sql_rnd(
               "CAST(dev2sq AS DOUBLE)"
               " / (3.0 * (CAST(n AS DOUBLE) * n * n - n)"
               "    - CAST(tsum AS DOUBLE))", 6)} AS w,
           {sql_rnd(
               "(3.0 * (CAST(dev2sq AS DOUBLE)"
               " / (3.0 * (CAST(n AS DOUBLE) * n * n - n)"
               "    - CAST(tsum AS DOUBLE))) - 1.0) / 2.0", 6)}
             AS avg_spearman
    FROM agg CROSS JOIN ties
    """,
)
def j_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W (public 1939 statistic)
    among the three graded quality scorers, each ranking the WHOLE
    corpus (tie-corrected): W = SUM_i (S_i - mean)^2 / (m^2(n^3-n)/12
    - m SUM T_j / 12) — the ORDERING-agreement question beside
    j_friedman_test's level question on the same scorer panel (and the
    m-rater generalization of j_spearman_corr: avg pairwise Spearman
    rho = (mW - 1)/(m - 1), emitted as a column). W in [0, 1] is the
    property pin.

    EXACT: per-rater corpus-wide DOUBLED midranks come from the
    value-domain histogram (2*cum_before + n_v + 1 — the
    j_kruskal_wallis device, once per rater), so each document's rank
    sum S2_i and its deviation from the exact mean m(n+1) are
    integers; in doubled units W = SUM dev2^2 / (3(n^3-n) - SUM T) for
    m = 3. HUGEINT/DECIMAL(38,0) throughout (dev2^2 sums reach ~1e19
    at sf1); one rounded display division.

    Plan: one stateless projection; three value-domain histograms
    (metadata-sized) with one unpartitioned prefix window each; three
    BROADCAST hash joins back onto the doc-sized score frame; one
    fold. The corpus crosses the shuffle only as (s1,s2,s3) integer
    triples."""
    t = load(spark, sf_dir)
    s1, s2, s3 = graded_rater_cols()
    s = t.documents.select(s1.alias("s1"), s2.alias("s2"), s3.alias("s3"))
    s.persist()  # consumers: three histograms + the rank-sum join
    dec = "decimal(38,0)"
    wr = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    rks, ties = [], []
    for j in (1, 2, 3):
        h = s.groupBy(F.col(f"s{j}").alias("v")).agg(
            F.count("*").cast("long").alias("cnt")
        )
        rk = h.select(
            "v",
            (
                2 * F.coalesce(F.sum("cnt").over(wr), F.lit(0))
                + F.col("cnt")
                + 1
            )
            .cast("long")
            .alias(f"m2_{j}"),
        )
        rks.append(rk)
        ties.append(
            h.agg(
                F.sum(
                    F.col("cnt").cast(dec) * F.col("cnt") * F.col("cnt")
                    - F.col("cnt")
                )
                .cast(dec)
                .alias(f"tie{j}")
            )
        )
    nn = s.agg(F.count("*").cast("long").alias("n"))
    per = (
        s.join(F.broadcast(rks[0]), s.s1 == rks[0].v)
        .drop("v")
        .join(F.broadcast(rks[1]), s.s2 == rks[1].v)
        .drop("v")
        .join(F.broadcast(rks[2]), s.s3 == rks[2].v)
        .drop("v")
        .crossJoin(F.broadcast(nn))
        .select(
            (
                F.col("m2_1") + F.col("m2_2") + F.col("m2_3")
                - 3 * (F.col("n") + 1)
            ).alias("dev2")
        )
    )
    agg = per.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("dev2").cast(dec) * F.col("dev2")).cast(dec).alias("dev2sq"),
    )
    tie = ties[0].crossJoin(ties[1]).crossJoin(ties[2]).select(
        (F.col("tie1") + F.col("tie2") + F.col("tie3")).cast(dec).alias("tsum")
    )
    # avg_spearman derives from the UNROUNDED W on both engines (the
    # oracle does the same) — deriving it from the rounded column
    # would compound two roundings and can flip the 1e-6 grid.
    w_raw = F.col("dev2sq").cast("double") / (
        3.0 * (F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n"))
        - F.col("tsum").cast("double")
    )
    return agg.crossJoin(F.broadcast(tie)).select(
        F.col("n").alias("n_items"),
        F.lit(3).cast("long").alias("m_raters"),
        rnd(w_raw, 6).alias("w"),
        rnd((3.0 * w_raw - 1.0) / 2.0, 6).alias("avg_spearman"),
    )


@query(
    "j_cohens_d",
    oracle=f"""
    WITH g AS (
      SELECT event_type, value,
             CASE WHEN substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS grp
      FROM events),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (grp = 'A') AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (grp = 'B') AS BIGINT) AS n_b,
             FLOOR(AVG(value) FILTER (grp = 'A') * 1000000 + 0.5) / 1000000 AS mean_a,
             FLOOR(AVG(value) FILTER (grp = 'B') * 1000000 + 0.5) / 1000000 AS mean_b,
             FLOOR(var_samp(value) FILTER (grp = 'A') * 1000000 + 0.5) / 1000000 AS var_a,
             FLOOR(var_samp(value) FILTER (grp = 'B') * 1000000 + 0.5) / 1000000 AS var_b
      FROM g GROUP BY event_type),
    d AS (
      SELECT *,
             (mean_a - mean_b)
             / sqrt(((n_a - 1) * var_a + (n_b - 1) * var_b)
                    / (n_a + n_b - 2)) AS d_raw
      FROM s),
    r AS (
      SELECT event_type, n_a, n_b,
             FLOOR(d_raw * 10000 + 0.5) / 10000 AS cohens_d,
             FLOOR(d_raw * (1.0 - 3.0 / (4.0 * (n_a + n_b - 2) - 1))
                   * 10000 + 0.5) / 10000 AS hedges_g
      FROM d)
    SELECT event_type, n_a, n_b, cohens_d, hedges_g,
           CASE WHEN ABS(cohens_d) < 0.2 THEN 'negligible'
                WHEN ABS(cohens_d) < 0.5 THEN 'small'
                WHEN ABS(cohens_d) < 0.8 THEN 'medium'
                ELSE 'large' END AS effect_class
    FROM r
    """,
)
def j_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size (public 1969/1988) per event type over
    the SAME salted-md5 A/B split as j_ab_ttest, with Hedges'
    small-sample correction g = d * (1 - 3/(4 df - 1)) and the
    conventional magnitude class — the column the t test is missing:
    at 100 TB event volume every difference is "significant", and the
    decision-relevant number is the STANDARDIZED size, not the
    p-value. Pooled-SD form (vs Welch's per-arm variances in the t
    qid): d = (mean_a - mean_b) / s_p, s_p^2 = ((n_a-1)var_a +
    (n_b-1)var_b) / (n_a + n_b - 2).

    EXACT: means/variances pre-round 1e-6 from the single conditional
    agg (the j_ab_ttest device); d and g round 1e-4 BEFORE the class
    thresholds compare, so the label can never flip between engines;
    g derives from the UNROUNDED d.

    Plan: ONE map-side-combined conditional agg on event_type — no
    arm self-join, no second scan; |event_type| output rows."""
    t = load(spark, sf_dir)
    grp = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ab"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        "A",
    ).otherwise("B")
    g = t.events.select("event_type", "value", grp.alias("grp"))
    a = F.col("grp") == "A"
    b = F.col("grp") == "B"
    s = g.groupBy("event_type").agg(
        F.count(F.when(a, 1)).cast("long").alias("n_a"),
        F.count(F.when(b, 1)).cast("long").alias("n_b"),
        rnd(F.avg(F.when(a, F.col("value"))), 6).alias("mean_a"),
        rnd(F.avg(F.when(b, F.col("value"))), 6).alias("mean_b"),
        rnd(F.var_samp(F.when(a, F.col("value"))), 6).alias("var_a"),
        rnd(F.var_samp(F.when(b, F.col("value"))), 6).alias("var_b"),
    )
    df_ = F.col("n_a") + F.col("n_b") - 2
    d_raw = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        ((F.col("n_a") - 1) * F.col("var_a") + (F.col("n_b") - 1) * F.col("var_b"))
        / df_
    )
    dd = rnd(d_raw, 4)
    gg = rnd(d_raw * (F.lit(1.0) - 3.0 / (4.0 * df_ - 1)), 4)
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        dd.alias("cohens_d"),
        gg.alias("hedges_g"),
        F.when(F.abs(dd) < 0.2, "negligible")
        .when(F.abs(dd) < 0.5, "small")
        .when(F.abs(dd) < 0.8, "medium")
        .otherwise("large")
        .alias("effect_class"),
    )


@query(
    "j_cliffs_delta",
    oracle=f"""
    WITH d AS (SELECT source, n_chars AS v FROM documents
               WHERE source IN ('{_MW_A}', '{_MW_B}')),
    g AS (SELECT v,
                 CAST(COUNT(*) FILTER (source = '{_MW_A}') AS BIGINT) AS ca,
                 CAST(COUNT(*) FILTER (source = '{_MW_B}') AS BIGINT) AS cb
          FROM d GROUP BY v),
    w AS (SELECT v, ca, cb, ca + cb AS c,
                 CAST(COALESCE(SUM(ca + cb) OVER (
                     ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS cumb
          FROM g),
    s AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                 CAST(SUM(cb) AS BIGINT) AS nb,
                 SUM(CAST(ca AS DECIMAL(38,0)) * (2 * cumb + c + 1)) AS r2a
          FROM w),
    f AS (SELECT na, nb,
                 r2a - CAST(na AS DECIMAL(38,0)) * (na + 1) AS u2a
          FROM s),
    r AS (SELECT '{_MW_A}' AS source_a, '{_MW_B}' AS source_b,
                 na AS n_a, nb AS n_b,
                 CAST(u2a AS BIGINT) AS u2_a,
                 FLOOR((CAST(u2a AS DOUBLE)
                        / (CAST(na AS DOUBLE) * nb) - 1.0)
                       * 1000000 + 0.5) / 1000000 AS cliffs_delta
          FROM f)
    SELECT *,
           CASE WHEN ABS(cliffs_delta) < 0.147 THEN 'negligible'
                WHEN ABS(cliffs_delta) < 0.33 THEN 'small'
                WHEN ABS(cliffs_delta) < 0.474 THEN 'medium'
                ELSE 'large' END AS effect_class
    FROM r
    """,
)
def j_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta (public 1993 ordinal effect size) between the
    j_mannwhitney source pair on document length — the NONPARAMETRIC
    twin of j_cohens_d, closing the effect-size pair exactly as
    Mann-Whitney closes the t test: delta = P(a > b) - P(a < b) =
    2U_a/(n_a n_b) - 1, where the midrank U already credits ties with
    1/2 each, so the doubled-rank integer u2a gives delta EXACTLY as
    u2a/(n_a n_b) - 1. Romano magnitude classes on the rounded value.

    EXACT: the full j_mannwhitney doubled-midrank chain (one
    value-domain histogram, one unpartitioned prefix window on it),
    one rounded display division; the class thresholds compare the
    ROUNDED delta.

    Plan: identical lowering to j_mannwhitney — value-domain metadata
    after one filter+hash agg."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    d = t.documents.where(F.col("source").isin(_MW_A, _MW_B)).select(
        "source", F.col("n_chars").alias("v")
    )
    g = d.groupBy("v").agg(
        F.count(F.when(F.col("source") == _MW_A, 1)).cast("long").alias("ca"),
        F.count(F.when(F.col("source") == _MW_B, 1)).cast("long").alias("cb"),
    )
    win = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w = g.select(
        "ca",
        "cb",
        (F.col("ca") + F.col("cb")).alias("c"),
        F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(win), F.lit(0))
        .cast("long")
        .alias("cumb"),
    )
    s = w.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("ca").cast(dec) * (2 * F.col("cumb") + F.col("c") + 1))
        .cast(dec)
        .alias("r2a"),
    )
    u2a = F.col("r2a") - F.col("na").cast(dec) * (F.col("na") + 1)
    delta = rnd(
        u2a.cast("double") / (F.col("na").cast("double") * F.col("nb")) - 1.0, 6
    )
    return s.select(
        F.lit(_MW_A).alias("source_a"),
        F.lit(_MW_B).alias("source_b"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        u2a.cast("long").alias("u2_a"),
        delta.alias("cliffs_delta"),
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large")
        .alias("effect_class"),
    )


# Holm-Bonferroni at alpha = 0.05 (step-down integer compare:
# p6 * (m - rk + 1) * 20 <= 1e6).
_HOLM_A_NUM, _HOLM_A_DEN = 1, 20  # alpha = 0.05


@query(
    "j_holm_bonferroni",
    oracle=f"""
    WITH tt AS ({_welch_t4_sql()}),
    pv AS (SELECT event_type, t4,
                  CAST(FLOOR({_tail_sql('t4')} * 1000000 + 0.5) AS BIGINT)
                    AS p6
           FROM tt),
    r AS (SELECT event_type, t4, p6,
                 ROW_NUMBER() OVER (ORDER BY p6, event_type) AS rk,
                 CAST(COUNT(*) OVER () AS BIGINT) AS m
          FROM pv),
    c AS (SELECT *, CASE WHEN p6 * (m - rk + 1) * {_HOLM_A_DEN}
                              > 1000000 * {_HOLM_A_NUM}
                         THEN rk ELSE m + 1 END AS fail_at
          FROM r),
    k AS (SELECT CAST(MIN(fail_at) AS BIGINT) AS first_fail FROM c)
    SELECT event_type, t4 AS t_stat, p6 / 1000000.0 AS p_value,
           CAST(rk AS BIGINT) AS p_rank,
           FLOOR({_HOLM_A_NUM}.0 / ({_HOLM_A_DEN} * (m - rk + 1))
                 * 1000000 + 0.5) / 1000000 AS holm_cutoff,
           rk < k.first_fail AS rejected
    FROM c, k
    """,
)
def j_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni step-down FWER control (public 1979 procedure)
    over the same Welch-t p-value panel as j_fdr_bh — the
    multiple-testing closure's OTHER half: BH controls the false
    DISCOVERY rate (expected fraction of false rejections), Holm
    controls the family-wise error rate (any false rejection at all)
    with uniformly more power than plain Bonferroni. Sort p ascending
    and reject while p_(i) <= alpha/(m - i + 1); the first failure
    stops everything after it (step-DOWN, vs BH's step-UP scan from
    the largest hit).

    Engine parity: identical t/p lowering to j_fdr_bh (A&S 7.1.26
    erfc polynomial, same repr literals and Horner order, p on the
    1e-6 integer grid), so the step-down compare
    p6*(m-rk+1)*{_HOLM_A_DEN} <= 1e6 is exact integer arithmetic and
    the two procedures' rejection sets are directly comparable (Holm
    ⊆ BH at matched levels is the property pin).

    Plan: the j_ab_ttest moment scan + K-row metadata windows —
    nothing data-sized beyond the single pass."""
    t = load(spark, sf_dir)
    grp = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ab"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        "A",
    ).otherwise("B")
    g = t.events.select("event_type", "value", grp.alias("grp"))
    a = F.col("grp") == "A"
    b = F.col("grp") == "B"
    s = g.groupBy("event_type").agg(
        F.count(F.when(a, 1)).cast("long").alias("n_a"),
        F.count(F.when(b, 1)).cast("long").alias("n_b"),
        rnd(F.avg(F.when(a, F.col("value"))), 6).alias("mean_a"),
        rnd(F.avg(F.when(b, F.col("value"))), 6).alias("mean_b"),
        rnd(F.var_samp(F.when(a, F.col("value"))), 6).alias("var_a"),
        rnd(F.var_samp(F.when(b, F.col("value"))), 6).alias("var_b"),
    )
    t4 = rnd(
        (F.col("mean_a") - F.col("mean_b"))
        / F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")),
        4,
    )
    pv = s.select("event_type", t4.alias("t4")).select(
        "event_type",
        "t4",
        F.floor(_tail_col(F.col("t4")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("p6"),
    )
    wr = Window.orderBy("p6", "event_type")
    r = pv.select(
        "*",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("m"),
    )
    c = r.select(
        "*",
        F.when(
            F.col("p6") * (F.col("m") - F.col("rk") + 1) * _HOLM_A_DEN
            > 1000000 * _HOLM_A_NUM,
            F.col("rk"),
        )
        .otherwise(F.col("m") + 1)
        .alias("fail_at"),
    )
    k = c.agg(F.min("fail_at").cast("long").alias("first_fail"))
    return c.crossJoin(F.broadcast(k)).select(
        "event_type",
        F.col("t4").alias("t_stat"),
        (F.col("p6") / 1000000.0).alias("p_value"),
        F.col("rk").cast("long").alias("p_rank"),
        rnd(
            F.lit(float(_HOLM_A_NUM))
            / (_HOLM_A_DEN * (F.col("m") - F.col("rk") + 1)),
            6,
        ).alias("holm_cutoff"),
        (F.col("rk") < F.col("first_fail")).alias("rejected"),
    )


_CA_GROUPS = 5  # ordered value bands (the drift-monitor bucket device)
_CA_CRIT = 1.96


@query(
    "j_cochran_armitage",
    oracle=f"""
    WITH v AS (SELECT CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v6,
                      CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
               FROM events),
    b AS (SELECT CAST(MIN(v6) AS BIGINT) AS lo, CAST(MAX(v6) AS BIGINT) AS hi
          FROM v),
    g AS (SELECT ((v.v6 - b.lo) * {_CA_GROUPS}) // (b.hi - b.lo + 1) AS w,
                 y
          FROM v CROSS JOIN b),
    pg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(y) AS BIGINT) AS x
           FROM g GROUP BY w),
    s AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                 CAST(SUM(x) AS BIGINT) AS xx,
                 CAST(SUM(w * x) AS BIGINT) AS t,
                 CAST(SUM(w * n) AS BIGINT) AS w1,
                 CAST(SUM(w * w * n) AS BIGINT) AS w2,
                 CAST(COUNT(*) AS BIGINT) AS k
          FROM pg),
    f AS (SELECT *,
                 (CAST(nn AS DOUBLE) * t - CAST(xx AS DOUBLE) * w1)
                 / sqrt(CAST(xx AS DOUBLE) * (nn - xx)
                        * (CAST(nn AS DOUBLE) * w2
                           - CAST(w1 AS DOUBLE) * w1) / nn) AS z_raw
          FROM s)
    SELECT nn AS n_total, xx AS n_success, k AS n_groups,
           t AS t_score, w1, w2,
           FLOOR(z_raw * 10000 + 0.5) / 10000 AS z_stat,
           ABS(FLOOR(z_raw * 10000 + 0.5) / 10000) > {_CA_CRIT} AS significant
    FROM f
    """,
)
def j_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test (public 1954/1955) for a
    dose-response relation between the ORDERED event-value band
    (the j_drift_timeslices equal-width bucket device, {k} bands as
    integer scores 0..{k1}) and the binary click outcome — the
    question chi-square independence (j_chi2_independence) cannot
    ask: not "are they dependent" but "does the rate TREND with the
    ordered exposure", with power concentrated on monotone
    alternatives. T = SUM w_i x_i against its null mean/variance:
    z = (N T - X W1) / sqrt(X (N - X) (N W2 - W1^2) / N).

    EXACT: buckets are the exact integer device ((v6-lo)*k div
    range); all sufficient statistics (N, X, T, W1, W2) are BIGINTs;
    z applies one fixed IEEE sequence to them (factors cast double
    SEPARATELY — the product would overflow 64-bit) and rounds 1e-4
    before the significance compare.

    Plan: one min/max fold broadcast onto the scan, one {k}-row hash
    agg, one single-row fold — two data passes total (min/max +
    bucket-count), both map-side combined."""
    t = load(spark, sf_dir)
    v6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    v = t.events.select(
        v6.alias("v6"),
        (F.col("event_type") == "click").cast("long").alias("y"),
    )
    v.persist()  # two consumers: the min/max fold and the bucket agg
    b = v.agg(
        F.min("v6").cast("long").alias("lo"), F.max("v6").cast("long").alias("hi")
    )
    g = v.crossJoin(F.broadcast(b)).select(
        F.expr(f"((v6 - lo) * {_CA_GROUPS}) div (hi - lo + 1)").alias("w"), "y"
    )
    pg = g.groupBy("w").agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("x")
    )
    s = pg.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("x").cast("long").alias("xx"),
        F.sum(F.col("w") * F.col("x")).cast("long").alias("t"),
        F.sum(F.col("w") * F.col("n")).cast("long").alias("w1"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).cast("long").alias("w2"),
        F.count("*").cast("long").alias("k"),
    )
    z_raw = (
        F.col("nn").cast("double") * F.col("t")
        - F.col("xx").cast("double") * F.col("w1")
    ) / F.sqrt(
        F.col("xx").cast("double")
        * (F.col("nn") - F.col("xx"))
        * (
            F.col("nn").cast("double") * F.col("w2")
            - F.col("w1").cast("double") * F.col("w1")
        )
        / F.col("nn")
    )
    z = rnd(z_raw, 4)
    return s.select(
        F.col("nn").alias("n_total"),
        F.col("xx").alias("n_success"),
        F.col("k").alias("n_groups"),
        F.col("t").alias("t_score"),
        "w1",
        "w2",
        z.alias("z_stat"),
        (F.abs(z) > _CA_CRIT).alias("significant"),
    )


j_cochran_armitage.__doc__ = j_cochran_armitage.__doc__.replace(
    "{k1}", str(_CA_GROUPS - 1)
).replace("{k}", str(_CA_GROUPS))


# Log-rank: chi-square(1) 0.05 critical value (public tables).
_LR_CRIT = 3.8415


@query(
    "j_logrank_test",
    oracle=f"""
    WITH u AS (SELECT user_id % 2 AS grp,
                      CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE))
                           AS BIGINT) AS dur,
                      MAX(CAST(ts AS DATE)) AS ld
               FROM events GROUP BY user_id),
    g AS (SELECT MAX(ld) AS gmax FROM u),
    e AS (SELECT dur,
                 CAST(SUM(CASE WHEN grp = 0 AND ld < gmax THEN 1 ELSE 0 END)
                      AS BIGINT) AS d1,
                 CAST(SUM(CASE WHEN grp = 1 AND ld < gmax THEN 1 ELSE 0 END)
                      AS BIGINT) AS d2,
                 CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
                 CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
          FROM u CROSS JOIN g GROUP BY 1),
    n AS (SELECT CAST(SUM(c1) AS BIGINT) AS tn1,
                 CAST(SUM(c2) AS BIGINT) AS tn2 FROM e),
    r AS (SELECT dur, d1, d2, tn1, tn2,
                 tn1 - CAST(COALESCE(SUM(c1) OVER (ORDER BY dur
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS n1,
                 tn2 - CAST(COALESCE(SUM(c2) OVER (ORDER BY dur
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS n2
          FROM e CROSS JOIN n),
    t AS (SELECT dur, d1, d2, tn1, tn2, n1, n2, n1 + n2 AS nt,
                 d1 + d2 AS dt
          FROM r WHERE d1 + d2 > 0),
    s AS (SELECT CAST(MAX(tn1) AS BIGINT) AS n1_total,
                 CAST(MAX(tn2) AS BIGINT) AS n2_total,
                 CAST(SUM(d1) AS BIGINT) AS o1,
                 CAST(SUM(d2) AS BIGINT) AS o2,
                 CAST(SUM(CAST(FLOOR(CAST(dt AS DOUBLE) * n1 / nt
                                     * 1000000.0 + 0.5) AS BIGINT))
                      AS BIGINT) AS e1_6,
                 CAST(SUM(CASE WHEN nt > 1 THEN
                        CAST(FLOOR(CAST(dt AS DOUBLE) * (nt - dt) * n1 * n2
                                   / (CAST(nt AS DOUBLE) * nt * (nt - 1))
                                   * 1000000.0 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS v6
          FROM t)
    SELECT n1_total, n2_total, o1, o2,
           e1_6 / 1000000.0 AS e1,
           v6 / 1000000.0 AS var_lr,
           CASE WHEN v6 > 0 THEN
             {sql_rnd("(CAST(o1 * 1000000 - e1_6 AS DOUBLE) / 1000000.0) / sqrt(v6 / 1000000.0)", 6)}
           END AS z_score,
           CASE WHEN v6 > 0 THEN
             {sql_rnd("((CAST(o1 * 1000000 - e1_6 AS DOUBLE) / 1000000.0) / sqrt(v6 / 1000000.0)) * ((CAST(o1 * 1000000 - e1_6 AS DOUBLE) / 1000000.0) / sqrt(v6 / 1000000.0))", 6)}
           END AS chi2_stat,
           CASE WHEN v6 > 0 THEN
             {sql_rnd("((CAST(o1 * 1000000 - e1_6 AS DOUBLE) / 1000000.0) / sqrt(v6 / 1000000.0)) * ((CAST(o1 * 1000000 - e1_6 AS DOUBLE) / 1000000.0) / sqrt(v6 / 1000000.0))", 6)} > {_LR_CRIT}
           END AS significant
    FROM s
    """,
)
def j_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox, public 1966/1972) two-sample survival
    comparison between the even/odd user-id cohorts on the
    j_kaplan_meier lifetime data — the DO-THE-CURVES-DIFFER
    significance test that partners the KM estimate the way
    j_mann_kendall partners j_ts_trend. At each distinct lifetime
    with deaths, cohort 1's observed deaths are compared to the
    hypergeometric expectation d_t * n1_t / n_t, with variance
    d_t (n_t - d_t) n1_t n2_t / (n_t^2 (n_t - 1)); the z (and its
    chi-square) aggregates O1 - E1 over event times.

    EXACT: at-risk / death counts per cohort are pure integer
    arithmetic off preceding-frame cumulative counts; each
    expectation and variance TERM is floored ONCE to a 1e-6-grid
    BIGINT (the scaled-summation convention — never an engine-order
    float sum), so E1 and V are exact integer totals; z is one IEEE
    sequence on (o1*1e6 - e1_6, v6) rounded 1e-6 before the
    chi-square > {_LR_CRIT} compare. NULL when V degenerates.

    Plan: ONE (user_id) corpus hash agg (the j_kaplan_meier shuffle
    class, cohort tag carried free as user_id % 2); a 1-row max-day
    fold broadcast; then every window and fold runs on the <=
    |distinct lifetimes| relation. At 100 TB only the user agg
    scales."""
    t = load(spark, sf_dir)
    day = F.timestamp_millis(F.col("ts_ms")).cast("date")
    u = (
        t.events.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("day"), F.min("day")).cast("long").alias("dur"),
            F.max("day").alias("ld"),
        )
        .select((F.col("user_id") % 2).alias("grp"), "dur", "ld")
    )
    u.persist()  # consumers: the 1-row gmax fold and the duration agg
    return logrank_from_lifetimes(u)


def logrank_from_lifetimes(u: DataFrame) -> DataFrame:
    """The j_logrank_test rollup over a per-user (grp long, dur long,
    ld DATE) lifetime relation — shared verbatim with the streaming
    lifetime monitor's logrank_current_view."""
    g = u.agg(F.max("ld").alias("gmax"))
    obs = F.col("ld") < F.col("gmax")
    e = (
        u.crossJoin(F.broadcast(g))
        .groupBy("dur")
        .agg(
            F.sum(((F.col("grp") == 0) & obs).cast("long"))
            .cast("long")
            .alias("d1"),
            F.sum(((F.col("grp") == 1) & obs).cast("long"))
            .cast("long")
            .alias("d2"),
            F.sum((F.col("grp") == 0).cast("long")).cast("long").alias("c1"),
            F.sum((F.col("grp") == 1).cast("long")).cast("long").alias("c2"),
        )
    )
    n = e.agg(
        F.sum("c1").cast("long").alias("tn1"),
        F.sum("c2").cast("long").alias("tn2"),
    )
    wp = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    r = e.crossJoin(F.broadcast(n)).select(
        "dur",
        "d1",
        "d2",
        "tn1",
        "tn2",
        (F.col("tn1") - F.coalesce(F.sum("c1").over(wp), F.lit(0)))
        .cast("long")
        .alias("n1"),
        (F.col("tn2") - F.coalesce(F.sum("c2").over(wp), F.lit(0)))
        .cast("long")
        .alias("n2"),
    )
    tt = r.where(F.col("d1") + F.col("d2") > 0).select(
        "d1",
        "d2",
        "tn1",
        "tn2",
        "n1",
        "n2",
        (F.col("n1") + F.col("n2")).alias("nt"),
        (F.col("d1") + F.col("d2")).alias("dt"),
    )
    e1_term = F.floor(
        F.col("dt").cast("double") * F.col("n1") / F.col("nt") * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    v_term = F.when(
        F.col("nt") > 1,
        F.floor(
            F.col("dt").cast("double")
            * (F.col("nt") - F.col("dt"))
            * F.col("n1")
            * F.col("n2")
            / (F.col("nt").cast("double") * F.col("nt") * (F.col("nt") - 1))
            * 1000000.0
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0))
    s = tt.agg(
        F.max("tn1").cast("long").alias("n1_total"),
        F.max("tn2").cast("long").alias("n2_total"),
        F.sum("d1").cast("long").alias("o1"),
        F.sum("d2").cast("long").alias("o2"),
        F.sum(e1_term).cast("long").alias("e1_6"),
        F.sum(v_term).cast("long").alias("v6"),
    )
    z_raw = (
        (F.col("o1") * 1000000 - F.col("e1_6")).cast("double") / F.lit(1000000.0)
    ) / F.sqrt(F.col("v6") / F.lit(1000000.0))
    ok = F.col("v6") > 0
    return s.select(
        "n1_total",
        "n2_total",
        "o1",
        "o2",
        (F.col("e1_6") / F.lit(1000000.0)).alias("e1"),
        (F.col("v6") / F.lit(1000000.0)).alias("var_lr"),
        F.when(ok, rnd(z_raw, 6)).alias("z_score"),
        F.when(ok, rnd(z_raw * z_raw, 6)).alias("chi2_stat"),
        F.when(ok, rnd(z_raw * z_raw, 6) > _LR_CRIT).alias("significant"),
    )


# Jarque-Bera: chi-square(2) 0.05 critical value (public tables).
_JB_CRIT = 5.991


@query(
    "j_jarque_bera",
    oracle=f"""
    WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(COUNT(*) AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
    s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(v) AS BIGINT) AS s1,
                 CAST(SUM(v * v) AS BIGINT) AS s2,
                 CAST(SUM(v * v * v) AS BIGINT) AS s3,
                 CAST(SUM(v * v * v * v) AS BIGINT) AS s4
          FROM d GROUP BY 1),
    m0 AS (SELECT event_type, n,
                  CAST(s1 AS DOUBLE) / n AS mu,
                  CAST(s2 AS DOUBLE) / n AS r2,
                  CAST(s3 AS DOUBLE) / n AS r3,
                  CAST(s4 AS DOUBLE) / n AS r4
           FROM s),
    m1 AS (SELECT event_type, n,
                  r2 - mu * mu AS m2,
                  r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
                  r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                     - 3.0 * mu * mu * mu * mu AS m4
           FROM m0),
    f AS (SELECT event_type, n, m2,
                 m3 / (m2 * sqrt(m2)) AS sk,
                 m4 / (m2 * m2) AS ku
          FROM m1)
    SELECT event_type, n AS n_days,
           CASE WHEN m2 > 0 THEN {sql_rnd("sk", 6)} END AS skewness,
           CASE WHEN m2 > 0 THEN {sql_rnd("ku", 6)} END AS kurtosis,
           CASE WHEN m2 > 0 THEN
             {sql_rnd("CAST(n AS DOUBLE) / 6.0 * (sk * sk + (ku - 3.0) * (ku - 3.0) / 4.0)", 6)}
           END AS jb_stat,
           CASE WHEN m2 > 0 THEN
             {sql_rnd("CAST(n AS DOUBLE) / 6.0 * (sk * sk + (ku - 3.0) * (ku - 3.0) / 4.0)", 6)} <= {_JB_CRIT}
           END AS normal
    FROM f
    """,
)
def j_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test (Jarque & Bera 1980, public) on each
    event type's daily-volume distribution — the IS-THE-MARGINAL-
    NORMAL gate the parametric shelf quietly assumes (j_ab_ttest,
    j_anova_oneway, j_cohens_d all lean on normal-ish errors; JB is
    the cheap audit of that lean). JB = n/6 (skew^2 + (kurt-3)^2/4)
    against chi-square(2); daily Poisson-ish counts at healthy volume
    should pass, and a fat-tailed failure is the first symptom of
    burst contamination.

    EXACT: the four raw power sums are exact BIGINTs off the
    calendar-sized relation (v <= per-type daily volume, v^4 * days
    far inside 2^63 at any tested scale); central moments, skewness,
    kurtosis and JB are ONE fixed IEEE sequence on those integers
    (powers written as explicit products, sqrt the only libm call),
    each rounded 1e-6 before output and the <= {_JB_CRIT} compare
    reads the ROUNDED statistic. NULL when the variance degenerates.

    Plan: ONE (event_type, day) corpus hash agg (the j_mann_kendall
    shuffle class) then a |types|-row moment fold — two map-side-
    combined aggs, no window, no join. At 100 TB only the first agg
    scales."""
    t = load(spark, sf_dir)
    d = (
        t.events.select(
            "event_type",
            F.timestamp_millis(F.col("ts_ms")).cast("date").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("v"))
    )
    v = F.col("v")
    s = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(v).cast("long").alias("s1"),
        F.sum(v * v).cast("long").alias("s2"),
        F.sum(v * v * v).cast("long").alias("s3"),
        F.sum(v * v * v * v).cast("long").alias("s4"),
    )
    m0 = s.select(
        "event_type",
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        (F.col("s2").cast("double") / F.col("n")).alias("r2"),
        (F.col("s3").cast("double") / F.col("n")).alias("r3"),
        (F.col("s4").cast("double") / F.col("n")).alias("r4"),
    )
    mu = F.col("mu")
    m1 = m0.select(
        "event_type",
        "n",
        (F.col("r2") - mu * mu).alias("m2"),
        (F.col("r3") - 3.0 * mu * F.col("r2") + 2.0 * mu * mu * mu).alias("m3"),
        (
            F.col("r4")
            - 4.0 * mu * F.col("r3")
            + 6.0 * mu * mu * F.col("r2")
            - 3.0 * mu * mu * mu * mu
        ).alias("m4"),
    )
    f = m1.select(
        "event_type",
        "n",
        "m2",
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))).alias("sk"),
        (F.col("m4") / (F.col("m2") * F.col("m2"))).alias("ku"),
    )
    jb_raw = (
        F.col("n").cast("double")
        / 6.0
        * (
            F.col("sk") * F.col("sk")
            + (F.col("ku") - 3.0) * (F.col("ku") - 3.0) / 4.0
        )
    )
    ok = F.col("m2") > 0
    return f.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(ok, rnd(F.col("sk"), 6)).alias("skewness"),
        F.when(ok, rnd(F.col("ku"), 6)).alias("kurtosis"),
        F.when(ok, rnd(jb_raw, 6)).alias("jb_stat"),
        F.when(ok, rnd(jb_raw, 6) <= _JB_CRIT).alias("normal"),
    )


# Cronbach's alpha item order: the five event types as scale items.
_CRON_ITEMS = ("click", "view", "purchase", "signup", "error")


@query(
    "j_cronbach_alpha",
    oracle="""
    WITH x AS (SELECT user_id,
                      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS i1,
                      CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS i2,
                      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS i3,
                      CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS i4,
                      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS i5
               FROM events GROUP BY 1),
    t AS (SELECT i1, i2, i3, i4, i5, i1 + i2 + i3 + i4 + i5 AS tot FROM x),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(i1) AS BIGINT) AS s1, CAST(SUM(i1 * i1) AS BIGINT) AS q1,
                 CAST(SUM(i1 * tot) AS BIGINT) AS c1,
                 CAST(SUM(i2) AS BIGINT) AS s2, CAST(SUM(i2 * i2) AS BIGINT) AS q2,
                 CAST(SUM(i2 * tot) AS BIGINT) AS c2,
                 CAST(SUM(i3) AS BIGINT) AS s3, CAST(SUM(i3 * i3) AS BIGINT) AS q3,
                 CAST(SUM(i3 * tot) AS BIGINT) AS c3,
                 CAST(SUM(i4) AS BIGINT) AS s4, CAST(SUM(i4 * i4) AS BIGINT) AS q4,
                 CAST(SUM(i4 * tot) AS BIGINT) AS c4,
                 CAST(SUM(i5) AS BIGINT) AS s5, CAST(SUM(i5 * i5) AS BIGINT) AS q5,
                 CAST(SUM(i5 * tot) AS BIGINT) AS c5,
                 CAST(SUM(tot) AS BIGINT) AS st, CAST(SUM(tot * tot) AS BIGINT) AS qt
          FROM t),
    i AS (SELECT item, n, sj, qj, cj, st, qt,
                 n * qj - sj * sj AS vj,
                 n * qt - st * st AS vt,
                 n * (qt - 2 * cj + qj) - (st - sj) * (st - sj) AS vr,
                 n * (cj - qj) - sj * (st - sj) AS cvjr,
                 (n * q1 - s1 * s1) + (n * q2 - s2 * s2) + (n * q3 - s3 * s3)
                   + (n * q4 - s4 * s4) + (n * q5 - s5 * s5) AS vsum
          FROM s,
               (VALUES ('click', 1), ('view', 2), ('purchase', 3),
                       ('signup', 4), ('error', 5)) AS it(item, ix)
               , LATERAL (SELECT CASE ix WHEN 1 THEN s1 WHEN 2 THEN s2
                                 WHEN 3 THEN s3 WHEN 4 THEN s4 ELSE s5 END AS sj,
                                 CASE ix WHEN 1 THEN q1 WHEN 2 THEN q2
                                 WHEN 3 THEN q3 WHEN 4 THEN q4 ELSE q5 END AS qj,
                                 CASE ix WHEN 1 THEN c1 WHEN 2 THEN c2
                                 WHEN 3 THEN c3 WHEN 4 THEN c4 ELSE c5 END AS cj) j)
    SELECT item, n AS n_users,
           FLOOR(5.0 / 4.0 * (1.0 - CAST(vsum AS DOUBLE) / vt)
                 * 1000000 + 0.5) / 1000000 AS alpha,
           FLOOR(CAST(vj AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                 * 1000000 + 0.5) / 1000000 AS item_var,
           CASE WHEN vj > 0 AND vr > 0 THEN
             FLOOR(CAST(cvjr AS DOUBLE)
                   / sqrt(CAST(vj AS DOUBLE) * vr) * 1000000 + 0.5) / 1000000
           END AS item_rest_corr,
           FLOOR(4.0 / 3.0 * (1.0 - CAST(vsum - vj AS DOUBLE) / vr)
                 * 1000000 + 0.5) / 1000000 AS alpha_if_deleted
    FROM i
    """,
)
def j_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient (Cronbach
    1951, public) treating the five event types as scale ITEMS and
    each user's per-type activity count as the item score — the
    do-these-signals-measure-one-thing reliability audit a feature
    pipeline runs before averaging engagement signals into one score.
    alpha = k/(k-1) (1 - SUM var_j / var_total); per item the panel
    also reports the item-rest correlation (corr of the item with the
    scale MINUS itself — the discrimination column) and
    alpha-if-deleted (the classic which-item-breaks-the-scale
    diagnostic).

    EXACT: every variance/covariance carries its exact integer
    numerator (n*SUM x^2 - (SUM x)^2 over the common n^2 denominator,
    cross terms likewise), so alpha, item variances, item-rest
    correlations and drop-one alphas are each ONE IEEE sequence on
    exact BIGINTs, floored once to the 1e-6 grid; NULL when a
    variance degenerates.

    Plan: ONE (user_id) corpus hash agg with five conditional sums
    (no pivot shuffle), one single-row sufficient-statistic fold, and
    a 5-row literal item spine joined driver-free — two map-side-
    combined aggs total. At 100 TB only the user agg scales (the
    j_kaplan_meier shuffle class)."""
    t = load(spark, sf_dir)
    conds = [
        F.sum((F.col("event_type") == it).cast("long")).cast("long").alias(f"i{k}")
        for k, it in enumerate(_CRON_ITEMS, 1)
    ]
    x = t.events.groupBy("user_id").agg(*conds)
    tot = sum(F.col(f"i{k}") for k in range(1, 6))
    tt = x.select(*[f"i{k}" for k in range(1, 6)], tot.alias("tot"))
    aggs = [F.count("*").cast("long").alias("n")]
    for k in range(1, 6):
        i = F.col(f"i{k}")
        aggs += [
            F.sum(i).cast("long").alias(f"s{k}"),
            F.sum(i * i).cast("long").alias(f"q{k}"),
            F.sum(i * F.col("tot")).cast("long").alias(f"c{k}"),
        ]
    aggs += [
        F.sum("tot").cast("long").alias("st"),
        F.sum(F.col("tot") * F.col("tot")).cast("long").alias("qt"),
    ]
    s = tt.agg(*aggs)
    spine = spark.createDataFrame(
        [(it, k) for k, it in enumerate(_CRON_ITEMS, 1)], "item string, ix int"
    )
    n = F.col("n")
    vsum = sum(
        n * F.col(f"q{k}") - F.col(f"s{k}") * F.col(f"s{k}") for k in range(1, 6)
    )
    j = s.crossJoin(F.broadcast(spine))
    sj = F.element_at(F.array(*[F.col(f"s{k}") for k in range(1, 6)]), F.col("ix"))
    qj = F.element_at(F.array(*[F.col(f"q{k}") for k in range(1, 6)]), F.col("ix"))
    cj = F.element_at(F.array(*[F.col(f"c{k}") for k in range(1, 6)]), F.col("ix"))
    i = j.select(
        "item",
        "n",
        sj.alias("sj"),
        qj.alias("qj"),
        cj.alias("cj"),
        "st",
        "qt",
        vsum.alias("vsum"),
    ).select(
        "item",
        "n",
        "vsum",
        (n * F.col("qj") - F.col("sj") * F.col("sj")).alias("vj"),
        (n * F.col("qt") - F.col("st") * F.col("st")).alias("vt"),
        (
            n * (F.col("qt") - 2 * F.col("cj") + F.col("qj"))
            - (F.col("st") - F.col("sj")) * (F.col("st") - F.col("sj"))
        ).alias("vr"),
        (
            n * (F.col("cj") - F.col("qj"))
            - F.col("sj") * (F.col("st") - F.col("sj"))
        ).alias("cvjr"),
    )
    ok = (F.col("vj") > 0) & (F.col("vr") > 0)
    return i.select(
        "item",
        F.col("n").alias("n_users"),
        rnd(
            F.lit(5.0) / 4.0 * (F.lit(1.0) - F.col("vsum").cast("double") / F.col("vt")),
            6,
        ).alias("alpha"),
        rnd(
            F.col("vj").cast("double") / (F.col("n").cast("double") * F.col("n")), 6
        ).alias("item_var"),
        F.when(
            ok,
            rnd(
                F.col("cvjr").cast("double")
                / F.sqrt(F.col("vj").cast("double") * F.col("vr")),
                6,
            ),
        ).alias("item_rest_corr"),
        rnd(
            F.lit(4.0)
            / 3.0
            * (F.lit(1.0) - (F.col("vsum") - F.col("vj")).cast("double") / F.col("vr")),
            6,
        ).alias("alpha_if_deleted"),
    )


# Partial correlation: large-n normal 0.05 critical value for the
# t-statistic (n - 3 df >> 30 at every tested scale).
_PC_CRIT = 1.96


@query(
    "j_partial_corr",
    oracle=f"""
    WITH x AS (SELECT user_id,
                      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cx,
                      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cy,
                      CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cz
               FROM events GROUP BY 1),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cx) AS BIGINT) AS sx, CAST(SUM(cy) AS BIGINT) AS sy,
                 CAST(SUM(cz) AS BIGINT) AS sz,
                 CAST(SUM(cx * cx) AS BIGINT) AS qx,
                 CAST(SUM(cy * cy) AS BIGINT) AS qy,
                 CAST(SUM(cz * cz) AS BIGINT) AS qz,
                 CAST(SUM(cx * cy) AS BIGINT) AS pxy,
                 CAST(SUM(cx * cz) AS BIGINT) AS pxz,
                 CAST(SUM(cy * cz) AS BIGINT) AS pyz
          FROM x),
    r AS (SELECT n,
                 (CAST(n AS DOUBLE) * pxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * qx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * qy - CAST(sy AS DOUBLE) * sy))
                   AS rxy,
                 (CAST(n AS DOUBLE) * pxz - CAST(sx AS DOUBLE) * sz)
                 / sqrt((CAST(n AS DOUBLE) * qx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * qz - CAST(sz AS DOUBLE) * sz))
                   AS rxz,
                 (CAST(n AS DOUBLE) * pyz - CAST(sy AS DOUBLE) * sz)
                 / sqrt((CAST(n AS DOUBLE) * qy - CAST(sy AS DOUBLE) * sy)
                        * (CAST(n AS DOUBLE) * qz - CAST(sz AS DOUBLE) * sz))
                   AS ryz
          FROM s),
    p AS (SELECT n, rxy, rxz, ryz,
                 (rxy - rxz * ryz)
                 / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) AS rp
          FROM r),
    f AS (SELECT n, rxy, rxz, ryz, rp,
                 rp * sqrt((n - 3) / (1.0 - rp * rp)) AS t_raw
          FROM p)
    SELECT n AS n_users,
           {sql_rnd("rxy", 6)} AS r_xy, {sql_rnd("rxz", 6)} AS r_xz,
           {sql_rnd("ryz", 6)} AS r_yz, {sql_rnd("rp", 6)} AS r_partial,
           {sql_rnd("t_raw", 6)} AS t_stat,
           ABS({sql_rnd("t_raw", 6)}) > {_PC_CRIT} AS significant
    FROM f
    """,
)
def j_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation (public, Yule 1907 lineage)
    between per-user CLICK and PURCHASE counts CONTROLLING for VIEW
    count — the does-the-funnel-edge-survive-the-confounder question
    behind every engagement correlation: clicks and purchases both
    ride raw activity (views), so their zero-order correlation is
    inflated; r_xy.z = (r_xy - r_xz r_yz) / sqrt((1-r_xz^2)
    (1-r_yz^2)) removes the shared-activity channel. The t statistic
    r sqrt((n-3)/(1-r^2)) is compared at the large-n normal 0.05
    critical value.

    EXACT: all nine sufficient sums are exact BIGINTs off one user
    agg; the three Pearson r's, the partial r and t are ONE fixed
    IEEE sequence (factors cast double separately), each rounded
    1e-6, and significance reads the ROUNDED t.

    Plan: ONE (user_id) corpus hash agg with three conditional sums,
    then a single-row fold — two map-side-combined aggs, no join, no
    window. At 100 TB only the user agg scales."""
    t = load(spark, sf_dir)
    x = t.events.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("cx"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("cy"),
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("long")
        .alias("cz"),
    )
    cx, cy, cz = F.col("cx"), F.col("cy"), F.col("cz")
    s = x.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(cx).cast("long").alias("sx"),
        F.sum(cy).cast("long").alias("sy"),
        F.sum(cz).cast("long").alias("sz"),
        F.sum(cx * cx).cast("long").alias("qx"),
        F.sum(cy * cy).cast("long").alias("qy"),
        F.sum(cz * cz).cast("long").alias("qz"),
        F.sum(cx * cy).cast("long").alias("pxy"),
        F.sum(cx * cz).cast("long").alias("pxz"),
        F.sum(cy * cz).cast("long").alias("pyz"),
    )
    n = F.col("n")

    def _pear(p, a, sa, qa, b, sb, qb):
        return (n.cast("double") * F.col(p) - F.col(sa).cast("double") * F.col(sb)) / F.sqrt(
            (n.cast("double") * F.col(qa) - F.col(sa).cast("double") * F.col(sa))
            * (n.cast("double") * F.col(qb) - F.col(sb).cast("double") * F.col(sb))
        )

    r = s.select(
        "n",
        _pear("pxy", "x", "sx", "qx", "y", "sy", "qy").alias("rxy"),
        _pear("pxz", "x", "sx", "qx", "z", "sz", "qz").alias("rxz"),
        _pear("pyz", "y", "sy", "qy", "z", "sz", "qz").alias("ryz"),
    )
    p = r.select(
        "n",
        "rxy",
        "rxz",
        "ryz",
        (
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (F.lit(1.0) - F.col("rxz") * F.col("rxz"))
                * (F.lit(1.0) - F.col("ryz") * F.col("ryz"))
            )
        ).alias("rp"),
    )
    f = p.select(
        "n",
        "rxy",
        "rxz",
        "ryz",
        "rp",
        (
            F.col("rp")
            * F.sqrt((F.col("n") - 3) / (F.lit(1.0) - F.col("rp") * F.col("rp")))
        ).alias("t_raw"),
    )
    tr = rnd(F.col("t_raw"), 6)
    return f.select(
        F.col("n").alias("n_users"),
        rnd(F.col("rxy"), 6).alias("r_xy"),
        rnd(F.col("rxz"), 6).alias("r_xz"),
        rnd(F.col("ryz"), 6).alias("r_yz"),
        rnd(F.col("rp"), 6).alias("r_partial"),
        tr.alias("t_stat"),
        (F.abs(tr) > _PC_CRIT).alias("significant"),
    )


@query(
    "j_krippendorff_alpha",
    oracle=f"""
    WITH r AS (SELECT ({_R1_SQL}) + ({_R2_SQL}) + ({_R3_SQL}) AS ki
               FROM documents),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(ki) AS BIGINT) AS kk,
                 CAST(SUM(ki * (3 - ki)) AS BIGINT) AS dis
          FROM r),
    f AS (SELECT n, kk, dis,
                 CAST(dis AS DOUBLE) / (3.0 * n) AS d_o,
                 2.0 * CAST(kk AS DOUBLE) * (3.0 * n - kk)
                   / (3.0 * n * (3.0 * n - 1.0)) AS d_e
          FROM s)
    SELECT n AS n_docs, kk AS keep_mass, dis AS dis_mass,
           {sql_rnd("d_o", 6)} AS d_o,
           {sql_rnd("d_e", 6)} AS d_e,
           CASE WHEN kk > 0 AND kk < 3 * n THEN
             {sql_rnd("1.0 - (3.0 * n - 1.0) * dis / (2.0 * CAST(kk AS DOUBLE) * (3.0 * n - kk))", 6)}
           END AS alpha
    FROM f
    """,
)
def j_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (public, Krippendorff 1970/2004) over the
    SAME three deterministic quality raters as j_fleiss_kappa —
    closing the inter-rater shelf (Cohen 2-rater, Fleiss r-rater,
    Kendall W rank concordance, and now the coincidence-matrix
    reliability that generalizes to missing data and other metrics).
    For binary categories with all three raters voting on every
    document the coincidence matrix collapses to integers: observed
    disagreement D_o = SUM k(3-k) / 3n (k = keep votes per doc) and
    expected D_e = 2 K (3n-K) / (3n (3n-1)) with K = SUM k; alpha =
    1 - D_o/D_e = 1 - (3n-1) SUM k(3-k) / (2 K (3n-K)). The (3n-1)
    small-sample correction is exactly what separates alpha from
    Fleiss' kappa here (property-pinned to agree within O(1/n)).

    EXACT: every rater is the integer-compare indicator shared with
    j_fleiss_kappa (analytics.quality_rater_cols); K and the
    disagreement mass are exact BIGINTs; alpha is ONE IEEE sequence
    rounded 1e-6; NULL when a category is empty (D_e = 0).

    Plan: one narrow corpus projection folding to a single row —
    map-side partials, zero joins, zero windows, scan-speed at
    100 TB (the j_fleiss_kappa plan verbatim)."""
    t = load(spark, sf_dir)
    k1, k2, k3 = quality_rater_cols()
    r = t.documents.select((k1 + k2 + k3).alias("ki"))
    s = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ki").cast("long").alias("kk"),
        F.sum(F.col("ki") * (3 - F.col("ki"))).cast("long").alias("dis"),
    )
    n, kk, dis = F.col("n"), F.col("kk"), F.col("dis")
    d_o = dis.cast("double") / (3.0 * n)
    d_e = 2.0 * kk.cast("double") * (3.0 * n - kk) / (3.0 * n * (3.0 * n - F.lit(1.0)))
    alpha = F.lit(1.0) - (3.0 * n - F.lit(1.0)) * dis / (
        2.0 * kk.cast("double") * (3.0 * n - kk)
    )
    ok = (kk > 0) & (kk < 3 * n)
    return s.select(
        n.alias("n_docs"),
        kk.alias("keep_mass"),
        dis.alias("dis_mass"),
        rnd(d_o, 6).alias("d_o"),
        rnd(d_e, 6).alias("d_e"),
        F.when(ok, rnd(alpha, 6)).alias("alpha"),
    )


# Mantel-Haenszel / CMH: chi-square(1) 0.05 critical value.
_MH_CRIT = 3.8415


@query(
    "j_mantel_haenszel",
    oracle=f"""
    WITH m AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    e AS (SELECT CAST((CAST(ts AS DATE) - m.d0) AS BIGINT) // 7 AS wk,
                 CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS exposed,
                 CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS hit
          FROM events CROSS JOIN m),
    c AS (SELECT wk,
                 CAST(SUM(exposed * hit) AS BIGINT) AS a,
                 CAST(SUM(exposed * (1 - hit)) AS BIGINT) AS b,
                 CAST(SUM((1 - exposed) * hit) AS BIGINT) AS c,
                 CAST(SUM((1 - exposed) * (1 - hit)) AS BIGINT) AS d,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM e GROUP BY 1),
    t AS (SELECT wk, a, b, c, d, n,
                 CAST(FLOOR(CAST(a AS DOUBLE) * d / n * 1000000.0 + 0.5)
                      AS BIGINT) AS r6,
                 CAST(FLOOR(CAST(b AS DOUBLE) * c / n * 1000000.0 + 0.5)
                      AS BIGINT) AS s6,
                 CAST(FLOOR(CAST(a + b AS DOUBLE) * (a + c) / n
                            * 1000000.0 + 0.5) AS BIGINT) AS e6,
                 CASE WHEN n > 1 THEN
                   CAST(FLOOR(CAST(a + b AS DOUBLE) * (c + d) * (a + c)
                              * (b + d)
                              / (CAST(n AS DOUBLE) * n * (n - 1))
                              * 1000000.0 + 0.5) AS BIGINT)
                 ELSE 0 END AS v6
          FROM c),
    f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                 CAST(SUM(a) AS BIGINT) AS a_total,
                 CAST(SUM(r6) AS BIGINT) AS rr6,
                 CAST(SUM(s6) AS BIGINT) AS ss6,
                 CAST(SUM(e6) AS BIGINT) AS ee6,
                 CAST(SUM(v6) AS BIGINT) AS vv6
          FROM t)
    SELECT n_strata, a_total,
           ee6 / 1000000.0 AS e_total,
           vv6 / 1000000.0 AS var_mh,
           CASE WHEN ss6 > 0 THEN
             {sql_rnd("CAST(rr6 AS DOUBLE) / ss6", 6)} END AS or_mh,
           CASE WHEN vv6 > 0 THEN
             {sql_rnd("(CAST(a_total * 1000000 - ee6 AS DOUBLE) / 1000000.0) * (CAST(a_total * 1000000 - ee6 AS DOUBLE) / 1000000.0) / (vv6 / 1000000.0)", 6)}
           END AS chi2_stat,
           CASE WHEN vv6 > 0 THEN
             {sql_rnd("(CAST(a_total * 1000000 - ee6 AS DOUBLE) / 1000000.0) * (CAST(a_total * 1000000 - ee6 AS DOUBLE) / 1000000.0) / (vv6 / 1000000.0)", 6)} > {_MH_CRIT}
           END AS significant
    FROM f
    """,
)
def j_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio + Cochran-Mantel-Haenszel
    chi-square (public 1959) for the even/odd-cohort click outcome
    STRATIFIED BY WEEK — the Simpson's-paradox-proof effect estimate
    behind every experimentation platform: the crude 2x2 table mixes
    weeks with different traffic, the MH estimator pools the
    per-stratum odds ratios with their natural weights, and the CMH
    statistic tests the common effect. OR_MH = SUM(a_i d_i / n_i) /
    SUM(b_i c_i / n_i); chi2 = (SUM a_i - SUM E_i)^2 / SUM V_i with
    the hypergeometric E_i, V_i per stratum.

    EXACT: per-stratum cell counts are exact BIGINTs; each a d/n,
    b c/n, E and V TERM is floored ONCE to a 1e-6-grid BIGINT (the
    scaled-summation convention — the four-factor V numerator stays
    inside 2^53 at every tested scale, factors cast double
    separately), so all four pooled sums are exact integers; the OR
    and chi-square are one IEEE sequence each, rounded 1e-6 before
    the > {_MH_CRIT} compare. NULLs when a pooled denominator
    degenerates.

    Plan: a 1-row min-day fold broadcast onto the scan, ONE |weeks|-
    row hash agg (map-side combined), and a single-row fold — the
    j_cochran_armitage plan class. At 100 TB only the stratum agg
    scales."""
    t = load(spark, sf_dir)
    m = t.events.agg(
        F.min(F.timestamp_millis(F.col("ts_ms")).cast("date")).alias("d0")
    )
    e = t.events.crossJoin(F.broadcast(m)).select(
        F.expr(
            "CAST(datediff(CAST(timestamp_millis(ts_ms) AS DATE), d0) AS BIGINT)"
            " div 7"
        ).alias("wk"),
        (F.col("user_id") % 2 == 0).cast("long").alias("exposed"),
        (F.col("event_type") == "click").cast("long").alias("hit"),
    )
    c = e.groupBy("wk").agg(
        F.sum(F.col("exposed") * F.col("hit")).cast("long").alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("hit"))).cast("long").alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("hit")).cast("long").alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("hit"))).cast("long").alias("d"),
        F.count("*").cast("long").alias("n"),
    )
    a, b, cc, d, n = F.col("a"), F.col("b"), F.col("c"), F.col("d"), F.col("n")
    r6 = F.floor(a.cast("double") * d / n * 1000000.0 + F.lit(0.5)).cast("long")
    s6 = F.floor(b.cast("double") * cc / n * 1000000.0 + F.lit(0.5)).cast("long")
    e6 = F.floor(
        (a + b).cast("double") * (a + cc) / n * 1000000.0 + F.lit(0.5)
    ).cast("long")
    v6 = F.when(
        n > 1,
        F.floor(
            (a + b).cast("double")
            * (cc + d)
            * (a + cc)
            * (b + d)
            / (n.cast("double") * n * (n - 1))
            * 1000000.0
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0))
    f = c.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum(a).cast("long").alias("a_total"),
        F.sum(r6).cast("long").alias("rr6"),
        F.sum(s6).cast("long").alias("ss6"),
        F.sum(e6).cast("long").alias("ee6"),
        F.sum(v6).cast("long").alias("vv6"),
    )
    num = (F.col("a_total") * 1000000 - F.col("ee6")).cast("double") / F.lit(
        1000000.0
    )
    chi2 = num * num / (F.col("vv6") / F.lit(1000000.0))
    return f.select(
        "n_strata",
        "a_total",
        (F.col("ee6") / F.lit(1000000.0)).alias("e_total"),
        (F.col("vv6") / F.lit(1000000.0)).alias("var_mh"),
        F.when(F.col("ss6") > 0, rnd(F.col("rr6").cast("double") / F.col("ss6"), 6))
        .alias("or_mh"),
        F.when(F.col("vv6") > 0, rnd(chi2, 6)).alias("chi2_stat"),
        F.when(F.col("vv6") > 0, rnd(chi2, 6) > _MH_CRIT).alias("significant"),
    )


# Breslow-Day: chi-square 0.05 critical values by df (public tables);
# df = usable strata - 1, NULL outside the covered range.
_BD_CRIT_SQL = (
    "CASE df WHEN 1 THEN 3.8415 WHEN 2 THEN 5.9915 WHEN 3 THEN 7.8147"
    " WHEN 4 THEN 9.4877 WHEN 5 THEN 11.0705 WHEN 6 THEN 12.5916 END"
)


@query(
    "j_breslow_day",
    oracle=f"""
    WITH m AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    e AS (SELECT CAST((CAST(ts AS DATE) - m.d0) AS BIGINT) // 7 AS wk,
                 CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS exposed,
                 CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS hit
          FROM events CROSS JOIN m),
    c AS (SELECT wk,
                 CAST(SUM(exposed * hit) AS BIGINT) AS a,
                 CAST(SUM(exposed * (1 - hit)) AS BIGINT) AS b,
                 CAST(SUM((1 - exposed) * hit) AS BIGINT) AS c,
                 CAST(SUM((1 - exposed) * (1 - hit)) AS BIGINT) AS d,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM e GROUP BY 1),
    t AS (SELECT wk, a, b, c, d, n,
                 CAST(FLOOR(CAST(a AS DOUBLE) * d / n * 1000000.0 + 0.5)
                      AS BIGINT) AS r6,
                 CAST(FLOOR(CAST(b AS DOUBLE) * c / n * 1000000.0 + 0.5)
                      AS BIGINT) AS s6
          FROM c),
    o AS (SELECT CAST(SUM(r6) AS BIGINT) AS rr6,
                 CAST(SUM(s6) AS BIGINT) AS ss6 FROM t),
    ps AS (SELECT CASE WHEN ss6 > 0 THEN
                    FLOOR(CAST(rr6 AS DOUBLE) / ss6 * 1000000 + 0.5) / 1000000
                  END AS psi FROM o),
    q AS (SELECT c.wk, c.a, c.n, psi,
                 CAST(c.a + c.b AS DOUBLE) AS r1,
                 CAST(c.a + c.c AS DOUBLE) AS c1
          FROM c CROSS JOIN ps),
    q2 AS (SELECT wk, a, n, psi, r1, c1,
                  CASE WHEN ABS(psi - 1.0) < 1e-12 THEN r1 * c1 / n
                       ELSE (psi * (r1 + c1) + (n - r1 - c1)
                             - sqrt((psi * (r1 + c1) + (n - r1 - c1))
                                    * (psi * (r1 + c1) + (n - r1 - c1))
                                    - 4.0 * (psi - 1.0) * psi * r1 * c1))
                            / (2.0 * (psi - 1.0)) END AS atil
           FROM q),
    v AS (SELECT wk, a, n, r1, c1, atil,
                 CASE WHEN atil > 0 AND r1 - atil > 0 AND c1 - atil > 0
                       AND n - r1 - c1 + atil > 0 THEN
                   1.0 / (1.0 / atil + 1.0 / (r1 - atil) + 1.0 / (c1 - atil)
                          + 1.0 / (n - r1 - c1 + atil))
                 END AS vt
          FROM q2),
    t6 AS (SELECT wk,
                  CASE WHEN vt IS NOT NULL AND vt > 0 THEN
                    CAST(FLOOR((a - atil) * (a - atil) / vt
                               * 1000000.0 + 0.5) AS BIGINT)
                  END AS term6
           FROM v),
    f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                 CAST(COUNT(term6) AS BIGINT) AS n_used,
                 CAST(SUM(term6) AS BIGINT) AS chi6
          FROM t6),
    g AS (SELECT n_strata, n_used, n_used - 1 AS df, chi6,
                 (SELECT psi FROM ps) AS psi
          FROM f)
    SELECT n_strata, n_used, CAST(df AS BIGINT) AS df, psi AS or_mh,
           CASE WHEN n_used >= 2 THEN chi6 / 1000000.0 END AS bd_chi2,
           CASE WHEN n_used >= 2 THEN CAST(({_BD_CRIT_SQL}) AS DOUBLE) END
             AS critical,
           CASE WHEN n_used >= 2 AND ({_BD_CRIT_SQL}) IS NOT NULL
                THEN chi6 / 1000000.0 <= ({_BD_CRIT_SQL}) END AS homogeneous
    FROM g
    """,
)
def j_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow-Day test of odds-ratio HOMOGENEITY across the weekly
    strata (Breslow & Day 1980, public) — the assumption audit under
    j_mantel_haenszel: the MH common OR is only meaningful if the
    per-stratum ORs agree, and BD is the standard check. Per stratum
    the expected a-cell under the pooled OR psi solves the quadratic
    psi = a(n-r1-c1+a)/((r1-a)(c1-a)) (the admissible minus root,
    continuous with the psi = 1 linear case r1 c1/n); the statistic
    sums (a - a_tilde)^2 / V_tilde against chi-square(strata - 1).

    EXACT: cell counts and margins are exact BIGINTs; psi is the
    ROUNDED j_mantel_haenszel pooled estimate (the same 1e-6-floored
    R/S term device), so both engines seed the quadratic with the
    identical double; root, variance and each stratum term are ONE
    IEEE sequence, each term floored ONCE to a 1e-6-grid BIGINT and
    summed exactly; strata whose expected cells degenerate are
    excluded (n_used) and df follows. Critical values are a literal
    df table (1..6).

    Plan: the j_mantel_haenszel plan verbatim — a 1-row min-day fold
    broadcast, ONE |weeks|-row hash agg, then single-row folds. At
    100 TB only the stratum agg scales."""
    t = load(spark, sf_dir)
    m = t.events.agg(
        F.min(F.timestamp_millis(F.col("ts_ms")).cast("date")).alias("d0")
    )
    e = t.events.crossJoin(F.broadcast(m)).select(
        F.expr(
            "CAST(datediff(CAST(timestamp_millis(ts_ms) AS DATE), d0) AS BIGINT)"
            " div 7"
        ).alias("wk"),
        (F.col("user_id") % 2 == 0).cast("long").alias("exposed"),
        (F.col("event_type") == "click").cast("long").alias("hit"),
    )
    c = e.groupBy("wk").agg(
        F.sum(F.col("exposed") * F.col("hit")).cast("long").alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("hit"))).cast("long").alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("hit")).cast("long").alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("hit"))).cast("long").alias("d"),
        F.count("*").cast("long").alias("n"),
    )
    c.persist()  # consumers: the pooled-OR fold and the per-stratum pass
    a, b, cc, d, n = F.col("a"), F.col("b"), F.col("c"), F.col("d"), F.col("n")
    r6 = F.floor(a.cast("double") * d / n * 1000000.0 + F.lit(0.5)).cast("long")
    s6 = F.floor(b.cast("double") * cc / n * 1000000.0 + F.lit(0.5)).cast("long")
    o = c.agg(F.sum(r6).cast("long").alias("rr6"), F.sum(s6).cast("long").alias("ss6"))
    ps = o.select(
        F.when(
            F.col("ss6") > 0,
            F.floor(F.col("rr6").cast("double") / F.col("ss6") * 1000000 + F.lit(0.5))
            / 1000000,
        ).alias("psi")
    )
    q = c.crossJoin(F.broadcast(ps)).select(
        "wk",
        "a",
        "n",
        "psi",
        (a + b).cast("double").alias("r1"),
        (a + cc).cast("double").alias("c1"),
    )
    psi, r1, c1 = F.col("psi"), F.col("r1"), F.col("c1")
    bq = psi * (r1 + c1) + (n - r1 - c1)
    atil = F.when(
        F.abs(psi - 1.0) < 1e-12, r1 * c1 / n
    ).otherwise(
        (bq - F.sqrt(bq * bq - 4.0 * (psi - 1.0) * psi * r1 * c1))
        / (2.0 * (psi - 1.0))
    )
    q2 = q.select("wk", "a", "n", "psi", "r1", "c1", atil.alias("atil"))
    at = F.col("atil")
    okc = (at > 0) & (r1 - at > 0) & (c1 - at > 0) & (n - r1 - c1 + at > 0)
    vt = F.when(
        okc,
        F.lit(1.0)
        / (
            F.lit(1.0) / at
            + F.lit(1.0) / (r1 - at)
            + F.lit(1.0) / (c1 - at)
            + F.lit(1.0) / (n - r1 - c1 + at)
        ),
    )
    v = q2.select("wk", "a", "n", "r1", "c1", "atil", vt.alias("vt"))
    term6 = F.when(
        F.col("vt").isNotNull() & (F.col("vt") > 0),
        F.floor(
            (F.col("a") - F.col("atil"))
            * (F.col("a") - F.col("atil"))
            / F.col("vt")
            * 1000000.0
            + F.lit(0.5)
        ).cast("long"),
    )
    t6 = v.select("wk", term6.alias("term6"))
    f = t6.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.count("term6").cast("long").alias("n_used"),
        F.sum("term6").cast("long").alias("chi6"),
    )
    g = f.crossJoin(F.broadcast(ps)).select(
        "n_strata",
        "n_used",
        (F.col("n_used") - 1).cast("long").alias("df"),
        "chi6",
        "psi",
    )
    crit = F.expr(_BD_CRIT_SQL)
    ok = F.col("n_used") >= 2
    return g.select(
        "n_strata",
        "n_used",
        "df",
        F.col("psi").alias("or_mh"),
        F.when(ok, F.col("chi6") / F.lit(1000000.0)).alias("bd_chi2"),
        F.when(ok, crit.cast("double")).alias("critical"),
        F.when(
            ok & crit.isNotNull(), (F.col("chi6") / F.lit(1000000.0)) <= crit
        ).alias("homogeneous"),
    )

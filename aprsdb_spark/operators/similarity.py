"""Similarity search over embedding columns (array<float>).

- dot_expr:    pure-SQL dot product (zip_with + aggregate) — the data is
               L2-normalized, so dot == cosine (FIXTURES.md).
- brute top-k: score all, TakeOrderedAndProject — exact baseline.
- IVF:         coarse quantizer (K centroids, deterministic seed rows),
               assign once, probe nprobe clusters at query time. The
               100 TB path: the index pass is one broadcast-join +
               window over the corpus; a query then scans ~nprobe/K of
               the data. Centroid collect() is index *metadata* (K·dim
               floats), not a data collect.
- LSH (random hyperplane): sign-bit sketch for cosine — bucket join for
  all-pairs, multi-probe search; plane patterns are driver-side
  constants embedded as literals, seed-stable.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def as_double(vec: str | Column) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-order dot product — bit-identical on any engine that
    folds left (DuckDB list_dot_product, NumPy pairwise differs — oracle
    uses list_dot_product on DOUBLE[] which matches)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def dot_expr_unrolled(a: Column, b: Column, dim: int) -> Column:
    """dot_expr for a KNOWN width, unrolled to plain arithmetic:
    a[0]*b[0] + a[1]*b[1] + ... is the SAME left-fold IEEE sequence as
    dot_expr/list_dot_product (0.0 + x == x), so results stay
    bit-identical — verified by checksum over the full sf0.1 batch-kNN
    fan-out — but the expression compiles into whole-stage codegen
    instead of the interpreted higher-order aggregate: measured 2.33 ->
    1.26 s on the 200-query x corpus scoring pass (r14 A/B). Use on
    hot fixed-width paths; dot_expr remains the generic form. A dim
    SHORTER than the arrays scores the prefix (the Matryoshka read —
    no slice materialization needed)."""
    out = a.getItem(0) * b.getItem(0)
    for i in range(1, dim):
        out = out + a.getItem(i) * b.getItem(i)
    return out


def brute_topk(emb: DataFrame, query_vec: Column, k: int = 10) -> DataFrame:
    """Exact top-k by dot score; deterministic tie-break on vec_id."""
    from ..functions import rnd

    scored = emb.select(
        "vec_id", "label", rnd(dot_expr(as_double("embedding"), query_vec), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(k)


def ivf_assign(
    emb: DataFrame, k_clusters: int = 16, cents: list | None = None
) -> tuple[DataFrame, list]:
    """IVF index: assign every vector to its max-dot centroid. Centroids
    default to deterministic seed rows; pass kmeans_train() output for a
    trained quantizer (better recall at the same nprobe).

    Returns (assignments df, centroid python list for query planning).
    """
    if cents is None:
        cents = [
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in emb.orderBy("vec_id").limit(k_clusters).collect()
        ]
    # NARROW assignment: argmax over k literal centroids via array_max of
    # struct(score, -cid) — struct ordering is lexicographic, so ties
    # break to the SMALLEST cluster_id. No explode (k-fold row blowup),
    # no window, and critically no shuffle: assignment is a map stage.
    assigned = emb.select(
        "vec_id",
        "label",
        "embedding",
        _best_centroid(cents).alias("b"),
    ).select(
        "vec_id",
        "label",
        "embedding",
        (-F.col("b.ncid")).alias("cluster_id"),
        F.col("b.s").alias("cscore"),
    )
    return assigned, cents


def _lit_matrix(vecs: list[list[float]]) -> Column:
    """array<array<double>> literal built from ONE parsed SQL expression.
    The per-element F.lit form costs a py4j round-trip per float —
    measured 0.8 s of pure driver time for a 16x64 matrix vs 5 ms here,
    paid on EVERY query build (so 3x per IVF query: 2 Lloyd rounds +
    final assignment). repr() is the shortest exact decimal, and
    CAST('…' AS DOUBLE) parses it back to the identical double, so the
    constant-folded literal is bit-equal to the F.lit form."""
    sql = "array(" + ",".join(
        "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in v) + ")"
        for v in vecs
    ) + ")"
    return F.expr(sql)


def _lit_vector(v: list[float]) -> Column:
    """array<double> literal via one parsed expression (see _lit_matrix)."""
    return F.expr(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in v) + ")"
    )


def _best_centroid(cents: list, emb_col: str = "embedding") -> Column:
    """struct<s: double, ncid: int> of the max-dot centroid for a row's
    embedding; ncid is the NEGATED cluster id so lexicographic struct
    max tie-breaks to the smallest id. One HOF over the literal centroid
    matrix, not k unrolled expressions (HOF-over-literal folds constant
    and keeps the expression tree k-independent)."""
    mat = _lit_matrix([[float(x) for x in vec] for _, vec in cents])
    ncids = F.expr(
        "array(" + ",".join(str(-int(cid)) for cid, _ in cents) + ")"
    )
    e = as_double(emb_col)
    return F.array_max(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(cents))),
            lambda i: F.struct(
                dot_expr(F.element_at(mat, i), e).alias("s"),
                F.element_at(ncids, i).alias("ncid"),
            ),
        )
    )


def seq_dot(a: list[float], b: list[float]) -> float:
    """Driver-side dot product as a strict LEFT FOLD — the same IEEE
    operation order as dot_expr (Spark) and list_dot_product (DuckDB),
    so driver-planned decisions (e.g. which clusters to probe) are
    bit-reproducible by an oracle engine. numpy's pairwise/SIMD dot is
    NOT: it can differ in the last ulp and flip a probe ranking."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def ivf_search(
    assigned: DataFrame, cents: list, query_vec: list[float], k: int = 10, nprobe: int = 4
) -> DataFrame:
    """Probe the nprobe closest clusters, brute-force within them.
    Probe ranking: (dot DESC, cluster_id ASC) with seq_dot, so the
    probe set is reproducible from the centroid literals alone."""
    from ..functions import rnd

    q = [float(x) for x in query_vec]
    order = sorted(((seq_dot(q, v), -int(cid)) for cid, v in cents), reverse=True)
    probe = [-ncid for _, ncid in order[:nprobe]]
    qcol = _lit_vector(q)
    return (
        assigned.where(F.col("cluster_id").isin(probe))
        .select(
            "vec_id",
            "label",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            rnd(dot_expr(as_double("embedding"), qcol), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def _plane_sign(p: int, j: int) -> float:
    """Deterministic pseudo-random ±1 for plane p, dimension j (md5
    parity — seed-stable across runs; bucketing only, so the exact
    family doesn't matter)."""
    import hashlib

    return 1.0 if hashlib.md5(f"{p},{j}".encode()).digest()[0] & 1 == 0 else -1.0


def _sign_matrix_t_sql(n_planes: int, dim: int) -> str:
    """TRANSPOSED ±1 plane family as one SQL literal: dim rows of
    n_planes signs each (matT[j][p] == _plane_sign(p, j)). The
    transposed layout lets a single fold over dimensions carry ALL
    plane projections in an array accumulator — see hyperplane_sketch."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{_plane_sign(p, j)!r}D" for p in range(n_planes)) + ")"
            for j in range(dim)
        )
        + ")"
    )


def hyperplane_sketch(vec: str, n_planes: int = 16, dim: int = 64) -> Column:
    """Random-hyperplane (sign) sketch for cosine LSH, as an INT bucket.

    The ±1 plane patterns are data-INDEPENDENT, so they are computed
    once on the driver and embedded as literal arrays. The whole sketch
    is ONE parsed SQL expression instead of n_planes unrolled
    aggregate(zip_with(...)) Column trees: the unrolled form cost
    ~n_planes·dim py4j/analysis work on EVERY query build (~1.5-6 s of
    pure driver time at 16-32 planes, measured r16) while this form is
    O(1) driver-side and analyzes in milliseconds.

    Shape constraint (learned the hard way): the input column must
    appear ONLY as a top-level function argument, never captured inside
    an outer lambda — an attribute reference under a lambda survives
    analysis but can fail task-time binding with
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND after self-join attribute
    deduplication (the *_bucketed qids self-join the tagged frame). So
    the plane loop is NOT a lambda over plane index; instead ONE fold
    over dimensions carries all n_planes projections in an array
    accumulator against the TRANSPOSED sign matrix, and the key folds
    the projection signs. Per-plane arithmetic is the identical IEEE
    sequence (acc_p starts 0.0 and adds x_j*s_jp in ascending j —
    exactly the old per-plane left fold; integer bit adds are exact),
    so bucket values are bit-identical to the unrolled form — verified
    at all three SFs.

    Contract (ADVICE r16): the input column must hold vectors of EXACTLY
    ``dim`` elements — a longer vector would null-pad the transposed
    sign matrix under zip_with and null the whole accumulator (where the
    old per-plane form yielded bit 0), and ``n_planes`` must stay <= 31
    because shiftleft(1, p) is INT arithmetic (the old F.lit(1 << p)
    promoted to long). Only the plane-count bound is asserted here. The
    dim contract is the caller's: every registered embedding fixture is
    dim=64, and a per-row size check would add work to every LSH qid."""
    assert 0 < n_planes <= 31, f"n_planes={n_planes}: shiftleft(1, p) overflows INT past 31"
    mat_t = _sign_matrix_t_sql(n_planes, dim)
    projs = (
        f"aggregate(zip_with(transform(`{vec}`, x -> CAST(x AS DOUBLE)), {mat_t}, "
        f"(x, srow) -> transform(srow, s -> x * s)), "
        f"array_repeat(0.0D, {n_planes}), "
        f"(acc, term) -> zip_with(acc, term, (a, t) -> a + t))"
    )
    return F.expr(
        f"aggregate(zip_with({projs}, sequence(0, {n_planes - 1}), "
        f"(pr, p) -> IF(pr >= 0, shiftleft(1, p), 0)), 0, (kacc, bit) -> kacc + bit)"
    )


def hyperplane_band_keys(
    vec: str, bands: int = 8, planes_per_band: int = 4, dim: int = 64
) -> Column:
    """Banded (OR-construction) hyperplane LSH: array of ``bands`` keys,
    band b built from planes b*r .. b*r+r-1 of the same deterministic
    ±1 family as hyperplane_sketch. Two vectors are similarity
    CANDIDATES iff ANY band key matches — the standard AND/OR LSH
    amplification (Broder's banding, applied to sign sketches).

    Why this exists next to the single-band sketch: one 8-plane band
    collides two cosine-0.32 unit vectors with probability
    (1 - θ/π)^8 ≈ 0.6^8 ≈ 2% — the single-band bucket is a
    HIGH-PRECISION candidate filter, not a recall-oriented one (its
    measured recall vs the exact tau=0.3 truth is ~0, j_lsh_recall).
    With r=4, b=8 the OR over bands lifts recall to 1-(1-0.6^4)^8 ≈
    0.70 (measured 0.70-0.73 across sf0.001/0.01/0.1) at the cost of
    examining more candidate pairs — the honest LSH tradeoff at a weak
    similarity threshold. At 100 TB the explode is narrow (×b rows,
    no shuffle); the one shuffle is the (band, key) equi-join.

    Built as ONE parsed SQL expression instead of bands·planes unrolled
    aggregate(zip_with(...)) Column trees — the unrolled form cost
    ~8.5 s of driver-side build+analysis per query at sf0.1 (measured
    r16, ~1 ms/py4j call on this host), this form <0.1 s. Same shape
    constraint as hyperplane_sketch: the input column appears ONLY as a
    top-level function argument (never captured under an outer lambda,
    which can fail task-time binding after self-join attribute dedup),
    so one fold over dimensions carries all bands·r projections in an
    array accumulator against the transposed sign matrix, per-plane key
    bits derive from the projection signs, and a second fold scatters
    the bits into their band slots. Per-plane arithmetic is the
    identical IEEE sequence (acc_p starts 0.0 and adds x_j*s_jp in
    ascending j; integer bit adds are exact), so keys are bit-identical
    to the unrolled form — verified at all three SFs.

    Contract (ADVICE r16, same as hyperplane_sketch): input vectors must
    hold EXACTLY ``dim`` elements, and ``planes_per_band`` must stay
    <= 31 (the in-band shiftleft(1, p % planes_per_band) is INT). Only
    the ``planes_per_band`` bound is asserted."""
    assert 0 < planes_per_band <= 31, (
        f"planes_per_band={planes_per_band}: in-band shiftleft overflows INT past 31"
    )
    n_planes = bands * planes_per_band
    mat_t = _sign_matrix_t_sql(n_planes, dim)
    projs = (
        f"aggregate(zip_with(transform(`{vec}`, x -> CAST(x AS DOUBLE)), {mat_t}, "
        f"(x, srow) -> transform(srow, s -> x * s)), "
        f"array_repeat(0.0D, {n_planes}), "
        f"(acc, term) -> zip_with(acc, term, (a, t) -> a + t))"
    )
    keybits = (
        f"zip_with({projs}, sequence(0, {n_planes - 1}), "
        f"(pr, p) -> struct(p div {planes_per_band} AS band, "
        f"IF(pr >= 0, shiftleft(1, p % {planes_per_band}), 0) AS bit))"
    )
    return F.expr(
        f"aggregate({keybits}, array_repeat(0, {bands}), "
        f"(acc, kb) -> zip_with(acc, sequence(0, {bands - 1}), "
        f"(a, b) -> IF(b = kb.band, a + kb.bit, a)))"
    )


def banded_gemm_pairs(
    tagged: DataFrame, tau: float, parallelism: int, n_splits: int = 1
) -> DataFrame:
    """Score every same-(band, key) pair >= tau via per-bucket
    vectorized numpy inside applyInPandas — the Arrow-batched scale
    path for banded-LSH all-pairs.

    Why not a declarative self-join: the (band, key) equi-join is the
    right LOGICAL plan, but materializing ~n²·p candidate rows through
    the JVM row pipeline dominates wall-clock (measured 7-9 s at sf0.1
    for ~1M candidates; this path: 1.3-2 s) — the candidates exist
    only to be scored and filtered, so scoring them inside the bucket
    group and emitting only survivors ships |rows|·bands rows over
    Arrow instead of |pairs| rows through the join. At 100 TB each
    (band, key) bucket is one group (bucketed write -> exchange-free),
    and the per-group work is tiled on BOTH pair axes (256×256×dim
    tiles ≈ 33 MB) so peak memory is O(block² · dim) — independent of
    bucket size. For hot buckets whose O(m²·dim) COMPUTE overflows one
    task, pass n_splits=S to salt each bucket into S(S+1)/2 co-grouped
    split-pairs (see _gemm_pairs), bounding per-task work at
    ~(2m/S)²·dim with bit-identical output.

    Float parity: products accumulate with np.add.accumulate along the
    dim axis — a strict LEFT FOLD, the same IEEE operation order as
    dot_expr / DuckDB's list_dot_product (np.dot/matmul pairwise-SIMD
    summation is NOT reproducible across engines); the 1e-6 floor is
    the same exact multiply/floor every engine applies. Verified
    bit-identical to the declarative join at all three test scales.

    `tagged` must carry (vec_id, v: array<double>, band, key)."""
    return _gemm_pairs(tagged, ["band", "key"], "band", tau, parallelism, n_splits)


def label_gemm_pairs(tagged: DataFrame, tau: float, parallelism: int) -> DataFrame:
    """Label-blocked exact all-pairs via the same per-group blocked
    kernel — the ground-truth quadratic (j_sim_pairs) scored without
    materializing Σn_g² JVM join rows. Bit-identical to the
    declarative label self-join (same left-fold accumulate, same 1e-6
    floor). `tagged` must carry (vec_id, v: array<double>, label)."""
    return _gemm_pairs(tagged, ["label"], "label", tau, parallelism)


def _gemm_pairs(
    tagged: DataFrame,
    group_cols: list[str],
    tag_col: str,
    tau: float,
    parallelism: int,
    n_splits: int = 1,
    blk: int = 256,
) -> DataFrame:
    """Group-blocked all-pairs scorer. Memory AND compute are both
    bounded:

    - MEMORY: pairs are scored in blk×blk tiles over BOTH axes — the
      working set is one (blk, blk, dim) product tensor (≈33 MB at the
      256/64 defaults), reused in place by np.add.accumulate(out=...),
      regardless of bucket size m. (The r7 kernel blocked only the
      i-axis: its (blk, m, dim) strip grew linearly with m — ~13 GB for
      a hot m≈1e5 bucket — the r7 verdict's one `weak` finding.)
      Rows are sorted by vec_id inside the group so the id_a < id_b
      half-pairs live in the upper triangle and j-tiles strictly below
      the diagonal are never materialized (≈2× fewer tiles).

    - COMPUTE (n_splits=S > 1): applyInPandas runs one task per group,
      so a hot (band, key) bucket is O(m²·dim) in ONE task no matter
      how tiles bound its memory. The split path salts each row with
      split = xxhash64(vec_id) mod S and replicates it into the S
      group-pairs (sa, sb) = (min(split,t), max(split,t)) for t < S;
      grouping on (*group_cols, sa, sb) yields S(S+1)/2 tasks per
      bucket, each holding only splits {sa, sb} (≤ ~2m/S rows). Cross
      groups (sa≠sb) emit only cross-split pairs, diagonal groups
      (sa=sb) emit within-split pairs — every unordered pair lands in
      exactly one group, so the union is the exact pair set. Pair
      arithmetic is unchanged (dot folds over dims, independent of row
      order/grouping), so output is bit-identical to n_splits=1 —
      pinned by test_scale_paths' cross-blocking equality test.

    Float parity with dot_expr/DuckDB list_dot_product: strict left
    fold via np.add.accumulate along the dim axis; 1e-6 floor applied
    identically.
    """
    import numpy as np
    import pandas as pd

    split_mode = n_splits > 1

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                tag_col: pd.Series([], dtype="int32"),
                "score": pd.Series([], dtype="float64"),
            }
        )

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return _empty()
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        v = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64, copy=False)
        tag = np.int32(pdf[tag_col].iloc[0])
        cross = False
        if split_mode:
            sp = pdf["split"].to_numpy()[order]
            cross = int(pdf["sa"].iloc[0]) != int(pdf["sb"].iloc[0])
        out_a, out_b, out_s = [], [], []
        for i0 in range(0, m, blk):
            strip = v[i0 : i0 + blk]
            sids = ids[i0 : i0 + blk]
            # ids are sorted: tiles strictly below the diagonal hold only
            # id_a > id_b pairs — skip them entirely
            for j0 in range(i0, m, blk):
                tile = v[j0 : j0 + blk]
                tids = ids[j0 : j0 + blk]
                prod = strip[:, None, :] * tile[None, :, :]
                np.add.accumulate(prod, axis=2, out=prod)
                scores = np.floor(prod[:, :, -1] * 1e6 + 0.5) / 1e6
                mask = (sids[:, None] < tids[None, :]) & (scores >= tau)
                if cross:
                    # group holds splits {sa, sb}, sa != sb: this group
                    # owns only the one-from-each-split pairs (the
                    # within-split pairs belong to the diagonal groups)
                    mask &= sp[i0 : i0 + blk, None] != sp[j0 : j0 + blk][None, :]
                ai, bi = np.nonzero(mask)
                if len(ai):
                    out_a.append(sids[ai])
                    out_b.append(tids[bi])
                    out_s.append(scores[ai, bi])
        if not out_a:
            return _empty()
        a = np.concatenate(out_a)
        return pd.DataFrame(
            {
                "id_a": a,
                "id_b": np.concatenate(out_b),
                tag_col: np.full(len(a), tag, dtype="int32"),
                "score": np.concatenate(out_s),
            }
        )

    if split_mode:
        s_lit = F.lit(int(n_splits))
        salted = tagged.withColumn(
            "split", F.pmod(F.xxhash64(F.col("vec_id")), s_lit).cast("int")
        )
        # replicate each row into its S (sa, sb) co-group pairs — a
        # narrow ×S explode, no shuffle until the group-by below
        pairs = F.transform(
            F.sequence(F.lit(0), s_lit - F.lit(1)),
            lambda t: F.struct(
                F.least(F.col("split"), t).cast("int").alias("sa"),
                F.greatest(F.col("split"), t).cast("int").alias("sb"),
            ),
        )
        salted = salted.withColumn("g", F.explode(pairs)).select(
            *tagged.columns, "split", F.col("g.sa").alias("sa"), F.col("g.sb").alias("sb")
        )
        return (
            salted.repartition(parallelism, *group_cols, "sa", "sb")
            .groupBy(*group_cols, "sa", "sb")
            .applyInPandas(
                score_group, f"id_a long, id_b long, {tag_col} int, score double"
            )
        )

    return (
        tagged.repartition(parallelism, *group_cols)
        .groupBy(*group_cols)
        .applyInPandas(
            score_group, f"id_a long, id_b long, {tag_col} int, score double"
        )
    )


def lsh_probe_buckets(qbucket: int, n_planes: int, radius: int) -> list[int]:
    """All bucket ids within Hamming distance <= radius of qbucket —
    the multi-probe set. Driver-side: sum_{r<=radius} C(n_planes, r)
    ints of index metadata, independent of data size."""
    from itertools import combinations

    out = [qbucket]
    for r in range(1, radius + 1):
        for flips in combinations(range(n_planes), r):
            b = qbucket
            for f in flips:
                b ^= 1 << f
            out.append(b)
    return out


def lsh_search(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_planes: int = 8,
    radius: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Hyperplane-LSH bucketed ANN: sign-sketch every vector into one of
    2^n_planes buckets, multi-probe the buckets within Hamming radius of
    the query's bucket, brute-force rank inside them.

    100 TB path: the sketch is computed once at WRITE time and the table
    is partitioned/bucketed by `bucket`, so the isin() probe below is
    partition PRUNING — a query touches ~probe/2^n_planes of the data
    and never shuffles. The query's own bucket is always probed
    (Hamming 0), so the query vector itself is always retrievable."""
    from ..functions import rnd

    tagged = emb.withColumn(
        "bucket", hyperplane_sketch("embedding", n_planes=n_planes, dim=dim)
    )
    qrow = tagged.where(F.col("vec_id") == query_id).select("embedding", "bucket").head()
    qvec = [float(x) for x in qrow.embedding]
    probe = lsh_probe_buckets(int(qrow.bucket), n_planes, radius)
    qcol = _lit_vector(qvec)
    return (
        tagged.where(F.col("bucket").isin(probe))
        .select(
            "vec_id",
            "label",
            F.col("bucket").cast("long").alias("bucket"),
            rnd(dot_expr(as_double("embedding"), qcol), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def kmeans_train(emb: DataFrame, k: int = 16, iters: int = 2) -> list:
    """Lloyd's k-means over the embedding column, expressed as DataFrame
    ops per iteration: broadcast centroids → max-dot assignment (window)
    → per-dimension avg (posexplode + hash agg) → collect the k*dim
    model back to the driver. The collect is MODEL state (k·dim floats),
    not data — the same loop runs unchanged over 100 TB.

    Init = first k vectors by vec_id (deterministic). Returns
    [(cluster_id, [centroid floats])].

    The working set is persisted across iterations — Lloyd re-reads the
    corpus once per iteration, and at scale the re-scan (and any
    upstream transform) dominates; unpersisted on exit since the
    returned model is already materialized on the driver.
    """
    emb = emb.select("vec_id", "embedding").persist()
    try:
        return _kmeans_iterate(emb, k, iters)
    finally:
        emb.unpersist()


def _kmeans_iterate(emb: DataFrame, k: int, iters: int) -> list:
    cents = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.orderBy("vec_id").limit(k).collect()
    ]
    cents = [(i, v) for i, (_, v) in enumerate(cents)]
    for _ in range(iters):
        # narrow argmax assignment (see _best_centroid) — the only
        # shuffle per iteration is the (cid, dim) hash agg below, whose
        # map-side partials are k*dim rows per partition, data-size-free
        assigned = emb.select(
            "embedding", (-_best_centroid(cents)["ncid"]).alias("cid")
        )
        new_cents = (
            assigned.select("cid", F.posexplode(as_double("embedding")).alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(F.sort_array(F.collect_list(F.struct("dim", "m"))).alias("dims"))
            .select("cid", F.transform("dims", lambda d: d.m).alias("cv"))
            .collect()
        )
        import math as _math

        by_cid = {}
        for r in new_cents:
            v = [float(x) for x in r.cv]
            norm = _math.sqrt(sum(x * x for x in v))
            if norm > 1e-12:
                # SPHERICAL k-means: renormalize — raw means shrink in
                # norm (mean of unit vectors is inside the sphere), which
                # would make dot-based assignment degrade monotonically
                by_cid[int(r.cid)] = [x / norm for x in v]
        # empty clusters keep their previous centroid
        cents = [(cid, by_cid.get(cid, vec)) for cid, vec in cents]
    return cents


# The three trainers below are memoized per (sf_dir, hyperparams): a
# model is deterministic given its args, several oracle builders and
# queries share one, and retraining on every call/import was measured
# driver-side constant (r9 ADVICE). The cached objects are IMMUTABLE
# nested tuples (r10 ADVICE: the earlier lists made the READ-ONLY
# contract comment-only — one mutating caller would have poisoned
# every consumer), and clear_trainer_caches() below is the hook for
# anything that regenerates the parquet under a previously-trained
# sf_dir within one process (fixture rebuilds, long-lived sessions).
@functools.lru_cache(maxsize=None)
def kmeans_train_local(
    sf_dir: str, k: int = 16, iters: int = 2, sample: int = 4096
) -> list:
    """Spherical k-means trained DRIVER-SIDE on a bounded deterministic
    sample: the first `sample` vectors by vec_id, read straight from
    parquet with pyarrow. Returns [(cluster_id, [float]*dim)].

    Why driver-side: the coarse quantizer of an IVF index is standard
    practice to train on a bounded sample — the model is k*dim floats
    of index METADATA, and the sample is capped regardless of corpus
    size, so this is 100 TB-safe (the distributed pass is assignment,
    not training). The payoff is verifiability: the trained centroids
    are plain Python floats embedded as literals in BOTH the Spark
    plan and the DuckDB oracle, so training arithmetic (numpy here)
    never needs to be bit-matched across engines — only the shared
    downstream folds do.

    Same semantics as _kmeans_iterate: init = first k by vec_id,
    argmax-dot assignment (tie -> smallest cid), per-dim mean,
    renormalize (spherical); empty clusters keep their centroid.
    """
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pydict()
    pairs = sorted(zip(tbl["vec_id"], tbl["embedding"]))[:sample]
    # float32 -> float64 is exact, so these are the same doubles Spark's
    # CAST(embedding AS array<double>) and DuckDB's DOUBLE[] cast see.
    X = np.array([[float(x) for x in v] for _, v in pairs], dtype=np.float64)
    C = X[:k].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)  # first max = smallest cid
        for cid in range(k):
            members = X[assign == cid]
            if len(members):
                m = members.mean(axis=0)
                norm = float(np.sqrt((m * m).sum()))
                if norm > 1e-12:
                    C[cid] = m / norm
    return tuple((cid, tuple(float(x) for x in C[cid])) for cid in range(k))


@functools.lru_cache(maxsize=None)
def pq_train_local(
    sf_dir: str,
    n_blocks: int = 4,
    k: int = 16,
    iters: int = 2,
    sample: int = 4096,
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks trained DRIVER-SIDE: the embedding
    space is split into ``n_blocks`` contiguous subspaces and a plain
    (L2, non-spherical) k-means of ``k`` centroids is trained per
    subspace on the same bounded deterministic sample as
    kmeans_train_local. Returns one [(code, subvector)] list per block.

    Same verifiability contract as the IVF quantizer: the codebooks are
    k·dim floats of index METADATA embedded as literals in BOTH the
    Spark plan and the DuckDB oracle, so the numpy training arithmetic
    never needs cross-engine bit-matching — only the downstream
    assignment folds do. Assignment uses the exact-L2 identity
    argmin ||v-c||² == argmax (v·c − c·c/2): pure dot arithmetic on the
    shared sequential fold, tie → smallest code.

    Init = first k sample rows' subvectors; update = plain per-dim
    mean; empty codes keep their centroid (mirrors kmeans_train_local).
    """
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pydict()
    pairs = sorted(zip(tbl["vec_id"], tbl["embedding"]))[:sample]
    X = np.array([[float(x) for x in v] for _, v in pairs], dtype=np.float64)
    dim = X.shape[1]
    if dim % n_blocks:
        raise ValueError(f"dim {dim} not divisible into {n_blocks} blocks")
    d = dim // n_blocks
    books: list[list[tuple[int, list[float]]]] = []
    for b in range(n_blocks):
        Xb = X[:, b * d : (b + 1) * d]
        C = Xb[:k].copy()
        for _ in range(iters):
            # argmin L2 == argmax (dot - |c|²/2); first max = smallest code
            scores = Xb @ C.T - 0.5 * (C * C).sum(axis=1)
            assign = np.argmax(scores, axis=1)
            for cid in range(k):
                members = Xb[assign == cid]
                if len(members):
                    C[cid] = members.mean(axis=0)
        books.append(tuple((cid, tuple(float(x) for x in C[cid])) for cid in range(k)))
    return tuple(books)


def _session_token() -> str:
    """Identity of the live SparkContext behind parsed Column objects.
    Unlike the trainer caches (plain floats, valid forever), a memoized
    Column holds py4j expression handles into ONE JVM: after an
    in-process session stop/restart a cached entry is a stale ref that
    surfaces as opaque py4j errors (r11 ADVICE). Keying the memo on
    applicationId (fresh per SparkContext) makes the cache
    self-invalidating — no caller has to remember
    clear_trainer_caches() across a restart."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    return s.sparkContext.applicationId if s is not None else ""


@functools.lru_cache(maxsize=None)
def _code_model_cols(codebook: tuple, session_token: str = ""):
    """Memoized literal Columns for one codebook: the parsed literal
    matrix / halves / ncids. Building these costs a py4j expr-parse
    round-trip per literal array — measured ~1.4 s of pure DRIVER time
    per PQ query build (8 blocks × 3 literals), paid by every member
    of the PQ family (j_ann_pq, _recall, _sink, recall_curve, ndcg,
    rank_tau, s_ann_ingest) on EVERY build. Column objects are
    immutable unresolved expressions over literals only, so one parse
    serves every query in the process; the cache key works because
    trainer models are immutable nested tuples (r10 ADVICE) AND the
    key carries the SparkContext identity (r11 ADVICE — a JVM restart
    must not serve stale py4j handles; see _session_token)."""
    mat = _lit_matrix([[float(x) for x in vec] for _, vec in codebook])
    halves = _lit_vector([0.5 * seq_dot(vec, vec) for _, vec in codebook])
    ncids = F.expr(
        "array(" + ",".join(str(-int(cid)) for cid, _ in codebook) + ")"
    )
    return mat, halves, ncids


def best_code_expr(codebook, sub: Column) -> Column:
    """struct<s: double, ncid: int> of the L2-nearest code for a
    subvector column, via argmax (v·c − c·c/2) over the literal
    codebook — _best_centroid generalized to non-unit centroids (the
    −|c|²/2 correction makes max-dot equal min-L2). The c·c/2 halves
    are driver-side left-fold literals, so the oracle subtracts the
    IDENTICAL double. ncid negated for smallest-code tie-breaks."""
    mat, halves, ncids = _code_model_cols(
        tuple((int(cid), tuple(float(x) for x in vec)) for cid, vec in codebook),
        _session_token(),
    )
    return F.array_max(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(codebook))),
            lambda i: F.struct(
                (dot_expr(F.element_at(mat, i), sub) - F.element_at(halves, i)).alias(
                    "s"
                ),
                F.element_at(ncids, i).alias("ncid"),
            ),
        )
    )


def kmeans_objective(emb: DataFrame, cents: list) -> float:
    """Mean best-dot over the corpus — the quantity Lloyd ascends
    (for L2-normalized data, max dot == min squared distance).
    One narrow map + a scalar avg: no explode, no per-vector shuffle."""
    best = emb.select(_best_centroid(cents)["s"].alias("best"))
    return best.agg(F.avg("best")).collect()[0][0]


@functools.lru_cache(maxsize=None)
def pca_axis_local(
    sf_dir: str, sample: int = 4096, iters: int = 20
) -> tuple[list[float], list[float], float]:
    """Principal axis of the embedding cloud, trained DRIVER-SIDE by
    fixed-round power iteration on the covariance of a bounded
    deterministic sample (first `sample` vectors by vec_id, straight
    from parquet via pyarrow). Returns (mean, axis, offset) with
    offset = axis . mean, all plain Python floats.

    Same discipline as kmeans_train_local: the model is dim + dim + 1
    floats of index METADATA entering BOTH engines as literals, so the
    training arithmetic (numpy) never needs cross-engine bit-matching
    — only the downstream per-row projection fold does. Deterministic
    by construction: fixed init (uniform direction), fixed iteration
    count, no RNG; the sign convention (first non-tiny component
    positive) pins the axis orientation, which eigenvectors leave
    free. 100 TB-safe because the sample is capped regardless of
    corpus size; the distributed pass is projection, not training.
    """
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pydict()
    pairs = sorted(zip(tbl["vec_id"], tbl["embedding"]))[:sample]
    X = np.array([[float(x) for x in v] for _, v in pairs], dtype=np.float64)
    mu = X.mean(axis=0)
    xc = X - mu
    cov = xc.T @ xc
    v = np.ones(cov.shape[0]) / float(np.sqrt(cov.shape[0]))
    for _ in range(iters):
        v = cov @ v
        norm = float(np.sqrt((v * v).sum()))
        if norm <= 1e-30:  # degenerate cloud: keep the uniform direction
            v = np.ones(cov.shape[0]) / float(np.sqrt(cov.shape[0]))
            break
        v = v / norm
    for x in v:
        if abs(float(x)) > 1e-9:
            if float(x) < 0:
                v = -v
            break
    axis = tuple(float(a) for a in v)
    mean = tuple(float(m) for m in mu)
    offset = float(np.dot(np.array(axis), np.array(mean)))
    return mean, axis, offset


@functools.lru_cache(maxsize=None)
def query_vector(sf_dir: str, vec_id: int = 0) -> tuple:
    """The registered panel query vector, read DRIVER-SIDE with pyarrow
    and memoized like the trainers: it is index METADATA (one row of
    the documented query panel), and the Spark `head()` job every
    panel qid previously ran to fetch it cost a measured ~0.4 s of
    driver wall per query build at sf0.1 (9 call sites). float32 ->
    float64 is exact, so these are the same doubles the head() row
    carried (kmeans_train_local's parity note). Cleared by
    clear_trainer_caches with the models.

    A non-local sf_dir URI (or any unreadable path) falls back to the
    pre-r16 Spark head() job — pyarrow only reads local/NFS paths, and
    the 9 panel qids must keep working on remote storage (ADVICE r16;
    the same 'assume remote' posture as tables._est_scan_splits).
    ValueError is caught beside OSError because pyarrow rejects an
    unknown URI scheme (dbfs:/, wasbs://) with ArrowInvalid, a
    ValueError subclass."""
    try:
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        ).to_pydict()
    except (OSError, ValueError, ImportError):
        row = (
            SparkSession.getActiveSession()
            .read.parquet(f"{sf_dir}/embeddings.parquet")
            .where(F.col("vec_id") == vec_id)
            .select("vec_id", "embedding")
            .head()
        )
        if row is None:
            raise KeyError(f"vec_id {vec_id} not found in {sf_dir}/embeddings.parquet")
        return tuple(float(x) for x in row.embedding)
    for vid, emb in zip(tbl["vec_id"], tbl["embedding"]):
        if vid == vec_id:
            return tuple(float(x) for x in emb)
    raise KeyError(f"vec_id {vec_id} not found in {sf_dir}/embeddings.parquet")


@functools.lru_cache(maxsize=None)
def query_panel(sf_dir: str, n: int, with_label: bool = False):
    """The registered ≤n-row query panel (vec_id < n), read DRIVER-SIDE
    with pyarrow and memoized like query_vector — the panel collect is
    documented index metadata (the literal-centroid contract), and the
    Spark collect job cost ~0.4-0.5 s of driver wall per query build.
    Returns ((vec_id, emb_tuple), ...) or ((vec_id, label, emb_tuple),
    ...) sorted by vec_id; float32 -> float64 is exact, so the doubles
    match the collected rows'. Cleared by clear_trainer_caches.

    Falls back to the pre-r16 bounded Spark collect on a non-local /
    unreadable sf_dir, like query_vector (ADVICE r16)."""
    cols = ["vec_id", "label", "embedding"] if with_label else ["vec_id", "embedding"]
    try:
        import pyarrow.parquet as pq

        tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=cols).to_pydict()
    except (OSError, ValueError, ImportError):
        collected = (
            SparkSession.getActiveSession()
            .read.parquet(f"{sf_dir}/embeddings.parquet")
            .where(F.col("vec_id") < n)
            .select(*cols)
            .collect()
        )
        tbl = {c: [getattr(r, c) for r in collected] for c in cols}
    rows = []
    if with_label:
        for vid, lab, emb in zip(tbl["vec_id"], tbl["label"], tbl["embedding"]):
            if vid < n:
                rows.append((int(vid), int(lab), tuple(float(x) for x in emb)))
    else:
        for vid, emb in zip(tbl["vec_id"], tbl["embedding"]):
            if vid < n:
                rows.append((int(vid), tuple(float(x) for x in emb)))
    return tuple(sorted(rows))


def clear_trainer_caches() -> None:
    """Drop every memoized trainer model. Call after regenerating the
    parquet under an sf_dir that a trainer has already read in this
    process — the lru_cache keys on (sf_dir, hyperparams), not file
    content, so without this a rebuilt fixture is served stale models
    (r10 ADVICE)."""
    kmeans_train_local.cache_clear()
    pq_train_local.cache_clear()
    pca_axis_local.cache_clear()
    logreg_train_local.cache_clear()
    query_vector.cache_clear()
    query_panel.cache_clear()
    # parsed literal Columns hold py4j refs into the JVM — their memo
    # key already carries the SparkContext identity (so a restarted
    # JVM can never be served a stale handle even without this call),
    # but drop them with the models anyway: a regenerated fixture
    # yields a new codebook, and the old entries are dead weight
    _code_model_cols.cache_clear()


@functools.lru_cache(maxsize=None)
def logreg_train_local(
    sf_dir: str, lr: float = 0.5, iters: int = 200, sample: int = 1024
) -> tuple:
    """Logistic-regression text classifier trained DRIVER-SIDE by
    fixed-round full-batch gradient descent on a bounded deterministic
    sample (first `sample` docs by doc_id, straight from parquet via
    pyarrow): target y = (lang == 'en'), features
    x1 = token count, x2 = distinct-token ratio, x3 = mean token
    length (derived from char length under single-space joining).
    Returns ((w0, w1, w2, w3), (m1, m2, m3), (s1, s2, s3)) — weights
    over z-standardized features plus the standardization constants,
    all plain floats.

    Same verifiability contract as kmeans/pq/pca: the model is 10
    floats of METADATA entering BOTH engines as literals, so the
    numpy training arithmetic never needs cross-engine bit-matching —
    only the downstream per-row score expression does (identical
    op sequence in Spark and the DuckDB oracle). Deterministic by
    construction: zero init, fixed lr and iteration count, no RNG,
    no early stopping. 100 TB-safe because the sample is capped; the
    distributed pass is scoring, not training."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"]
    ).to_pydict()
    rows = sorted(zip(tbl["doc_id"], tbl["text"], tbl["lang"]))[:sample]
    feats, ys = [], []
    for _, text, lang in rows:
        toks = text.split(" ")
        nt = len(toks)
        feats.append(
            [
                float(nt),
                len(set(toks)) / nt,
                (len(text) - (nt - 1)) / nt,
            ]
        )
        ys.append(1.0 if lang == "en" else 0.0)
    X = np.array(feats, dtype=np.float64)
    y = np.array(ys, dtype=np.float64)
    m = X.mean(axis=0)
    s = X.std(axis=0)
    s[s < 1e-12] = 1.0
    Z = (X - m) / s
    w = np.zeros(4, dtype=np.float64)  # bias + 3 weights
    n = float(len(y))
    for _ in range(iters):
        z = w[0] + Z @ w[1:]
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w[0] -= lr * float(g.mean())
        w[1:] -= lr * (Z.T @ g) / n
    return (
        tuple(float(x) for x in w),
        tuple(float(x) for x in m),
        tuple(float(x) for x in s),
    )


def _books_payload(books):
    """Plain-python closure payload for the Arrow PQ kernels: per block
    the (k, d) code matrix in ascending-cid order plus the |c|²/2
    halves — the same driver literals the expression form embeds."""
    mats = [[list(cv) for _, cv in sorted(book)] for book in books]
    halves = [[0.5 * seq_dot(cv, cv) for _, cv in sorted(book)] for book in books]
    return mats, halves


def pq_codes_arrow(emb: DataFrame, books) -> DataFrame:
    """PQ code assignment as ONE Arrow-batched numpy pass — the
    j_pq_distortion engine path (SCALE.md §4q) applied to the
    assignment everybody shares: the argmax-(v·c − |c|²/2) fold runs
    ~n·blocks·k·d interpreted Catalyst-HOF steps in the expression
    form (best_code_expr), a measured ~1.4 s constant at sf0.1's 2k
    vectors and linearly worse at scale. The kernel replays the
    dot_expr LEFT-FOLD order per dim (acc starts 0.0; += x_j·c_j), so
    every score double is bit-identical and np.argmax's first-max
    matches the array_max(struct(s, −cid)) smallest-cid tie-break —
    the expression form remains the registered reference (streaming
    ingest, tests) and the two are interchangeable row-for-row.
    Input: (vec_id, embedding); output: (vec_id, c0..c{B-1} int)."""
    import pyarrow as pa

    mats, halves = _books_payload(books)
    n_blocks = len(mats)
    d = len(mats[0][0])

    def kern(it):
        import numpy as np

        C = [np.array(m, dtype=np.float64) for m in mats]
        H = [np.array(h, dtype=np.float64) for h in halves]
        for batch in it:
            emb_col = batch.column("embedding")
            flat = emb_col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            offs = emb_col.offsets.to_numpy(zero_copy_only=False)
            n = len(offs) - 1
            if not n:
                continue
            v = flat.reshape(n, n_blocks * d)
            cols = [pa.array(batch.column("vec_id").to_numpy(zero_copy_only=False))]
            for b in range(n_blocks):
                sub = v[:, b * d : (b + 1) * d]
                S = np.zeros((n, C[b].shape[0]))
                for j in range(d):
                    S += sub[:, j : j + 1] * C[b][None, :, j]
                S -= H[b][None, :]
                cols.append(pa.array(np.argmax(S, axis=1).astype(np.int32)))
            yield pa.record_batch(
                cols, names=["vec_id"] + [f"c{b}" for b in range(n_blocks)]
            )

    schema = "vec_id long, " + ", ".join(f"c{b} int" for b in range(n_blocks))
    return emb.select("vec_id", "embedding").mapInArrow(kern, schema)


def pq_adc_arrow(emb: DataFrame, books, q: list) -> DataFrame:
    """Assignment + ADC scoring fused into ONE Arrow pass: codes snap
    exactly as pq_codes_arrow, then the ADC value folds the per-block
    lookup tables LEFT-TO-RIGHT (table_0[c0] + table_1[c1] + …) — the
    identical IEEE sequence as the expression form's chained adds —
    and rounds through the portable 1e-6 floor. Emits
    (vec_id, adc_score double); the corpus' float vectors never leave
    the map stage. The lookup tables are seq_dot driver floats, the
    same doubles the _lit_vector literals carry."""
    import pyarrow as pa

    mats, halves = _books_payload(books)
    n_blocks = len(mats)
    d = len(mats[0][0])
    tables = [
        [seq_dot(q[b * d : (b + 1) * d], cv) for _, cv in sorted(book)]
        for b, book in enumerate(books)
    ]

    def kern(it):
        import numpy as np

        C = [np.array(m, dtype=np.float64) for m in mats]
        H = [np.array(h, dtype=np.float64) for h in halves]
        T = [np.array(tb, dtype=np.float64) for tb in tables]
        for batch in it:
            emb_col = batch.column("embedding")
            flat = emb_col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            offs = emb_col.offsets.to_numpy(zero_copy_only=False)
            n = len(offs) - 1
            if not n:
                continue
            v = flat.reshape(n, n_blocks * d)
            adc = None
            for b in range(n_blocks):
                sub = v[:, b * d : (b + 1) * d]
                S = np.zeros((n, C[b].shape[0]))
                for j in range(d):
                    S += sub[:, j : j + 1] * C[b][None, :, j]
                S -= H[b][None, :]
                term = T[b][np.argmax(S, axis=1)]
                adc = term if adc is None else adc + term
            score = np.floor(adc * 1e6 + 0.5) / 1e6
            yield pa.record_batch(
                [
                    pa.array(batch.column("vec_id").to_numpy(zero_copy_only=False)),
                    pa.array(score),
                ],
                names=["vec_id", "adc_score"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        kern, "vec_id long, adc_score double"
    )


def topk_scores_arrow(emb: DataFrame, qmat: list, qids: list, k: int) -> DataFrame:
    """Batch-partial top-k scoring against a literal query panel, as
    ONE Arrow pass (the j_ece_calibration engine path): per Arrow
    batch, score every (candidate, query) dot with the dot_expr
    LEFT-FOLD dim order (bit-identical doubles), floor to the 1e-6
    scaled BIGINT grid, and emit only the batch's per-query top-k
    under the (s6 desc, vec_id asc) total order. SOUND partial top-k:
    a row outside its batch's top-k cannot enter the global top-k
    under the same total order, so a final per-qid window over the
    ≤ |queries|·k·n_batches partials reproduces the exact global
    ranking regardless of how rows are partitioned into batches
    (pinned by test_topk_scores_arrow_is_partitioning_invariant).
    Output: (qid, vec_id, label, s6)."""
    import pyarrow as pa

    def kern(it):
        import numpy as np

        Q = np.array(qmat, dtype=np.float64)
        nq, dim = Q.shape
        for batch in it:
            emb_col = batch.column("embedding")
            flat = emb_col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            offs = emb_col.offsets.to_numpy(zero_copy_only=False)
            n = len(offs) - 1
            if not n:
                continue
            v = flat.reshape(n, dim)
            vids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            labs = batch.column("label").to_numpy(zero_copy_only=False)
            S = np.zeros((n, nq))
            for j in range(dim):
                S += v[:, j : j + 1] * Q[None, :, j]
            s6 = np.floor(S * 1e6 + 0.5).astype(np.int64)
            kk = min(k, n)
            out_qid, out_vid, out_lab, out_s6 = [], [], [], []
            for qi in range(nq):
                order = np.lexsort((vids, -s6[:, qi]))[:kk]
                out_qid.append(np.full(kk, qids[qi], dtype=np.int64))
                out_vid.append(vids[order])
                out_lab.append(labs[order])
                out_s6.append(s6[order, qi])
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(out_qid)),
                    pa.array(np.concatenate(out_vid)),
                    pa.array(np.concatenate(out_lab).astype(np.int64)),
                    pa.array(np.concatenate(out_s6)),
                ],
                names=["qid", "vec_id", "label", "s6"],
            )

    return emb.select("vec_id", "label", "embedding").mapInArrow(
        kern, "qid long, vec_id long, label long, s6 long"
    )

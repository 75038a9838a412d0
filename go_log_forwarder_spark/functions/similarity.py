"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the correctness baseline. Embeddings are
  quantized to integers (round(x*10000)) so dot products are EXACT integer
  arithmetic — cross-engine bit-identical, immune to float summation order —
  and cosine = int_dot / sqrt(int_norm_a * int_norm_b) divides identically
  in IEEE doubles. Ranking uses (rounded cosine, id) for deterministic ties.
- LSH-bucketed variant (the scale path): sign-bit bucket over the first
  SIGN_BITS dimensions; top-k search touches only the query's bucket.
  At 10^12 rows the bucket map-side partitions the corpus; brute force
  remains the per-bucket kernel.

The brute-force and LSH scoring and the IVF assignment are pure Catalyst
(``int_dot``: zip_with/aggregate), so the ANN train/assign/search plans
and the embedding-dedup assignment hold no Python. Python runs in three
places: ``int_dot_arrow`` (a pandas UDF, the vectorized dot that
``split_hot_buckets`` uses for its sub-seed distances) and the numpy
block-matmul kernels of ``all_pairs_cosine_micro`` and
``bucketed_cosine_pairs``, run per group through ``applyInPandas``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .textstats import micro_sql

QUANT = 10000
SIGN_BITS = 8
IVF_K = 16  # coarse centroids
IVF_NPROBE = 4  # buckets probed per query


def quantize(v: Column) -> Column:
    # floor(x*Q + 0.5), not ROUND: portable across engines (textstats.micro_col)
    return F.transform(
        v, lambda x: F.floor(x.cast("double") * QUANT + 0.5).cast("bigint")
    )


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )


def int_dot_arrow(a: Column, b: Column) -> Column:
    """Vectorized twin of :func:`int_dot` (round 7): the Catalyst
    zip_with+aggregate pair is interpreted per element; the hot-bucket
    sub-assignment evaluates one dot per (vector, seed) pair.
    Batches cross as Arrow and the products are one int64 einsum — same
    wrap-around int64 arithmetic, bit-identical results (pinned in
    tests/test_tokenops.py::test_int_dot_arrow_parity)."""

    @F.pandas_udf("bigint")
    def _dot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        import numpy as np

        if len(xs) == 0:
            return pd.Series([], dtype="int64")
        A = np.stack([np.asarray(v, dtype=np.int64) for v in xs])
        B = np.stack([np.asarray(v, dtype=np.int64) for v in ys])
        return pd.Series(np.einsum("ij,ij->i", A, B))

    return _dot(a, b)


def cosine_col(qa: Column, qb: Column) -> Column:
    """Exact-int cosine of two QUANTIZED vectors, as micro fixed-point
    (floor(c*1e6+0.5) — see textstats.micro_col for why not ROUND)."""
    c = int_dot(qa, qb).cast("double") / F.sqrt(
        int_dot(qa, qa).cast("double") * int_dot(qb, qb).cast("double")
    )
    return F.floor(c * 1000000.0 + 0.5).cast("bigint")


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): top-k by (cosine desc, id).

    The query side is broadcast (small); the corpus side streams — one
    narrow pass + a per-query top-k (window over query partitions)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_micro", cosine_col(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine_micro")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_micro"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sign_bucket(v: Column) -> Column:
    """LSH bucket: concatenated sign bits of the first SIGN_BITS dims."""
    bits = [
        F.when(F.try_element_at(v, F.lit(i + 1)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(SIGN_BITS)
    ]
    return F.concat(*bits)


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(F.col(vec_col)).alias("qv"),
        sign_bucket(F.col(vec_col)).alias("bucket"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        quantize(F.col(vec_col)).alias("cv"),
        sign_bucket(F.col(vec_col)).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_micro", cosine_col(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine_micro")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_micro"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --- DuckDB oracle twins ---------------------------------------------------


def _quant_sql(v: str) -> str:
    return f"list_transform({v}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT))"


def _dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"


def brute_force_topk_sql(
    table: str, query_pred: str, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    return f"""
        WITH qz AS (SELECT {id_col} AS id, {_quant_sql(vec_col)} AS v FROM {table}),
        q AS (SELECT id AS query_id, v AS qv FROM qz WHERE {query_pred}),
        scored AS (
            SELECT q.query_id, c.id AS neighbor_id,
                   {micro_sql(f"CAST({_dot_sql('q.qv', 'c.v')} AS DOUBLE) / sqrt(CAST({_dot_sql('q.qv', 'q.qv')} AS DOUBLE) * CAST({_dot_sql('c.v', 'c.v')} AS DOUBLE))")} AS cosine_micro
            FROM q JOIN qz c ON c.id <> q.query_id
        )
        SELECT query_id, neighbor_id, cosine_micro,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_micro DESC, neighbor_id) AS INT) AS rank
        FROM scored
        QUALIFY rank <= {k}
    """


def sign_bucket_sql(v: str) -> str:
    bits = " || ".join(
        f"CASE WHEN {v}[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(SIGN_BITS)
    )
    return f"({bits})"


def lsh_topk_sql(
    table: str, query_pred: str, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    return f"""
        WITH qz AS (SELECT {id_col} AS id, {_quant_sql(vec_col)} AS v,
                           {sign_bucket_sql(vec_col)} AS bucket FROM {table}),
        q AS (SELECT id AS query_id, v AS qv, bucket FROM qz WHERE {query_pred}),
        scored AS (
            SELECT q.query_id, c.id AS neighbor_id,
                   {micro_sql(f"CAST({_dot_sql('q.qv', 'c.v')} AS DOUBLE) / sqrt(CAST({_dot_sql('q.qv', 'q.qv')} AS DOUBLE) * CAST({_dot_sql('c.v', 'c.v')} AS DOUBLE))")} AS cosine_micro
            FROM q JOIN qz c USING (bucket)
            WHERE c.id <> q.query_id
        )
        SELECT query_id, neighbor_id, cosine_micro,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_micro DESC, neighbor_id) AS INT) AS rank
        FROM scored
        QUALIFY rank <= {k}
    """


def _pairs_frame(ids_a, ids_b, micro):
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            "id_a": np.asarray(ids_a, dtype=np.int64),
            "id_b": np.asarray(ids_b, dtype=np.int64),
            "cosine_micro": np.asarray(micro, dtype=np.int64),
        }
    )


def all_pairs_cosine_micro(
    emb: DataFrame,
    threshold_micro: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 16,
) -> DataFrame:
    """EXACT all-pairs cosine near-dup pairs — fully distributed, zero
    driver-side collect.

    Block-pair decomposition: each row lands in block ``id % B``; every row
    is shipped to the B block-pairs containing its block (one shuffle of
    n*B vector rows), and each (i, j) group computes an exact-int64 numpy
    block-matmul over its two sides. Every unordered pair of rows appears
    in exactly one group, so the union over groups IS the all-pairs
    relation. O(n^2) compute is inherent to an exact all-pairs answer —
    this spreads it over B*(B+1)/2 independent tasks with ~2n/B rows each
    (size ``num_blocks`` so a group's matrix fits an executor; the
    sub-quadratic scale path is :func:`bucketed_cosine_pairs`).

    Why not Columns: Catalyst pushes the cosine filter into the
    BroadcastNestedLoopJoin condition, so the (interpreted, non-codegen)
    higher-order dot product evaluates for every n x n candidate — twice.

    Exactness: quantized int64 dot products are exact; int64->float64 and
    the final division/sqrt are IEEE-identical to the DuckDB oracle.
    Emits (id_a, id_b, cosine_micro) with id_a < id_b, micro >= threshold.
    """
    import numpy as np

    B = num_blocks
    qz = emb.select(
        F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("v")
    ).withColumn("blk", (F.col("id") % B).cast("int"))
    expanded = qz.withColumn(
        "other", F.explode(F.sequence(F.lit(0), F.lit(B - 1)))
    ).withColumn(
        "bp", F.least("blk", "other") * B + F.greatest("blk", "other")
    )

    def kernel(key, pdf):
        i, j = divmod(int(key[0]), B)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        blks = pdf["blk"].to_numpy()
        M = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["v"]])
        norms = (M * M).sum(axis=1)
        if i == j:
            dots = M @ M.T  # exact int64
            cos = dots.astype(np.float64) / np.sqrt(
                norms[:, None].astype(np.float64) * norms[None, :].astype(np.float64)
            )
            micro = np.floor(cos * 1000000.0 + 0.5).astype(np.int64)
            keep = (micro >= threshold_micro) & (ids[:, None] < ids[None, :])
            ai, bi = np.nonzero(keep)
            return _pairs_frame(ids[ai], ids[bi], micro[ai, bi])
        mi, mj = blks == i, blks == j
        A, a_ids, a_n = M[mi], ids[mi], norms[mi]
        C, c_ids, c_n = M[mj], ids[mj], norms[mj]
        if len(a_ids) == 0 or len(c_ids) == 0:
            return _pairs_frame([], [], [])
        dots = A @ C.T
        cos = dots.astype(np.float64) / np.sqrt(
            (a_n[:, None] * c_n[None, :]).astype(np.float64)
        )
        micro = np.floor(cos * 1000000.0 + 0.5).astype(np.int64)
        ai, ci = np.nonzero(micro >= threshold_micro)
        # cosine is symmetric: relabel so id_a < id_b (exact)
        return _pairs_frame(
            np.minimum(a_ids[ai], c_ids[ci]),
            np.maximum(a_ids[ai], c_ids[ci]),
            micro[ai, ci],
        )

    return expanded.groupBy("bp").applyInPandas(
        kernel, "id_a long, id_b long, cosine_micro long"
    )


SPLIT_MAX_LEVELS = 4  # depth bound for recursive hot-bucket splitting:
# each level is a ~cap/4-fold fan-out of every hot group, so needed depth
# grows log_{cap/4}(largest cluster) — 4 levels cover a 10^12-row corpus
# with cap >= 100 even if one cluster holds EVERYTHING. Spark loop and SQL
# oracle share this constant so their dataflows stay step-identical.

SEED_BROADCAST_ROWS = 20_000  # above this, the seed relation goes through a
# plain shuffle join: seeds scale with total hot-bucket mass (data-
# dependent under skew, NOT bounded like a codebook), so broadcasting them
# unconditionally is a driver/executor OOM at adversarial distributions
# (VERDICT r3 item 2). ~20k rows * (vector + 3 longs) stays comfortably
# under a 10 MB broadcast at d<=128.


def split_hot_buckets(
    assigned: DataFrame,
    split_cap: int,
    seed: str = "split",
    max_levels: int = SPLIT_MAX_LEVELS,
    seed_broadcast_rows: int = SEED_BROADCAST_ROWS,
    checkpoint: bool = True,
) -> DataFrame:
    """RECURSIVE splitting of oversized IVF buckets (VERDICT r2 item 5 +
    r3 item 2).

    Level ``l`` re-partitions every (centroid, sub) group holding more than
    ``split_cap`` members by a deeper level of centroids chosen INSIDE the
    group: the sub-seeds are the members whose portable hash
    (hex60(md5('split{l}:'||id)), level 0 spelled 'split:') is divisible by
    ``max(split_cap // 4, 1)`` — an expected 4·cnt/cap seeds per group (4x
    oversampling keeps the expected max sub-group under the cap;
    deterministic and engine-reproducible with no per-group global sort) —
    and every member goes to its nearest sub-seed under the same exact-int
    squared L2 with ties to the lower seed id. Geometry-aware: exact
    duplicates and tight near-dup groups always co-locate (identical
    argmin), unlike a hash split. Never-hot groups keep sub = -1.

    The loop runs until no group exceeds the cap (bounded driver scalar per
    level), capped at ``max_levels``; a level whose hot groups drew no
    seeds is a dataflow NO-OP and the next level redraws with a fresh hash
    — both behaviors are mirrored CTE-for-CTE by the unrolled SQL oracle
    (:func:`bucketed_pairs_sql`), which is why Spark and DuckDB agree
    whatever depth the data actually needs (<= max_levels). Sub ids are
    member ids, and a member belongs to exactly one group per centroid, so
    re-using the single ``sub`` column across levels can never alias two
    distinct groups.

    Seeds join by broadcast only while they fit (``seed_broadcast_rows``);
    past that the join degrades to a plain shuffle — the seed relation
    grows with hot-bucket mass and is NOT broadcast-safe under power-law
    skew.

    Cost per level: assignment joins hot-group rows to their group's seeds
    — cnt * (cnt/cap) per group, a cap-fold reduction of the cnt^2 pair
    kernel per level. Returns ``assigned`` plus a ``sub`` column; pair
    generation groups on (centroid, sub)."""
    from .textstats import hex60_col

    # assigned feeds every per-level consumer (counts, seed pick, candidate
    # join, join-back); without materialization the whole IVF assignment
    # (broadcast join + per-id window) re-executes per consumer — measured
    # 3.5x on the sf0.1 bench. checkpoint=False is a PLAN-AUDIT hook only
    # (tests/test_plan_shape.py): the returned lineage then shows the raw
    # per-level joins instead of a checkpoint scan.
    if checkpoint:
        assigned = assigned.localCheckpoint(eager=True)
    if "sub" not in assigned.columns:
        assigned = assigned.withColumn("sub", F.lit(-1).cast("long"))
    stride = max(split_cap // 4, 1)
    for level in range(max_levels):
        cnt = assigned.groupBy("centroid", "sub").agg(F.count(F.lit(1)).alias("_cnt"))
        hot = cnt.filter(F.col("_cnt") > split_cap).select("centroid", "sub")
        n_hot = hot.count()  # bounded scalar: #groups, never row data
        if n_hot == 0:
            break
        tag = seed if level == 0 else f"{seed}{level}"
        gate = hex60_col(F.concat(F.lit(f"{tag}:"), F.col("id").cast("string")))
        hot_rel = F.broadcast(hot) if n_hot <= 500_000 else hot
        seeds = (
            assigned.join(hot_rel, ["centroid", "sub"])
            .filter(gate % stride == 0)
            .select(
                "centroid",
                "sub",
                F.col("id").alias("_sid"),
                F.col("v").alias("_sv"),
                F.col("norm2").alias("_sn"),
            )
        )
        n_seeds = seeds.count()
        if n_seeds == 0:
            continue  # no-op level (oracle-mirrored); next level redraws
        seed_rel = F.broadcast(seeds) if n_seeds <= seed_broadcast_rows else seeds
        cand = assigned.join(seed_rel, ["centroid", "sub"]).withColumn(
            "_sdist",
            F.col("norm2") + F.col("_sn") - 2 * int_dot_arrow(F.col("v"), F.col("_sv")),
        )
        # keyed by (id, centroid), not id alone: under multi-probe
        # assignment a vector has one membership row PER probed bucket,
        # each sub-assigned independently within that bucket (a row has one
        # sub per (id, centroid), so the key pins the group too). min_by
        # over a (dist, sid) struct = argmin with the deterministic
        # tie-break, as a map-side-combinable hash aggregate — no per-key
        # sort the way a row_number window needs
        subbed = cand.groupBy("id", "centroid").agg(
            F.min_by("_sid", F.struct(F.col("_sdist"), F.col("_sid"))).alias("_newsub")
        )
        assigned = (
            assigned.join(subbed, ["id", "centroid"], "left")
            .withColumn("sub", F.coalesce(F.col("_newsub"), F.col("sub")))
            .drop("_newsub")
        )
        if checkpoint:
            assigned = assigned.localCheckpoint(eager=True)
    return assigned


def bucketed_cosine_pairs(
    emb: DataFrame,
    threshold_micro: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = IVF_K,
    split_cap: int | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-bucketed cosine near-dup pairs — the sub-quadratic scale path.

    Candidate generation reuses :func:`ivf_assign` (nearest-of-k coarse
    centroids, exact-int L2); the pair relation is DEFINED as pairs sharing
    a centroid bucket, scored with the same exact-int cosine kernel, one
    numpy block-matmul per bucket via ``applyInPandas`` (grouped-map Arrow
    batches — no driver collect, no corpus broadcast). At 10^12 rows the
    centroid count scales ~sqrt(n) so per-bucket all-pairs stays bounded;
    recall tuning = more centroids / multi-probe assignment, exactly as in
    a production IVF dedup index. ``split_cap`` bounds hot buckets: buckets
    above the cap are re-clustered by second-level in-bucket seeds
    (:func:`split_hot_buckets`) and pairs then require a shared
    (centroid, sub) — the unbounded-quadratic hot bucket is gone.
    ``nprobe > 1`` assigns each vector to its nprobe nearest buckets
    (multi-probe: near-boundary pairs that straddle a Voronoi edge become
    candidates; duplicate pair copies from multiply-shared buckets are
    dropped). The DuckDB oracle reproduces assignment, split and kernel
    bit-for-bit (:func:`bucketed_pairs_sql`).
    Emits (id_a, id_b, cosine_micro) with id_a < id_b, micro >= threshold.
    """
    import numpy as np

    assigned = ivf_assign(emb, id_col, vec_col, k, nprobe=nprobe)
    keys = ["centroid"]
    if split_cap is not None:
        assigned = split_hot_buckets(assigned, split_cap)
        keys = ["centroid", "sub"]

    def kernel(pdf):
        ids = pdf["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["v"].iloc[order]])
        norms = (M * M).sum(axis=1)
        frames = []
        blk = 1024  # row-blocked: peak memory = blk x bucket, not bucket^2
        for s in range(0, len(ids), blk):
            A, a_ids, a_n = M[s : s + blk], ids[s : s + blk], norms[s : s + blk]
            dots = A @ M.T  # exact int64
            cos = dots.astype(np.float64) / np.sqrt(
                a_n[:, None].astype(np.float64) * norms[None, :].astype(np.float64)
            )
            micro = np.floor(cos * 1000000.0 + 0.5).astype(np.int64)
            keep = (micro >= threshold_micro) & (a_ids[:, None] < ids[None, :])
            ai, bi = np.nonzero(keep)
            frames.append(_pairs_frame(a_ids[ai], ids[bi], micro[ai, bi]))
        import pandas as pd

        return pd.concat(frames) if frames else _pairs_frame([], [], [])

    pairs = (
        assigned.select("id", "v", *keys)
        .groupBy(*keys)
        .applyInPandas(kernel, "id_a long, id_b long, cosine_micro long")
    )
    if nprobe > 1:
        # a pair sharing several probed buckets appears once per shared
        # bucket with an identical cosine — keep one copy
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


# --- IVF (inverted-file) variant --------------------------------------------


def _with_cn(centroids: DataFrame) -> DataFrame:
    """(cidx, cv) -> (cidx, cv, cn) with cn = exact-int |cv|^2."""
    return centroids.select(
        F.col("cidx").cast("int").alias("cidx"),
        "cv",
        int_dot(F.col("cv"), F.col("cv")).alias("cn"),
    )


def ivf_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = IVF_K,
    centroids: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF coarse assignment: nearest centroid under exact-int squared L2
    ``d = |a|^2 + |c|^2 - 2<a,c>``. Ties break by centroid index.
    ``<a,c>`` is the Catalyst :func:`int_dot`, so every caller (the ANN
    increments, frozen and IVF+PQ search, the embedding dedup) assigns
    without a Python boundary.
    ``nprobe > 1`` emits one row per (vector, probed centroid) for the
    nprobe nearest buckets — the multi-probe recall knob (near-boundary
    vectors become candidates in every nearby bucket).

    ``centroids`` (cidx int, cv array<bigint>) plugs in a TRAINED quantizer
    (:func:`kmeans_int`); default = the K deterministic seed centroids
    (first K vectors by id), which keep the index reproducible in the
    DuckDB oracle. The centroid side is tiny and broadcast; assignment is
    one narrow pass — the partitioning structure of an IVF index at any
    scale. Returns (id, v quantized, norm2, centroid int, dist bigint)."""
    qz = emb.select(
        F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("v")
    ).withColumn("norm2", int_dot(F.col("v"), F.col("v")))
    if centroids is not None:
        cents = _with_cn(centroids)
    else:
        cents = (
            qz.filter(F.col("id") < k)
            .select(
                F.col("id").cast("int").alias("cidx"),
                F.col("v").alias("cv"),
                F.col("norm2").alias("cn"),
            )
        )
    joined = qz.join(F.broadcast(cents)).withColumn(
        "dist", F.col("norm2") + F.col("cn") - 2 * int_dot(F.col("v"), F.col("cv"))
    )
    if nprobe == 1:
        # min_by over a (dist, cidx) struct = the same argmin + tie-break as
        # the row_number window, but as a map-side-combinable hash aggregate:
        # the shuffle moves n rows instead of the n*k joined relation, and
        # no per-key sort runs
        m = F.min_by(
            F.struct("v", "norm2", F.col("cidx").alias("centroid"), "dist"),
            F.struct("dist", "cidx"),
        )
        return (
            joined.groupBy("id")
            .agg(m.alias("_m"))
            .select("id", "_m.v", "_m.norm2", "_m.centroid", "_m.dist")
        )
    w = Window.partitionBy("id").orderBy(F.asc("dist"), F.asc("cidx"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("id", "v", "norm2", F.col("cidx").alias("centroid"), "dist")
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: probe the nprobe nearest centroid buckets per query,
    brute-force cosine inside them (query side broadcast). ``centroids``
    plugs in a trained quantizer (see :func:`ivf_assign`)."""
    assigned = ivf_assign(emb, id_col, vec_col, centroids=centroids)
    # per query: the nprobe nearest centroids (distances to all centroids
    # computed for the query rows only)
    qz = emb.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("qv")
    ).join(queries.select(F.col(id_col).alias("query_id")), "query_id", "left_semi")
    qz = qz.withColumn("qn", int_dot(F.col("qv"), F.col("qv")))
    if centroids is not None:
        cents = _with_cn(centroids)
    else:
        cents = (
            emb.select(F.col(id_col).alias("cid"), quantize(F.col(vec_col)).alias("cv"))
            .filter(F.col("cid") < IVF_K)
            .withColumn("cn", int_dot(F.col("cv"), F.col("cv")))
            .select(F.col("cid").cast("int").alias("cidx"), "cv", "cn")
        )
    probes = _ivf_probes(qz, cents, nprobe)
    return _ivf_bucket_score(assigned, probes, k)


def _ivf_probes(qz: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """Per query: the nprobe nearest centroids (distances to ALL centroids
    computed for the query rows only — the centroid side is tiny and
    broadcast). ``qz`` = (query_id, qv, qn); ``cents`` = (cidx, cv, cn)."""
    qc = qz.join(F.broadcast(cents)).withColumn(
        "dist", F.col("qn") + F.col("cn") - 2 * int_dot(F.col("qv"), F.col("cv"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("cidx"))
    return (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cidx").alias("centroid"))
    )


def _ivf_bucket_score(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Brute-force cosine inside the probed buckets: candidates join on the
    centroid id only (non-probed buckets are never touched), score from the
    STORED quantized vectors. ``assigned`` = (id, v, norm2, centroid)."""
    cands = probes.join(
        assigned.select(
            F.col("id").alias("neighbor_id"),
            F.col("v").alias("cv2"),
            F.col("norm2").alias("nn"),
            "centroid",
        ),
        "centroid",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    cos = int_dot(F.col("qv"), F.col("cv2")).cast("double") / F.sqrt(
        F.col("qn").cast("double") * F.col("nn").cast("double")
    )
    scored = cands.withColumn(
        "cosine_micro", F.floor(cos * 1000000.0 + 0.5).cast("bigint")
    ).select("query_id", "neighbor_id", "cosine_micro")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_micro"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


ANN_CENTROIDS_TABLE = "ann_centroids"
ANN_POSTINGS_TABLE = "ann_postings"
ANN_CODEBOOKS_TABLE = "ann_codebooks"
ANN_CODES_TABLE = "ann_codes"


def ann_index_train(
    store,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = IVF_K,
    iters: int = 2,
    train_fraction: float | None = None,
) -> int:
    """Persisted ANN index, train side (VERDICT r5 item 2): run the integer
    Lloyd steps ONCE and commit the trained coarse quantizer (cidx, cv) as
    an atomic snapshot of the same store that holds the LSH band index. At
    10^12 rows training is the expensive pass; everything after reads the
    frozen centroids as a ``snap=`` FileScan and never re-aggregates.
    Returns the committed snapshot id."""
    cents = kmeans_int(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        train_fraction=train_fraction,
    )
    return store.append(cents, ANN_CENTROIDS_TABLE)


def ann_index_assign_increment(
    spark: SparkSession,
    store,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Apply-to-new-batch, write side — the ANN sibling of
    :func:`~go_log_forwarder_spark.functions.dedup.lsh_index_increment`:
    assign ONLY the new batch against the FROZEN centroids (read off the
    store, broadcast; this plan contains no training aggregate — the gate
    test pins zero ``min_by``-free retrain markers and ``snap=`` centroid
    scans) and append the postings (id, v quantized, norm2, centroid) as
    one atomic snapshot. Old vectors are never re-quantized or re-assigned.
    Returns the committed snapshot id."""
    cents = store.read(spark, ANN_CENTROIDS_TABLE)
    if cents is None:
        raise ValueError(f"no trained quantizer committed to {ANN_CENTROIDS_TABLE}")
    assigned = ivf_assign(batch, id_col, vec_col, centroids=cents)
    # postings are hive-partitioned BY BUCKET (centroid=N dirs — the IVF
    # inverted-list layout on disk): the frozen search's probe join then
    # prunes non-probed buckets at the FILE level (dynamic partition
    # pruning off the broadcast probe side), so a query reads nprobe
    # buckets' files, not the whole index — the property that makes IVF
    # an index at 100 TB rather than a full scan with extra steps
    return store.append(
        assigned.select("id", "v", "norm2", "centroid"), ANN_POSTINGS_TABLE,
        partition_by=["centroid"],
    )


def ann_frozen_topk(
    spark: SparkSession,
    store,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search the PERSISTED index: centroids and postings both arrive as
    ``snap=`` FileScans (union of every assign increment); the query side
    quantizes, probes its nprobe nearest centroid buckets, and scores by
    cosine from the STORED quantized vectors — the corpus parquet is never
    rescanned and nothing retrains (plan-gated: no kmeans/encode argmin in
    the executed plan). Frozen-index top-k over the full posting set equals
    the in-query retrain :func:`ivf_topk` exactly, because assignment is a
    deterministic function of the (frozen) centroids — that equality is the
    folded driver gate (q_ann_ivf_trained_topk drives this path against the
    unchanged Lloyd-unrolling oracle)."""
    cents_raw = store.read(spark, ANN_CENTROIDS_TABLE)
    postings = store.read(spark, ANN_POSTINGS_TABLE)
    if cents_raw is None or postings is None:
        raise ValueError("persisted ANN index incomplete: train + assign first")
    qz = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("qv")
    ).withColumn("qn", int_dot(F.col("qv"), F.col("qv")))
    probes = _ivf_probes(qz, _with_cn(cents_raw), nprobe)
    return _ivf_bucket_score(postings, probes, k)



_IVF_DIST_SQL = (
    "qz.norm2 + c.cn - 2 * list_sum(list_transform("
    "generate_series(1, len(qz.v)), i -> qz.v[i] * c.cv[i]))"
)


def ivf_assign_cte_sql(
    table: str, id_col: str, vec_col: str, k: int, nprobe: int = 1
) -> str:
    """Shared DuckDB CTE fragment: quantized rows + seed centroids + the
    nearest-centroid assignment (the oracle twin of :func:`ivf_assign`;
    ``nprobe`` rows per vector under multi-probe)."""
    return f"""qz AS (
            SELECT {id_col} AS id, {_quant_sql(vec_col)} AS v,
                   {_dot_sql(_quant_sql(vec_col), _quant_sql(vec_col))} AS norm2
            FROM {table}
        ),
        cents AS (
            SELECT CAST(id AS INT) AS cidx, v AS cv, norm2 AS cn FROM qz WHERE id < {k}
        ),
        assigned AS (
            SELECT id, v, norm2, cidx AS centroid FROM (
                SELECT qz.id, qz.v, qz.norm2, c.cidx,
                       row_number() OVER (PARTITION BY qz.id ORDER BY {_IVF_DIST_SQL}, c.cidx) AS rn
                FROM qz CROSS JOIN cents c
            ) WHERE rn <= {nprobe}
        )"""


def bucketed_pairs_sql(
    table: str, threshold_micro: int, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = IVF_K, split_cap: int | None = None,
    nprobe: int = 1, max_levels: int = SPLIT_MAX_LEVELS,
) -> str:
    """Oracle twin of :func:`bucketed_cosine_pairs`: same bucket assignment
    (multi-probe when ``nprobe > 1``), same optional RECURSIVE hot-bucket
    split, same exact-int cosine, pairs restricted to a shared
    (centroid[, sub]).

    The split recursion is unrolled to ``max_levels`` CTE blocks, each the
    exact relational mirror of one Spark loop iteration; a level with no
    hot groups produces an empty seeds CTE and passes the relation through
    unchanged — precisely the Spark loop's early break — so both engines
    agree at whatever depth the data needs."""
    from .textstats import hex60_sql

    cos = (
        f"CAST({_dot_sql('a.v', 'b.v')} AS DOUBLE)"
        " / sqrt(CAST(a.norm2 AS DOUBLE) * CAST(b.norm2 AS DOUBLE))"
    )
    if split_cap is None:
        rel, extra = "assigned", ""
    else:
        stride = max(split_cap // 4, 1)
        sdist = (
            "a.norm2 + s.sn - 2 * list_sum(list_transform("
            "generate_series(1, len(a.v)), i -> a.v[i] * s.sv[i]))"
        )
        # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        # each f{l} is referenced ~4 times by its level block — inlined,
        # the 4-level chain re-evaluates f0 O(4^levels) times and the
        # oracle times out; materialized, evaluation is linear in levels.
        blocks = [
            """,
        f0 AS MATERIALIZED (SELECT id, v, norm2, centroid, CAST(-1 AS BIGINT) AS sub
               FROM assigned)"""
        ]
        for lv in range(max_levels):
            tag = "split" if lv == 0 else f"split{lv}"
            gate = hex60_sql(f"'{tag}:' || CAST(a.id AS VARCHAR)")
            blocks.append(f""",
        bcnt{lv} AS MATERIALIZED (SELECT centroid, sub, COUNT(*) AS cnt
                     FROM f{lv} GROUP BY centroid, sub),
        seeds{lv} AS MATERIALIZED (
            SELECT a.centroid, a.sub, a.id AS sid, a.v AS sv, a.norm2 AS sn
            FROM f{lv} a JOIN bcnt{lv} b USING (centroid, sub)
            WHERE b.cnt > {split_cap} AND {gate} % {stride} = 0
        ),
        subbed{lv} AS MATERIALIZED (
            SELECT id, centroid, sid AS newsub FROM (
                SELECT a.id, a.centroid, s.sid,
                       row_number() OVER (PARTITION BY a.id, a.centroid
                           ORDER BY {sdist}, s.sid) AS rn
                FROM f{lv} a JOIN seeds{lv} s USING (centroid, sub)
            ) WHERE rn = 1
        ),
        f{lv + 1} AS MATERIALIZED (
            SELECT a.id, a.v, a.norm2, a.centroid,
                   COALESCE(s.newsub, a.sub) AS sub
            FROM f{lv} a LEFT JOIN subbed{lv} s
              ON s.id = a.id AND s.centroid = a.centroid
        )""")
        rel, extra = f"f{max_levels}", "".join(blocks)
    sub_eq = " AND a.sub = b.sub" if split_cap is not None else ""
    distinct = "DISTINCT " if nprobe > 1 else ""
    return f"""
        WITH {ivf_assign_cte_sql(table, id_col, vec_col, k, nprobe)}{extra},
        pairs AS (
            SELECT {distinct}a.id AS id_a, b.id AS id_b, {micro_sql(cos)} AS cosine_micro
            FROM {rel} a JOIN {rel} b
              ON a.centroid = b.centroid{sub_eq} AND a.id < b.id
        )
        SELECT id_a, id_b, cosine_micro FROM pairs
        WHERE cosine_micro >= {threshold_micro}
    """


def ivf_topk_sql(
    table: str, query_pred: str, k: int = 10, nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    dist = _IVF_DIST_SQL
    return f"""
        WITH {ivf_assign_cte_sql(table, id_col, vec_col, IVF_K)},
        probes AS (
            SELECT id AS query_id, v AS qv, norm2 AS qn, cidx AS centroid FROM (
                SELECT qz.id, qz.v, qz.norm2, c.cidx,
                       row_number() OVER (PARTITION BY qz.id ORDER BY {dist}, c.cidx) AS rn
                FROM qz CROSS JOIN cents c
                -- query_pred is written against the aliased 'id' column of
                -- qz, exactly like brute_force_topk_sql (a substring
                -- rewrite of the predicate would corrupt identifiers that
                -- merely contain 'id')
                WHERE qz.id IN (SELECT q2.id FROM qz q2 WHERE {query_pred})
            ) WHERE rn <= {nprobe}
        ),
        scored AS (
            SELECT p.query_id, a.id AS neighbor_id,
                   {micro_sql("CAST(list_sum(list_transform(generate_series(1, len(p.qv)), i -> p.qv[i] * a.v[i])) AS DOUBLE) / sqrt(CAST(p.qn AS DOUBLE) * CAST(a.norm2 AS DOUBLE))")} AS cosine_micro
            FROM probes p JOIN assigned a USING (centroid)
            WHERE a.id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine_micro,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_micro DESC, neighbor_id) AS INT) AS rank
        FROM scored QUALIFY rank <= {k}
    """


# --- PQ (product quantization) -----------------------------------------------

PQ_S = 4  # subspaces
PQ_K = 8  # codewords per subspace


def _pq_subs(qz: DataFrame, S: int) -> DataFrame:
    """(id, s, sub): quantized vectors split into S equal sub-blocks."""
    width = (F.size(F.col("v")) / S).cast("int")
    sub_structs = F.transform(
        F.sequence(F.lit(0), F.lit(S - 1)),
        lambda s: F.struct(
            s.cast("int").alias("s"),
            F.slice(F.col("v"), s * width + 1, width).alias("sub"),
        ),
    )
    return qz.select("id", F.explode(sub_structs).alias("x")).select(
        "id", F.col("x.s").alias("s"), F.col("x.sub").alias("sub")
    )


def _pq_cents(subs: DataFrame, k: int) -> DataFrame:
    """Per-subspace codebook: the first k vectors' sub-blocks (seed
    codewords — deterministic and oracle-reproducible, like ivf_assign;
    kmeans_int per subspace slots into the same shape)."""
    return (
        subs.filter(F.col("id") < k)
        .select(F.col("id").cast("int").alias("cidx"), "s", F.col("sub").alias("csub"))
        .withColumn("cn", int_dot(F.col("csub"), F.col("csub")))
    )


def pq_train_codebooks(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    S: int = PQ_S, k: int = PQ_K, iters: int = 2,
) -> DataFrame:
    """TRAINED per-subspace PQ codebooks: integer Lloyd steps run grouped by
    subspace (the PQ analog of :func:`kmeans_int`, and deliberately the same
    deterministic recipe — init = first k vectors' sub-blocks, exact-int
    squared-L2 assignment with ties to the lower codeword, update =
    per-dimension floor(int_sum/count), empty codewords keep their previous
    value — so the oracle can unroll the identical steps in SQL). Each
    iteration: one broadcast assign + one posexplode aggregation; the
    codebook relation is S*k rows, always broadcastable.
    Returns (s int, cidx int, csub array<bigint>)."""
    qz = emb.select(F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("v"))
    subs = _pq_subs(qz, S).withColumn("norm2", int_dot(F.col("sub"), F.col("sub")))
    subs = subs.localCheckpoint(eager=True)
    cents = (
        subs.filter(F.col("id") < k)
        .select("s", F.col("id").cast("int").alias("cidx"), F.col("sub").alias("csub"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        cn = cents.withColumn("cn", int_dot(F.col("csub"), F.col("csub")))
        joined = subs.join(F.broadcast(cn), "s").withColumn(
            "dist",
            F.col("norm2") + F.col("cn") - 2 * int_dot(F.col("sub"), F.col("csub")),
        )
        # per-(id, subspace) argmin via min_by (see ivf_assign for why)
        assigned = (
            joined.groupBy("id", "s")
            .agg(
                F.min_by(
                    F.struct("sub", F.col("cidx").alias("centroid")),
                    F.struct("dist", "cidx"),
                ).alias("_m")
            )
            .select("s", "_m.sub", "_m.centroid")
        )
        dims = assigned.select("s", "centroid", F.posexplode(F.col("sub")).alias("pos", "x"))
        sums = dims.groupBy("s", "centroid", "pos").agg(
            F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n")
        )
        new_cents = (
            sums.withColumn(
                "cval", F.floor(F.col("sm").cast("double") / F.col("n")).cast("bigint")
            )
            .groupBy("s", "centroid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("cval")))),
                    lambda e: e.getField("cval"),
                ).alias("csub")
            )
            .select("s", F.col("centroid").alias("cidx"), "csub")
        )
        cents = (
            cents.select("s", "cidx", F.col("csub").alias("csub_old"))
            .join(new_cents, ["s", "cidx"], "left")
            .select("s", "cidx", F.coalesce("csub", "csub_old").alias("csub"))
            .localCheckpoint(eager=True)
        )
    return cents


def pq_encode(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    S: int = PQ_S, k: int = PQ_K, cents: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization codes — the memory-compression layer of a
    production ANN index: each vector stores S small codeword ids instead
    of its floats (here 4 bytes vs 256). Assignment = per-subspace exact-int
    L2 argmin (ties to the lower codeword), one broadcast join + window.
    ``cents`` overrides the seed codebook (pass :func:`pq_train_codebooks`
    output for the trained variant). Returns (id, codes array<int>[S])."""
    qz = emb.select(F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("v"))
    subs = _pq_subs(qz, S)
    cents = _pq_cents(subs, k) if cents is None else cents.withColumn(
        "cn", int_dot(F.col("csub"), F.col("csub"))
    )
    joined = subs.join(F.broadcast(cents), "s").withColumn(
        "dist",
        int_dot(F.col("sub"), F.col("sub"))
        + F.col("cn")
        - 2 * int_dot(F.col("sub"), F.col("csub")),
    )
    # per-(id, subspace) argmin via min_by (see ivf_assign for why)
    assigned = joined.groupBy("id", "s").agg(
        F.min_by("cidx", F.struct("dist", "cidx")).alias("cidx")
    )
    return assigned.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", F.col("cidx").alias("code")))),
            lambda e: e.getField("code"),
        ).alias("codes")
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    S: int = PQ_S,
    k: int = PQ_K,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds an
    S x k lookup table of exact-int sub-dot-products against the codebook;
    a document's approximate dot product is the sum of S table lookups of
    its codes — the corpus floats are never touched at query time. ``cents``
    overrides the seed codebook (trained variant). Emits
    (query_id, neighbor_id, approx_dot, rank)."""
    qz = emb.select(F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("v"))
    subs = _pq_subs(qz, S)
    cents = _pq_cents(subs, k) if cents is None else cents.withColumn(
        "cn", int_dot(F.col("csub"), F.col("csub"))
    )
    codes = pq_encode(emb, id_col, vec_col, S, k, cents=cents.drop("cn")).select(
        "id", F.posexplode(F.col("codes")).alias("s", "code")
    )
    q_subs = subs.join(
        queries.select(F.col(id_col).alias("id")), "id", "left_semi"
    ).withColumnRenamed("id", "query_id")
    lut = q_subs.join(F.broadcast(cents), "s").select(
        "query_id", "s", F.col("cidx").alias("code"),
        int_dot(F.col("sub"), F.col("csub")).alias("part"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("part").cast("bigint").alias("approx_dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_dot"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= topk)


def posting_cosine_pairs(
    a: DataFrame, b: DataFrame, threshold_micro: int
) -> DataFrame:
    """Cosine near-dup pairs between two posting relations (id, v, norm2,
    centroid): bucket equi-join on the centroid — vectors in different IVF
    buckets are never compared (the same recall/cost trade
    :func:`ivf_topk` makes; a boundary pair split across buckets is missed
    by design, like LSH banding misses below its design point). Emits
    (id_a < id_b, cosine_micro >= threshold_micro), deduplicated — safe
    when ``a`` and ``b`` overlap."""
    pa, pb = a.alias("a"), b.alias("b")
    joined = pa.join(pb, F.col("a.centroid") == F.col("b.centroid")).filter(
        F.col("a.id") != F.col("b.id")
    )
    cos = int_dot(F.col("a.v"), F.col("b.v")).cast("double") / F.sqrt(
        F.col("a.norm2").cast("double") * F.col("b.norm2").cast("double")
    )
    return (
        joined.withColumn("cosine_micro", F.floor(cos * 1000000.0 + 0.5).cast("bigint"))
        .filter(F.col("cosine_micro") >= threshold_micro)
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            "cosine_micro",
        )
        .distinct()
    )


def embedding_incremental_pairs(
    spark: SparkSession, store, snapshot_id: int, threshold: float = 0.92
) -> DataFrame:
    """Incremental embedding near-dup — the third dedup family goes
    incremental (LSH bands and span counts already do): cosine pairs
    involving at least one vector of postings snapshot ``snapshot_id``,
    computed entirely off the PERSISTED index (new x old + new x new
    centroid-bucket join; old vectors were quantized and assigned exactly
    once, by their own batch's :func:`ann_index_assign_increment`). Old x
    old pairs were emitted by earlier runs, so the union of every run's
    output equals the one-shot bucket-pair relation over the full posting
    set under the same frozen centroids — pinned by
    test_embedding_incremental_pairs. Scale shape: two FileScans of the
    centroid-partitioned posting index; no embedding is ever re-read from
    the corpus, nothing retrains."""
    new = store.read(spark, ANN_POSTINGS_TABLE, after_snapshot=snapshot_id - 1)
    allp = store.read(spark, ANN_POSTINGS_TABLE)
    if new is None or allp is None:
        raise ValueError(f"snapshot {snapshot_id} not committed to {ANN_POSTINGS_TABLE}")
    return posting_cosine_pairs(new, allp, int(threshold * 1e6))


def ann_pq_train(
    store,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    S: int = PQ_S,
    k: int = PQ_K,
    iters: int = 2,
) -> int:
    """PQ side of the persisted index: train the per-subspace codebooks
    once (:func:`pq_train_codebooks`) and commit (s, cidx, csub) as a
    snapshot. Returns the committed snapshot id."""
    return store.append(
        pq_train_codebooks(emb, id_col, vec_col, S=S, k=k, iters=iters),
        ANN_CODEBOOKS_TABLE,
    )


def ann_pq_encode_increment(
    spark: SparkSession,
    store,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    S: int = PQ_S,
    k: int = PQ_K,
) -> int:
    """Encode ONLY the new batch against the frozen codebooks (snap=
    FileScan, broadcast) and append its (id, codes) rows. The corpus floats
    for old batches are never touched again — at scale the code table is
    the only thing that grows (4 bytes/vector here vs 256 of floats).
    Returns the committed snapshot id."""
    cents = store.read(spark, ANN_CODEBOOKS_TABLE)
    if cents is None:
        raise ValueError(f"no trained codebooks committed to {ANN_CODEBOOKS_TABLE}")
    return store.append(
        pq_encode(batch, id_col, vec_col, S, k, cents=cents), ANN_CODES_TABLE
    )


def ann_pq_frozen_topk(
    spark: SparkSession,
    store,
    queries: DataFrame,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    S: int = PQ_S,
) -> DataFrame:
    """ADC top-k against the PERSISTED PQ index: codebooks and code rows
    arrive as ``snap=`` FileScans; each query builds its S x k lookup table
    against the frozen codebooks and documents score as sums of table
    lookups — no training, no re-encode, no corpus floats in the plan.
    Equals the in-query retrain :func:`pq_adc_topk` exactly (same folded
    gate shape as :func:`ann_frozen_topk`)."""
    cents_raw = store.read(spark, ANN_CODEBOOKS_TABLE)
    codes_rows = store.read(spark, ANN_CODES_TABLE)
    if cents_raw is None or codes_rows is None:
        raise ValueError("persisted PQ index incomplete: train + encode first")
    cents = cents_raw.withColumn("cn", int_dot(F.col("csub"), F.col("csub")))
    codes = codes_rows.select("id", F.posexplode(F.col("codes")).alias("s", "code"))
    qz = queries.select(F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("v"))
    q_subs = _pq_subs(qz, S).withColumnRenamed("id", "query_id")
    lut = q_subs.join(F.broadcast(cents), "s").select(
        "query_id", "s", F.col("cidx").alias("code"),
        int_dot(F.col("sub"), F.col("csub")).alias("part"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("part").cast("bigint").alias("approx_dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_dot"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= topk)


def pq_adc_topk_sql(
    table: str, query_pred: str, topk: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    S: int = PQ_S, k: int = PQ_K,
) -> str:
    """DuckDB twin of :func:`pq_adc_topk` (long-form codes, no array
    rebuild needed)."""
    width = f"CAST(len(v) / {S} AS INT)"
    slices = (
        f"[list_slice(v, i * {width} + 1, (i + 1) * {width})"
        f" for i in generate_series(0, {S - 1})]"
    )
    dist = (
        "list_sum(list_transform(generate_series(1, len(d.sub)), i -> d.sub[i] * d.sub[i]))"
        " + c.cn - 2 * list_sum(list_transform(generate_series(1, len(d.sub)), i -> d.sub[i] * c.csub[i]))"
    )
    return f"""
        WITH qz AS (SELECT {id_col} AS id, {_quant_sql(vec_col)} AS v FROM {table}),
        sub AS (
            SELECT id, unnest(generate_series(0, {S - 1})) AS s, unnest({slices}) AS sub
            FROM qz
        ),
        cents AS (
            SELECT CAST(id AS INT) AS cidx, s, sub AS csub,
                   {_dot_sql('sub', 'sub')} AS cn
            FROM sub WHERE id < {k}
        ),
        assigned AS (
            SELECT id, s, cidx AS code FROM (
                SELECT d.id, d.s, c.cidx,
                       row_number() OVER (PARTITION BY d.id, d.s ORDER BY {dist}, c.cidx) AS rn
                FROM sub d JOIN cents c USING (s)
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT q.id AS query_id, c.s, c.cidx AS code,
                   {_dot_sql('q.sub', 'c.csub')} AS part
            FROM sub q JOIN cents c USING (s)
            WHERE q.id IN (SELECT q2.id FROM qz q2 WHERE {query_pred})
        ),
        scored AS (
            SELECT l.query_id, a.id AS neighbor_id, CAST(SUM(l.part) AS BIGINT) AS approx_dot
            FROM assigned a JOIN lut l ON l.s = a.s AND l.code = a.code
            WHERE a.id <> l.query_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, approx_dot,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY approx_dot DESC, neighbor_id) AS INT) AS rank
        FROM scored QUALIFY rank <= {topk}
    """


def normalize_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """L2-normalize an embedding column — pure Catalyst (aggregate for the
    norm, transform for the divide); zero vectors pass through unchanged.
    The standard pre-step before cosine search reduces to dot products."""
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    return df.withColumn(
        vec_col,
        F.when(norm > 0, F.transform(v, lambda x: x.cast("double") / norm)).otherwise(
            F.transform(v, lambda x: x.cast("double"))
        ),
    )


def mean_pool(
    df: DataFrame, group_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Element-wise mean of each group's vectors (chunk embeddings -> one
    document embedding — the pooling step of long-doc embedding pipelines).
    Scalable shape: posexplode to (group, pos) keys -> partial-aggregated
    avg -> array rebuild with a deterministic sort; the vectors themselves
    never cross a shuffle, only (group, pos, x) triples do."""
    dims = df.select(group_col, F.posexplode(F.col(vec_col)).alias("pos", "x"))
    agg = dims.groupBy(group_col, "pos").agg(
        F.avg(F.col("x").cast("double")).alias("m")
    )
    return agg.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda e: e.getField("m"),
        ).alias(vec_col)
    )


def opq_permutation(
    emb: DataFrame, S: int = PQ_S, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[int]:
    """OPQ-lite: an energy-balancing dimension PERMUTATION (the restriction
    of OPQ's learned rotation to permutation matrices — Ge et al. 2013 §4
    initialize OPQ exactly this way). Per-dim corpus energy E_j = sum of
    squared quantized values (exact ints, engine-portable); dims are ranked
    by energy (ties by index) and dealt round-robin across the S subspaces,
    so each sub-block carries comparable variance — the failure mode of
    natural-order PQ (all high-energy dims landing in one subspace) is
    gone. Driver-side work is one d-row collect (d = vector dimension).
    Returns the 0-based permutation: output position p holds input dim
    perm[p]; sub-blocks are contiguous, so downstream PQ slicing is
    unchanged."""
    qz = emb.select(quantize(F.col(vec_col)).alias("v"))
    dims = (
        qz.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(F.col("x") * F.col("x")).alias("e"))
        .collect()
    )
    ranked = sorted(dims, key=lambda r: (-r["e"], r["pos"]))
    subs: list[list[int]] = [[] for _ in range(S)]
    for r, row in enumerate(ranked):
        subs[r % S].append(row["pos"])
    return [p for sub in subs for p in sub]


def apply_permutation(emb: DataFrame, perm: list[int], vec_col: str = "embedding") -> DataFrame:
    """Reorder the vector column by ``perm`` (0-based input dims). Permuting
    commutes with elementwise quantization, so PQ over the permuted floats
    is exact."""
    return emb.withColumn(
        vec_col,
        F.array(*[F.element_at(F.col(vec_col), int(p) + 1) for p in perm]),
    )


def opq_perm_table_sql(
    table: str, S: int = PQ_S, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """DuckDB twin: a parenthesized subquery yielding ({id_col}, {vec_col})
    with the SAME energy-balancing permutation applied — pass it as the
    ``table`` argument of any ANN oracle builder."""
    qv = _quant_sql(vec_col)
    return f"""(
        WITH qz0 AS (SELECT {id_col} AS id, {vec_col} AS fv, {qv} AS v FROM {table}),
        dims AS (
            -- the two unnests zip positionally (equal lengths)
            SELECT dim, SUM(x * x) AS e FROM (
                SELECT unnest(generate_series(1, len(v))) AS dim, unnest(v) AS x
                FROM qz0
            ) GROUP BY dim
        ),
        ranked AS (
            SELECT dim, row_number() OVER (ORDER BY e DESC, dim) AS rank FROM dims
        ),
        perm AS (
            SELECT dim, row_number() OVER (ORDER BY (rank - 1) % {S}, rank) AS ord
            FROM ranked
        )
        SELECT q.id AS {id_col}, list(q.fv[p.dim] ORDER BY p.ord) AS {vec_col}
        FROM qz0 q CROSS JOIN perm p GROUP BY q.id
    )"""


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    S: int = PQ_S,
    k: int = PQ_K,
    kc: int = IVF_K,
) -> DataFrame:
    """IVF+PQ composition — the production ANN index shape (Jégou et al.
    2011): the coarse quantizer restricts the search to the query's nprobe
    nearest buckets, and candidates inside them are scored by PQ
    asymmetric distance (S table lookups against the query's LUT) — neither
    the full corpus nor its float vectors are touched at query time.
    All exact-int arithmetic; emits (query_id, neighbor_id, approx_dot,
    rank)."""
    assigned = ivf_assign(emb, id_col, vec_col, kc).select("id", "centroid")
    codes = (
        pq_encode(emb, id_col, vec_col, S, k)
        .select("id", F.posexplode(F.col("codes")).alias("s", "code"))
        .join(assigned, "id")
    )
    # query probes: nprobe nearest coarse buckets (same shape as ivf_topk)
    qz = emb.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("qv")
    ).join(queries.select(F.col(id_col).alias("query_id")), "query_id", "left_semi")
    qz = qz.withColumn("qn", int_dot(F.col("qv"), F.col("qv")))
    ccents = (
        emb.select(F.col(id_col).alias("cid"), quantize(F.col(vec_col)).alias("cv"))
        .filter(F.col("cid") < kc)
        .withColumn("cn", int_dot(F.col("cv"), F.col("cv")))
        .select(F.col("cid").cast("int").alias("cidx"), "cv", "cn")
    )
    qc = qz.join(F.broadcast(ccents)).withColumn(
        "dist", F.col("qn") + F.col("cn") - 2 * int_dot(F.col("qv"), F.col("cv"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("cidx"))
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", F.col("cidx").alias("centroid"))
    )
    # per-query LUT of sub-dot-products against the PQ codebook
    qsubs = _pq_subs(
        emb.select(F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("v")), S
    ).join(queries.select(F.col(id_col).alias("id")), "id", "left_semi")
    pcents = _pq_cents(
        _pq_subs(
            emb.select(F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("v")), S
        ),
        k,
    )
    lut = qsubs.withColumnRenamed("id", "query_id").join(
        F.broadcast(pcents), "s"
    ).select(
        "query_id", "s", F.col("cidx").alias("code"),
        int_dot(F.col("sub"), F.col("csub")).alias("part"),
    )
    cands = codes.join(F.broadcast(probes), "centroid").filter(
        F.col("id") != F.col("query_id")
    )
    scored = (
        cands.join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("part").cast("bigint").alias("approx_dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_dot"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= topk)


def ivfpq_topk_sql(
    table: str, query_pred: str, topk: int = 10, nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id", vec_col: str = "embedding",
    S: int = PQ_S, k: int = PQ_K, kc: int = IVF_K,
) -> str:
    """DuckDB twin of :func:`ivfpq_topk` (coarse CTEs renamed to avoid
    colliding with the PQ CTEs)."""
    width = f"CAST(len(v) / {S} AS INT)"
    slices = (
        f"[list_slice(v, i * {width} + 1, (i + 1) * {width})"
        f" for i in generate_series(0, {S - 1})]"
    )
    cdist = (
        "qz.norm2 + c.cn - 2 * list_sum(list_transform("
        "generate_series(1, len(qz.v)), i -> qz.v[i] * c.cv[i]))"
    )
    pdist = (
        "list_sum(list_transform(generate_series(1, len(d.sub)), i -> d.sub[i] * d.sub[i]))"
        " + c.cn - 2 * list_sum(list_transform(generate_series(1, len(d.sub)), i -> d.sub[i] * c.csub[i]))"
    )
    return f"""
        WITH qz AS (
            SELECT {id_col} AS id, {_quant_sql(vec_col)} AS v,
                   {_dot_sql(_quant_sql(vec_col), _quant_sql(vec_col))} AS norm2
            FROM {table}
        ),
        ccents AS (
            SELECT CAST(id AS INT) AS cidx, v AS cv, norm2 AS cn FROM qz WHERE id < {kc}
        ),
        cassigned AS (
            SELECT id, cidx AS centroid FROM (
                SELECT qz.id, c.cidx,
                       row_number() OVER (PARTITION BY qz.id
                           ORDER BY {cdist}, c.cidx) AS rn
                FROM qz CROSS JOIN ccents c
            ) WHERE rn = 1
        ),
        sub AS (
            SELECT id, unnest(generate_series(0, {S - 1})) AS s, unnest({slices}) AS sub
            FROM qz
        ),
        pcents AS (
            SELECT CAST(id AS INT) AS cidx, s, sub AS csub,
                   {_dot_sql('sub', 'sub')} AS cn
            FROM sub WHERE id < {k}
        ),
        codes AS (
            SELECT a.id, a.s, a.code, ca.centroid FROM (
                SELECT id, s, cidx AS code FROM (
                    SELECT d.id, d.s, c.cidx,
                           row_number() OVER (PARTITION BY d.id, d.s ORDER BY {pdist}, c.cidx) AS rn
                    FROM sub d JOIN pcents c USING (s)
                ) WHERE rn = 1
            ) a JOIN cassigned ca USING (id)
        ),
        probes AS (
            SELECT id AS query_id, cidx AS centroid FROM (
                SELECT qz.id, c.cidx,
                       row_number() OVER (PARTITION BY qz.id ORDER BY {cdist}, c.cidx) AS rn
                FROM qz CROSS JOIN ccents c
                WHERE qz.id IN (SELECT q2.id FROM qz q2 WHERE {query_pred})
            ) WHERE rn <= {nprobe}
        ),
        lut AS (
            SELECT q.id AS query_id, c.s, c.cidx AS code,
                   {_dot_sql('q.sub', 'c.csub')} AS part
            FROM sub q JOIN pcents c USING (s)
            WHERE q.id IN (SELECT q2.id FROM qz q2 WHERE {query_pred})
        ),
        scored AS (
            SELECT p.query_id, cd.id AS neighbor_id, CAST(SUM(l.part) AS BIGINT) AS approx_dot
            FROM codes cd
            JOIN probes p ON p.centroid = cd.centroid AND cd.id <> p.query_id
            JOIN lut l ON l.query_id = p.query_id AND l.s = cd.s AND l.code = cd.code
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, approx_dot,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY approx_dot DESC, neighbor_id) AS INT) AS rank
        FROM scored QUALIFY rank <= {topk}
    """


def pq_kmeans_cte_sql(
    table: str, id_col: str = "vec_id", vec_col: str = "embedding",
    S: int = PQ_S, k: int = PQ_K, iters: int = 2,
) -> str:
    """DuckDB CTE chain unrolling ``iters`` per-subspace integer Lloyd steps
    — the oracle twin of :func:`pq_train_codebooks`. Ends with ``pc{iters}``
    (s, cidx, csub, cn). Same deterministic recipe as kmeans_cte_sql, with
    the subspace id as an extra grouping key everywhere."""
    width = f"CAST(len(v) / {S} AS INT)"
    slices = (
        f"[list_slice(v, i * {width} + 1, (i + 1) * {width})"
        f" for i in generate_series(0, {S - 1})]"
    )
    parts = [
        f"""qz AS (SELECT {id_col} AS id, {_quant_sql(vec_col)} AS v FROM {table}),
        subn AS (
            SELECT id, s, sub, {_dot_sql('sub', 'sub')} AS norm2 FROM (
                SELECT id, unnest(generate_series(0, {S - 1})) AS s, unnest({slices}) AS sub
                FROM qz
            )
        ),
        pc0 AS (
            SELECT s, CAST(id AS INT) AS cidx, sub AS csub,
                   {_dot_sql('sub', 'sub')} AS cn
            FROM subn WHERE id < {k}
        )"""
    ]
    dot_dc = (
        "list_sum(list_transform(generate_series(1, len(d.sub)),"
        " i -> d.sub[i] * c.csub[i]))"
    )
    for t in range(1, iters + 1):
        prev = f"pc{t - 1}"
        parts.append(
            f"""passign{t} AS (
            SELECT s, sub, centroid FROM (
                SELECT d.s, d.sub, c.cidx AS centroid,
                       row_number() OVER (PARTITION BY d.id, d.s
                           ORDER BY d.norm2 + c.cn - 2 * {dot_dc}, c.cidx) AS rn
                FROM subn d JOIN {prev} c USING (s)
            ) WHERE rn = 1
        ),
        pdims{t} AS (
            SELECT s, centroid, unnest(generate_series(1, len(sub))) AS pos, unnest(sub) AS x
            FROM passign{t}
        ),
        pnewc{t} AS (
            SELECT s, centroid AS cidx, list(cval ORDER BY pos) AS csub FROM (
                SELECT s, centroid, pos,
                       CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
                FROM pdims{t} GROUP BY s, centroid, pos
            ) GROUP BY s, centroid
        ),
        pc{t} AS (
            SELECT p.s, p.cidx, COALESCE(n.csub, p.csub) AS csub,
                   {_dot_sql('COALESCE(n.csub, p.csub)', 'COALESCE(n.csub, p.csub)')} AS cn
            FROM {prev} p LEFT JOIN pnewc{t} n ON n.s = p.s AND n.cidx = p.cidx
        )"""
        )
    return ",\n        ".join(parts)


def pq_adc_trained_topk_sql(
    table: str, query_pred: str, topk: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    S: int = PQ_S, k: int = PQ_K, iters: int = 2,
) -> str:
    """DuckDB twin of pq_adc_topk(cents=pq_train_codebooks(...)): the
    trained per-subspace codebooks feed the identical encode/LUT/score
    pipeline as :func:`pq_adc_topk_sql`."""
    cents = f"pc{iters}"
    dist = (
        "d.norm2 + c.cn"
        " - 2 * list_sum(list_transform(generate_series(1, len(d.sub)), i -> d.sub[i] * c.csub[i]))"
    )
    return f"""
        WITH {pq_kmeans_cte_sql(table, id_col, vec_col, S, k, iters)},
        assigned AS (
            SELECT id, s, cidx AS code FROM (
                SELECT d.id, d.s, c.cidx,
                       row_number() OVER (PARTITION BY d.id, d.s ORDER BY {dist}, c.cidx) AS rn
                FROM subn d JOIN {cents} c USING (s)
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT q.id AS query_id, c.s, c.cidx AS code,
                   {_dot_sql('q.sub', 'c.csub')} AS part
            FROM subn q JOIN {cents} c USING (s)
            WHERE q.id IN (SELECT q2.id FROM qz q2 WHERE {query_pred})
        ),
        scored AS (
            SELECT l.query_id, a.id AS neighbor_id, CAST(SUM(l.part) AS BIGINT) AS approx_dot
            FROM assigned a JOIN lut l ON l.s = a.s AND l.code = a.code
            WHERE a.id <> l.query_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, approx_dot,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY approx_dot DESC, neighbor_id) AS INT) AS rank
        FROM scored QUALIFY rank <= {topk}
    """


def kmeans_cte_sql(
    table: str, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = IVF_K, iters: int = 2,
) -> str:
    """DuckDB CTE chain unrolling ``iters`` integer Lloyd steps — the oracle
    twin of :func:`kmeans_int`. Ends with ``cents{iters}`` (cidx, cv, cn):
    init = first k vectors by id; assignment = exact-int squared L2 (ties to
    the lower centroid index); update = per-dimension floor(int_sum/count)
    (exact in doubles, both operands far below 2^53); empty clusters keep
    their previous centroid."""
    dot_qc = (
        "list_sum(list_transform(generate_series(1, len(qz.v)),"
        " i -> qz.v[i] * c.cv[i]))"
    )
    parts = [
        f"""qz AS (
            SELECT {id_col} AS id, {_quant_sql(vec_col)} AS v,
                   {_dot_sql(_quant_sql(vec_col), _quant_sql(vec_col))} AS norm2
            FROM {table}
        ),
        cents0 AS (
            SELECT CAST(id AS INT) AS cidx, v AS cv, norm2 AS cn FROM qz WHERE id < {k}
        )"""
    ]
    for t in range(1, iters + 1):
        prev = f"cents{t - 1}"
        parts.append(
            f"""assign{t} AS (
            SELECT id, v, centroid FROM (
                SELECT qz.id, qz.v, c.cidx AS centroid,
                       row_number() OVER (PARTITION BY qz.id
                           ORDER BY qz.norm2 + c.cn - 2 * {dot_qc}, c.cidx) AS rn
                FROM qz CROSS JOIN {prev} c
            ) WHERE rn = 1
        ),
        dims{t} AS (
            -- the two unnests zip positionally (equal lengths)
            SELECT centroid, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x
            FROM assign{t}
        ),
        newc{t} AS (
            SELECT centroid AS cidx, list(cval ORDER BY pos) AS cv FROM (
                SELECT centroid, pos,
                       CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
                FROM dims{t} GROUP BY centroid, pos
            ) GROUP BY centroid
        ),
        cents{t} AS (
            SELECT p.cidx, COALESCE(n.cv, p.cv) AS cv,
                   {_dot_sql('COALESCE(n.cv, p.cv)', 'COALESCE(n.cv, p.cv)')} AS cn
            FROM {prev} p LEFT JOIN newc{t} n USING (cidx)
        )"""
        )
    return ",\n        ".join(parts)


def ivf_trained_topk_sql(
    table: str, query_pred: str, k: int = 10, nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id", vec_col: str = "embedding",
    kc: int = IVF_K, iters: int = 2,
) -> str:
    """IVF search against the TRAINED quantizer: :func:`kmeans_cte_sql`'s
    final centroids feed the same assignment/probe/score pipeline as
    :func:`ivf_topk_sql`."""
    dist = _IVF_DIST_SQL
    cents = f"cents{iters}"
    cos = (
        "CAST(list_sum(list_transform(generate_series(1, len(p.qv)),"
        " i -> p.qv[i] * a.v[i])) AS DOUBLE) / sqrt(CAST(p.qn AS DOUBLE) * CAST(a.norm2 AS DOUBLE))"
    )
    return f"""
        WITH {kmeans_cte_sql(table, id_col, vec_col, kc, iters)},
        assigned AS (
            SELECT id, v, norm2, cidx AS centroid FROM (
                SELECT qz.id, qz.v, qz.norm2, c.cidx,
                       row_number() OVER (PARTITION BY qz.id ORDER BY {dist}, c.cidx) AS rn
                FROM qz CROSS JOIN {cents} c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT id AS query_id, v AS qv, norm2 AS qn, cidx AS centroid FROM (
                SELECT qz.id, qz.v, qz.norm2, c.cidx,
                       row_number() OVER (PARTITION BY qz.id ORDER BY {dist}, c.cidx) AS rn
                FROM qz CROSS JOIN {cents} c
                WHERE qz.id IN (SELECT q2.id FROM qz q2 WHERE {query_pred})
            ) WHERE rn <= {nprobe}
        ),
        scored AS (
            SELECT p.query_id, a.id AS neighbor_id,
                   {micro_sql(cos)} AS cosine_micro
            FROM probes p JOIN assigned a USING (centroid)
            WHERE a.id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine_micro,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_micro DESC, neighbor_id) AS INT) AS rank
        FROM scored QUALIFY rank <= {k}
    """


def kmeans_int(
    emb: DataFrame,
    k: int = IVF_K,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
    seed: int = 7,
) -> DataFrame:
    """Trained IVF coarse quantizer: integer k-means over quantized vectors.

    Fully deterministic and engine-portable by construction: init = first k
    vectors by id; assignment = exact-int squared L2 (ties to the lower
    centroid index); update = per-dimension floor(int_sum / count) (floor of
    an exact int ratio in doubles — both sums and counts are far below
    2^53). Empty clusters keep their previous centroid. Each iteration is
    one broadcast-assign pass + one posexplode aggregation — no driver-side
    math; centroid arrays are rebuilt with a deterministic sort.
    Returns (cidx int, cv array<bigint>) after ``iters`` Lloyd steps.

    ``train_fraction`` subsamples the TRAINING set (standard practice at
    10^12 rows: Lloyd steps on a seed-deterministic sample, assignment of
    the full corpus stays exact). Leave None when the quantizer must be
    reproducible by an engine-independent oracle — Spark's sampler is not
    portable.
    """
    qz = emb.select(
        F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("v")
    ).withColumn("norm2", int_dot(F.col("v"), F.col("v")))
    if train_fraction is not None:
        # seeds (first k by id) always stay in: init must not depend on the
        # sample, or the oracle-visible k would drift
        qz = qz.filter(F.col("id") < k).unionByName(
            qz.filter(F.col("id") >= k).sample(fraction=train_fraction, seed=seed)
        )
    qz = qz.localCheckpoint(eager=True)
    cents = (
        qz.filter(F.col("id") < k)
        .select(F.col("id").cast("int").alias("cidx"), F.col("v").alias("cv"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        cn = cents.withColumn("cn", int_dot(F.col("cv"), F.col("cv")))
        joined = qz.join(F.broadcast(cn)).withColumn(
            "dist", F.col("norm2") + F.col("cn") - 2 * int_dot(F.col("v"), F.col("cv"))
        )
        # argmin via min_by hash aggregate (same tie-break as a row_number
        # window; map-side combine, no n*k shuffle, no per-key sort)
        assigned = (
            joined.groupBy("id")
            .agg(
                F.min_by(
                    F.struct("v", F.col("cidx").alias("centroid")),
                    F.struct("dist", "cidx"),
                ).alias("_m")
            )
            .select("id", "_m.v", "_m.centroid")
        )
        dims = assigned.select(
            "centroid", F.posexplode(F.col("v")).alias("pos", "x")
        )
        sums = dims.groupBy("centroid", "pos").agg(
            F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
        )
        new_cents = (
            sums.withColumn(
                "cval",
                F.floor(F.col("s").cast("double") / F.col("n")).cast("bigint"),
            )
            .groupBy("centroid")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("cval")))
                    ),
                    lambda e: e.getField("cval"),
                ).alias("cv")
            )
            .select(F.col("centroid").alias("cidx"), "cv")
        )
        # empty clusters keep their previous centroid
        cents = (
            cents.select("cidx", F.col("cv").alias("cv_old"))
            .join(new_cents, "cidx", "left")
            .select("cidx", F.coalesce("cv", "cv_old").alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cents

"""Similarity search over an ``array<float>`` embedding column.

Two paths:
- ``cosine_topk``: exact brute force — broadcast the (small) query set,
  fold the dot product JVM-side (zip_with + aggregate, no Python), rank
  per query. The 100 TB baseline: scales linearly in corpus size, query
  count bounded by the broadcast.
- ``lsh_ann_topk``: random-hyperplane LSH — bucket vectors by sign
  pattern, search only colliding buckets (multi-probe via multiple
  tables). Recall traded for a ~buckets-fold cost cut; verified against
  brute force in tests/test_llm.py.

Numeric identity with the oracle: elements are quantized to exact 1e-8
fixed-point (float→double is exact, double→decimal(9,8) rounds the same
representable midpoints on both engines), then accumulated as scaled
LONG integers — exact, overflow-safe (64 terms x 1e16 < 2^63), and
order-independent — so the final double cosine is bit-identical on both
engines. Decimal accumulation can't be used inside Spark's aggregate()
fold: decimal addition widens precision and the merge lambda must return
the accumulator type exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from csv2db_spark import plans
from csv2db_spark.operators import stage

QUANT = 100_000_000  # 1e8: embedding components are in (-1, 1)
QUANT_SQ = float(QUANT) * float(QUANT)


def _iel(x: Column) -> Column:
    """Element quantized to an exact scaled integer."""
    return (x.cast("double").cast("decimal(9,8)") * QUANT).cast("long")


def dot_scaled(a: Column, b: Column) -> Column:
    """Exact integer dot product at scale 1e16 (long fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _iel(x) * _iel(y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def exact_dot(a: Column, b: Column) -> Column:
    return dot_scaled(a, b).cast("double") / F.lit(QUANT_SQ)


def norm(a: Column) -> Column:
    return F.sqrt(exact_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return exact_dot(a, b) / (norm(a) * norm(b))


def quantize(
    df: DataFrame, id_col: str, vec_col: str, id_alias: str, prefix: str
) -> DataFrame:
    """Precompute per-vector state ONCE, before any pairwise join: the
    quantized long vector and its scaled squared norm. The pairwise hot
    loop then folds longs only — no decimal casts, no norm recomputation
    per pair. (Higher-order-function folds evaluate interpreted, so
    minimizing per-pair fold work is the dominant cost lever.)"""
    iv = F.transform(F.col(vec_col), _iel)
    return df.select(
        F.col(id_col).alias(id_alias), iv.alias(f"{prefix}iv")
    ).withColumn(
        f"{prefix}nrm2",
        F.aggregate(
            F.transform(F.col(f"{prefix}iv"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def dot_iv(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cos_from_parts(dot: Column, nrm2_a: Column, nrm2_b: Column) -> Column:
    return (dot.cast("double") / F.lit(QUANT_SQ)) / (
        F.sqrt(nrm2_a.cast("double") / F.lit(QUANT_SQ))
        * F.sqrt(nrm2_b.cast("double") / F.lit(QUANT_SQ))
    )


def _topk_per_query(
    scored: DataFrame,
    k: int,
    order: list,
    shard_on: str = "neighbor_id",
    n_shards: int = 64,
) -> DataFrame:
    """Exact per-query top-k in TWO window stages, against skew: a
    single ``Window.partitionBy(query_id)`` over a
    corpus-sized scored table sorts |corpus| rows on ONE reduce task
    per query — the classic straggler once the corpus outgrows a task.
    Stage 1 ranks within (query_id, shard) — the deterministic shard
    key spreads each query's rows over ``n_shards`` tasks — and keeps
    k rows per shard; stage 2 ranks the surviving k*n_shards rows per
    query. Every global top-k row has shard-rank <= its global rank
    <= k, so stage 1 never drops a winner and the output (including
    the rank column, produced only by stage 2 under the identical
    total order) is bit-identical to the one-window form. Total
    shuffle bytes are unchanged; the per-query sort bound drops from
    |corpus| to k * n_shards rows.

    The two-stage shape costs one extra exchange, which at fixture
    size outweighs the sort it parallelizes (−14% on cosine), so a
    small input takes the single window instead. The decision is
    ``plans.small_input(scored)``: ``scored`` sits below a cross join,
    so it is sized by the leaves it reads (the corpus, the queries),
    not by the join's product estimate. Both branches are
    bit-identical (the equivalence argument above), so the switch is
    invisible to every oracle; the threshold setting lets tests pin
    either shape."""
    if plans.small_input(scored):
        w = Window.partitionBy("query_id").orderBy(*order)
        return scored.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )
    shard = F.pmod(F.xxhash64(F.col(shard_on)), F.lit(n_shards))
    w1 = Window.partitionBy(F.col("query_id"), shard).orderBy(*order)
    pruned = (
        scored.withColumn("_srn", F.row_number().over(w1))
        .where(F.col("_srn") <= k)
        .drop("_srn")
    )
    w2 = Window.partitionBy("query_id").orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= k
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbours for each query vector (self excluded)."""
    q = quantize(queries, id_col, vec_col, "query_id", "q_")
    c = quantize(corpus, id_col, vec_col, "neighbor_id", "c_")
    joined = c.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        cos_from_parts(
            dot_iv(F.col("q_iv"), F.col("c_iv")),
            F.col("q_nrm2"),
            F.col("c_nrm2"),
        ).alias("cos_sim"),
    )
    return _topk_per_query(
        scored,
        k,
        [F.col("cos_sim").desc(), F.col("neighbor_id")],
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


# ------------------------------------------------------------------ LSH ANN


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = 42):
    """Deterministic random hyperplanes (driver-side numpy, broadcast as
    literals — tiny)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(n_tables, n_planes, dim).astype("float64")


def _bucket_udf(planes):
    """Arrow-vectorized bucketizer: ONE numpy matmul per batch computes
    every (table, plane) dot product at once — replaces n_tables*n_planes
    interpreted HOF folds per vector (measured ~10x on the bucket step).
    Returns array<int> of per-table bucket ids."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_tables, n_planes, dim = planes.shape
    m = planes.reshape(n_tables * n_planes, dim).T  # dim x (T*P)
    weights = 1 << np.arange(n_planes)

    def _buckets(v):
        if len(v) == 0:  # empty partition batch: np.stack would raise
            return pd.Series([], dtype="object")
        x = np.stack(v.to_numpy())  # n x dim (float32 from Arrow)
        dots = x @ m  # n x T*P, float64
        bits = (dots > 0).reshape(len(x), n_tables, n_planes)
        b = (bits * weights).sum(axis=2).astype("int32")
        return pd.Series(list(b))

    # no type hints: module uses `from __future__ import annotations`,
    # which stringifies them beyond pyspark's hint resolver
    return pandas_udf(_buckets, "array<int>")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = bucket collisions in ANY of
    ``n_tables`` hash tables, then exact cosine rank on candidates only.

    Scale shape: corpus is bucketed once per table (narrow projections),
    the join is equi on (table_id, bucket) — a hash join on a low-card
    key — and the expensive cosine runs on ~corpus/2^planes * tables
    rows per query instead of the full corpus.

    ``max_bucket`` caps the CORPUS side of each (table, bucket): a
    boilerplate-heavy corpus (millions of near-identical embeddings)
    lands in one hot bucket, and every query probing it pays
    |bucket| cosine rows — the LSH pruning silently degrades to
    brute force. Policy is deterministic SAMPLING, not wholesale drop
    (the minhash-band cap drops, because identical docs belong to exact
    dedup; an ANN query in a hot bucket still deserves its best-effort
    neighbors): members survive with probability ``max_bucket/|bucket|``
    by an xxhash64 coin on (id, table, bucket), so the expected survivor
    count is the cap, results are reproducible across runs and
    partitionings, and no per-bucket sort or shuffle is added — the
    bucket census is at most ``n_tables * 2^n_planes`` rows, joined back
    as a broadcast. Recall on hot buckets becomes cap-proportional
    (bounded-candidate test in tests/test_llm.py)."""
    planes = _hyperplanes(dim, n_planes, n_tables)
    budf = _bucket_udf(planes)

    # Candidate generation carries IDS ONLY through the dedup exchange:
    # a pair colliding in several tables would otherwise shuffle its full
    # quantized vectors once per collision (and hash arrays in the
    # distinct key). Scoring state is re-joined after the id-pair
    # distinct — one narrow corpus-state shuffle instead of
    # payload-per-collision.
    ck = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(budf(F.col(vec_col))).alias("table_id", "bucket"),
    )
    if max_bucket is not None:
        census = ck.groupBy("table_id", "bucket").agg(
            F.count(F.lit(1)).alias("_n")
        )
        # keep iff uniform_coin < cap/|bucket|, as integer arithmetic:
        # pmod(hash, 1e6) * n < 1e6 * cap
        coin = F.pmod(
            F.xxhash64("neighbor_id", "table_id", "bucket"), F.lit(1_000_000)
        )
        ck = (
            ck.join(F.broadcast(census), ["table_id", "bucket"])
            .where(
                (F.col("_n") <= max_bucket)
                | (coin * F.col("_n") < F.lit(1_000_000 * max_bucket))
            )
            .drop("_n")
        )
    qk = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(budf(F.col(vec_col))).alias("table_id", "bucket"),
    )
    pair_ids = (
        ck.join(F.broadcast(qk), ["table_id", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cand = pair_ids.join(
        quantize(corpus, id_col, vec_col, "neighbor_id", "c_"), "neighbor_id"
    ).join(
        F.broadcast(quantize(queries, id_col, vec_col, "query_id", "q_")),
        "query_id",
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cos_from_parts(
            dot_iv(F.col("q_iv"), F.col("c_iv")),
            F.col("q_nrm2"),
            F.col("c_nrm2"),
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ------------------------------------------------------------------ IVF ANN


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other standard ANN
    scale path next to random-hyperplane LSH:

    1. TRAIN: k-means centroids over the corpus (at 100 TB: over a
       sample; the model is tiny and broadcast).
    2. ASSIGN: every corpus vector to its nearest centroid — the
       'inverted list' is just a cell-id column, so the corpus stays one
       partitioned table, no index structure to maintain.
    3. PROBE: each query scores only the vectors in its ``n_probe``
       nearest cells — an equi-join on cell id; cost drops from
       |corpus| to ~|corpus| * n_probe / n_centroids per query.

    Centroid distances for queries run in one Arrow-batched matmul;
    candidate scoring reuses the exact quantized-cosine machinery, so
    the approximation is ONLY in which candidates are probed.
    """
    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.functions import pandas_udf

    fv = array_to_vector(F.col(vec_col).cast("array<double>"))
    corpus_v = corpus.select(F.col(id_col), F.col(vec_col), fv.alias("_fv"))
    model = KMeans(
        k=n_centroids, seed=42, maxIter=8, featuresCol="_fv", predictionCol="_cell"
    ).fit(corpus_v)
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])

    c_iv = F.transform(F.col(vec_col), _iel)
    cb = model.transform(corpus_v).select(
        F.col(id_col).alias("neighbor_id"),
        c_iv.alias("c_iv"),
        F.aggregate(
            F.transform(c_iv, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("c_nrm2"),
        F.col("_cell").alias("cell"),
    )

    def _probe(v):
        x = np.stack(v.to_numpy()).astype("float64")  # n x dim
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(order))

    probe_udf = pandas_udf(_probe, "array<int>")

    q_iv = F.transform(F.col(vec_col), _iel)
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        q_iv.alias("q_iv"),
        F.aggregate(
            F.transform(q_iv, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_nrm2"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    )

    cand = cb.join(F.broadcast(qb), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cos_from_parts(
            dot_iv(F.col("q_iv"), F.col("c_iv")),
            F.col("q_nrm2"),
            F.col("c_nrm2"),
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ------------------------------------------------- persisted IVF index


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train an IVF index ONCE and persist it — the production ANN
    lifecycle ``ivf_ann_topk`` compresses into a single call (train at
    build time, query many times without refitting):

    - ``{path}/centroids.parquet`` — (cell, weights): the k-means model,
      k x dim doubles, tiny.
    - ``{path}/postings`` — (neighbor_id, c_iv, c_nrm2) PARTITIONED BY
      cell: the inverted lists ARE the partition layout, so a query
      probing ``n_probe`` cells reads only those directories (partition
      pruning), never the corpus. Scoring state (quantized vector +
      norm) is precomputed at build time — query-time cost is pure
      candidate scoring.

    Cell assignment uses the fitted model's own transform, so the
    persisted lists are identical to what the inline operator computes;
    float64 centroids round-trip parquet exactly, which
    ``q_sim_ann_ivf_persisted`` pins as an empty-oracle parity gate."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    fv = array_to_vector(F.col(vec_col).cast("array<double>"))
    corpus_v = corpus.select(F.col(id_col), F.col(vec_col), fv.alias("_fv"))
    model = KMeans(
        k=n_centroids, seed=42, maxIter=8, featuresCol="_fv", predictionCol="_cell"
    ).fit(corpus_v)
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])
    spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(len(centers))],
        "cell int, weights array<double>",
        # repartition(1), NOT coalesce(1): coalescing a parallelized local
        # collection computes all defaultParallelism parents sequentially
        # in one task, one Python-worker round-trip each (~5 s measured);
        # consumers sort by cell after collect, so file order is free
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/centroids.parquet")

    # assignment uses the SAME nearest-centroid routine as
    # ivf_append_index (not model.transform), so incremental appends are
    # bit-identical to a full rebuild — the invariance
    # q_sim_ann_ivf_append / tests pin
    _assign_postings(corpus, centers, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/postings")


def _assign_postings(
    vectors: DataFrame, centers, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, c_iv, c_nrm2, cell) for a vector batch against
    FIXED centroids: one Arrow matmul batch per task picks the nearest
    cell — a pure deterministic function of (vector, centers), shared
    by full builds and incremental appends so the two compose exactly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ctr = np.asarray(centers, dtype="float64")

    def _nearest(v):
        x = np.stack(v.to_numpy()).astype("float64")
        d = ((x[:, None, :] - ctr[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    nearest_udf = pandas_udf(_nearest, "int")
    c_iv = F.transform(F.col(vec_col), _iel)
    return vectors.select(
        F.col(id_col).alias("neighbor_id"),
        c_iv.alias("c_iv"),
        F.aggregate(
            F.transform(c_iv, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("c_nrm2"),
        nearest_udf(F.col(vec_col)).alias("cell"),
    )


def ivf_append_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: add a batch of new vectors to a
    persisted IVF index WITHOUT retraining — load the frozen centroids,
    assign the batch with the same nearest-centroid routine the build
    used, and APPEND to the cell-partitioned postings (dynamic
    partition append touches only the cells the batch lands in; all
    standing postings files stay byte-identical). Because assignment is
    a pure per-row function of the frozen centroids, build(part) +
    append(rest) equals build(full) exactly — the standard daily-crawl
    ingestion path for a production ANN index. Centroid drift from
    distribution shift is a REBUILD decision (monitor with
    llm/cluster.embedding_drift), not an append concern."""
    import numpy as np

    spark = new_vectors.sparkSession
    crows = spark.read.parquet(f"{path}/centroids.parquet").collect()
    centers = np.stack(
        [np.asarray(r.weights) for r in sorted(crows, key=lambda r: r.cell)]
    )
    _assign_postings(new_vectors, centers, id_col, vec_col).write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{path}/postings")


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index (``ivf_build_index``): load the tiny
    centroid table to the driver, pick each query's ``n_probe`` nearest
    cells (one Arrow matmul batch), then score ONLY the postings of the
    probed cells — ``isin`` over the bounded probed-cell set reaches the
    partitioned store as partition pruning, so unprobed cells are never
    read. Same exact quantized-cosine scoring as the inline operator;
    output matches ``ivf_ann_topk`` row for row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    crows = spark.read.parquet(f"{path}/centroids.parquet").collect()
    centers = np.stack(
        [np.asarray(r.weights) for r in sorted(crows, key=lambda r: r.cell)]
    )
    n_probe = min(n_probe, len(centers))

    def _probe(v):
        x = np.stack(v.to_numpy()).astype("float64")
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(order))

    probe_udf = pandas_udf(_probe, "array<int>")
    q_iv = F.transform(F.col(vec_col), _iel)
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        q_iv.alias("q_iv"),
        F.aggregate(
            F.transform(q_iv, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_nrm2"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    )
    # bounded collect (<= |queries| * n_probe ints) so the cell filter is
    # a PLAN-TIME literal: static partition pruning on the postings store
    probed = sorted({r.cell for r in qb.select("cell").distinct().collect()})
    postings = spark.read.parquet(f"{path}/postings").where(
        F.col("cell").isin(probed)
    )
    cand = postings.join(F.broadcast(qb), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cos_from_parts(
            dot_iv(F.col("q_iv"), F.col("c_iv")),
            F.col("q_nrm2"),
            F.col("c_nrm2"),
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ------------------------------------------- LSH all-pairs near-dup cosine


def lsh_all_pairs_cosine(
    vecs: DataFrame,
    threshold: float,
    n_planes: int = 16,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """All pairs with cosine >= ``threshold`` via LSH candidate generation
    + exact quantized verification — the scale path for embedding
    near-dedup (replaces the O((n/block)^2) pair grid of
    ``blocked_all_pairs_cosine`` in the gate query; the blocked path
    remains the small-n exact tool).

    Shape at 100 TB: each vector is hashed into ``n_tables`` sign-pattern
    buckets (one Arrow matmul batch for all tables); candidates are
    bucket collisions — an equi self-join on (table_id, bucket) whose
    shuffled payload is the 16-byte id pair, nothing else; the exact
    cosine then runs only on distinct candidate pairs. Cost is linear in
    corpus + collisions, never n².

    Recall: a pair at cosine t collides in one table with prob
    (1 - arccos(t)/pi)^n_planes; missing all ``n_tables`` tables has prob
    (1 - that)^n_tables. At the near-dup thresholds this operator is for
    (t >= ~0.99, i.e. near-identical vectors) the defaults give miss
    ~3e-8 per pair; tests/test_llm.py pins recall == 1 vs the exact
    blocked path on the fixture data at every gate SF. Scale n_planes
    with log2(corpus) (and n_tables up for recall) on bigger corpora —
    the verification stage is exact, so parameter choice affects only
    which candidates are seen, never their scores.

    The corpus is touched ONCE: a single staged table carries (vid,
    x_iv, x_nrm2, per-table buckets) — one scan, one Arrow matmul.
    """
    planes = _hyperplanes(dim, n_planes, n_tables)
    budf = _bucket_udf(planes)
    # reuse: both self-join legs and both verify legs read the state;
    # each would run its own corpus pass, two of them Arrow
    state = stage.materialize_stage(
        vecs.select(
            F.col(id_col).alias("vid"),
            F.transform(F.col(vec_col), _iel).alias("x_iv"),
            budf(F.col(vec_col)).alias("_bkts"),
        ).withColumn(
            "x_nrm2",
            F.aggregate(
                F.transform(F.col("x_iv"), lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    keys = state.select(
        "vid",
        F.posexplode(F.col("_bkts")).alias("table_id", "bucket"),
    )
    a = keys.select(
        "table_id", "bucket", F.col("vid").alias("vec_a")
    )
    b = keys.select(
        "table_id", "bucket", F.col("vid").alias("vec_b")
    )
    # Both sides shuffle on the same key, so Spark reuses one exchange;
    # the strict < keeps each unordered pair once and drops self-pairs.
    pair_ids = (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    sa = state.select(
        F.col("vid").alias("vec_a"),
        F.col("x_iv").alias("a_iv"),
        F.col("x_nrm2").alias("a_nrm2"),
    )
    sb = state.select(
        F.col("vid").alias("vec_b"),
        F.col("x_iv").alias("b_iv"),
        F.col("x_nrm2").alias("b_nrm2"),
    )
    return (
        pair_ids.join(sa, "vec_a")
        .join(sb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            cos_from_parts(
                dot_iv(F.col("a_iv"), F.col("b_iv")),
                F.col("a_nrm2"),
                F.col("b_nrm2"),
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


# ------------------------------------------------- blocked all-pairs cosine


def blocked_all_pairs_cosine(
    vecs: DataFrame,
    threshold: float,
    block: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via BLOCK-matrix products.

    Row-per-pair folding is O(n^2 * dim) interpreted work; the scalable
    exact formulation groups vectors into blocks of ``block`` rows,
    cross-joins the O((n/block)^2) block pairs, and computes each block
    pair with ONE vectorized integer matrix product (Arrow-batched
    numpy). Quantized int64 math is exact and overflow-safe
    (dim * 1e16 < 2^63), so results are bit-identical to the per-pair
    fold — the DuckDB oracle needs no change. Measured ~20x over the
    fold at sf0.1.

    At 100 TB: block count scales with corpus; each task holds two
    blocks (2 * block * dim * 8 bytes) — constant memory, no broadcast
    of the corpus, shuffle volume O(n * n/block).
    """
    import numpy as np
    import pandas as pd

    q = quantize(vecs, id_col, vec_col, "vid", "x_")
    # deterministic block id from the vector id, independent of partitioning
    q = q.withColumn("blk", F.floor(F.col("vid") / F.lit(block)))
    packed = q.groupBy("blk").agg(
        F.collect_list(F.struct("vid", "x_iv", "x_nrm2")).alias("rows")
    )
    a = packed.select(
        F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a")
    )
    b = packed.select(
        F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b")
    )
    pairs = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    out_schema = "vec_a bigint, vec_b bigint, cos_sim double"

    def score(batches):
        for pdf in batches:
            outs = []
            for rows_a, rows_b in zip(pdf["rows_a"], pdf["rows_b"]):
                ids_a = np.array([r["vid"] for r in rows_a], dtype="int64")
                ids_b = np.array([r["vid"] for r in rows_b], dtype="int64")
                A = np.stack([np.asarray(r["x_iv"], dtype="int64") for r in rows_a])
                B = np.stack([np.asarray(r["x_iv"], dtype="int64") for r in rows_b])
                na = np.array([r["x_nrm2"] for r in rows_a], dtype="int64")
                nb = np.array([r["x_nrm2"] for r in rows_b], dtype="int64")
                D = A @ B.T  # exact int64
                cos = (D / QUANT_SQ) / (
                    np.sqrt(na[:, None] / QUANT_SQ) * np.sqrt(nb[None, :] / QUANT_SQ)
                )
                ii, jj = np.where(cos >= threshold)
                keep = ids_a[ii] < ids_b[jj]
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids_a[ii][keep],
                            "vec_b": ids_b[jj][keep],
                            "cos_sim": cos[ii, jj][keep],
                        }
                    )
                )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cos_sim": []}
            )

    return pairs.mapInPandas(score, out_schema)


# ----------------------------------------------------------- recall eval


def ann_recall_table(ann: DataFrame, exact: DataFrame) -> DataFrame:
    """Per-query recall of an ANN result against the exact top-k
    baseline: (query_id, n_exact, n_hits, recall). The evaluation every
    ANN deployment runs before trusting an index — and the quantity the
    self-checking recall gates bound.

    Scale shape: both inputs are (query_id, neighbor_id) — k rows per
    query — so the inner join and the two aggregations touch |queries|*k
    rows, never the corpus."""
    a = ann.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    hits = (
        a.join(e, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_q = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return per_q.join(hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (
            F.coalesce("n_hits", F.lit(0)).cast("double")
            / F.col("n_exact").cast("double")
        ).alias("recall"),
    )


def ann_recall_violations(
    ann: DataFrame, exact: DataFrame, min_mean_recall: float
) -> DataFrame:
    """EMPTY iff the ANN result's mean per-query recall clears the
    bound; otherwise one (metric, mean_recall) row. Turns a recall
    property into a hash-checkable gate: the oracle is the empty set,
    so any regression (broken bucketing, seed drift, probe-count bug)
    surfaces as a driver row-count/hash mismatch rather than a silently
    weaker rows-only record."""
    mean = ann_recall_table(ann, exact).agg(
        F.avg("recall").alias("mean_recall")
    )
    return mean.where(F.col("mean_recall") < min_mean_recall).select(
        F.lit("mean_recall@k").alias("metric"), "mean_recall"
    )


def hyperplane_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 48,
    dim: int = 64,
) -> DataFrame:
    """Binary compact codes for Hamming-space search (Charikar 2002
    random-hyperplane rounding — SimHash for dense vectors): bit b is
    the SIGN of the vector's dot product with pseudo-random hyperplane
    b, and the ``n_bits`` bits pack into ONE int64 ``signature`` column
    — 64 floats become 6 bytes, and distance becomes popcount(xor), a
    two-instruction kernel. Where ``lsh_ann_topk`` uses hyperplanes for
    BUCKETING (rows-only recall gate), this is the compact-code family
    (binary cousin of PQ): every step integer-exact, so the driver can
    hash-verify signatures and neighbor lists bit for bit.

    Hyperplane weights are ±1 by md5 parity of ("hp:bit:dim") — no RNG
    state, reproducible on any engine; components quantize through the
    corpus-wide decimal(9,8)·1e8 convention. Ties (dot exactly 0) round
    to bit 0. ``n_bits`` <= 62 keeps the packed code inside a signed
    long.

    Shape at scale: the weights are
    CONSTANTS — the md5 parity depends only on (bit, position) — so the
    signature is a ROW-LOCAL function: quantize JVM-side (the exact
    decimal(9,8)·1e8 convention, unchanged), then one Arrow batch
    matmul against the ±1 weight matrix computes every (vector, bit)
    dot at once — the same kernel style as ``_bucket_udf``, and exact
    int64 arithmetic throughout (|dot| <= 64·1e8 << 2^63). The previous
    shape posexploded the corpus to n·dim rows and broadcast-joined the
    weight table — an n·dim·n_bits-row intermediate (~150M rows at
    sf0.1) plus TWO corpus-keyed exchanges to fold the partials back.
    (A literal-array HOF-fold variant was measured 2x WORSE than the
    join — interpreted lambdas, the _bucket_udf lesson again — and
    rejected.) Bit-identical: integer addition is exact and order-free,
    ties (dot exactly 0) still round to bit 0; null/empty vectors are
    dropped exactly as posexplode dropped them. Input contract:
    vectors must be null-element-free and dim-length —
    a ragged or null-element vector FAILS LOUDLY in the Arrow kernel
    (np.stack/astype raise), where the old join shape would silently
    sum the available terms; the fixture embeddings are fixed-dim by
    schema, and fail-loud is the right behaviour for corrupt input."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    wmat = np.array(
        [
            [
                1
                if int(
                    hashlib.md5(f"hp:{b}:{i}".encode()).hexdigest()[:2], 16
                )
                % 2
                == 0
                else -1
                for i in range(1, dim + 1)
            ]
            for b in range(n_bits)
        ],
        dtype=np.int64,
    ).T  # dim x n_bits
    pow2 = np.int64(1) << np.arange(n_bits, dtype=np.int64)

    def _sig(qiv):
        if len(qiv) == 0:  # empty partition batch: np.stack would raise
            return pd.Series([], dtype="int64")
        x = np.stack(qiv.to_numpy()).astype(np.int64)  # n x dim, exact
        dots = x @ wmat  # n x n_bits, exact int64
        return pd.Series(((dots > 0) * pow2).sum(axis=1, dtype=np.int64))

    sig_udf = pandas_udf(_sig, "long")
    return (
        df.where(F.size(F.col(vec_col).cast("array<double>")) > 0)
        .select(
            F.col(id_col).alias("vec_id"),
            F.transform(F.col(vec_col), _iel).alias("_qiv"),
        )
        .select("vec_id", sig_udf(F.col("_qiv")).alias("signature"))
    )


def hamming_topk(
    signatures: DataFrame,
    query_ids,
    k: int = 5,
) -> DataFrame:
    """Exact top-k in Hamming space over packed signatures: distance is
    popcount(sig_q XOR sig_d) — integer, total-ordered with (distance,
    neighbor_id) tiebreak, so the ranking is deterministic and
    hash-checkable (the approximation lives entirely in the CODES, not
    the search). The query side is a broadcast few-row table; the scan
    side touches one long per corpus vector — this is the brute-force
    kernel binary codes make affordable at 100 TB (6 bytes/vector,
    SIMD popcount), and the re-rank shortlist generator for an exact
    cosine refine."""
    q = signatures.where(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("signature").alias("sig_q")
    )
    scored = (
        signatures.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.bit_count(F.expr("signature ^ sig_q")).alias("hamming"),
        )
    )
    # two-stage exact top-k: the corpus-sized scored table never sorts
    # on one task per query (see _topk_per_query; single window when
    # the scored table is estimated small)
    return _topk_per_query(
        scored,
        k,
        [F.col("hamming"), F.col("neighbor_id")],
    ).select("query_id", "neighbor_id", "hamming", "rank")


def hamming_rerank_topk(
    df: DataFrame,
    query_ids,
    k: int = 5,
    shortlist: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production compact-code composition: Hamming top-``shortlist``
    over 48-bit hyperplane signatures generates candidates (6
    bytes/vector scanned), then EXACT quantized cosine re-ranks the
    shortlist to top-``k`` — the same shortlist-then-refine shape as
    ``ivfpq_topk``, in the binary-code family. Both stages are
    deterministic (integer Hamming; cosine from exact integer dots with
    IEEE sqrt/division, which are correctly rounded), so the full
    pipeline is hash-checkable end to end.

    Cost at scale: the signature scan touches one long per corpus
    vector; full vectors are fetched for shortlist·|queries| rows only
    (an id-join against the corpus, never a corpus-wide vector
    shuffle)."""
    sig = hyperplane_signatures(df, id_col=id_col, vec_col=vec_col)
    cand = hamming_topk(sig, query_ids, k=shortlist).select(
        "query_id", "neighbor_id"
    )
    vecs = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    scored = (
        cand.join(vecs.withColumnRenamed("_id", "query_id").withColumnRenamed("_v", "_qv"), "query_id")
        .join(vecs.withColumnRenamed("_id", "neighbor_id").withColumnRenamed("_v", "_nv"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_nv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def sq8_rerank_topk(
    corpus: DataFrame,
    query_ids,
    k: int = 5,
    shortlist: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (SQ8) ANN with exact rescore — the third
    compact-code family next to PQ (llm/pq.py) and binary hyperplane
    codes (hamming_topk): each dimension is linearly quantized to an
    8-bit code against the corpus's per-dimension [min, max] (the
    FAISS ScalarQuantizer recipe), the shortlist scans uint8 dots
    (64 bytes/vector — 4× smaller than float32, integer accumulate),
    and the top-``shortlist`` candidates are re-scored with the exact
    quantized cosine.

    Scoring decodes on the fly (x̂ = mn + code·rng/255 — the FAISS
    reconstruction; RAW code dots would be poisoned by the per-dim
    shift: Σ(a+s)(b+s) rewards vector mass, not similarity) and folds
    the decoded values through the engine's exact quantized-integer
    dot, so the shortlist ordering is bit-deterministic.

    Unlike PQ (k-means codebooks → rows-only gate), EVERY stage here is
    deterministic: per-dim min/max are exact, code and reconstruction
    are fixed-order IEEE expressions, decoded dots are exact integer
    folds, and the rescore is the engine's standard exact cosine — so
    the full two-stage pipeline hash-verifies end to end.

    Scale shape: per-dim stats are ONE map-combined aggregate to 64
    rows (collected driver-side like PCA's d×d Gram — never rows);
    encoding is a zero-shuffle projection against broadcast literals;
    the scan reads one 64-byte code array per vector; full vectors are
    fetched for shortlist×queries rows only."""
    spark = corpus.sparkSession
    dim_stats = (
        corpus.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .collect()
    )
    mn = [0.0] * len(dim_stats)
    rng = [0.0] * len(dim_stats)
    for r in dim_stats:
        mn[r["i"]] = r["mn"]
        rng[r["i"]] = r["mx"] - r["mn"]
    mn_arr = F.array(*[F.lit(v) for v in mn])
    rng_arr = F.array(*[F.lit(v) for v in rng])

    def codes(df: DataFrame, out_id: str, prefix: str) -> DataFrame:
        centered = F.zip_with(
            F.col(vec_col), mn_arr, lambda x, m: x.cast("double") - m
        )
        c = F.zip_with(
            centered,
            rng_arr,
            lambda d, r: F.when(r == 0, F.lit(0).cast("long")).otherwise(
                F.floor(d * F.lit(255.0) / r)
            ),
        )
        # decode (x_hat = mn + c*rng/255) and requantize to exact longs:
        # the integer dot over x_hat is bit-deterministic cross-engine
        scaled = F.zip_with(
            c, rng_arr, lambda ci, r: ci.cast("double") * r / F.lit(255.0)
        )
        dec = F.zip_with(scaled, mn_arr, lambda d, m: _iel(d + m))
        return df.select(F.col(id_col).alias(out_id), dec.alias(f"{prefix}dec"))

    qids = list(query_ids)
    qdf = corpus.where(F.col(id_col).isin(*[int(q) for q in qids]))
    qc = codes(qdf, "query_id", "q_")
    cc = codes(corpus, "neighbor_id", "c_")
    approx = (
        cc.crossJoin(F.broadcast(qc))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    F.col("q_dec"), F.col("c_dec"), lambda a, b: a * b
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("code_dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("code_dot").desc(), F.col("neighbor_id")
    )
    short = approx.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= shortlist
    )
    # exact rescore: fetch full vectors for shortlist x queries only
    cq = quantize(corpus, id_col, vec_col, "neighbor_id", "c_")
    qq = quantize(qdf, id_col, vec_col, "query_id", "q_")
    rescored = (
        short.select("query_id", "neighbor_id", "code_dot")
        .join(cq, "neighbor_id")
        .join(F.broadcast(qq), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "code_dot",
            cos_from_parts(
                dot_iv(F.col("q_iv"), F.col("c_iv")),
                F.col("q_nrm2"),
                F.col("c_nrm2"),
            ).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Radius (range) search — the other half of the ANN API next to
    top-k: ALL neighbours with cosine ≥ τ per query, however many or
    few that is (dedup thresholds, near-duplicate audits and recall
    sweeps want the complete ball, not a fixed k). Exact quantized
    cosine, so the result set hash-verifies.

    Plan: same broadcast-queries × corpus scan as cosine_topk but with
    the threshold applied as a FILTER instead of a window top-k — no
    sort, no window, output proportional to matches. At scale the scan
    side is any ANN shortlist (LSH buckets / IVF cells) instead of the
    full corpus."""
    q = quantize(queries, id_col, vec_col, "query_id", "q_")
    c = quantize(corpus, id_col, vec_col, "neighbor_id", "c_")
    joined = c.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        cos_from_parts(
            dot_iv(F.col("q_iv"), F.col("c_iv")),
            F.col("q_nrm2"),
            F.col("c_nrm2"),
        ).alias("cos_sim"),
    )
    return scored.where(F.col("cos_sim") >= F.lit(min_cosine))

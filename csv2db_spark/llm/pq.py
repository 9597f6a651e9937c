"""Product-quantization ANN (Jégou et al. 2011, "Product quantization
for nearest neighbor search"): split each vector into M subvectors,
quantize each against a per-subspace codebook of K codewords, and score
candidates by Asymmetric Distance Computation — the query stays exact,
corpus vectors are replaced by M one-byte codes.

Why this matters at 100 TB: a 64-dim float corpus is 256 bytes/vector;
PQ codes are M=8 bytes — a 32× compression that turns a memory-bound
scan into one that fits executor RAM, which is the difference between
an ANN sweep running in-core or spilling. The LSH and IVF variants
(llm/similarity.py) bound the CANDIDATE COUNT; PQ bounds the BYTES PER
CANDIDATE — production systems (FAISS IVF-PQ) compose both, and this
module composes with ivf the same way (encode within cells).

Determinism: everything is exact integer arithmetic in the 1e-8
quantized domain of llm/similarity.py — codebooks are the K lowest-id
vectors' subvectors refined by one exact-integer Lloyd step (ties to
the lower code id), encoding is exact-integer argmin, and ADC distances
are exact long sums of table entries, so results are bit-reproducible
at any partitioning (pinned by tests). The gate is rows-only like the
other ANN gates: PQ is approximate BY DESIGN vs the exact baseline;
recall bounds live in tests/test_analytics2.py.

Scale shape: codebook train/refine touches only K·M rows of seed state
plus one broadcast-join pass; encoding is a map-only broadcast join
(corpus never shuffles); ADC explodes codes to (vec, m) — M rows per
vector — joins the broadcast 128-entry distance table, and folds back
on vec_id: ONE code-keyed shuffle of M·n skinny rows, no float math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv2db_spark.llm.similarity import _topk_per_query, quantize
from csv2db_spark.operators.stage import materialize_stage


def _subvectors(df: DataFrame, id_alias: str, m: int, sub: int) -> DataFrame:
    """(id, m, sub_iv): split the quantized int vector into M slices."""
    return df.select(
        id_alias,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("m"),
                        F.slice(F.col("x_iv"), i * sub + 1, sub).alias("sub_iv"),
                    )
                    for i in range(m)
                ]
            )
        ).alias("_s"),
    ).select(id_alias, F.col("_s.m").alias("m"), F.col("_s.sub_iv").alias("sub_iv"))


def _d2(a, b):
    """Exact integer squared distance between two int-vector slices."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def pq_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Per-subspace codebooks: the K lowest-id vectors seed each
    subspace, then ONE exact-integer Lloyd step refines them (mean of
    assigned subvectors, floor division — empty cells keep their seed).
    Returns (m, code, code_iv). Deterministic end to end.

    The returned table is EAGERLY CHECKPOINTED: it is M·K rows, but
    its plan contains the corpus-sized assignment pass — and every
    consumer that broadcasts it (``pq_encode``'s argmin join AND
    ``pq_query_codes``'s per-query distance table) would re-plan that
    whole subtree, so one ``pq_topk`` would train the codebook twice
    and ``q_sim_ann_pq_persisted`` (inline + build) three times. The
    checkpoint makes training run exactly once per call. ``seeds``
    (also M·K rows, two consumers: the assignment leg and the
    empty-cell fallback join) is checkpointed for the same reason —
    without it each consumer replans the seed-selection scan of the
    corpus.

    Side effects: calling this — even just to inspect the
    returned plan — RUNS Spark jobs (two eager localCheckpoints), and
    the two checkpoints' executor-cached blocks (2 × M·K skinny rows,
    a few KB at the defaults) stay cached until the RDDs are
    garbage-collected; PySpark exposes no public handle to unpersist a
    localCheckpoint early, and freeing the seeds blocks before the
    final checkpoint materializes would destroy data its build still
    reads. A long-lived session training many codebooks relies on GC
    of the returned DataFrames to reclaim the (KB-sized) blocks."""
    sub = dim // m
    q = quantize(corpus, id_col, vec_col, "_vid", "x_")
    # seed with the K lowest-id vectors BY RANK (not "_vid < k", which
    # silently under-seeds when ids are sparse): one id-ordered top-K
    # of the FULL quantized rows — a TakeOrdered of k skinny rows,
    # never a corpus sort, and no ids-then-join second corpus scan
    # (the k x dim payload through TakeOrdered is trivially small)
    seed_rows = q.orderBy("_vid").limit(k)
    from pyspark.sql import Window as _W

    code_of = F.row_number().over(_W.orderBy("_vid")) - 1
    seeds = (
        seed_rows.withColumn("_code", code_of)
        .select(
            F.col("_code").cast("int").alias("code"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("m"),
                            F.slice(F.col("x_iv"), i * sub + 1, sub).alias(
                                "sub_iv"
                            ),
                        )
                        for i in range(m)
                    ]
                )
            ).alias("_s"),
        )
        .select(
            F.col("_s.m").alias("m"),
            "code",
            F.col("_s.sub_iv").alias("code_iv"),
        )
    )
    seeds = materialize_stage(seeds)
    subs = _subvectors(q, "_vid", m, sub)
    asn = (
        subs.join(F.broadcast(seeds), "m")
        .select("_vid", "m", "code", "sub_iv", _d2(F.col("sub_iv"), F.col("code_iv")).alias("_d2"))
    )
    # argmin per (vector, subspace) as a partially-aggregated min(struct)
    # instead of a row_number window: the window would shuffle and
    # sort ALL n·M·K scored rows; min(struct(_d2, code, sub_iv))
    # combines map-side to one row per group before the exchange.
    # Struct ordering is field-lexicographic and (d2, code) is unique in
    # each group (sub_iv is group-constant), so the winner — ties to the
    # lower code id — is bit-identical to the window form.
    assigned = (
        asn.groupBy("_vid", "m")
        .agg(F.min(F.struct("_d2", "code", "sub_iv")).alias("_b"))
        .select(
            "_vid",
            "m",
            F.col("_b.code").alias("code"),
            F.col("_b.sub_iv").alias("sub_iv"),
        )
    )
    # one Lloyd step: exact-integer mean per (m, code, dim-position)
    el = assigned.select(
        "m", "code", F.posexplode("sub_iv").alias("pos", "v")
    )
    means = el.groupBy("m", "code", "pos").agg(
        F.expr("div(sum(v), count(1))").alias("mv")
    )
    refined = (
        means.groupBy("m", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("_ps"))
        .select(
            "m",
            "code",
            F.transform(F.col("_ps"), lambda s: s.getField("mv")).alias("code_iv"),
        )
    )
    # empty cells (no assignment) keep their seed
    return materialize_stage(
        seeds.alias("s")
        .join(refined.alias("r"), ["m", "code"], "left")
        .select(
            "m",
            "code",
            F.coalesce(F.col("r.code_iv"), F.col("s.code_iv")).alias("code_iv"),
        )
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Encode every vector as M code ids (nearest codeword per subspace,
    exact-integer argmin, ties to the lower code). Map-only: the
    codebook (M·K rows) is broadcast; the corpus never shuffles.
    Returns (id, m, code) — M skinny rows per vector, the 32×-compressed
    representation downstream ADC scans instead of the floats."""
    sub = dim // m
    q = quantize(corpus, id_col, vec_col, "_vid", "x_")
    subs = _subvectors(q, "_vid", m, sub)
    scored = subs.join(F.broadcast(codebook), "m").select(
        "_vid", "m", "code", _d2(F.col("sub_iv"), F.col("code_iv")).alias("_d2")
    )
    # same argmin-as-aggregate shape as pq_codebook (guide §2.3): the
    # K-way-exploded score rows combine map-side to one row per
    # (vector, subspace) instead of shuffling n·M·K rows into a window
    # sort; min(struct(_d2, code)) == row_number(orderBy _d2, code) == 1.
    return (
        scored.groupBy("_vid", "m")
        .agg(F.min(F.struct("_d2", "code")).alias("_b"))
        .select(F.col("_vid").alias(id_col), "m", F.col("_b.code").alias("code"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """ADC top-k: per query, build the M×K exact-integer distance table
    (query subvector vs every codeword — 128 entries, broadcast), then
    score every encoded corpus vector as the SUM of its M table lookups
    (exact long adds, no float), and keep the k best (ties to lower id).

    Returns (query_id, neighbor_id, approx_d2, rank). Self-matches are
    excluded to mirror llm/similarity.cosine_topk's contract."""
    codebook = pq_codebook(corpus, id_col, vec_col, m, n_codes, dim)
    codes = pq_encode(corpus, codebook, id_col, vec_col, m, dim)
    return pq_query_codes(codebook, codes, queries, k, id_col, vec_col, m, dim)


def pq_query_codes(
    codebook: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ADC scoring against a PREPARED (codebook, codes) pair — the
    query stage ``pq_topk`` composes after training, factored out so a
    persisted index (pq_build_index) reuses it verbatim."""
    sub = dim // m
    qq = quantize(queries, id_col, vec_col, "query_id", "q_").select(
        "query_id", F.col("q_iv")
    )
    qsubs = qq.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("m"),
                        F.slice(F.col("q_iv"), i * sub + 1, sub).alias("sub_iv"),
                    )
                    for i in range(m)
                ]
            )
        ).alias("_s"),
    ).select("query_id", F.col("_s.m").alias("m"), F.col("_s.sub_iv").alias("sub_iv"))
    dtable = qsubs.join(F.broadcast(codebook), "m").select(
        "query_id", "m", "code", _d2(F.col("sub_iv"), F.col("code_iv")).alias("d2")
    )
    scored = (
        codes.join(F.broadcast(dtable), ["m", "code"])
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("d2").alias("approx_d2"))
    )
    # ADC scans the WHOLE code table per query, so the scored table is
    # corpus-sized per query — rank in two stages like the exact
    # searches, never |corpus| rows on one task (single window when
    # the scored table is estimated small, see
    # similarity._topk_per_query).
    return _topk_per_query(
        scored,
        k,
        [F.col("approx_d2"), F.col(id_col)],
        shard_on=id_col,
    ).select("query_id", F.col(id_col).alias("neighbor_id"), "approx_d2", "rank")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ with exact refine — the production ANN composition (FAISS
    IVFPQ + refine): IVF cells bound WHICH candidates are touched
    (n_probe/n_centroids of the corpus), PQ codes bound the BYTES per
    touched candidate (M bytes vs dim floats), and an exact-cosine
    re-rank of the ADC shortlist restores accuracy at the top. Each
    stage reuses its standalone operator: cells from the same KMeans
    train as ivf_ann_topk, codes/ADC from pq_codebook/pq_encode above,
    refine from the quantized-cosine machinery.

    Codes quantize RAW vectors against the global codebook (IVFFlat+PQ;
    classic IVFPQ encodes per-cell residuals — finer, but the codebook
    story and every scale property are identical, and raw codes let the
    SAME code table serve flat-PQ scans too).

    Scale shape (100 TB): train on a sample (model is broadcast-tiny);
    encode is map-only; the probe join touches ~|corpus|·n_probe/
    n_centroids code rows of M bytes each; ADC folds them on (query,
    id); only ``shortlist`` rows per query are ever re-scored exactly.
    Returns (query_id, neighbor_id, cos_sim, rank) like the other ANN
    operators."""
    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.functions import pandas_udf

    from csv2db_spark.llm.similarity import cos_from_parts, dot_iv

    # --- IVF cells (same train as similarity.ivf_ann_topk) -------------
    fv = array_to_vector(F.col(vec_col).cast("array<double>"))
    corpus_v = corpus.select(F.col(id_col), F.col(vec_col), fv.alias("_fv"))
    model = KMeans(
        k=n_centroids, seed=42, maxIter=8, featuresCol="_fv", predictionCol="_cell"
    ).fit(corpus_v)
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])
    cells = model.transform(corpus_v).select(
        F.col(id_col), F.col("_cell").alias("cell")
    )

    # --- PQ codes over the raw vectors ---------------------------------
    codebook = pq_codebook(corpus, id_col, vec_col, m, n_codes, dim)
    codes = pq_encode(corpus, codebook, id_col, vec_col, m, dim).join(
        cells, id_col
    )

    # --- query side: probed cells + ADC distance table -----------------
    def _probe(v):
        x = np.stack(v.to_numpy()).astype("float64")
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(order))

    probe_udf = pandas_udf(_probe, "array<int>")
    sub = dim // m
    q = quantize(queries, id_col, vec_col, "query_id", "q_")
    qsubs = q.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("m"),
                        F.slice(F.col("q_iv"), i * sub + 1, sub).alias("sub_iv"),
                    )
                    for i in range(m)
                ]
            )
        ).alias("_s"),
    ).select("query_id", F.col("_s.m").alias("m"), F.col("_s.sub_iv").alias("sub_iv"))
    dtable = qsubs.join(F.broadcast(codebook), "m").select(
        "query_id", "m", "code", _d2(F.col("sub_iv"), F.col("code_iv")).alias("d2")
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    )

    # --- ADC over probed candidates, shortlist per query ---------------
    cand = codes.join(F.broadcast(probed), "cell").where(
        F.col(id_col) != F.col("query_id")
    )
    adc = (
        cand.join(F.broadcast(dtable), ["query_id", "m", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("d2").alias("approx_d2"))
    )
    ws = Window.partitionBy("query_id").orderBy("approx_d2", id_col)
    short = (
        adc.withColumn("_rn", F.row_number().over(ws))
        .where(F.col("_rn") <= shortlist)
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )

    # --- exact refine of the shortlist ---------------------------------
    c = quantize(corpus, id_col, vec_col, "neighbor_id", "c_")
    qq = q.select("query_id", "q_iv", "q_nrm2")
    scored = (
        short.join(c, "neighbor_id")
        .join(F.broadcast(qq), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cos_from_parts(
                dot_iv(F.col("q_iv"), F.col("c_iv")),
                F.col("q_nrm2"),
                F.col("c_nrm2"),
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def pq_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> None:
    """Persist a PQ index: ``{path}/codebook.parquet`` (m, code,
    code_iv — M*K rows, the trained model) and ``{path}/codes.parquet``
    (id, m, code — the 32x-compressed corpus, the representation ADC
    scans instead of the floats). Training and encoding are exact
    integer arithmetic end to end, so the persisted index is
    bit-identical to what the inline operator trains —
    ``q_sim_ann_pq_persisted`` pins reload+query == inline as an
    empty-oracle gate. Encoding new batches against the frozen codebook
    is ``pq_encode(new_batch, loaded_codebook)`` + append, the same
    incremental pattern as ivf_append_index."""
    codebook = pq_codebook(corpus, id_col, vec_col, m, n_codes, dim)
    codebook.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/codebook.parquet"
    )
    spark = corpus.sparkSession
    stored = spark.read.parquet(f"{path}/codebook.parquet")
    pq_encode(corpus, stored, id_col, vec_col, m, dim).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes.parquet")


def pq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Query a persisted PQ index (``pq_build_index``): the codebook
    (M*K rows) broadcasts into the per-query distance tables, the codes
    table is the only corpus-sized input — 3 skinny ints per subspace
    per vector. Output equals the inline ``pq_topk`` row for row."""
    codebook = spark.read.parquet(f"{path}/codebook.parquet")
    codes = spark.read.parquet(f"{path}/codes.parquet")
    return pq_query_codes(codebook, codes, queries, k, id_col, vec_col, m, dim)

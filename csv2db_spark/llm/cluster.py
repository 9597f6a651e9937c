"""K-means clustering over an ``array<float>`` embedding column,
expressed relationally — assignment and the Lloyd update are plain
joins/aggregations, so Catalyst plans them and the whole iteration is a
broadcast join + two shuffles regardless of corpus size.

This is the standalone face of the machinery ``llm/similarity.py``'s IVF
index builds on (reference has no ML surface; this is a north-star
LLM-pipeline extension: corpus clustering for mixture balancing, IVF cell
assignment, topic bucketing).

Numeric discipline: all distances are computed in the exact scaled-integer
domain of ``llm/similarity.py`` (1e-8 fixed point, long accumulation):
d²(x,c) = |x|² + |c|² − 2·x·c with every term an exact int64 — elements in
(−1, 1) quantize to <2e8, so 64-dim sums stay < 2^63. Assignment is
therefore deterministic and engine-independent (ties broken on cluster
id), and the per-dimension means — exact integer sums divided once —
hash-match an ANSI-SQL oracle bit-for-bit, which is how the driver gate
can verify an "ML" operator exactly.

Scale shape (100 TB): centroids are k rows — always broadcast; the
assignment pass is a map-only broadcast join (no corpus shuffle); the
update step shuffles (cluster_id, dim) pairs — k×dim groups, never
corpus-sized. Iterating Lloyd = re-running the same two-stage plan with
the new centroid table; each round is linear in corpus bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv2db_spark.llm.similarity import QUANT, cos_from_parts, dot_iv, quantize


def kmeans_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid (exact squared
    distance, ties → lowest cluster id). Returns (id, cluster_id, d2)
    with d2 at integer scale QUANT².

    ``centroids`` is any (centroid_id_col, vec_col) DataFrame — seed
    rows, a previous step's output, or externally trained centers. It is
    broadcast: the corpus never shuffles during assignment."""
    x = quantize(vectors, id_col, vec_col, id_col, "x_")
    c = quantize(centroids, centroid_id_col, vec_col, centroid_id_col, "c_")
    d2 = (
        F.col("x_nrm2") + F.col("c_nrm2") - 2 * dot_iv(F.col("x_iv"), F.col("c_iv"))
    ).alias("d2")
    scored = x.crossJoin(F.broadcast(c)).select(id_col, centroid_id_col, d2)
    w = Window.partitionBy(id_col).orderBy("d2", centroid_id_col)
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def kmeans_step(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration: assign, then per-(cluster, dimension) exact
    mean. Returns (cluster_id, dim, n_members, mean_el) — the new
    centroid table in long form (pivot back to arrays with
    ``F.array_agg`` when feeding the next round).

    mean_el = (Σ quantized elements as decimal(38,0) → double) / n / QUANT
    — one division at the end, bit-identical across engines."""
    asn = kmeans_assign(vectors, centroids, id_col, vec_col)
    q = quantize(vectors, id_col, vec_col, id_col, "x_")
    el = (
        q.join(asn.select(id_col, "cluster_id"), id_col)
        .select("cluster_id", F.posexplode("x_iv").alias("dim", "q"))
    )
    return el.groupBy("cluster_id", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        (
            F.sum(F.col("q").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
            / F.lit(float(QUANT))
        ).alias("mean_el"),
    )


def semdedup_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
) -> DataFrame:
    """SemDeDup-style semantic dedup candidates (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then find
    high-cosine pairs ONLY within each cluster — near-duplicates land in
    the same cluster by construction, so the pairwise work is
    sum(|cluster|²) instead of n².

    Returns (cluster_id, vec_a, vec_b, cos_sim) for same-cluster pairs
    with cosine >= threshold; feed into connected_components +
    keep-one-per-component like every other dedup pair source.

    Scale shape vs the LSH path (similarity.lsh_all_pairs_cosine): LSH
    bounds work by collision probability; SemDeDup bounds it by cluster
    size (k chosen so n/k is join-able) and reuses centroids a pipeline
    already trains. Assignment broadcasts the centroids (corpus never
    shuffles to assign); the within-cluster self-join shuffles ids+
    quantized vectors once on cluster_id. Exactness: assignment uses
    integer d² with a deterministic tie-break, scoring the exact
    quantized cosine — both engine-invariant.
    """
    asn = kmeans_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col,
        centroid_id_col=centroid_id_col,
    ).select(F.col(id_col).alias("_aid"), F.col(centroid_id_col))
    state = quantize(vectors, id_col, vec_col, "_aid", "x_").join(asn, "_aid")
    a = state.select(
        F.col(centroid_id_col),
        F.col("_aid").alias("vec_a"),
        F.col("x_iv").alias("a_iv"),
        F.col("x_nrm2").alias("a_nrm2"),
    )
    b = state.select(
        F.col(centroid_id_col),
        F.col("_aid").alias("vec_b"),
        F.col("x_iv").alias("b_iv"),
        F.col("x_nrm2").alias("b_nrm2"),
    )
    return (
        a.join(b, centroid_id_col)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            centroid_id_col,
            "vec_a",
            "vec_b",
            cos_from_parts(
                dot_iv(F.col("a_iv"), F.col("b_iv")),
                F.col("a_nrm2"),
                F.col("b_nrm2"),
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def silhouette_proxy(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
) -> DataFrame:
    """Per-vector simplified silhouette — the standard clustering-quality
    signal computed against CENTROIDS (a = d² to the assigned centroid,
    b = d² to the second-nearest): s = (b − a) / max(a, b) ∈ [0, 1]
    here since b >= a by construction (1.0 exactly when the vector sits
    on its centroid); s near 0 flags border points, s near 1
    well-separated ones. The full silhouette's all-pairs member
    distances are quadratic; the centroid form is the scalable variant
    (k distances per vector) and the one pipelines actually monitor.

    Exactness: a and b are exact scaled-integer d² (same quantized
    domain as assignment), so (b − a) and max(a, b) are exact longs and
    s is ONE IEEE division — bit-identical on any engine; a == b == 0
    (duplicate centroids) yields s = 0 by definition instead of NaN.

    Returns (id, cluster_id, d2_own, d2_next, silhouette). Scale shape:
    identical to assignment — broadcast centroids, map-only scoring,
    then ONE vec-keyed shuffle: the nearest/second-nearest pick is a
    window followed by a conditional aggregate over the same
    partitioning (no self-join — a join of rn=1 and rn=2 slices would
    compile to an avoidable sort-merge join); the corpus never shuffles
    on content.
    """
    x = quantize(vectors, id_col, vec_col, id_col, "x_")
    c = quantize(centroids, centroid_id_col, vec_col, centroid_id_col, "c_")
    d2 = (
        F.col("x_nrm2") + F.col("c_nrm2") - 2 * dot_iv(F.col("x_iv"), F.col("c_iv"))
    ).alias("d2")
    scored = x.crossJoin(F.broadcast(c)).select(id_col, centroid_id_col, d2)
    w = Window.partitionBy(id_col).orderBy("d2", centroid_id_col)
    ranked = scored.withColumn("_rn", F.row_number().over(w))
    agg = ranked.groupBy(id_col).agg(
        F.min(F.when(F.col("_rn") == 1, F.col(centroid_id_col))).alias(
            centroid_id_col
        ),
        F.min(F.when(F.col("_rn") == 1, F.col("d2"))).alias("d2_own"),
        F.min(F.when(F.col("_rn") == 2, F.col("d2"))).alias("d2_next"),
    )
    denom = F.greatest("d2_own", "d2_next")
    return agg.where(F.col("d2_next").isNotNull()).select(
        id_col,
        centroid_id_col,
        "d2_own",
        "d2_next",
        F.when(denom == 0, F.lit(0.0))
        .otherwise((F.col("d2_next") - F.col("d2_own")).cast("double") / denom)
        .alias("silhouette"),
    )


def covariance_matrix(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 10_000,
) -> DataFrame:
    """Exact sample covariance of an embedding corpus — the input
    statistic for PCA whitening / dimensionality analysis — computed as
    a partial-Gram fold: each Arrow batch contributes one dim×dim
    integer Gram matrix (numpy int64 matmul of the quantized batch), and
    the partials sum in a (i, j)-keyed aggregation.

    Numeric discipline: elements are quantized JVM-side with the SAME
    ``cast(decimal(9,4)) * scale`` the oracle uses (so both engines
    round identically), the Gram and per-dim sums are exact int64 /
    decimal arithmetic, and the covariance
    ``(n·S_ij − s_i·s_j) / (n·(n−1)) / scale²`` is evaluated as fixed-
    order IEEE ops on exactly-representable operands — bit-reproducible.
    Overflow headroom: |q| ≤ scale, so n·S_ij ≤ n·dim-free scale² per
    pair; at 1e9 rows the decimal(38,0) numerator stays < 1e26 ≪ 1e38.

    Scale shape (100 TB): the corpus is touched ONCE, map-side, emitting
    dim(dim+1)/2 partial rows per Arrow batch — the shuffle is
    |batches|·2080 rows regardless of corpus size, then a 2080-group
    fold. This is the classic "sufficient statistics, not data" pattern:
    no dim-explode of the corpus (which would shuffle rows×dim²), no
    driver-side matrix.

    Returns (i, j, gram_scaled, cov) for i ≤ j (the matrix is symmetric).
    """
    import numpy as np
    import pandas as pd

    # float -> DOUBLE -> decimal: both engines must round the same exact
    # value; a direct float->decimal cast runs in float arithmetic on
    # DuckDB and disagrees near rounding boundaries (same discipline as
    # llm/similarity._iel)
    q = embeddings.select(
        F.transform(
            F.col(vec_col),
            lambda x: (x.cast("double").cast("decimal(9,4)") * scale).cast("long"),
        ).alias("q")
    )

    iu = np.triu_indices(dim)

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy())  # (rows, dim) int64
            G = Q.T @ Q  # exact int64
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "s": G[iu],
                    "si": Q.sum(axis=0)[iu[0]],
                    "n": np.full(len(iu[0]), len(pdf), dtype="int64"),
                }
            )

    # checkpoint the partials: they are consumed by the gram fold AND
    # (twice, as si/sj) the per-dim sums, and without a boundary each
    # consumer replanned the whole corpus MapInPandas pass — the sf0.1
    # plan ran THREE full Arrow passes over the embeddings for one
    # fold. The table is |batches| x 2080 rows of five numbers —
    # trivially executor-cache-sized at any corpus scale, which is what
    # makes the "corpus touched once" claim above actually hold in the
    # physical plan.
    partials = q.mapInPandas(
        gram_partials, schema="i int, j int, s long, si long, n long"
    ).localCheckpoint(eager=True)
    gram = partials.groupBy("i", "j").agg(
        F.sum("s").alias("gram_scaled"), F.sum("n").alias("n")
    )
    # per-dim sums from the diagonal partials (si carried on every (i,*)
    # row is summed once per dim via the i==j rows)
    sums = (
        partials.where(F.col("i") == F.col("j"))
        .groupBy("i")
        .agg(F.sum("si").alias("s_dim"))
    )
    si = sums.select(F.col("i").alias("_i"), F.col("s_dim").alias("s_i"))
    sj = sums.select(F.col("i").alias("_j"), F.col("s_dim").alias("s_j"))
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("gram_scaled")
        - F.col("s_i").cast("decimal(38,0)") * F.col("s_j")
    )
    return (
        gram.join(F.broadcast(si), F.col("i") == F.col("_i"))
        .join(F.broadcast(sj), F.col("j") == F.col("_j"))
        .select(
            "i",
            "j",
            "gram_scaled",
            (
                num.cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double")
                / F.lit(float(scale) * scale)
            ).alias("cov"),
        )
    )


def _pca_train(
    embeddings: DataFrame,
    n_components: int,
    vec_col: str = "embedding",
    dim: int = 64,
):
    """Shared PCA training step: covariance via the partial-Gram fold
    (the only corpus pass), dim×dim eigendecomposition on the driver,
    deterministic sign convention. Returns (comps (dim, k) ndarray,
    eigenvalues list, descending)."""
    import numpy as np

    cov_rows = covariance_matrix(embeddings, vec_col=vec_col, dim=dim).collect()
    C = np.zeros((dim, dim))
    for r in cov_rows:
        C[r.i, r.j] = C[r.j, r.i] = r.cov
    vals, vecs = np.linalg.eigh(C)  # ascending
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order]  # (dim, k)
    # deterministic sign: make the largest-magnitude entry of each
    # component positive
    for c in range(comps.shape[1]):
        i = np.argmax(np.abs(comps[:, c]))
        if comps[i, c] < 0:
            comps[:, c] = -comps[:, c]
    evs = [float(vals[o]) for o in order]
    return comps, evs


def pca_project(
    embeddings: DataFrame,
    n_components: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Project the corpus onto its top principal components: covariance
    via the partial-Gram fold above (the only corpus pass), eigenvectors
    on the DRIVER (the matrix is dim×dim — driver work on d², never on
    rows; the same justified-collect class as sources/skipping.py's
    file manifests), then a map-only broadcast projection.

    Eigendecomposition uses numpy's symmetric solver with a
    deterministic sign convention (largest-|component| entry positive),
    so projections are reproducible across runs. The gate is rows-only
    (eigenvector bits depend on the LAPACK build — exactly the
    cross-engine variance the hash gates exclude by construction);
    tests/test_analytics2.py pins the algebraic contracts instead:
    orthonormality, eigenvalue ordering, and Gram-identity between
    projected variance and eigenvalues.

    Scale shape (100 TB): one corpus scan for the covariance partials
    (dim² shuffle rows per batch), one scan to project (zero shuffle —
    the component matrix rides broadcast). Nothing corpus-sized moves.
    """
    comps, evs = _pca_train(embeddings, n_components, vec_col, dim)
    return _pca_apply(embeddings, comps, id_col, vec_col), evs


def _pca_apply(
    embeddings: DataFrame, comps, id_col: str, vec_col: str
) -> DataFrame:
    """Map-only broadcast projection of the corpus onto trained
    components (zero shuffle — the (dim, k) matrix rides as literals)."""
    dim, k = comps.shape
    comp_lit = F.array(
        *[
            F.array(*[F.lit(float(comps[d, c])) for d in range(dim)])
            for c in range(k)
        ]
    )
    v = F.col(vec_col)
    proj = F.transform(
        comp_lit,
        lambda comp: F.aggregate(
            F.zip_with(v, comp, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return embeddings.select(F.col(id_col), proj.alias("components"))


def pca_projection_violations(
    embeddings: DataFrame,
    n_components: int = 8,
    vec_col: str = "embedding",
    dim: int = 64,
    rel_tol: float = 0.02,
) -> DataFrame:
    """EMPTY iff the trained PCA satisfies its algebraic contract —
    the driver-visible twin of the pytest pins on ``pca_project`` (the
    same empty-oracle upgrade as the ANN recall floors): eigenvector
    bits vary with the LAPACK build, but these three invariants hold on
    EVERY correct build, so their violations view hash-compares against
    an empty oracle.

    Checks (one violation row per breach: contract, comp, err):
    - ``eig_order``: eigenvalues strictly non-increasing.
    - ``orthonormal``: max |CᵀC − I| entry ≤ 1e-8 (driver-side k²·d
      work on the trained components, never rows).
    - ``variance_match``: per-component sample variance of the
      projected corpus within ``rel_tol`` of its eigenvalue —
      var(X·w) = wᵀΣw = λ, translation-invariant so centering is not
      required; the tolerance absorbs the decimal(9,4) quantization the
      covariance pass shares with its oracle.

    Scale shape: one corpus pass to train (dim² shuffle rows per
    batch), one to project + var_samp (k values per row, map-side
    partials) — nothing corpus-sized moves."""
    import numpy as np

    spark = embeddings.sparkSession
    comps, evs = _pca_train(embeddings, n_components, vec_col, dim)
    k = comps.shape[1]

    schema = "contract string, comp int, err double"
    driver_viol: list[tuple[str, int, float]] = []
    for c in range(1, k):
        if evs[c] > evs[c - 1] + 1e-12:
            driver_viol.append(("eig_order", c, float(evs[c] - evs[c - 1])))
    gram_err = np.abs(comps.T @ comps - np.eye(k)).max()
    if gram_err > 1e-8:
        driver_viol.append(("orthonormal", -1, float(gram_err)))
    head = spark.createDataFrame(driver_viol, schema)

    projected = _pca_apply(embeddings, comps, "vec_id", vec_col)
    ev_lookup = spark.createDataFrame(
        [(c, float(evs[c])) for c in range(k)], "comp int, eigenvalue double"
    )
    var_viol = (
        projected.select(F.posexplode("components").alias("comp", "val"))
        .groupBy("comp")
        .agg(F.var_samp("val").alias("proj_var"))
        .join(F.broadcast(ev_lookup), "comp")
        .select(
            F.lit("variance_match").alias("contract"),
            "comp",
            (
                F.abs(F.col("proj_var") - F.col("eigenvalue"))
                / F.greatest(F.col("eigenvalue"), F.lit(1e-12))
            ).alias("err"),
        )
        .where(F.col("err") > rel_tol)
    )
    return head.unionByName(var_viol)

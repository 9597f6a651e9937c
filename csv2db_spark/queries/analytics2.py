"""Second analytics batch: candlestick bars, reproducible EWMA, robust
MAD outliers, SCD Type-2 dimension build, HLL set algebra, and Markov
transition matrices.

Reference parity note: and-hom/csv2db is a CSV→DB loader with no query
surface (SURVEY.md §2.2) — these gates extend the analytics surface the
engine adds on top, following the exact-arithmetic discipline of
functions/numeric.py so every DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv2db_spark.operators import stage
from csv2db_spark.registry import query
from csv2db_spark.sources import load_table

# ------------------------------------------------------ OHLC bars


@query(
    "q_ts_ohlc_bars",
    oracle="""
    WITH e AS (
      SELECT event_type,
             date_trunc('hour', ts) - INTERVAL (hour(ts) % 6) HOUR AS bucket,
             ts, event_id, value
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT event_type, bucket,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY 1, 2
    """,
)
def q_ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour candlestick bars per event type
    (operators/timeseries.ohlc_bars): open/close via min_by/max_by on the
    (ts, event_id) composite key, high/low plain extrema — every output
    number IS an input number, so the hash check has no float arithmetic
    to disagree on. One map-side-combined hash aggregation; the oracle
    needs two window sorts to express what min_by folds pairwise."""
    from csv2db_spark.operators.timeseries import ohlc_bars

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return ohlc_bars(ev, hours=6)


@query(
    "q_ts_time_weighted_avg",
    oracle="""
    WITH e AS (
      SELECT event_type, ts, event_id,
             CAST(value AS DECIMAL(14,2)) AS v,
             date_trunc('day', ts) AS bucket,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS s
      FROM events WHERE value IS NOT NULL
    ),
    l AS (
      SELECT *,
             coalesce(
               lead(s) OVER (PARTITION BY event_type, bucket
                             ORDER BY ts, event_id),
               CAST(epoch_us(bucket) // 1000000 AS BIGINT) + 86400
             ) - s AS dt
      FROM e
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(v * dt) AS DOUBLE) AS twa_num,
           CAST(sum(dt) AS BIGINT) AS twa_den_s,
           CAST(sum(v * dt) AS DOUBLE)
             / CAST(CAST(sum(dt) AS BIGINT) AS DOUBLE) AS twa
    FROM l GROUP BY event_type, bucket
    """,
)
def q_ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average of event values per event type
    (operators/timeseries.time_weighted_avg): each observation holds
    until the next one in its day, the last until midnight — the
    irregular-sampling aggregate a plain AVG biases whenever tick
    density correlates with level. dt is integer NTZ seconds and the
    value quantizes to cents, so numerator and denominator are exact
    and the average is one IEEE division — bit-identical to the
    oracle's replay. One bounded window pass + one map-combined
    aggregate."""
    from csv2db_spark.operators.timeseries import time_weighted_avg

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(
        ev, ["event_type"], ts_col="ts", value_col="value",
        order_col="event_id", bucket_hours=24,
    )


# ------------------------------------------------------ EWMA


@query(
    "q_ts_ewma",
    oracle="""
    WITH q AS (
      SELECT event_type, ts, event_id, value,
             CAST(value AS DECIMAL(14,4)) AS v
      FROM events
    ),
    l AS (
      SELECT event_type, ts, event_id, value,
             lag(v, 0) OVER w AS v0, lag(v, 1) OVER w AS v1,
             lag(v, 2) OVER w AS v2, lag(v, 3) OVER w AS v3,
             lag(v, 4) OVER w AS v4, lag(v, 5) OVER w AS v5
      FROM q
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type, ts, event_id, value,
      CAST(
        coalesce(CAST(v0 * CAST(1.0     AS DECIMAL(10,1)) AS DECIMAL(24,10)), 0)
      + coalesce(CAST(v1 * CAST(0.5     AS DECIMAL(10,1)) AS DECIMAL(24,10)), 0)
      + coalesce(CAST(v2 * CAST(0.25    AS DECIMAL(10,2)) AS DECIMAL(24,10)), 0)
      + coalesce(CAST(v3 * CAST(0.125   AS DECIMAL(10,3)) AS DECIMAL(24,10)), 0)
      + coalesce(CAST(v4 * CAST(0.0625  AS DECIMAL(10,4)) AS DECIMAL(24,10)), 0)
      + coalesce(CAST(v5 * CAST(0.03125 AS DECIMAL(10,5)) AS DECIMAL(24,10)), 0)
      AS DOUBLE) AS ewma_num,
      CAST(
        CASE WHEN v0 IS NULL THEN 0 ELSE CAST(1.0     AS DECIMAL(24,10)) END
      + CASE WHEN v1 IS NULL THEN 0 ELSE CAST(0.5     AS DECIMAL(24,10)) END
      + CASE WHEN v2 IS NULL THEN 0 ELSE CAST(0.25    AS DECIMAL(24,10)) END
      + CASE WHEN v3 IS NULL THEN 0 ELSE CAST(0.125   AS DECIMAL(24,10)) END
      + CASE WHEN v4 IS NULL THEN 0 ELSE CAST(0.0625  AS DECIMAL(24,10)) END
      + CASE WHEN v5 IS NULL THEN 0 ELSE CAST(0.03125 AS DECIMAL(24,10)) END
      AS DOUBLE) AS ewma_den,
      CAST(
        coalesce(CAST(v0 * CAST(1.0     AS DECIMAL(10,1)) AS DECIMAL(24,10)), 0)
      + coalesce(CAST(v1 * CAST(0.5     AS DECIMAL(10,1)) AS DECIMAL(24,10)), 0)
      + coalesce(CAST(v2 * CAST(0.25    AS DECIMAL(10,2)) AS DECIMAL(24,10)), 0)
      + coalesce(CAST(v3 * CAST(0.125   AS DECIMAL(10,3)) AS DECIMAL(24,10)), 0)
      + coalesce(CAST(v4 * CAST(0.0625  AS DECIMAL(10,4)) AS DECIMAL(24,10)), 0)
      + coalesce(CAST(v5 * CAST(0.03125 AS DECIMAL(10,5)) AS DECIMAL(24,10)), 0)
      AS DOUBLE)
      /
      CAST(
        CASE WHEN v0 IS NULL THEN 0 ELSE CAST(1.0     AS DECIMAL(24,10)) END
      + CASE WHEN v1 IS NULL THEN 0 ELSE CAST(0.5     AS DECIMAL(24,10)) END
      + CASE WHEN v2 IS NULL THEN 0 ELSE CAST(0.25    AS DECIMAL(24,10)) END
      + CASE WHEN v3 IS NULL THEN 0 ELSE CAST(0.125   AS DECIMAL(24,10)) END
      + CASE WHEN v4 IS NULL THEN 0 ELSE CAST(0.0625  AS DECIMAL(24,10)) END
      + CASE WHEN v5 IS NULL THEN 0 ELSE CAST(0.03125 AS DECIMAL(24,10)) END
      AS DOUBLE) AS ewma
    FROM l
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average of event values per
    event type (operators/timeseries.ewma, k=6, decay 1/2): numerator and
    denominator are exact decimal sums of quantized lags — order-free —
    presented as doubles, and the smoothed value is one IEEE division of
    those identical doubles. The oracle replays the identical six-lag
    decimal expression; exact decimal addition is associative, so the
    flat SQL sum equals Spark's folded one bit-for-bit."""
    from csv2db_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    out = ewma(ev, k=6)
    return out.select(
        "event_type",
        "ts",
        "event_id",
        "value",
        F.col("ewma_num").cast("double").alias("ewma_num"),
        F.col("ewma_den").cast("double").alias("ewma_den"),
        "ewma",
    )


# ------------------------------------------------------ MAD outliers


@query(
    "q_ts_mad_outliers",
    oracle="""
    WITH rows_q AS (
      SELECT event_type, event_id, CAST(value AS DECIMAL(14,4)) AS v
      FROM events WHERE value IS NOT NULL
    ),
    rv AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM rows_q
    ),
    med AS (
      SELECT event_type, v AS med FROM rv WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT r.event_type, r.event_id, r.v, m.med,
             abs(r.v - m.med) AS dev
      FROM rows_q r JOIN med m USING (event_type)
    ),
    rd AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ),
    mad AS (
      SELECT event_type, dev AS mad FROM rd WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type, d.event_id,
           CAST(d.v AS DOUBLE) AS value,
           CAST(d.med AS DOUBLE) AS group_median,
           CAST(m.mad AS DOUBLE) AS group_mad
    FROM dev d JOIN mad m USING (event_type)
    WHERE d.dev > 3 * m.mad
    """,
)
def q_ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers per event type
    (operators/timeseries.mad_outliers, 3 MADs): both medians are lower
    order statistics of quantized decimals — selections, not
    interpolations — so the flag predicate compares exact decimals and
    the robust twin of q_events_zscore_outliers hash-matches exactly.
    The right-skewed value distribution makes this a non-trivial gate
    (z-score's mean/stddev are dragged by the tail; the median is not)."""
    from csv2db_spark.operators.timeseries import mad_outliers

    ev = load_table(spark, sf_dir, "events")
    return mad_outliers(ev, n_mads=3)


# ------------------------------------------------------ SCD Type 2


@query(
    "q_scd2_customer_history",
    oracle="""
    SELECT o_custkey, o_orderstatus, o_orderpriority,
           row_number() OVER w AS version,
           o_orderdate AS effective_from,
           lead(o_orderdate) OVER w AS effective_to,
           lead(o_orderdate) OVER w IS NULL AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the orders change log
    (operators/merge.scd2_build): per customer, each order's
    (status, priority) becomes a versioned row whose validity interval
    ends at the next change — Kimball SCD2 from CDC, in ONE window sort
    (row_number + both leads share the sort; no version+1 self-join).
    Complements q_cdc_upsert (latest-wins) and q_cdc_snapshot_diff
    (point-in-time delta) with full history retention."""
    from csv2db_spark.operators.merge import scd2_build

    orders = load_table(spark, sf_dir, "orders")
    return scd2_build(
        orders,
        key_cols=["o_custkey"],
        ts_col="o_orderdate",
        order_tiebreak="o_orderkey",
        attr_cols=["o_orderstatus", "o_orderpriority"],
    )


# ------------------------------------------------------ HLL set algebra


@query(
    "q_agg_hll_setops",
    oracle="""
    WITH ha AS (
      SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
        AS BIGINT) AS h
      FROM events WHERE event_type = 'click'
    ),
    hb AS (
      SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
        AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ),
    ra AS (
      SELECT h % 64 AS j,
             CASE WHEN h // 64 = 0 THEN 43
                  ELSE 43 - length(bin(h // 64)) END AS rho
      FROM ha
    ),
    rb AS (
      SELECT h % 64 AS j,
             CASE WHEN h // 64 = 0 THEN 43
                  ELSE 43 - length(bin(h // 64)) END AS rho
      FROM hb
    ),
    rega AS (SELECT j, max(rho) AS m_j FROM ra GROUP BY 1),
    regb AS (SELECT j, max(rho) AS m_j FROM rb GROUP BY 1),
    regu AS (
      SELECT j, max(m_j) AS m_j
      FROM (SELECT * FROM rega UNION ALL SELECT * FROM regb) GROUP BY 1
    ),
    ea AS (
      SELECT ((CAST(0.709 AS DOUBLE) * 4096.0) * 8796093022208.0)
             / CAST(sum(CAST(1 AS BIGINT) << CAST(43 - m_j AS INT))
                    + (64 - count(*)) * 8796093022208 AS BIGINT) AS est
      FROM rega
    ),
    eb AS (
      SELECT ((CAST(0.709 AS DOUBLE) * 4096.0) * 8796093022208.0)
             / CAST(sum(CAST(1 AS BIGINT) << CAST(43 - m_j AS INT))
                    + (64 - count(*)) * 8796093022208 AS BIGINT) AS est
      FROM regb
    ),
    eu AS (
      SELECT ((CAST(0.709 AS DOUBLE) * 4096.0) * 8796093022208.0)
             / CAST(sum(CAST(1 AS BIGINT) << CAST(43 - m_j AS INT))
                    + (64 - count(*)) * 8796093022208 AS BIGINT) AS est
      FROM regu
    )
    SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
           ea.est + eb.est - eu.est AS est_intersection
    FROM ea, eb, eu
    """,
)
def q_agg_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra over clicker vs purchaser user sets
    (operators/sketch.hll_set_estimates): |A|, |B|, |A∪B| from
    MAX-merged registers and |A∩B| by inclusion-exclusion — sketch
    union costs a 128-row merge, never a re-scan. Same hash-checkable
    register recipe as q_agg_hll_distinct, so all four estimates are
    verified bit-for-bit, approximation and all."""
    from csv2db_spark.operators.sketch import hll_set_estimates

    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("item")
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("item")
    )
    return hll_set_estimates(a, b)


# ------------------------------------------------------ Markov transitions


@query(
    "q_events_transition_matrix",
    oracle="""
    WITH p AS (
      SELECT event_type AS from_state,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_state
      FROM events
    ),
    c AS (
      SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n_transitions
      FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_state, to_state, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / CAST(sum(n_transitions) OVER (PARTITION BY from_state)
                    AS DOUBLE) AS p_transition
    FROM c
    """,
)
def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences
    (operators/funnel.transition_matrix): which action follows which,
    with exact counts and one integer-ratio probability per (from, to)
    pair. One per-user sequencing sort, then a |states|²-row aggregate —
    the all-paths complement of the single-path funnel gate."""
    from csv2db_spark.operators.funnel import transition_matrix

    ev = load_table(spark, sf_dir, "events")
    return transition_matrix(ev)


# ------------------------------------------------------ covariance / PCA input


@query(
    "q_embed_covariance",
    oracle="""
    WITH q AS (
      SELECT vec_id, r.i - 1 AS i,
             CAST(CAST(CAST(embedding[r.i] AS DOUBLE) AS DECIMAL(9,4)) * 10000
               AS BIGINT) AS qi
      FROM embeddings, range(1, 65) r(i)
    ),
    s AS (SELECT i, sum(qi) AS s_dim FROM q GROUP BY i),
    nn AS (SELECT count(*) AS n FROM embeddings),
    g AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.qi * b.qi) AS BIGINT) AS gram_scaled
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    )
    SELECT g.i, g.j, g.gram_scaled,
           CAST(nn.n * g.gram_scaled - sa.s_dim * sb.s_dim AS DOUBLE)
             / CAST(nn.n * (nn.n - 1) AS DOUBLE) / 1e8 AS cov
    FROM g, nn
    JOIN s sa ON sa.i = g.i
    JOIN s sb ON sb.i = g.j
    """,
)
def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sample covariance matrix of the embedding corpus
    (llm/cluster.covariance_matrix) — the PCA/whitening input statistic
    as a partial-Gram fold: each Arrow batch emits one integer Gram
    partial (numpy int64 matmul), the shuffle carries 2080 rows per
    batch REGARDLESS of corpus size, and the covariance formula runs as
    fixed-order IEEE ops on exact operands. The oracle rebuilds the same
    quantized Gram by dimension self-join; both agree on every bit. The
    sufficient-statistics pattern: at 100 TB nothing corpus-sized ever
    shuffles — only dim²-sized partials."""
    from csv2db_spark.llm.cluster import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_matrix(emb, dim=64)


@query("q_embed_pca_project", oracle=None)
def q_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus projected onto its top-8 principal components
    (llm/cluster.pca_project): covariance by partial-Gram fold (the only
    corpus pass), dim×dim eigendecomposition on the driver — d² work,
    never rows — then a broadcast map-only projection. Rows-only gate:
    eigenvector bits vary with the LAPACK build, exactly the
    cross-engine variance hash gates exclude; the algebraic contracts
    (orthonormality, eigenvalue order, projected-variance identity) are
    pinned in tests/test_analytics2.py instead.

    The gate flattens the library's ``components`` array into ``pc0…pc7``
    double columns: the driver's canonicalizer sorts pandas columns, and
    an array cell is unhashable there (the r6 driver row for this gate
    was a canonicalizer TypeError, not a Spark failure). Library users
    keep the array API (llm/cluster.pca_project)."""
    from csv2db_spark.llm.cluster import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    out, _ = pca_project(emb, n_components=8)
    return out.select(
        "vec_id",
        *[F.col("components")[i].alias(f"pc{i}") for i in range(8)],
    )


# ------------------------------------------------------ hybrid retrieval


@query(
    "q_retrieval_rrf_hybrid",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
    tf AS (
      SELECT doc_id, t, count(*) AS tf FROM toks
      WHERE t IN ('hash', 'vector', 'stream')
      GROUP BY doc_id, t
    ),
    dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    per AS (
      SELECT tf.doc_id, tf.t,
             ((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75
                * (dl.dl / (CAST(stats.total_dl AS DOUBLE) / stats.n_docs))))
               AS sc
      FROM tf
      JOIN dft ON tf.t = dft.t
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    bm AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN t = 'hash' THEN sc END), 0.0)
             + coalesce(sum(CASE WHEN t = 'vector' THEN sc END), 0.0)
             + coalesce(sum(CASE WHEN t = 'stream' THEN sc END), 0.0) AS score
      FROM per GROUP BY doc_id
    ),
    lex AS (
      SELECT doc_id, rank_lex FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank_lex
        FROM bm
      ) WHERE rank_lex <= 50
    ),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    norms AS (
      SELECT vec_id,
             sum(cast(cast(cast(embedding[i] as double) as decimal(9,8))
                        * 100000000 as bigint)
                 * cast(cast(cast(embedding[i] as double) as decimal(9,8))
                        * 100000000 as bigint)) AS nrm2
      FROM embeddings, range(1, 65) r(i) GROUP BY vec_id
    ),
    dots AS (
      SELECT e.vec_id AS doc_id,
             sum(cast(cast(cast(qv.qv[i] as double) as decimal(9,8))
                        * 100000000 as bigint)
                 * cast(cast(cast(e.embedding[i] as double) as decimal(9,8))
                        * 100000000 as bigint)) AS dot
      FROM qv, embeddings e, range(1, 65) r(i)
      WHERE e.vec_id != 0
      GROUP BY 1
    ),
    scored AS (
      SELECT d.doc_id,
             (cast(d.dot as double) / 1e16)
             / (sqrt(cast(nq.nrm2 as double) / 1e16)
                * sqrt(cast(nn.nrm2 as double) / 1e16)) AS cos_sim
      FROM dots d
      JOIN norms nq ON nq.vec_id = 0
      JOIN norms nn ON nn.vec_id = d.doc_id
    ),
    sem AS (
      SELECT doc_id, rank_sem FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank_sem
        FROM scored
      ) WHERE rank_sem <= 50
    )
    SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           l.rank_lex, s.rank_sem,
           coalesce(1.0 / (60 + l.rank_lex), 0.0)
           + coalesce(1.0 / (60 + s.rank_sem), 0.0) AS rrf_score
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT 20
    """,
)
def q_retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RAG retrieval (llm/retrieval.rrf_fuse): BM25 top-50 for
    {hash, vector, stream} fused with the exact-cosine top-50 for the
    vec_id-0 query embedding by reciprocal-rank fusion (k0=60, Cormack
    et al.). Both underlying rankings are bit-deterministic (rational-idf
    BM25; quantized-integer cosine), so the fused scores — two IEEE
    divisions of exact ranks, added in fixed order — hash-match. The
    corpus-linear work lives in the retrievers; the fusion join touches
    ≤50-row lists."""
    from pyspark.sql import Window

    from csv2db_spark.llm import similarity as S
    from csv2db_spark.llm.retrieval import rrf_fuse
    from csv2db_spark.llm.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["hash", "vector", "stream"], k=50).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        ),
    )
    sem = S.cosine_topk(emb, emb.where(F.col("vec_id") == 0), k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse(lex, sem, k=20)


# ------------------------------------------------------ seasonal anomalies


@query(
    "q_ts_seasonal_outliers",
    oracle="""
    WITH q AS (
      SELECT event_id, event_type, hour(ts) AS hod,
             CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS v
      FROM events
    ),
    stats AS (
      SELECT event_type, hod,
             CAST(count(*) AS DECIMAL(38,0)) AS n,
             sum(CAST(v AS DECIMAL(38,0))) AS s,
             sum(CAST(v AS DECIMAL(38,0)) * v) AS s2
      FROM q GROUP BY 1, 2
    )
    SELECT q.event_id, q.event_type, q.hod,
           CAST(q.v AS DOUBLE) / 1000 AS value
    FROM q JOIN stats USING (event_type, hod)
    WHERE (stats.n * CAST(q.v AS DECIMAL(38,0)) - stats.s)
          * (stats.n * CAST(q.v AS DECIMAL(38,0)) - stats.s)
          > 9 * (stats.n * stats.s2 - stats.s * stats.s)
    """,
)
def q_ts_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware 3-sigma anomalies per (event_type, hour-of-day)
    profile (operators/timeseries.seasonal_outliers): a value normal at
    the daily peak can be anomalous at 4am — the global z-score gate
    never sees that. Same exact-integer sufficient-statistics discipline
    ((n·v−s)² > 9(n·s2−s²), decimal(38,0) throughout, exact to 3e12
    rows per bucket); hour() on NTZ timestamps is TZ-free field
    arithmetic. One stats pass + one broadcast join of 24·|types| rows."""
    from csv2db_spark.operators.timeseries import seasonal_outliers

    ev = load_table(spark, sf_dir, "events")
    return seasonal_outliers(ev, n_sigmas=3)


# ------------------------------------------------------ bigram LM quality


@query(
    "q_text_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS tok
      FROM toks
    ),
    occ AS (
      SELECT p1.doc_id, p1.tok AS a, p2.tok AS b
      FROM pos p1
      JOIN pos p2 ON p1.doc_id = p2.doc_id AND p2.i = p1.i + 1
    ),
    pc AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS cnt_pair
      FROM occ GROUP BY a, b
    ),
    pfx AS (
      SELECT a, CAST(sum(cnt_pair) AS BIGINT) AS cnt_prefix
      FROM pc GROUP BY a
    ),
    v AS (
      SELECT pc.a, pc.b,
             (1000000 * pc.cnt_pair) // pfx.cnt_prefix AS q
      FROM pc JOIN pfx ON pc.a = pfx.a
    )
    SELECT occ.doc_id,
           CAST(sum(v.q) AS BIGINT) AS score_scaled,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(v.q) AS DOUBLE) / 1000000.0
             / CAST(count(*) AS DOUBLE) AS avg_next_token_prob
    FROM occ JOIN v ON occ.a = v.a AND occ.b = v.b
    GROUP BY occ.doc_id
    """,
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram LM likelihood per document (llm/text.bigram_lm_scores)
    — the KenLM-style fluency/quality signal with integer-floored scaled
    probabilities instead of logs, so every score bit is verifiable:
    q(a→b) = floor(1e6·cnt(a,b)/cnt(a·)) summed per document as exact
    longs. Bigrams are array-zip codegen (no position self-join); the
    prefix table folds the pair-count table rather than re-scanning the
    corpus. Two corpus-sized shuffles total."""
    from csv2db_spark.llm.text import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs)


# ------------------------------------------------------ constraint checking


@query(
    "q_quality_constraints",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders)
    SELECT 'not_null(o_custkey)' AS rule, n.n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_custkey IS NULL) AS n_violations,
           (SELECT count(*) FROM orders WHERE o_custkey IS NULL) = 0
             AS passed
    FROM n
    UNION ALL
    SELECT 'in_set(o_orderstatus)', n.n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_orderstatus NOT IN ('O', 'F', 'P')
               OR o_orderstatus IS NULL),
           (SELECT count(*) FROM orders
            WHERE o_orderstatus NOT IN ('O', 'F', 'P')
               OR o_orderstatus IS NULL) = 0
    FROM n
    UNION ALL
    SELECT 'in_range(o_totalprice)', n.n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_totalprice < 0 OR o_totalprice > 1000000
               OR o_totalprice IS NULL),
           (SELECT count(*) FROM orders
            WHERE o_totalprice < 0 OR o_totalprice > 1000000
               OR o_totalprice IS NULL) = 0
    FROM n
    UNION ALL
    SELECT 'matches(o_orderpriority)', n.n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-')
               OR o_orderpriority IS NULL),
           (SELECT count(*) FROM orders
            WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-')
               OR o_orderpriority IS NULL) = 0
    FROM n
    UNION ALL
    SELECT 'unique(o_orderkey)', n.n_rows,
           n.n_rows - (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
                       FROM orders),
           n.n_rows = (SELECT count(DISTINCT o_orderkey) FROM orders)
    FROM n
    UNION ALL
    SELECT 'row_count_at_least(1000)', n.n_rows,
           CAST(CASE WHEN n.n_rows >= 1000 THEN 0 ELSE 1 END AS BIGINT),
           n.n_rows >= 1000
    FROM n
    """,
)
def q_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report over orders
    (operators/quality.check_constraints): six Deequ-style rules —
    null-freedom, accepted values, numeric range, format regex, key
    uniqueness, minimum volume — compiled into ONE map-combined
    aggregation pass (plus one distinct-count for the uniqueness rule).
    Every metric is an exact integer, so the whole report hash-matches.
    The load-validation layer the reference's FAILFAST parsing stops
    short of (SURVEY.md §2.3)."""
    from csv2db_spark.operators import quality as Q

    orders = load_table(spark, sf_dir, "orders")
    return Q.check_constraints(
        orders,
        [
            Q.not_null("o_custkey"),
            Q.in_set("o_orderstatus", ["O", "F", "P"]),
            Q.in_range("o_totalprice", 0, 1_000_000),
            Q.matches("o_orderpriority", "^[1-5]-"),
            Q.unique("o_orderkey"),
            Q.row_count_at_least(1000),
        ],
    )


# ------------------------------------------------------ PQ-ANN


@query("q_sim_ann_pq", oracle=None)  # approximate by design — recall vs the
# exact baseline + bit-determinism are asserted in tests/test_analytics2.py
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (llm/pq.pq_topk): corpus vectors become
    M=8 one-byte codes (32× smaller than the floats — the memory-bound
    path at 100 TB), queries score candidates by Asymmetric Distance
    Computation over a broadcast 128-entry exact-integer table. Encoding
    is a map-only broadcast join; ADC is one code-keyed shuffle of
    skinny rows, no float math anywhere — results are bit-deterministic
    even though the gate is rows-only (PQ approximates the exact
    baseline by design, like the LSH/IVF gates)."""
    from csv2db_spark.llm.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return pq_topk(emb, queries, k=20)


@query(
    "q_sim_ann_pq_persisted",
    oracle="SELECT CAST(0 AS BIGINT) AS query_id, CAST(0 AS BIGINT) AS "
    "neighbor_id, '' AS side WHERE 1 = 0",
)
def q_sim_ann_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index parity for PQ (llm/pq.pq_build_index /
    pq_query_index): train the codebooks once, write codebook + the
    32x-compressed codes table, reload, ADC-query — results must equal
    the inline ``pq_topk`` exactly (training, encoding, and ADC are
    exact integer arithmetic end to end, and encoding runs against the
    REREAD stored codebook, so the persisted index is bit-identical by
    construction). Together with q_sim_ann_ivf_persisted this pins the
    full production composition's persisted state: IVF cells bound the
    candidates touched, PQ codes bound the bytes per candidate, and
    both survive a round-trip through storage."""
    import shutil
    import tempfile

    from csv2db_spark.llm.pq import pq_build_index, pq_query_index, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    inline = pq_topk(emb, queries_df, k=20)

    work = tempfile.mkdtemp(prefix="c2s_pq_index_")
    try:
        pq_build_index(emb, work)
        persisted = pq_query_index(spark, work, queries_df, k=20)
        cols = ["query_id", "neighbor_id", "rank", "approx_d2"]
        out = (
            inline.select(*cols).withColumn("_a", F.lit(1))
            .join(
                persisted.select(*cols).withColumn("_b", F.lit(1)),
                cols,
                "full",
            )
            .where(F.col("_a").isNull() | F.col("_b").isNull())
            .select(
                F.coalesce(F.col("query_id"), F.lit(-1)).alias("query_id"),
                F.coalesce(F.col("neighbor_id"), F.lit(-1)).alias(
                    "neighbor_id"
                ),
                F.when(F.col("_a").isNull(), "persisted_only")
                .otherwise("inline_only")
                .alias("side"),
            )
        )
        # lifetime: the rows outlive the temp dir removed below
        return stage.materialize_stage(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ------------------------------------------------------ skew diagnostics


@query(
    "q_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY user_id
    ),
    t AS (
      SELECT CAST(sum(n_rows) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS groups
      FROM counts
    )
    SELECT user_id, n_rows,
           CAST(n_rows AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
           CAST(n_rows * t.groups AS DOUBLE) / CAST(t.total AS DOUBLE)
             AS x_mean
    FROM counts, t
    ORDER BY n_rows DESC, user_id LIMIT 10
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnostic over events.user_id
    (operators/skew.skew_profile): the top-10 heaviest keys with exact
    row share and multiple-of-mean — the pre-flight measurement that
    decides whether q_join_salted_skew's salting treatment is needed and
    with how many salts. One map-combined count aggregation; only count
    rows ever sort."""
    from csv2db_spark.operators.skew import skew_profile

    ev = load_table(spark, sf_dir, "events")
    return skew_profile(ev, ["user_id"], top_n=10)


# ------------------------------------------------------ interval overlap join


@query(
    "q_join_interval_overlap",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS a_id,
             datediff('day', DATE '1970-01-01', o_orderdate) AS a_lo,
             datediff('day', DATE '1970-01-01', o_orderdate) + 7 AS a_hi
      FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 3000
    ),
    b AS (
      SELECT o_orderkey AS b_id,
             datediff('day', DATE '1970-01-01', o_orderdate) AS b_lo,
             datediff('day', DATE '1970-01-01', o_orderdate) + 7 AS b_hi
      FROM orders WHERE o_orderpriority = '5-LOW' AND o_orderkey < 3000
    )
    SELECT a.a_id, b.b_id, a.a_lo, a.a_hi, b.b_lo, b.b_hi
    FROM a, b
    WHERE a.a_lo < b.b_hi AND b.b_lo < a.a_hi
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join of urgent-vs-low order weeks
    (operators/relational.interval_overlap_join): both sides large, so
    no broadcast — each 7-day interval explodes into its 7-day-wide
    bins, the join is an EQUI-join on the bin id, and each overlapping
    pair is emitted exactly once at its first shared bin (no distinct
    pass). The oracle is the naive inequality join — the blocked plan
    must reproduce it row-for-row, proving the blocking is lossless."""
    from csv2db_spark.operators.relational import interval_overlap_join

    orders = load_table(spark, sf_dir, "orders")
    epoch_days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    a = orders.where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") < 3000)
    ).select(
        F.col("o_orderkey").alias("a_id"),
        epoch_days.alias("a_lo"),
        (epoch_days + 7).alias("a_hi"),
    )
    b = orders.where(
        (F.col("o_orderpriority") == "5-LOW") & (F.col("o_orderkey") < 3000)
    ).select(
        F.col("o_orderkey").alias("b_id"),
        epoch_days.alias("b_lo"),
        (epoch_days + 7).alias("b_hi"),
    )
    return interval_overlap_join(a, b, bin_width=7).select(
        "a_id", "b_id", "a_lo", "a_hi", "b_lo", "b_hi"
    )


# ------------------------------------------------------ session SLA report


@query(
    "q_sessions_sla_percentiles",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s2 AS (
      SELECT user_id, ts,
             CAST(sum(brk) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS session_id
      FROM s
    ),
    sess AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             date_sub('second', min(ts), max(ts)) AS dur
      FROM s2 GROUP BY 1, 2
    ),
    cohorts AS (
      SELECT CASE WHEN n_events >= 2 THEN 'multi' ELSE 'single' END AS cohort,
             dur
      FROM sess
    ),
    r AS (
      SELECT cohort, dur,
             row_number() OVER (PARTITION BY cohort ORDER BY dur) AS rn,
             count(*) OVER (PARTITION BY cohort) AS n
      FROM cohorts
    )
    SELECT cohort,
           CAST(max(n) AS BIGINT) AS n_sessions,
           max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                    THEN dur END) AS p50_sec,
           max(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT))
                    THEN dur END) AS p90_sec,
           max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
                    THEN dur END) AS p99_sec
    FROM r GROUP BY cohort
    """,
)
def q_sessions_sla_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration SLA report — a COMPOSITION gate: sessionize
    (operators/sessions.py gaps-and-islands) → per-session durations →
    single/multi-event cohorts → exact p50/p90/p99 as integer order statistics
    (rank = ceil(p·n), a selection, never an interpolation — same
    discipline as the MAD gate). One user-keyed shuffle to sessionize,
    one cohort-keyed sort for the rank pick; durations are exact integer
    seconds so every percentile is an input number."""
    from pyspark.sql import Window

    from csv2db_spark.operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = (
        sessionize(ev, gap="30 minutes")
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("timestampdiff(SECOND, min(ts), max(ts))").alias("dur"),
        )
    )
    cohorts = sess.select(
        F.when(F.col("n_events") >= 2, F.lit("multi"))
        .otherwise(F.lit("single"))
        .alias("cohort"),
        "dur",
    )
    w = Window.partitionBy("cohort").orderBy("dur")
    wc = Window.partitionBy("cohort")
    r = cohorts.select(
        "cohort",
        "dur",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )

    def pick(p: float, alias: str):
        target = F.greatest(F.lit(1), F.ceil(F.lit(p) * F.col("n")))
        return F.max(F.when(F.col("rn") == target, F.col("dur"))).alias(alias)

    return r.groupBy("cohort").agg(
        F.max("n").cast("long").alias("n_sessions"),
        pick(0.5, "p50_sec"),
        pick(0.9, "p90_sec"),
        pick(0.99, "p99_sec"),
    )


@query(
    "q_events_top_paths",
    oracle="""
    WITH p AS (
      SELECT event_type AS step_1,
             lead(event_type, 1) OVER w AS step_2,
             lead(event_type, 2) OVER w AS step_3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT step_1, step_2, step_3, CAST(count(*) AS BIGINT) AS n_paths
    FROM p WHERE step_3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n_paths DESC, step_1, step_2, step_3
    LIMIT 20
    """,
)
def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step user journeys (operators/funnel.top_paths): the
    sequence-mining completion of the funnel family — funnel_stages
    checks ONE ordered pattern, transition_matrix measures single steps,
    this surfaces the dominant full paths. Both leads share the one
    per-user sort; the aggregate is bounded by |states|³ rows."""
    from csv2db_spark.operators.funnel import top_paths

    ev = load_table(spark, sf_dir, "events")
    return top_paths(ev, length=3, k=20)


@query(
    "q_events_attribution",
    oracle="""
    WITH carried AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(
               CASE WHEN event_type IN ('click', 'view')
                    THEN struct_pack(t_ts := ts, t_id := event_id,
                                     t_type := event_type) END
               IGNORE NULLS
             ) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lt
      FROM events
    )
    SELECT user_id,
           event_id AS conversion_id,
           ts AS conversion_ts,
           lt.t_id AS touch_id,
           lt.t_type AS touch_type,
           date_sub('second', lt.t_ts, ts) AS seconds_since_touch
    FROM carried
    WHERE event_type = 'purchase'
      AND lt IS NOT NULL
      AND date_sub('second', lt.t_ts, ts) <= 168 * 3600
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (operators/funnel.last_touch_attribution):
    each purchase credits the most recent strictly-preceding click/view
    within a 7-day lookback — computed as carried running state over ONE
    per-user window (the naive formulation is an interval self-join; the
    running-state form is linear and shares the sequencing sort). Ages
    are integer seconds on NTZ timestamps — TZ-free, hash-exact."""
    from csv2db_spark.operators.funnel import last_touch_attribution

    ev = load_table(spark, sf_dir, "events")
    return last_touch_attribution(ev)


@query("q_sim_ann_ivfpq", oracle=None)  # approximate by design — recall vs
# the exact baseline is asserted in tests/test_analytics2.py
def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact refine (llm/pq.ivfpq_topk) — the production ANN
    composition: IVF cells bound WHICH candidates are touched
    (n_probe/n_centroids of the corpus), PQ codes bound the BYTES per
    candidate (8 vs 256), and an exact-cosine re-rank of the 50-row ADC
    shortlist restores top-k accuracy. Each stage is the standalone
    operator it reuses (ivf train / pq codes / quantized cosine)."""
    from csv2db_spark.llm.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivfpq_topk(emb, queries, k=10)


# ------------------------------------------------------ temperature mixing


@query(
    "q_curate_temperature_mix",
    oracle="""
    WITH stats AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS s
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total, CAST(sum(s) AS BIGINT) AS ssum
      FROM stats
    ),
    cut AS (
      SELECT source,
             CAST(floor(
               least(
                 ((0.5 * CAST(tot.total AS DOUBLE)) * CAST(stats.s AS DOUBLE))
                 / (CAST(stats.n AS DOUBLE) * CAST(tot.ssum AS DOUBLE)),
                 1.0
               ) * 281474976710656.0
             ) AS BIGINT) AS cutoff
      FROM stats, tot
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN cut USING (source)
    WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)
          AS BIGINT) < cut.cutoff
    """,
)
def q_curate_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha=1/2 temperature rebalancing of the document sources
    (llm/curation.temperature_mix, target fraction 0.5): small domains
    are boosted, large ones suppressed, rates derived from the corpus's
    own counts in one |domains|-row pass. sqrt is IEEE-correctly-rounded
    (pow is not), the rounded root is floored to integer micro-units so
    the normalizer is an orderless exact sum, and the md5-coin cutoffs
    are identical 48-bit integers on both engines — a data-dependent
    sampler with a bit-exact gate."""
    from csv2db_spark.llm.curation import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix(docs, target_frac=0.5).select("doc_id", "source")


# ------------------------------------------------------ BPE tokenizer training


@query("q_text_bpe_train", oracle=None)  # iterative — SQL cannot express the
# merge loop; exact-equality vs a pure-Python reference is pinned in tests
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training on the corpus (llm/bpe.bpe_train, 8
    merges): ONE corpus pass builds the word-frequency table, then every
    merge round aggregates |vocab| rows — never the corpus again (the
    property that makes tokenizer training tractable at 100 TB). Pair
    argmax uses a total-order tie-break and the merge applies as a left
    fold inside F.aggregate — pure codegen, no Python in the loop; the
    driver touches one row per round. Deterministic end to end: the
    merge sequence equals a pure-Python reference exactly
    (tests/test_analytics2.py)."""
    from csv2db_spark.llm.bpe import bpe_train_df

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_df(spark, docs, n_merges=8)


@query(
    "q_text_bpe_parity",
    oracle="SELECT 0 AS rank, '' AS field, '' AS spark_val, '' AS ref_val "
    "WHERE 1 = 0",
)
def q_text_bpe_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible twin of the BPE pytest pins
    (llm/bpe.bpe_train_violations): the distributed trainer's merge
    sequence must equal, component for component, an independent pure-
    Python greedy fold over the same word-frequency table — a different
    evaluation of every step (Counter argmax vs distributed
    sum+orderBy; list surgery vs the codegen F.aggregate merge fold).
    The reference collect is |distinct words|-sized — the same bounded
    driver class as the trainer's own one-row-per-round argmax — so
    the check stays corpus-free. EMPTY means tokenizer training is
    exactly reproducible cross-implementation; the raw merge-table
    gate above stays rows-only as the liveness check."""
    from csv2db_spark.llm.bpe import bpe_train_violations

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_violations(docs, n_merges=8)


# ------------------------------------------------------ winsorize / impute


@query(
    "q_ts_winsorize",
    oracle="""
    WITH rows_q AS (
      SELECT event_type, event_id, CAST(value AS DECIMAL(14,4)) AS v
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM rows_q
    ),
    b AS (
      SELECT event_type,
             max(CASE WHEN rn = greatest(1, CAST(ceil(0.01 * n) AS BIGINT))
                      THEN v END) AS lo_bound,
             max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
                      THEN v END) AS hi_bound
      FROM r GROUP BY event_type
    )
    SELECT q.event_type, q.event_id,
           CAST(q.v AS DOUBLE) AS value,
           CAST(b.lo_bound AS DOUBLE) AS lo_bound,
           CAST(b.hi_bound AS DOUBLE) AS hi_bound,
           CAST(greatest(least(q.v, b.hi_bound), b.lo_bound) AS DOUBLE)
             AS value_winsorized,
           (q.v < b.lo_bound OR q.v > b.hi_bound) AS was_clipped
    FROM rows_q q JOIN b USING (event_type)
    """,
)
def q_ts_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization at [p01, p99]
    (operators/timeseries.winsorize): tail values clip to their group's
    exact percentile bounds — order statistics (rank = ceil(p·n)
    selections of quantized decimals), so every output is an input value
    or one of two input bounds, hash-exact. The standard tail-taming
    step before mean-based statistics."""
    from csv2db_spark.operators.timeseries import winsorize

    ev = load_table(spark, sf_dir, "events")
    return winsorize(ev).select(
        "event_type",
        "event_id",
        F.col("value").cast("decimal(14,4)").cast("double").alias("value"),
        "lo_bound",
        "hi_bound",
        "value_winsorized",
        "was_clipped",
    )


@query(
    "q_ts_impute_median",
    oracle="""
    WITH holed AS (
      SELECT event_type, event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
      FROM events
    ),
    obs AS (
      SELECT event_type, CAST(value AS DECIMAL(14,4)) AS v
      FROM holed WHERE value IS NOT NULL
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM obs
    ),
    med AS (
      SELECT event_type, CAST(v AS DOUBLE) AS med
      FROM r WHERE rn = (n + 1) // 2
    )
    SELECT h.event_type, h.event_id, h.value,
           coalesce(h.value, m.med) AS value_imputed,
           h.value IS NULL AS was_imputed
    FROM holed h LEFT JOIN med m USING (event_type)
    """,
)
def q_ts_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median NULL imputation
    (operators/timeseries.impute_group_median) over a deterministic
    14%-holed copy of the measurements (the fixture ships none): each
    gap fills with its group's lower-median — an observed value, robust
    to the tails a mean imputation inherits. Median = the same ⌈n/2⌉
    order statistic as the MAD gate; one sort + one |groups|-row
    broadcast."""
    from csv2db_spark.operators.timeseries import impute_group_median

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("value"),
    )
    return impute_group_median(ev)


# ------------------------------------------------------ feature-store PIT


@query(
    "q_feature_pit_join",
    oracle="""
    WITH spine AS (
      SELECT user_id, ts, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    f1 AS (
      SELECT user_id,
             date_trunc('hour', ts) - INTERVAL (hour(ts) % 6) HOUR AS ts,
             CAST(count(*) AS BIGINT) AS f1_events,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS f1_value
      FROM events GROUP BY 1, 2
    ),
    f2 AS (
      SELECT user_id,
             date_trunc('day', ts) AS ts,
             CAST(count(*) AS BIGINT) AS f2_clicks
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    j1 AS (
      SELECT s.user_id, s.ts, s.event_id, f1.f1_events, f1.f1_value
      FROM spine s
      ASOF LEFT JOIN f1 ON s.user_id = f1.user_id AND s.ts >= f1.ts
    )
    SELECT j1.user_id, j1.ts, j1.event_id, j1.f1_events, j1.f1_value,
           f2.f2_clicks
    FROM j1
    ASOF LEFT JOIN f2 ON j1.user_id = f2.user_id AND j1.ts >= f2.ts
    """,
)
def q_feature_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time retrieval — a COMPOSITION gate: a
    purchase spine picks up its latest 6-hour activity rollup AND its
    latest daily click count via two chained as-of joins
    (operators/asof.asof_join, the union-sort-carry linear form) — the
    leakage-safe way to assemble training features (a plain join would
    see the future; PIT semantics take the newest feature row at or
    before the label timestamp). Oracle: DuckDB's native ASOF JOIN,
    chained twice. Each as-of is one user-keyed sort; features ride as
    carried structs, never a per-row probe."""
    from csv2db_spark.operators.asof import asof_join
    from csv2db_spark.operators.timeseries import resample

    ev = load_table(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    f1 = resample(ev, hours=6).select(
        "user_id",
        F.col("bucket").alias("ts"),
        F.col("n_events").alias("f1_events"),
        F.col("sum_value").alias("f1_value"),
    )
    f2 = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("ts"))
        .agg(F.count(F.lit(1)).alias("f2_clicks"))
    )
    j1 = asof_join(
        spine, f1, on="ts", by="user_id", right_payload=["f1_events", "f1_value"]
    ).select("user_id", "ts", "event_id", "f1_events", "f1_value")
    j2 = asof_join(
        j1, f2, on="ts", by="user_id", right_payload=["f2_clicks"]
    ).select(
        "user_id", "ts", "event_id", "f1_events", "f1_value", "f2_clicks"
    )
    return j2


# ------------------------------------------------------ schema drift


@query(
    "q_profile_schema_drift",
    oracle="""
    WITH oldt AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    newt AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
             o_orderpriority
      FROM orders
    ),
    po AS (
      SELECT 'o_orderkey' AS col_name,
             CAST(count(*) - count(o_orderkey) AS BIGINT) AS old_nulls,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS old_distinct,
             CAST(min(o_orderkey) AS DOUBLE) AS old_min,
             CAST(max(o_orderkey) AS DOUBLE) AS old_max
      FROM oldt
      UNION ALL
      SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
             CAST(count(DISTINCT o_custkey) AS BIGINT),
             CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
      FROM oldt
      UNION ALL
      SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
             CAST(count(DISTINCT o_orderstatus) AS BIGINT), NULL, NULL
      FROM oldt
      UNION ALL
      SELECT 'o_totalprice', CAST(count(*) - count(o_totalprice) AS BIGINT),
             CAST(count(DISTINCT o_totalprice) AS BIGINT),
             CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
      FROM oldt
    ),
    pn AS (
      SELECT 'o_orderkey' AS col_name,
             CAST(count(*) - count(o_orderkey) AS BIGINT) AS new_nulls,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS new_distinct,
             CAST(min(o_orderkey) AS DOUBLE) AS new_min,
             CAST(max(o_orderkey) AS DOUBLE) AS new_max
      FROM newt
      UNION ALL
      SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
             CAST(count(DISTINCT o_custkey) AS BIGINT),
             CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
      FROM newt
      UNION ALL
      SELECT 'o_totalprice', CAST(count(*) - count(o_totalprice) AS BIGINT),
             CAST(count(DISTINCT o_totalprice) AS BIGINT),
             CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
      FROM newt
      UNION ALL
      SELECT 'o_orderpriority', CAST(count(*) - count(o_orderpriority) AS BIGINT),
             CAST(count(DISTINCT o_orderpriority) AS BIGINT), NULL, NULL
      FROM newt
    ),
    t AS (
      SELECT * FROM (VALUES
        ('o_orderkey',    'bigint',        'bigint'),
        ('o_custkey',     'bigint',        'bigint'),
        ('o_orderstatus', 'string',        NULL),
        ('o_totalprice',  'double',        'decimal(12,2)'),
        ('o_orderpriority', NULL,          'string')
      ) v(col_name, old_type, new_type)
    )
    SELECT t.col_name,
           CASE WHEN t.old_type IS NULL THEN 'added'
                WHEN t.new_type IS NULL THEN 'removed'
                WHEN t.old_type != t.new_type THEN 'type_changed'
                ELSE 'kept' END AS status,
           t.old_type, t.new_type,
           po.old_nulls, pn.new_nulls,
           po.old_distinct, pn.new_distinct,
           po.old_min, pn.new_min, po.old_max, pn.new_max
    FROM t
    LEFT JOIN po USING (col_name)
    LEFT JOIN pn USING (col_name)
    """,
)
def q_profile_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-drift report (operators/profile.schema_drift) between a
    simulated yesterday (half the orders, totalprice as double) and
    today (all orders, totalprice re-typed decimal, status dropped,
    priority added): column add/remove/type-change plus exact
    null/distinct/range movement — the no-declared-rules complement of
    q_quality_constraints. Two single-pass profiles + a |columns|-row
    full-outer join."""
    from csv2db_spark.operators.profile import schema_drift

    orders = load_table(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        "o_orderpriority",
    )
    return schema_drift(old, new)


# ------------------------------------------------------ retrieval evaluation


@query(
    "q_retrieval_eval_metrics",
    oracle="""
    WITH qv AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 5),
    norms AS (
      SELECT vec_id,
             sum(cast(cast(cast(embedding[i] as double) as decimal(9,8))
                        * 100000000 as bigint)
                 * cast(cast(cast(embedding[i] as double) as decimal(9,8))
                        * 100000000 as bigint)) AS nrm2
      FROM embeddings, range(1, 65) r(i) GROUP BY vec_id
    ),
    dots AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             sum(cast(cast(cast(q.qv[i] as double) as decimal(9,8))
                        * 100000000 as bigint)
                 * cast(cast(cast(e.embedding[i] as double) as decimal(9,8))
                        * 100000000 as bigint)) AS dot
      FROM qv q, embeddings e, range(1, 65) r(i)
      WHERE e.vec_id != q.query_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             (cast(d.dot as double) / 1e16)
             / (sqrt(cast(nq.nrm2 as double) / 1e16)
                * sqrt(cast(nn.nrm2 as double) / 1e16)) AS cos_sim
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.query_id
      JOIN norms nn ON nn.vec_id = d.neighbor_id
    ),
    exact AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
      ) WHERE rank <= 10
    ),
    -- "ranked" list under evaluation: the same exact ranking with the
    -- odd-ranked half dropped, simulating an ANN that misses half
    cand AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rank) AS rank
      FROM exact WHERE rank % 2 = 0
    ),
    j AS (
      SELECT t.query_id AS q, t.neighbor_id, c.rank
      FROM exact t
      LEFT JOIN cand c
        ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
           AND c.rank <= 10
    )
    SELECT q AS query_id,
           CAST(count(*) AS BIGINT) AS n_relevant,
           CAST(count(rank) AS BIGINT) AS n_hits,
           CAST(count(rank) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS recall_at_k,
           coalesce(1.0 / CAST(min(rank) AS DOUBLE), 0.0) AS mrr_at_k
    FROM j GROUP BY q
    """,
)
def q_retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation (llm/retrieval.retrieval_metrics): recall@10
    and MRR@10 of a deliberately-degraded candidate list (the exact
    ranking with odd ranks dropped — a deterministic stand-in for an
    ANN's misses) against the brute-force truth. Rational metrics only
    (hits ratio, 1/first-hit-rank) so the evaluation itself is
    hash-exact — nDCG's log2 discount would not cross engines
    bit-identically. One k-rows-per-query join + a |queries|-row fold."""
    from pyspark.sql import Window

    from csv2db_spark.llm import similarity as S
    from csv2db_spark.llm.retrieval import retrieval_metrics

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = S.cosine_topk(emb, queries, k=10)
    w = Window.partitionBy("query_id").orderBy("rank")
    degraded = (
        exact.where(F.col("rank") % 2 == 0)
        .withColumn("rank", F.row_number().over(w))
    )
    return retrieval_metrics(degraded, exact, k=10)


# ------------------------------------------------------ curation pipeline v4


@query(
    "q_pipeline_curation_v4",
    oracle="""
    WITH stats AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS s
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total, CAST(sum(s) AS BIGINT) AS ssum
      FROM stats
    ),
    cut AS (
      SELECT source,
             CAST(floor(
               least(
                 ((0.7 * CAST(tot.total AS DOUBLE)) * CAST(stats.s AS DOUBLE))
                 / (CAST(stats.n AS DOUBLE) * CAST(tot.ssum AS DOUBLE)),
                 1.0
               ) * 281474976710656.0
             ) AS BIGINT) AS cutoff
      FROM stats, tot
    ),
    mixed AS (
      SELECT d.doc_id, d.text, d.source
      FROM documents d JOIN cut USING (source)
      WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)
            AS BIGINT) < cut.cutoff
    ),
    m AS (
      SELECT doc_id, source, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT)
               AS n_word_chars,
             CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
               AS BIGINT) AS n_symbols,
             CAST((len(string_split_regex(text, '\\bthe\\b')) - 1)
                + (len(string_split_regex(text, '\\ba\\b')) - 1)
                + (len(string_split_regex(text, '\\bdata\\b')) - 1)
                + (len(string_split_regex(text, '\\btable\\b')) - 1)
               AS BIGINT) AS stop_hits
      FROM mixed
    ),
    quality AS (
      SELECT doc_id, source, text, n_words FROM m
      WHERE n_words >= 50 AND n_words <= 100000
        AND n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
        AND 10 * n_symbols <= n_words
        AND stop_hits >= 2
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM quality),
    pos AS (
      SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS tok
      FROM toks
    ),
    occ AS (
      SELECT p1.doc_id, p1.tok AS a, p2.tok AS b
      FROM pos p1
      JOIN pos p2 ON p1.doc_id = p2.doc_id AND p2.i = p1.i + 1
    ),
    pc AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS cnt_pair
      FROM occ GROUP BY a, b
    ),
    pfx AS (
      SELECT a, CAST(sum(cnt_pair) AS BIGINT) AS cnt_prefix
      FROM pc GROUP BY a
    ),
    v AS (
      SELECT pc.a, pc.b,
             (1000000 * pc.cnt_pair) // pfx.cnt_prefix AS q
      FROM pc JOIN pfx ON pc.a = pfx.a
    ),
    lm AS (
      SELECT occ.doc_id,
             CAST(sum(v.q) AS BIGINT) AS score_scaled,
             CAST(count(*) AS BIGINT) AS n_bigrams
      FROM occ JOIN v ON occ.a = v.a AND occ.b = v.b
      GROUP BY occ.doc_id
    ),
    ranked AS (
      SELECT q.doc_id, q.source, q.n_words,
             row_number() OVER (
               ORDER BY CAST(lm.score_scaled AS DOUBLE)
                        / CAST(lm.n_bigrams AS DOUBLE),
                        q.doc_id) AS rn,
             count(*) OVER () AS n
      FROM quality q JOIN lm ON lm.doc_id = q.doc_id
    ),
    survivors AS (
      SELECT doc_id, source, n_words FROM ranked
      WHERE rn > CAST(floor(0.1 * n) AS BIGINT)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens
    FROM survivors GROUP BY source
    """,
)
def q_pipeline_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restart-session curation stages composed end-to-end:
    alpha-temperature domain rebalancing (target 0.7) → Gopher-rule
    quality filter → corpus-bigram LM fluency ranking with the bottom
    10% dropped (rank = order statistic of the average next-token
    probability, doc_id tiebreak) → per-source accounting. One
    hash-checked result pins every stage's row-level decisions. Scale
    shape: the temperature cutoffs are a |domains|-row broadcast onto
    the scan, quality flags are scan-stage projections, and the LM
    ranking's two corpus shuffles are the whole cost."""
    from csv2db_spark.llm.curation import temperature_mix
    from csv2db_spark.llm.text import bigram_lm_scores, gopher_quality
    from csv2db_spark.operators.ranking import (
        grouped_rank,
        join_totals_nullsafe,
    )
    docs = load_table(spark, sf_dir, "documents")
    mixed = temperature_mix(docs, target_frac=0.7).select(
        "doc_id", "text", "source"
    )
    flags = gopher_quality(mixed).where("keep").select("doc_id", "n_words")
    quality = mixed.join(flags, "doc_id")
    lm = bigram_lm_scores(quality)
    # Ranking with row_number() OVER (ORDER BY prob, doc_id) — an
    # UNPARTITIONED window — total-sorts the whole quality-filtered
    # corpus on ONE task. The cutpoint rank over a constant group computes the
    # identical (prob, doc_id) rank with a 4096-cell histogram +
    # bounded tie sorts.
    # reuse: the cutpoint plan's histogram, tie-rank leg and total read
    # the scored table, and its shape is decided on the stored bytes
    scored = stage.materialize_stage(
        quality.join(lm, "doc_id")
        .select("doc_id", "source", "n_words", "avg_next_token_prob")
        .withColumn("_g", F.lit(0))
    )
    ranked = grouped_rank(
        scored,
        "_g",
        "avg_next_token_prob",
        "doc_id",
        bucket=F.floor(F.col("avg_next_token_prob") * 4096),
        out_col="rn",
    )
    totals = scored.groupBy("_g").agg(F.count(F.lit(1)).alias("n"))
    survivors = join_totals_nullsafe(ranked, totals, ["_g"]).where(
        F.col("rn") > F.floor(F.lit(0.1) * F.col("n"))
    )
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_tokens"),
    )


# ------------------------------------------------------ DAU / WAU


@query(
    "q_events_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d
      FROM events
    ),
    dau AS (
      SELECT d AS day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d
    ),
    contrib AS (
      SELECT DISTINCT user_id, d + CAST(off AS INTEGER) * INTERVAL 1 DAY AS day
      FROM ud, (SELECT unnest(range(0, 7)) AS off)
    ),
    wau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS wau FROM contrib GROUP BY day
    )
    SELECT dau.day, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau USING (day)
    """,
)
def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / rolling-7-day WAU / stickiness per day
    (operators/sessions.active_users): exact rolling distinct via the
    dedup-then-bounded-explode form — each (user, day) row fans out
    into the 7 days it contributes to, so the shuffles are over
    |users|·|days| rows regardless of event volume (a distinct count
    is not algebraic; no window frame can maintain it). The
    approximate alternative is 7 MAX-merged daily HLL register sets."""
    from csv2db_spark.operators.sessions import active_users

    ev = load_table(spark, sf_dir, "events")
    return active_users(ev, window_days=7)


# ------------------------------------------------------ seasonal decomposition


@query(
    "q_ts_seasonal_decompose",
    oracle="""
    WITH s AS (
      SELECT event_type,
             date_trunc('hour', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS n_events,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_value
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT event_type, bucket,
             CAST(CAST(sum_value AS DECIMAL(18,6)) AS DOUBLE) AS value,
             CAST(sum(CAST(sum_value AS DECIMAL(18,6))) OVER w AS DOUBLE)
               / count(CAST(sum_value AS DECIMAL(18,6))) OVER w AS trend,
             hour(bucket) % 24 AS hop
      FROM s
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    d AS (
      SELECT *, CAST(floor((value - trend) * 1e6) AS BIGINT) AS dq FROM b
    ),
    seas AS (
      SELECT event_type, hop,
             CAST(floor(CAST(sum(dq) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               AS BIGINT) AS sq
      FROM d GROUP BY 1, 2
    )
    SELECT d.event_type, d.bucket, d.value, d.trend,
           CAST(seas.sq AS DOUBLE) / 1e6 AS seasonal,
           CAST(d.dq - seas.sq AS DOUBLE) / 1e6 AS residual
    FROM d JOIN seas USING (event_type, hop)
    """,
)
def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/residual decomposition of the hourly
    per-type series (operators/timeseries.seasonal_decompose): centered
    ±12h moving-average trend, hour-of-day seasonal profile of the
    detrended values, residual remainder — STL-lite, hash-exact through
    floor-based re-quantization (floor of identical doubles, exact
    integer sums, one IEEE division per stage; raw doubles are never
    re-summed and no double→decimal cast — DuckDB evaluates those in
    float arithmetic, diverging near midpoints). One per-type sort + a 24·|types|-row seasonal broadcast."""
    from csv2db_spark.operators.timeseries import resample, seasonal_decompose

    ev = load_table(spark, sf_dir, "events")
    hourly = resample(ev, hours=1, key_col="event_type")
    return seasonal_decompose(hourly)


# ------------------------------------------------------ k-anonymity


@query(
    "q_quality_k_anonymity",
    oracle="""
    WITH q AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
      FROM customer
    ),
    counts AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(count(*) AS BIGINT) AS group_size
      FROM q GROUP BY 1, 2, 3
    ),
    t AS (SELECT CAST(sum(group_size) AS BIGINT) AS total FROM counts)
    SELECT c.c_nationkey, c.c_mktsegment, c.bal_band, c.group_size,
           CAST(c.group_size AS DOUBLE) / CAST(t.total AS DOUBLE) AS row_share
    FROM counts c, t
    WHERE c.group_size < 5
    ORDER BY c.group_size, c.c_nationkey, c.c_mktsegment, c.bal_band
    """,
)
def q_quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of customers under the quasi-identifier triple
    (nation, market segment, account-balance band)
    (operators/quality.k_anonymity_report, k=5): combinations shared by
    fewer than 5 customers are join-attack re-identifiable — the
    structural-privacy complement of the regex PII scanners. One
    map-combined groupBy; only combination rows sort."""
    from csv2db_spark.operators.quality import k_anonymity_report

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment", "bal_band"], k=5
    )


# ------------------------------------------------------ phrase search


@query(
    "q_text_phrase_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(t, 1) AS p, unnest(t) AS tok
      FROM toks
    ),
    f AS (SELECT doc_id, p, tok FROM pos WHERE tok IN ('data', 'stream'))
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM f a JOIN f b
      ON a.doc_id = b.doc_id AND b.p = a.p + 1
    WHERE a.tok = 'data' AND b.tok = 'stream'
    GROUP BY a.doc_id
    """,
)
def q_text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search for "data stream"
    (llm/text.phrase_search): tokenize with positions, keep only the
    phrase's postings, join adjacency (token₀ at p, token₁ at p+1) and
    count occurrences per document — the inverted-index plan, counting
    overlaps a LIKE scan cannot. Integer position math only."""
    from csv2db_spark.llm.text import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, ["data", "stream"])


# ------------------------------------------------------ hierarchy resolution


@query(
    "q_graph_resolve_hierarchy",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT c_custkey AS child, (c_custkey - 1) // 2 AS parent
      FROM customer WHERE c_custkey >= 1
    ),
    r AS (
      SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS root,
             CAST(0 AS BIGINT) AS depth
      UNION ALL
      SELECT e.child, r.root, r.depth + 1
      FROM r JOIN e ON e.parent = r.node
    )
    SELECT node, root, depth FROM r
    """,
)
def q_graph_resolve_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root/depth resolution of a 1500-node binary-heap forest derived
    from custkeys (operators/graph.resolve_hierarchy): the recursive-CTE
    workload Spark lacks WITH RECURSIVE for, solved by pointer doubling
    in O(log depth) self-joins — 4 rounds here where the oracle's
    recursive CTE walks 11 levels; at depth 1e6 it is 20 joins instead
    of a million. The hash match against DuckDB's WITH RECURSIVE proves
    the doubling is exact, not just convergent."""
    from csv2db_spark.operators.graph import resolve_hierarchy

    cust = load_table(spark, sf_dir, "customer")
    edges = cust.where(F.col("c_custkey") >= 1).select(
        F.col("c_custkey").alias("child"),
        F.floor((F.col("c_custkey") - 1) / 2).cast("long").alias("parent"),
    )
    return resolve_hierarchy(edges)


# ------------------------------------------------------ targeted delete


@query(
    "q_sink_targeted_delete",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id NOT IN (3, 77, 150, 301, 444)
    GROUP BY source
    """,
)
def q_sink_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style surgical deletion (sink.targeted_delete): stage the
    documents as a 16-file parquet directory, erase five subjects, and
    aggregate what remains — the bloom manifest locates the handful of
    files that can contain the keys, ONLY those are rewritten (pytest
    pins the untouched files byte-identical), and the oracle's NOT IN
    proves no doomed row survives and no innocent row is lost. The
    copy-on-write DELETE of a table format, on plain parquet."""
    import os
    import shutil

    from csv2db_spark.sink import targeted_delete

    docs = load_table(spark, sf_dir, "documents")
    safe = sf_dir.strip("/").replace("/", "_")
    path = f"/tmp/csv2db_spark_tdel_{safe}"
    shutil.rmtree(path, ignore_errors=True)
    docs.repartition(16, "doc_id").write.mode("overwrite").parquet(path)
    targeted_delete(spark, path, "doc_id", [3, 77, 150, 301, 444])
    out = spark.read.parquet(path)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ------------------------------------------------------ user-behavior similarity


@query(
    "q_events_user_similarity",
    oracle="""
    WITH cells AS (
      SELECT DISTINCT user_id,
             event_type || '@' || CAST(hour(ts) AS VARCHAR) AS cell
      FROM events
    ),
    sizes AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY user_id),
    inter AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             CAST(count(*) AS BIGINT) AS i
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.user_id < b.user_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT user_a, user_b,
             CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.user_id = user_a
      JOIN sizes sb ON sb.user_id = user_b
    )
    SELECT user_a, user_b, jaccard FROM scored
    ORDER BY jaccard DESC, user_a, user_b LIMIT 50
    """,
)
def q_events_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most behaviorally similar user pairs: each user becomes the
    SET of (event_type, hour-of-day) cells they ever occupy, scored by
    exact Jaccard — the discretized-trajectory similarity of the top-k
    similarity-search literature, on behavioral cells.

    Shape (measured): the cell vocabulary is BOUNDED
    (|types|·24), so each user's cell set packs into a fixed-width
    BITMAP (a few plain long columns — the bitset-join trick this repo
    uses for prefilters, applied to the similarity itself). Pairwise
    Jaccard is then one broadcast nested-loop over the user table
    (users × few-longs rows — KBs broadcast) with pure-codegen
    bit_count(AND) popcounts: intersection and union are exact longs,
    one IEEE division each. The previous cell-equi-join shape generated
    Σ_c users(c)² ≈ 1e9 pre-aggregation rows for the same ~12.5M real
    pairs (14.6 s at sf0.1 vs ~2 s for this plan).
    At web scale all-pairs is the wrong tool regardless — the LSH/ANN
    family is the scale path; this gate is the exact dense-cohort
    answer, linear in pairs with no join blow-up."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.select(
        "user_id",
        F.concat_ws(
            "@", F.col("event_type"), F.hour("ts").cast("string")
        ).alias("cell"),
    ).distinct()
    # dimension-sized cell index: |types|*24 rows, single tiny sort
    cell_idx = (
        cells.select("cell")
        .distinct()
        .withColumn(
            "idx",
            F.row_number().over(Window.orderBy("cell")) - 1,
        )
    )
    n_cells = cell_idx.count()  # bounded driver-side scalar (<= |types|*24)
    n_words = (n_cells + 63) // 64
    indexed = cells.join(F.broadcast(cell_idx), "cell")
    # shiftleft's bit-count arg must be a literal in the Python API —
    # the per-row shift runs as a SQL expr on the fixed internal name
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), idx % 64)")
    word_aggs = [
        F.bit_or(
            F.when((F.col("idx") / 64).cast("int") == w, bit).otherwise(
                F.lit(0).cast("long")
            )
        ).alias(f"w{w}")
        for w in range(n_words)
    ]
    users = indexed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), *word_aggs
    )
    ua = users.select(
        F.col("user_id").alias("user_a"),
        F.col("n").alias("na"),
        *[F.col(f"w{w}").alias(f"a{w}") for w in range(n_words)],
    )
    ub = users.select(
        F.col("user_id").alias("user_b"),
        F.col("n").alias("nb"),
        *[F.col(f"w{w}").alias(f"b{w}") for w in range(n_words)],
    )
    inter = sum(
        F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}"))).cast("long")
        for w in range(n_words)
    )
    scored = (
        ua.join(F.broadcast(ub), F.col("user_a") < F.col("user_b"))
        .withColumn("i", inter)
        .where(F.col("i") > 0)
        .select(
            "user_a",
            "user_b",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), "user_a", "user_b"
    ).limit(50)


# ------------------------------------------------------ windowed distinct


@query(
    "q_window_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type ORDER BY ts, event_id
                  ) = 1 THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, ts, event_id,
           CAST(sum(first_seen) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
)
def q_window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of DISTINCT event types per user — the windowed
    distinct SQL cannot express directly (COUNT(DISTINCT) OVER a
    running frame is unsupported everywhere): the classic
    first-occurrence-flag trick makes it a plain running SUM — flag a
    row when it is its (user, type)'s first appearance, then sum flags
    over the running frame. Two window passes over the same per-user
    sort (Spark plans one exchange); exact integers throughout."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("_f"),
    )
    return flagged.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("_f").over(w_run).alias("distinct_types_so_far"),
    )


# ------------------------------------------------------ A/B experiment lift


@query(
    "q_events_ab_lift",
    oracle="""
    WITH arms AS (
      SELECT DISTINCT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR))
                       < '80000000000000000000000000000000'
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM events
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value > 100
    ),
    stats AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(count(conv.user_id) AS BIGINT) AS n_converters
      FROM arms LEFT JOIN conv USING (user_id)
      GROUP BY arm
    )
    SELECT c.n_users AS control_users,
           c.n_converters AS control_converters,
           t.n_users AS treatment_users,
           t.n_converters AS treatment_converters,
           CAST(c.n_converters AS DOUBLE) / CAST(c.n_users AS DOUBLE)
             AS rate_control,
           CAST(t.n_converters AS DOUBLE) / CAST(t.n_users AS DOUBLE)
             AS rate_treatment,
           CASE WHEN c.n_converters = 0 THEN NULL ELSE
             (CAST(t.n_converters AS DOUBLE) / CAST(t.n_users AS DOUBLE))
             / (CAST(c.n_converters AS DOUBLE) / CAST(c.n_users AS DOUBLE))
           END AS lift
    FROM (SELECT * FROM stats WHERE arm = 'control') c,
         (SELECT * FROM stats WHERE arm = 'treatment') t
    """,
)
def q_events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users assigned 50/50 to arms by the SAME
    leakage-safe md5 banding as the train/val/test splitter
    (llm/curation.assign_split — assignment depends only on the id, so
    re-runs and engine changes never move a user between arms),
    conversion = ever made a high-value purchase (value > 100 — roughly the
    top decile of purchase values, so rates genuinely differ between
    arms), and
    lift = treatment/control rate
    ratio — exact integer counts, three IEEE divisions in fixed shape
    (NULL lift when control never converts: ANSI Spark raises on /0
    where DuckDB returns inf — the guard keeps both engines agreeing).
    One distinct per side + a |users|-keyed left join; arm stats are 2
    rows."""
    from csv2db_spark.llm.curation import assign_split

    ev = load_table(spark, sf_dir, "events")
    arms = assign_split(
        ev.select("user_id").distinct(),
        fractions={"control": 0.5, "treatment": 0.5},
        id_col="user_id",
    ).select("user_id", F.col("split").alias("arm"))
    conv = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 100))
        .select("user_id")
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    stats = (
        arms.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("_c").alias("n_converters"),
        )
    )
    c = stats.where(F.col("arm") == "control").select(
        F.col("n_users").alias("control_users"),
        F.col("n_converters").alias("control_converters"),
    )
    t = stats.where(F.col("arm") == "treatment").select(
        F.col("n_users").alias("treatment_users"),
        F.col("n_converters").alias("treatment_converters"),
    )
    rate_c = F.col("control_converters").cast("double") / F.col(
        "control_users"
    ).cast("double")
    rate_t = F.col("treatment_converters").cast("double") / F.col(
        "treatment_users"
    ).cast("double")
    return c.crossJoin(t).select(
        "control_users",
        "control_converters",
        "treatment_users",
        "treatment_converters",
        rate_c.alias("rate_control"),
        rate_t.alias("rate_treatment"),
        F.when(F.col("control_converters") == 0, F.lit(None))
        .otherwise(rate_t / rate_c)
        .alias("lift"),
    )


# ------------------------------------------------------ temporal dimension join


@query(
    "q_join_scd2_temporal",
    oracle="""
    WITH hist AS (
      SELECT o_custkey AS custkey, o_orderstatus AS status_at,
             row_number() OVER w AS version,
             o_orderdate AS eff_from,
             lead(o_orderdate) OVER w AS eff_to
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    facts AS (
      SELECT o_orderkey, o_custkey, o_orderdate FROM orders
      WHERE o_orderpriority = '1-URGENT'
    )
    SELECT f.o_orderkey, f.o_custkey, f.o_orderdate,
           h.version, h.status_at
    FROM facts f
    JOIN hist h
      ON h.custkey = f.o_custkey
     AND h.eff_from <= f.o_orderdate
     AND (h.eff_to IS NULL OR f.o_orderdate < h.eff_to)
    """,
)
def q_join_scd2_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension join — the operation SCD Type-2 exists FOR:
    each urgent order picks up the dimension version that was current AT
    its date (equi-join on the key + validity-interval predicate against
    the scd2_build history; the open current version matches via the
    NULL-end rule). The join stays hash-partitionable on the natural
    key — the interval check is a residual predicate, never a range
    join. Versions come from the same one-window-sort SCD2 build."""
    from csv2db_spark.operators.merge import scd2_build

    orders = load_table(spark, sf_dir, "orders")
    hist = scd2_build(
        orders,
        key_cols=["o_custkey"],
        ts_col="o_orderdate",
        order_tiebreak="o_orderkey",
        attr_cols=["o_orderstatus"],
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status_at"),
        "version",
        F.col("effective_from").alias("eff_from"),
        F.col("effective_to").alias("eff_to"),
    )
    facts = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cond = (
        (F.col("custkey") == F.col("o_custkey"))
        & (F.col("eff_from") <= F.col("o_orderdate"))
        & (F.col("eff_to").isNull() | (F.col("o_orderdate") < F.col("eff_to")))
    )
    return facts.join(hist, cond).select(
        "o_orderkey", "o_custkey", "o_orderdate", "version", "status_at"
    )


# ------------------------------------------------------ weighted percentile


@query(
    "q_agg_weighted_percentile",
    oracle="""
    WITH q AS (
      SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    cum AS (
      SELECT l_returnflag, v,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cumw
      FROM q
    ),
    tot AS (
      SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS tw FROM q GROUP BY 1
    ),
    med AS (
      SELECT c.l_returnflag, min(c.v) AS m
      FROM cum c JOIN tot USING (l_returnflag)
      WHERE 2 * c.cumw >= 1 * tot.tw GROUP BY 1
    ),
    p90 AS (
      SELECT c.l_returnflag, min(c.v) AS m
      FROM cum c JOIN tot USING (l_returnflag)
      WHERE 10 * c.cumw >= 9 * tot.tw GROUP BY 1
    )
    SELECT med.l_returnflag,
           CAST(med.m AS DOUBLE) AS weighted_median_price,
           CAST(p90.m AS DOUBLE) AS weighted_p90_price
    FROM med JOIN p90 USING (l_returnflag)
    """,
)
def q_agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price percentiles per return flag
    (operators/sorts.weighted_percentile): the price below which half /
    90% of the QUANTITY trades — not half the rows. Wholly integer
    (cross-multiplied rational threshold over exact running weights; the
    result is a selected input value), so the gate has no float
    arithmetic to disagree on. One per-flag sort shared by both
    percentile picks."""
    from csv2db_spark.operators.sorts import weighted_percentile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    med = weighted_percentile(
        li, ["l_returnflag"], "v", "w", 1, 2, out_col="_m"
    )
    p90 = weighted_percentile(
        li, ["l_returnflag"], "v", "w", 9, 10, out_col="_p"
    )
    return med.join(p90, "l_returnflag").select(
        "l_returnflag",
        F.col("_m").cast("double").alias("weighted_median_price"),
        F.col("_p").cast("double").alias("weighted_p90_price"),
    )


# ------------------------------------------------------ sink: codec + append


@query(
    "q_sink_zstd_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_sink_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec control on the parquet sink: orders written
    with zstd (the modern default for cold analytics data — tighter
    than snappy at similar scan cost) must read back to identical
    exact-decimal aggregates; a pytest twin asserts the files really
    carry the `.zstd.parquet` suffix so the option provably reached the
    writer. Codec choice is a pure write-conf: the plan is untouched."""
    import shutil

    orders = load_table(spark, sf_dir, "orders")
    safe = sf_dir.strip("/").replace("/", "_")
    path = f"/tmp/csv2db_spark_zstd_{safe}"
    shutil.rmtree(path, ignore_errors=True)
    orders.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_price"),
    )


@query(
    "q_sink_partition_append",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS distinct_keys
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus
    """,
)
def q_sink_partition_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-evolution append: the table is first written
    hive-partitioned WITHOUT the 'O' slice, then 'O' arrives as an
    APPEND — dynamic partition insertion must create the new directory
    without touching existing partitions — and a pruned read of
    {F, O} must see exactly the union (counts + distinct keys
    hash-checked). The daily-ingest pattern: new partitions accrete,
    old bytes never rewrite, and the status filter still prunes at
    directory level."""
    import shutil

    orders = load_table(spark, sf_dir, "orders")
    safe = sf_dir.strip("/").replace("/", "_")
    path = f"/tmp/csv2db_spark_papp_{safe}"
    shutil.rmtree(path, ignore_errors=True)
    orders.where(F.col("o_orderstatus") != "O").write.mode(
        "overwrite"
    ).partitionBy("o_orderstatus").parquet(path)
    orders.where(F.col("o_orderstatus") == "O").write.mode(
        "append"
    ).partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).where(
        F.col("o_orderstatus").isin("F", "O")
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_distinct("o_orderkey").alias("distinct_keys"),
    )


# ------------------------------------------------------ embedding drift


@query(
    "q_embed_drift",
    oracle="""
    WITH q AS (
      SELECT CASE WHEN vec_id < 250 THEN 'old' ELSE 'new' END AS half,
             r.i - 1 AS dim,
             cast(cast(cast(embedding[r.i] as double) as decimal(9,8))
                  * 100000000 as bigint) AS qi
      FROM embeddings, range(1, 65) r(i)
    ),
    m AS (
      SELECT half, dim,
             CAST(sum(qi) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM q GROUP BY 1, 2
    ),
    d AS (
      SELECT o.dim,
             CAST(o.s AS DOUBLE) / CAST(o.n AS DOUBLE) / 1e8 AS mean_old,
             CAST(nw.s AS DOUBLE) / CAST(nw.n AS DOUBLE) / 1e8 AS mean_new,
             (CAST(nw.s AS DOUBLE) / CAST(nw.n AS DOUBLE) / 1e8)
             - (CAST(o.s AS DOUBLE) / CAST(o.n AS DOUBLE) / 1e8) AS shift
      FROM (SELECT * FROM m WHERE half = 'old') o
      JOIN (SELECT * FROM m WHERE half = 'new') nw USING (dim)
    )
    SELECT dim, mean_old, mean_new, shift FROM d
    """,
)
def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two corpus snapshots (the
    lowest-id half as 'yesterday', the rest as 'today'): per-dimension
    exact-integer means and their shift — the monitoring signal that an
    embedding model, a scraper mix, or an upstream normalization
    changed. Same quantized-integer discipline as every embedding gate:
    exact long sums, one fixed-shape IEEE division chain per cell.
    Scale: one (half, dim)-keyed aggregate — 128 rows of shuffle
    regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    half = F.when(F.col("vec_id") < 250, F.lit("old")).otherwise(F.lit("new"))
    q = emb.select(
        half.alias("half"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: (
                    x.cast("double").cast("decimal(9,8)") * 100000000
                ).cast("long"),
            )
        ).alias("dim", "qi"),
    )
    m = q.groupBy("half", "dim").agg(
        F.sum("qi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double") / F.lit(1e8)
    o = m.where(F.col("half") == "old").select(
        "dim", mean.alias("mean_old")
    )
    nw = m.where(F.col("half") == "new").select(
        "dim", mean.alias("mean_new")
    )
    return o.join(nw, "dim").select(
        "dim",
        "mean_old",
        "mean_new",
        (F.col("mean_new") - F.col("mean_old")).alias("shift"),
    )


# ------------------------------------------------------ KWIC snippets


@query(
    "q_text_kwic_snippets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(t, 1) AS p, unnest(t) AS tok
      FROM toks
    ),
    f AS (SELECT doc_id, p, tok FROM pos WHERE tok IN ('data', 'stream')),
    hits AS (
      SELECT a.doc_id, a.p AS p0
      FROM f a JOIN f b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      WHERE a.tok = 'data' AND b.tok = 'stream'
    )
    SELECT h.doc_id, h.p0,
           array_to_string(
             t[greatest(h.p0 - 2, 1):least(h.p0 + 3, len(t))], ' '
           ) AS snippet
    FROM hits h JOIN toks USING (doc_id)
    """,
)
def q_text_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context extraction for the phrase "data stream": every
    hit position (the same postings-adjacency machinery as
    q_text_phrase_search) plus a ±2-token context window sliced from
    the document's token array — the search-result-snippet operation,
    pure integer slicing so snippets hash-match. The context slice
    happens where the token array already lives (one join of hit
    positions back to the tokenized doc), never by re-scanning text."""
    docs = load_table(spark, sf_dir, "documents")
    toks_arr = docs.select("doc_id", F.split("text", " ").alias("t"))
    pos = toks_arr.select(
        "doc_id", F.posexplode("t").alias("p0idx", "tok")
    ).select("doc_id", (F.col("p0idx") + 1).alias("p"), "tok")
    f = pos.where(F.col("tok").isin("data", "stream"))
    a = f.where(F.col("tok") == "data").select("doc_id", F.col("p").alias("p0"))
    b = f.where(F.col("tok") == "stream").select(
        "doc_id", (F.col("p") - 1).alias("p0")
    )
    hits = a.join(b, ["doc_id", "p0"])
    start = F.greatest(F.col("p0") - 2, F.lit(1))
    length = F.least(F.col("p0") + 3, F.size("t")) - start + 1
    return hits.join(toks_arr, "doc_id").select(
        "doc_id",
        "p0",
        F.array_join(F.slice("t", start, length), " ").alias("snippet"),
    )


# ------------------------------------------------------ linear trend

_TREND_X0 = 1704067200  # 2024-01-01 UTC — shifts epoch x near zero


@query(
    "q_ts_linear_trend",
    oracle=f"""
    WITH p AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 1000000 - {_TREND_X0} AS DECIMAL(18,0)) AS x,
             CAST(value AS DECIMAL(14,2)) AS y
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM p GROUP BY user_id
    )
    SELECT user_id, n_points,
           CAST(n_points * sxy - sx * sy AS DOUBLE)
             / CAST(n_points * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE)
              - (CAST(n_points * sxy - sx * sy AS DOUBLE)
                 / CAST(n_points * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / n_points AS intercept
    FROM s
    WHERE n_points >= 2 AND n_points * sxx - sx * sx <> 0
    """,
)
def q_ts_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS drift line over event values
    (operators/timeseries.linear_trend): five exact-decimal sufficient
    statistics in one map-combined aggregation, one fixed-order IEEE
    division chain at the end — slope/intercept bit-identical to the
    oracle. x = epoch seconds shifted to 2024-01-01 so Σx² stays tiny
    within DECIMAL(38); y quantized to cents like every value gate."""
    from csv2db_spark.operators.timeseries import linear_trend

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = (
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        - F.lit(_TREND_X0)
    )
    return linear_trend(
        ev, ["user_id"], x=x, y=F.col("value").cast("decimal(14,2)")
    )


# ------------------------------------------------------ CDC apply

_SQL_CDC_FEED = """
base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 3 <> 0
),
u AS (
  SELECT o_orderkey, 'U' AS op, 1 AS version,
         'U-' || o_orderstatus AS o_orderstatus,
         o_totalprice + 1 AS o_totalprice
  FROM orders WHERE o_orderkey % 5 = 0
),
d AS (
  SELECT o_orderkey, 'D' AS op, 1 AS version,
         CAST(NULL AS VARCHAR) AS o_orderstatus,
         CAST(NULL AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
),
ch AS (SELECT * FROM u UNION ALL SELECT * FROM d),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY version DESC,
               CASE WHEN op = 'D' THEN 2 ELSE 1 END DESC) AS rn
    FROM ch
  ) WHERE rn = 1
)
"""


@query(
    "q_cdc_apply",
    oracle=f"""
    WITH {_SQL_CDC_FEED.strip()}
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM latest WHERE op = 'U'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume a change-data-capture feed (operators/merge.apply_cdc):
    a synthesized I/U/D feed over orders — updates on keys % 5, deletes
    on keys % 7 at the SAME version (so keys % 35 hit the tie-break and
    the delete must beat the update by op rank, not lexical op order),
    inserts where the update key is absent from the base — applied
    latest-wins. The applied snapshot is hash-compared row for row.
    Feed compaction is one feed-sized window; the base shuffles once
    for the full-outer join."""
    from csv2db_spark.operators.merge import apply_cdc

    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    u = orders.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit(1).alias("version"),
        F.concat(F.lit("U-"), F.col("o_orderstatus")).alias("o_orderstatus"),
        (F.col("o_totalprice") + 1).alias("o_totalprice"),
    )
    d = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(1).alias("version"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    return apply_cdc(base, u.unionByName(d), ["o_orderkey"])


@query(
    "q_events_ab_welch_t",
    oracle="""
    WITH arms AS (
      SELECT DISTINCT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR))
                       < '80000000000000000000000000000000'
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM events
    ),
    p AS (
      SELECT user_id, CAST(value AS DECIMAL(14,2)) AS y
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    j AS (SELECT arm, y FROM p JOIN arms USING (user_id)),
    s AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             sum(y) AS sx, sum(y * y) AS sxx
      FROM j GROUP BY arm
    ),
    c AS (SELECT n AS n_a,
                 CAST(sx AS DOUBLE) / n AS mean_a,
                 CAST(n * sxx - sx * sx AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (n - 1)) AS var_a
          FROM s WHERE arm = 'control'),
    t AS (SELECT n AS n_b,
                 CAST(sx AS DOUBLE) / n AS mean_b,
                 CAST(n * sxx - sx * sx AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (n - 1)) AS var_b
          FROM s WHERE arm = 'treatment')
    SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
           (mean_b - mean_a) / sqrt(var_b / n_b + var_a / n_a) AS t_stat
    FROM c, t
    """,
)
def q_events_ab_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t statistic for purchase value per arm
    (operators/stats.welch_t_test): the continuous-metric sibling of
    q_events_ab_lift's rate readout — same md5-banded arms, exact
    decimal sufficient statistics, one fixed-order IEEE chain at the
    end so even the t statistic hash-matches. One map-combined
    aggregation + a 2-row join."""
    from csv2db_spark.llm.curation import assign_split
    from csv2db_spark.operators.stats import welch_t_test

    ev = load_table(spark, sf_dir, "events")
    arms = assign_split(
        ev.select("user_id").distinct(),
        fractions={"control": 0.5, "treatment": 0.5},
        id_col="user_id",
    ).select("user_id", F.col("split").alias("arm"))
    purchases = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("user_id", F.col("value").cast("decimal(14,2)").alias("y"))
    metrics = purchases.join(arms, "user_id")
    return welch_t_test(metrics, "arm", F.col("y"))


# ----------------------------------------- driver-visible approx-gate bounds
# The empty-oracle pattern of q_sim_ann_lsh_recall (queries/llm.py): the
# PQ family and PCA stay rows-only for their raw
# outputs, but their accuracy/algebra contracts become hash-checked
# violations views against an empty oracle.

_EMPTY_RECALL_ORACLE = (
    "SELECT 'mean_recall@k' AS metric, 0.0 AS mean_recall WHERE 1 = 0"
)


@query("q_sim_ann_pq_recall", oracle=_EMPTY_RECALL_ORACLE)
def q_sim_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall floor for the PQ index: violations of mean
    recall@20 >= 0.2 vs the exact baseline (expected: none; measured
    means 0.29-0.40 at sf0.001/0.01/0.1 — 8-byte codes with no refine
    are coarse by design, the gate catches collapses, not tuning).
    Same |queries|*k join shape as the LSH/IVF recall gates."""
    from csv2db_spark.llm import similarity as S
    from csv2db_spark.llm.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.ann_recall_violations(
        pq_topk(emb, queries, k=20),
        S.cosine_topk(emb, queries, k=20),
        min_mean_recall=0.2,
    )


@query("q_sim_ann_ivfpq_recall", oracle=_EMPTY_RECALL_ORACLE)
def q_sim_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall floor for IVF-PQ with exact refine:
    violations of mean recall@10 >= 0.35 vs the exact baseline
    (expected: none; measured means 0.54-0.70 at sf0.001/0.01/0.1 —
    the exact re-rank of the ADC shortlist buys back most of PQ's
    coarseness)."""
    from csv2db_spark.llm import similarity as S
    from csv2db_spark.llm.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.ann_recall_violations(
        ivfpq_topk(emb, queries, k=10),
        S.cosine_topk(emb, queries, k=10),
        min_mean_recall=0.35,
    )


@query(
    "q_embed_pca_bounds",
    oracle="SELECT '' AS contract, 0 AS comp, 0.0 AS err WHERE 1 = 0",
)
def q_embed_pca_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible PCA contract (llm/cluster.pca_projection_violations):
    eigenvalue ordering, component orthonormality, and the projected-
    variance identity var(X·w_c) = lambda_c within 2% — true on every
    correct LAPACK build even though eigenvector BITS differ, so the
    violations view hash-compares against an empty oracle while the raw
    projection gate stays rows-only."""
    from csv2db_spark.llm.cluster import pca_projection_violations

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_projection_violations(emb, n_components=8)


@query(
    "q_quality_l_diversity",
    oracle="""
    WITH q AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             c_mktsegment
      FROM customer
    ),
    pair AS (
      SELECT c_nationkey, bal_band, c_mktsegment,
             CAST(count(*) AS BIGINT) AS vn
      FROM q GROUP BY 1, 2, 3
    ),
    grp AS (
      SELECT c_nationkey, bal_band,
             CAST(sum(vn) AS BIGINT) AS group_size,
             CAST(count(*) AS BIGINT) AS n_sensitive,
             max({'v': vn, 's': c_mktsegment}) AS m
      FROM pair GROUP BY 1, 2
    )
    SELECT c_nationkey, bal_band, group_size, n_sensitive,
           m.s AS top_value,
           CAST(m.v AS DOUBLE) / CAST(group_size AS DOUBLE) AS top_share
    FROM grp WHERE n_sensitive < 2
    """,
)
def q_quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (operators/quality.l_diversity_report, l=2):
    quasi-identifier groups (nation, balance band) where every customer
    shares ONE market segment leak the attribute even when k-anonymous
    — the inference-attack complement of q_quality_k_anonymity. Emits
    the modal sensitive value and its share (here 1.0 by construction
    at l=2, but the operator reports the real fraction for any l).
    Two map-combined groupBys, combination rows only."""
    from csv2db_spark.operators.quality import l_diversity_report

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    return l_diversity_report(
        cust, ["c_nationkey", "bal_band"], "c_mktsegment", l=2
    )


@query(
    "q_quality_referential_integrity",
    oracle="""
    WITH rel1 AS (
        SELECT 'lineitem->orders' AS relation,
               count(*) AS n_child_rows,
               CAST(0 AS BIGINT) AS n_null_keys,
               CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphans
        FROM lineitem l
        LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey
    ),
    rel2 AS (
        SELECT 'orders->customer_pruned' AS relation,
               count(*) AS n_child_rows,
               CAST(sum(CASE WHEN nullif(c2.o_custkey, 7) IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys,
               CAST(sum(CASE WHEN nullif(c2.o_custkey, 7) IS NOT NULL
                              AND c.c_custkey IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        FROM orders c2
        LEFT JOIN (SELECT DISTINCT c_custkey FROM customer
                   WHERE c_custkey % 10 <> 0) c
          ON nullif(c2.o_custkey, 7) = c.c_custkey
    )
    SELECT relation, n_child_rows, n_null_keys, n_orphans,
           n_orphans = 0 AS passed
    FROM rel1
    UNION ALL
    SELECT relation, n_child_rows, n_null_keys, n_orphans,
           n_orphans = 0 AS passed
    FROM rel2
    """,
)
def q_quality_referential_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table foreign-key audit (operators/quality.
    referential_integrity_report): the fixture's clean lineitem->orders
    relationship passes with zero orphans, while a deliberately broken
    one — orders probing a customer table with every 10th key removed,
    plus custkey 7 NULLed to exercise the FK NULL exemption — reports
    its exact orphan and NULL-key counts. One outer-probe join + one
    map-combined aggregate per relation; the child table is scanned
    once and nothing is counted on the driver."""
    from csv2db_spark.operators.quality import referential_integrity_report

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust_pruned = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 10 != 0
    )
    r1 = referential_integrity_report(
        li, orders, {"l_orderkey": "o_orderkey"}, "lineitem->orders"
    )
    r2 = referential_integrity_report(
        orders.withColumn(
            "o_custkey", F.nullif(F.col("o_custkey"), F.lit(7))
        ),
        cust_pruned,
        {"o_custkey": "c_custkey"},
        "orders->customer_pruned",
    )
    return r1.unionByName(r2)


@query(
    "q_ts_rolling_autocorr",
    oracle="""
    WITH q AS (
      SELECT user_id, event_id,
             CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS x
      FROM events WHERE user_id % 7 = 0
    ),
    paired AS (
      SELECT user_id, event_id, x,
             lag(x) OVER (PARTITION BY user_id ORDER BY event_id) AS y
      FROM q
    ),
    p2 AS (SELECT * FROM paired WHERE y IS NOT NULL),
    roll AS (
      SELECT user_id, event_id,
             CAST(count(*) OVER w AS HUGEINT) AS c,
             CAST(sum(x) OVER w AS HUGEINT) AS sx,
             CAST(sum(y) OVER w AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) OVER w AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) OVER w AS HUGEINT) AS sx2,
             CAST(sum(CAST(y AS HUGEINT) * y) OVER w AS HUGEINT) AS sy2
      FROM p2
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    full_w AS (SELECT * FROM roll WHERE c = 20),
    alg AS (
      SELECT user_id, event_id,
             c * sxy - sx * sy AS num,
             c * sx2 - sx * sx AS d1,
             c * sy2 - sy * sy AS d2
      FROM full_w
    )
    SELECT user_id, event_id,
           CAST(sign(CAST(num AS DOUBLE)) AS INTEGER) AS corr_sign,
           CASE WHEN d1 * d2 > 0
                THEN (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                     / (CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE))
           END AS corr_sq
    FROM alg
    """,
)
def q_ts_rolling_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling lag-1 autocorrelation (operators/timeseries.
    rolling_autocorr) over every 7th user's measurement stream: sliding
    20-pair windows, exact decimal(38,0) sufficient statistics, and the
    sqrt-free (sign, r²) encoding that makes a correlation statistic
    hash-comparable across engines. One per-key sort serves the lag
    and every rolling sum; no join, no second scan."""
    from csv2db_spark.operators.timeseries import rolling_autocorr

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 7 == 0)
    return rolling_autocorr(ev, n=20)


@query(
    "q_observe_inline_metrics",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_discounted
    FROM lineitem
    WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def q_observe_inline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline observability (operators/observe.observed_run): audit
    metrics accumulated WHILE a pipeline action runs — the observation
    attaches to the post-filter scan, the pipeline's real work (a
    returnflag rollup) executes to a noop sink, and the metrics arrive
    with ZERO additional scans. The oracle recomputes the same numbers
    the expensive way (a second full pass); the hash match proves the
    free metrics are the exact ones. At 100 TB this is every per-load
    audit row without doubling the scan bill."""
    from csv2db_spark.operators.observe import observed_run

    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > cutoff
    )
    m = observed_run(
        li,
        {
            "n_rows": F.count(F.lit(1)),
            "sum_qty": F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast(
                "double"
            ),
            "n_discounted": F.sum(
                (F.col("l_discount") > 0.05).cast("long")
            ),
        },
        transform=lambda d: d.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_qty"], m["n_discounted"])],
        "n_rows long, sum_qty double, n_discounted long",
    )


@query(
    "q_quality_benford",
    oracle="""
    WITH d AS (
      SELECT cast(substr(cast(cast(cast(o_totalprice as decimal(12,2)) * 100
                              as bigint) as varchar), 1, 1) as int) AS digit
      FROM orders
      WHERE cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) > 0
    ),
    g AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
    t AS (SELECT sum(n_obs) AS tot FROM g),
    e(digit, permille_expected) AS (VALUES
      (1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
      (6, 67), (7, 58), (8, 51), (9, 46))
    SELECT g.digit, g.n_obs,
           cast((1000 * g.n_obs) // t.tot as bigint) AS permille_obs,
           e.permille_expected,
           abs(cast((1000 * g.n_obs) // t.tot as bigint)
               - e.permille_expected) AS abs_dev_permille
    FROM g, t JOIN e ON e.digit = g.digit
    """,
)
def q_quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals
    (operators/quality.benford_report): observed vs expected permille
    share per leading digit, with the deviation that flags fabricated
    or unit-shifted measures. Digit extraction rides the exact decimal
    (double→bigint casts truncate on Spark but round on DuckDB); the
    digit table the oracle joins is the same 9 integer literals the
    engine broadcasts in a map literal."""
    from csv2db_spark.operators.quality import benford_report

    return benford_report(load_table(spark, sf_dir, "orders"), "o_totalprice")


@query(
    "q_text_ccnet_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS tok
      FROM toks
    ),
    occ AS (
      SELECT p1.doc_id, p1.tok AS a, p2.tok AS b
      FROM pos p1
      JOIN pos p2 ON p1.doc_id = p2.doc_id AND p2.i = p1.i + 1
    ),
    ref AS (
      SELECT o.* FROM occ o JOIN documents d USING (doc_id)
      WHERE d.source IN ('src0', 'src1', 'src2', 'src3', 'src4')
    ),
    pc AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS cnt_pair
      FROM ref GROUP BY a, b
    ),
    pfx AS (
      SELECT a, CAST(sum(cnt_pair) AS BIGINT) AS cnt_prefix
      FROM pc GROUP BY a
    ),
    v AS (
      SELECT pc.a, pc.b,
             (1000000 * pc.cnt_pair) // pfx.cnt_prefix AS q
      FROM pc JOIN pfx ON pc.a = pfx.a
    ),
    scored AS (
      SELECT occ.doc_id,
             CAST(sum(COALESCE(v.q, 0)) AS BIGINT) AS score_scaled,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(COALESCE(v.q, 0)) AS DOUBLE) / 1000000.0
               / CAST(count(*) AS DOUBLE) AS avg_next_token_prob
      FROM occ LEFT JOIN v ON occ.a = v.a AND occ.b = v.b
      GROUP BY occ.doc_id
    )
    SELECT s.doc_id, d.lang, s.score_scaled, s.n_bigrams,
           s.avg_next_token_prob,
           ntile(3) OVER (PARTITION BY d.lang
                          ORDER BY s.avg_next_token_prob DESC, s.doc_id)
             AS ppl_bucket
    FROM scored s JOIN documents d USING (doc_id)
    """,
)
def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style reference-LM quality bucketing (Wenzek et al. 2020):
    train the bigram LM on a trusted reference slice (sources src0-src4),
    score EVERY document against it (llm/text.bigram_lm_scores with
    ``train_docs`` — bigrams the reference never saw contribute 0 but
    still count, so out-of-domain text scores low), then cut each
    language into head/middle/tail terciles with ntile(3) over the
    total order (score desc, doc_id). The standard pretraining-corpus
    triage: keep head, sample middle, drop tail — per language, so
    high-resource languages don't crowd out the rest. Model-corpus
    scan + corpus scan + one |docs|-row window; the LM itself is a
    |vocab|-row broadcastable table. The terciles come from
    operators/ranking.grouped_ntile: the plain window at fixture size,
    above the size threshold the histogram-offset rank with no
    per-language single-task sort — identical terciles, pinned in
    tests/test_plan_shapes.py."""
    return ccnet_buckets(spark, sf_dir)


def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_text_ccnet_buckets body. The tercile shape is decided on the
    leaves the LM-scored ntile input reads (its ``documents`` scans):
    its joins' root estimate multiplies (21.9 GB estimated against
    0.59 MB for the ``documents`` scan at sf0.1)."""
    from csv2db_spark.llm.text import bigram_lm_scores
    from csv2db_spark.operators.ranking import grouped_ntile

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    scored = bigram_lm_scores(docs, train_docs=ref)
    return grouped_ntile(
        scored.join(docs.select("doc_id", "lang"), "doc_id").select(
            "doc_id",
            "lang",
            "score_scaled",
            "n_bigrams",
            "avg_next_token_prob",
        ),
        "lang",
        "avg_next_token_prob",
        "doc_id",
        3,
        descending=True,
        out_col="ppl_bucket",
        # continuous [0,1] probability: the 4096-cell quantization keeps
        # the cutpoint histogram bucket-sized instead of corpus-sized
        bucket=F.floor(F.col("avg_next_token_prob") * 4096),
    )


@query(
    "q_events_rfm_segments",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             max(ts) AS last_ts,
             CAST(count(*) AS BIGINT) AS n_events,
             sum(CAST(COALESCE(value, 0.0) AS DECIMAL(18,3)))
               AS monetary_dec
      FROM events GROUP BY user_id
    ),
    t AS (
      SELECT user_id, last_ts, n_events,
             CAST(monetary_dec AS DOUBLE) AS monetary,
             6 - ntile(5) OVER (ORDER BY last_ts DESC, user_id)
               AS r_score,
             6 - ntile(5) OVER (ORDER BY n_events DESC, user_id)
               AS f_score,
             6 - ntile(5) OVER (ORDER BY monetary_dec DESC, user_id)
               AS m_score
      FROM per_user
    )
    SELECT user_id, last_ts, n_events, monetary, r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM t
    """,
)
def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation of the event stream
    (operators/sessions.rfm_scores): recency/frequency/monetary scores
    5=best from total-order ntiles (metric + user_id tie-break —
    deterministic on any partitioning), monetary through exact decimal.
    One corpus shuffle + three |users|-row windows."""
    from csv2db_spark.operators.sessions import rfm_scores

    return rfm_scores(load_table(spark, sf_dir, "events"))


@query(
    "q_events_chi_square",
    oracle="""
    WITH cells AS (
      SELECT event_type AS row_key, user_id % 3 AS col_key,
             CAST(count(*) AS BIGINT) AS observed
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT *,
             sum(observed) OVER (PARTITION BY row_key) AS row_total,
             sum(observed) OVER (PARTITION BY col_key) AS col_total,
             sum(observed) OVER () AS grand_total
      FROM cells
    ),
    x AS (
      SELECT *,
             CAST(observed AS HUGEINT) * grand_total
               - CAST(row_total AS HUGEINT) * col_total AS num,
             CAST(grand_total AS HUGEINT) * row_total * col_total AS den
      FROM t
    )
    SELECT row_key, col_key, observed,
           CAST(row_total AS BIGINT) AS row_total,
           CAST(col_total AS BIGINT) AS col_total,
           CAST(grand_total AS BIGINT) AS grand_total,
           CAST((1000000 * num * num) // den AS BIGINT) AS contrib_e6,
           (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
             / ((CAST(grand_total AS DOUBLE) * CAST(row_total AS DOUBLE))
                * CAST(col_total AS DOUBLE)) AS contribution
    FROM x
    """,
)
def q_events_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence audit (operators/stats.chi_square_cells)
    of event_type × user-bucket — the sample-ratio-mismatch /
    assignment-skew check, per contingency cell so every value is
    hash-exact: observed + margins are integers, the χ² contribution is
    both an exact ⌊10⁶·(O·N−R·C)²/(N·R·C)⌋ long (DECIMAL(38,0) on the
    engine, HUGEINT in the oracle — summable downstream without float
    order) and a fixed-order double from the same exact operands. One
    corpus groupBy; three window sums over the ≤ |types|·3 cells."""
    from csv2db_spark.operators.stats import chi_square_cells

    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", F.col("user_id") % 3
    )
    return chi_square_cells(ev, "event_type", "user_bucket")


@query(
    "q_ts_cusum_changepoints",
    oracle="""
    WITH h AS (
      SELECT event_type,
             date_trunc('hour', ts) AS bucket,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_value
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, bucket,
             CAST(CAST(sum_value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS v
      FROM h
    ),
    s AS (
      SELECT event_type, bucket, v,
             sum(v - 200000) OVER (PARTITION BY event_type ORDER BY bucket
                                   ROWS UNBOUNDED PRECEDING) AS ps
      FROM m
    ),
    c AS (
      SELECT event_type, bucket, v, ps,
             ps - min(least(ps, 0)) OVER (PARTITION BY event_type
                                          ORDER BY bucket
                                          ROWS UNBOUNDED PRECEDING)
               AS cusum
      FROM s
    )
    SELECT event_type, bucket,
           CAST(v AS BIGINT) AS value_milli,
           CAST(ps AS BIGINT) AS prefix_milli,
           CAST(cusum AS BIGINT) AS cusum_milli
    FROM c WHERE cusum > 500000
    """,
)
def q_ts_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's one-sided CUSUM drift detector per event type
    (operators/timeseries.cusum_changepoints) over the hourly resample:
    the sequential recursion max(0, C+x−k) evaluated by its exact
    closed form C_i = S_i − min(0, min_j S_j) — cumulative sum plus
    running min over ONE window sort, no recursion, no UDF. Allowance
    k=200/h, threshold h=500: flags sustained above-level bursts that a
    per-bucket z-score misses. All statistics are exact milli-scaled
    longs — the flagged set hash-verifies."""
    from csv2db_spark.operators.timeseries import (
        cusum_changepoints,
        resample,
    )

    hourly = resample(
        load_table(spark, sf_dir, "events"), hours=1, key_col="event_type"
    )
    return cusum_changepoints(
        hourly,
        key_col="event_type",
        bucket_col="bucket",
        value_col="sum_value",
        allowance_milli=200_000,
        threshold_milli=500_000,
    )


@query(
    "q_events_funnel_windowed",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS entry FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS entry
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.entry
        AND e.ts <= v.entry + INTERVAL 2 HOUR
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS entry
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.entry
        AND e.ts <= c.entry + INTERVAL 2 HOUR
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST(1 AS INT) AS stage_idx,
           CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 'click', CAST(2 AS INT), CAST(count(*) AS BIGINT) FROM c
    UNION ALL
    SELECT 'purchase', CAST(3 AS INT), CAST(count(*) AS BIGINT) FROM p
    """,
)
def q_events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (operators/funnel.funnel_stages_windowed):
    view → click → purchase with a 2-hour per-step window — the
    Amplitude/Mixpanel semantics where a stage only converts within the
    window of the previous entry (the strict funnel's count is an upper
    bound of this one). Shrinking user joins, NTZ interval arithmetic,
    no per-user collection."""
    from csv2db_spark.operators.funnel import funnel_stages_windowed

    return funnel_stages_windowed(
        load_table(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        max_gap_hours=2,
    )


@query(
    "q_sink_dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_even
    FROM orders
    WHERE o_orderpriority <> '1-URGENT' OR o_orderkey % 2 = 0
    GROUP BY o_orderpriority
    """,
)
def q_sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite (partitionOverwriteMode=dynamic — the
    Hive/Spark insert-overwrite semantics every backfill relies on): a
    priority-partitioned table is fully written, then ONE partition
    ('1-URGENT') is overwritten with a corrected slice (its even keys
    only). Dynamic mode must replace exactly the partitions present in
    the write and leave every other partition byte-untouched — static
    mode would have wiped the whole table (the classic backfill
    data-loss trap). The oracle states the expected final content; the
    conf is set per-write and restored."""
    import os

    staged = os.path.join(
        "/tmp", f"c2s_dynpart_{sf_dir.strip('/').replace('/', '_')}"
    )
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        staged
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            orders.where(
                (F.col("o_orderpriority") == "1-URGENT")
                & (F.col("o_orderkey") % 2 == 0)
            )
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(staged)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(staged)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(0)
        ).alias("n_even"),
    )


@query(
    "q_src_date_spine",
    oracle="""
    SELECT strftime(d, '%Y-%m-%d') AS date,
           CAST(year(d) AS INT) AS year,
           CAST(month(d) AS INT) AS month,
           CAST(day(d) AS INT) AS day,
           CAST(dayofweek(d) + 1 AS INT) AS day_of_week,
           dayofweek(d) + 1 BETWEEN 2 AND 6 AS is_weekday,
           CAST(quarter(d) AS INT) AS quarter,
           strftime(date_trunc('month', d), '%Y-%m-%d') AS month_start
    FROM generate_series(DATE '2024-01-01', DATE '2024-12-31',
                         INTERVAL 1 DAY) t(d)
    """,
)
def q_src_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension (operators/timeseries.date_spine):
    the 2024 date spine with weekday/quarter/month-start fields — pure
    DATE arithmetic, no timestamps, so it is session-timezone-free
    under the driver's adversarial non-UTC session. DuckDB's dayofweek
    is 0=Sunday vs Spark's 1=Sunday; the oracle shifts by one to state
    the same calendar. |days| rows — a broadcast dimension at any
    scale."""
    from csv2db_spark.operators.timeseries import date_spine

    spine = date_spine(spark, "2024-01-01", "2024-12-31")
    # DATE cells render differently through pandas on the two engines
    # (datetime.date vs datetime64) — compare as ISO strings
    return spine.select(
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        "year", "month", "day", "day_of_week", "is_weekday", "quarter",
        F.date_format("month_start", "yyyy-MM-dd").alias("month_start"),
    )


@query(
    "q_events_calendar_gaps",
    oracle="""
    WITH spine AS (
      SELECT strftime(d, '%Y-%m-%d') AS day
      FROM generate_series(DATE '2024-01-01', DATE '2024-02-14',
                           INTERVAL 1 DAY) t(d)
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    expected AS (SELECT event_type, day FROM types CROSS JOIN spine),
    observed AS (
      SELECT DISTINCT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')
               AS day
      FROM events
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_missing_days,
           min(e.day) AS first_missing,
           max(e.day) AS last_missing
    FROM expected e
    LEFT JOIN observed o
      ON e.event_type = o.event_type AND e.day = o.day
    WHERE o.day IS NULL
    GROUP BY e.event_type
    """,
)
def q_events_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar completeness audit — the date spine put to work: expected
    (event_type × day) coverage for Jan 1 - Feb 14 anti-joined against
    the days each type actually reported (events stop Jan 30, so every
    type must surface its missing mid-February tail). The standard
    did-the-feed-break report: a broadcast spine × |types| expectation
    table probed by one distinct-day aggregate of the facts — the fact
    table is scanned once, the anti-join is dimension-sized."""
    from csv2db_spark.operators.timeseries import date_spine

    ev = load_table(spark, sf_dir, "events")
    spine = date_spine(spark, "2024-01-01", "2024-02-14").select(
        F.date_format("date", "yyyy-MM-dd").alias("day")
    )
    types = ev.select("event_type").distinct()
    expected = types.crossJoin(F.broadcast(spine))
    observed = ev.select(
        "event_type",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
    ).distinct()
    missing = expected.join(observed, ["event_type", "day"], "left_anti")
    return missing.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_missing_days"),
        F.min("day").alias("first_missing"),
        F.max("day").alias("last_missing"),
    )


@query(
    "q_curate_ccnet_sampled",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS tok
      FROM toks
    ),
    occ AS (
      SELECT p1.doc_id, p1.tok AS a, p2.tok AS b
      FROM pos p1
      JOIN pos p2 ON p1.doc_id = p2.doc_id AND p2.i = p1.i + 1
    ),
    ref AS (
      SELECT o.* FROM occ o JOIN documents d USING (doc_id)
      WHERE d.source IN ('src0', 'src1', 'src2', 'src3', 'src4')
    ),
    pc AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS cnt_pair
      FROM ref GROUP BY a, b
    ),
    pfx AS (
      SELECT a, CAST(sum(cnt_pair) AS BIGINT) AS cnt_prefix
      FROM pc GROUP BY a
    ),
    v AS (
      SELECT pc.a, pc.b,
             (1000000 * pc.cnt_pair) // pfx.cnt_prefix AS q
      FROM pc JOIN pfx ON pc.a = pfx.a
    ),
    scored AS (
      SELECT occ.doc_id,
             CAST(sum(COALESCE(v.q, 0)) AS DOUBLE) / 1000000.0
               / CAST(count(*) AS DOUBLE) AS avg_prob
      FROM occ LEFT JOIN v ON occ.a = v.a AND occ.b = v.b
      GROUP BY occ.doc_id
    ),
    bucketed AS (
      SELECT s.doc_id, d.lang,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY s.avg_prob DESC, s.doc_id)
               AS ppl_bucket
      FROM scored s JOIN documents d USING (doc_id)
    ),
    decided AS (
      SELECT doc_id, lang, ppl_bucket,
             CASE
               WHEN ppl_bucket = 1 THEN TRUE
               WHEN ppl_bucket = 3 THEN FALSE
               ELSE md5('ccnet-mid' || CAST(doc_id AS VARCHAR))
                      < '80000000000000000000000000000000'
             END AS kept
      FROM bucketed
    )
    SELECT lang, ppl_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM decided GROUP BY lang, ppl_bucket
    """,
)
def q_curate_ccnet_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet ACTION step on top of q_text_ccnet_buckets: keep the
    head tercile outright, drop the tail, Bernoulli-sample the middle
    at p=1/2 with the md5-threshold coin (llm/curation.md5_threshold —
    a deterministic string comparison both engines evaluate
    identically). Per (lang, bucket): total docs and kept docs — head
    rows must show n_kept = n_docs, tail rows n_kept = 0, middle rows
    the coin's exact outcome. Terciles route through
    operators/ranking.grouped_ntile, as in q_text_ccnet_buckets: no
    per-language single-task sort above the size threshold."""
    from csv2db_spark.llm.curation import md5_threshold
    from csv2db_spark.llm.text import bigram_lm_scores
    from csv2db_spark.operators.ranking import grouped_ntile

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    scored = bigram_lm_scores(docs, train_docs=ref)
    bucketed = grouped_ntile(
        scored.join(docs.select("doc_id", "lang"), "doc_id").select(
            "doc_id", "lang", "avg_next_token_prob"
        ),
        "lang",
        "avg_next_token_prob",
        "doc_id",
        3,
        descending=True,
        out_col="ppl_bucket",
        # continuous [0,1] probability: 4096-cell order-coarsening keeps
        # the cutpoint histogram bucket-sized (see grouped_rank)
        bucket=F.floor(F.col("avg_next_token_prob") * 4096),
    ).drop("avg_next_token_prob")
    coin = F.md5(
        F.concat(F.lit("ccnet-mid"), F.col("doc_id").cast("string"))
    ) < F.lit(md5_threshold(0.5))
    decided = bucketed.withColumn(
        "kept",
        F.when(F.col("ppl_bucket") == 1, F.lit(True))
        .when(F.col("ppl_bucket") == 3, F.lit(False))
        .otherwise(coin),
    )
    return decided.groupBy("lang", "ppl_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
    )

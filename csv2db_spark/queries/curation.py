"""Driver-gate queries for corpus-curation operators (llm/curation.py,
operators/sessions.py): decontamination, stratified sampling, incremental
dedup, PII scanning, domain mixing, sessionization, length histograms.

tests/test_parity.py checks each gate here against its DuckDB oracle
where one exists; ``registry.CHECK_FIRST`` lists the gates in the
driver's 50-query correctness window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv2db_spark.functions.numeric import dsum
from csv2db_spark.llm import curation as C
from csv2db_spark.llm.corpus import SQL_AUG, SQL_SHINGLES, augmented_docs
from csv2db_spark.llm.text import MOJIBAKE_PATTERNS, encoding_anomaly_counts
from csv2db_spark.operators import relational as R
from csv2db_spark.operators import stage
from csv2db_spark.operators.sessions import sessionize
from csv2db_spark.registry import query
from csv2db_spark.sources import load_table

# shingle CTEs over the raw documents table (not the augmented corpus)
_DOC_SHINGLES = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id, {SQL_SHINGLES.format(t="t")} AS s FROM toks),
ex AS (SELECT doc_id, unnest(s) AS s FROM sh)
"""


@query(
    "q_curate_decontaminate",
    oracle=f"""
    WITH {_DOC_SHINGLES.strip()},
    bsh AS (SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0),
    cex AS (SELECT doc_id, s FROM ex WHERE doc_id % 97 <> 0),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM cex GROUP BY doc_id),
    ov AS (
      SELECT cex.doc_id, count(*) AS n_overlap
      FROM cex JOIN bsh ON cex.s = bsh.s
      GROUP BY cex.doc_id
    )
    SELECT o.doc_id, z.n_shingles, o.n_overlap,
           o.n_overlap / z.n_shingles AS overlap_ratio
    FROM ov o JOIN sizes z ON z.doc_id = o.doc_id
    """,
)
def q_curate_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 97th document plays the held-out
    eval set; corpus documents sharing any 3-gram with it are reported
    with overlap counts. Scale shape: the benchmark's distinct shingles
    broadcast (eval sets are small by nature); the corpus side is one
    shingle pass + broadcast join — the 100-TB corpus never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return C.decontaminate_ngram(corpus, bench)


@query(
    "q_curate_decontaminate_semantic",
    oracle="""
    WITH iq AS (
      SELECT vec_id, r.i,
             CAST(CAST(CAST(embedding[r.i] AS DOUBLE) AS DECIMAL(9,8))
                  * 100000000 AS BIGINT) AS q
      FROM embeddings, range(1, 65) r(i)
    ),
    nrm AS (SELECT vec_id, sum(q * q) AS nrm2 FROM iq GROUP BY vec_id),
    dots AS (
      SELECT c.vec_id, b.vec_id AS bench_id, sum(c.q * b.q) AS dot
      FROM iq c JOIN iq b ON c.i = b.i
      WHERE b.vec_id % 100 = 0 AND c.vec_id % 100 <> 0
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.vec_id, d.bench_id,
             (CAST(d.dot AS DOUBLE) / 1e16)
               / (sqrt(CAST(nc.nrm2 AS DOUBLE) / 1e16)
                  * sqrt(CAST(nb.nrm2 AS DOUBLE) / 1e16)) AS cos_sim
      FROM dots d
      JOIN nrm nc ON nc.vec_id = d.vec_id
      JOIN nrm nb ON nb.vec_id = d.bench_id
    )
    SELECT vec_id, bench_id AS best_bench_id, cos_sim AS best_cos,
           cos_sim >= 0.8 AS contaminated
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos_sim DESC, bench_id) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q_curate_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination
    (llm/curation.decontaminate_semantic): every 100th vector plays the
    held-out benchmark; EVERY other corpus vector reports its most
    similar benchmark vector (exact quantized-long cosine — the same
    hash-stable arithmetic as q_sim_cosine_topk) and whether it clears
    tau = 0.8. The semantic complement of q_curate_decontaminate:
    paraphrased leakage shares no n-grams but lands next to the
    benchmark in embedding space. Scale shape: the benchmark broadcasts
    into one corpus scan; the per-vector argmax is a map-side
    max(struct) aggregate, never a corpus window."""
    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 100 == 0)
    corpus = emb.where(F.col("vec_id") % 100 != 0)
    return C.decontaminate_semantic(corpus, bench, tau=0.8)


_MOJI_REPL = "\ufffd"
_MOJI_CAFE = "caf\u00c3\u00a9"            # 'caf\u00e9' double-encoded
_MOJI_APOS = "don\u00e2\u20ac\u2122t"     # "don't" UTF-8 read as cp1252
_MOJI_C1 = "x\u0085y"                      # stray C1 control (NEL)


def _moji_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministic decode-damage injections (mirrored
    verbatim in the oracle CTE below, same style as _pii_docs)."""
    d = load_table(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 19 == 0, F.lit(f" bad{_MOJI_REPL}decode")
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 23 == 0, F.lit(f" {_MOJI_CAFE}")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 29 == 0, F.lit(f" {_MOJI_APOS}")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 31 == 0, F.lit(f" {_MOJI_C1}")).otherwise(
            F.lit("")
        ),
    )
    return d.select("doc_id", "source", txt.alias("text"))


@query(
    "q_curate_encoding_anomalies",
    oracle=f"""
    WITH mdocs AS (
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 19 = 0 THEN ' bad{_MOJI_REPL}decode'
                     ELSE '' END
             || CASE WHEN doc_id % 23 = 0 THEN ' {_MOJI_CAFE}' ELSE '' END
             || CASE WHEN doc_id % 29 = 0 THEN ' {_MOJI_APOS}' ELSE '' END
             || CASE WHEN doc_id % 31 = 0 THEN ' {_MOJI_C1}' ELSE '' END
             AS text
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text,
                 '{MOJIBAKE_PATTERNS["replacement"]}')) AS n_replacement,
             len(regexp_extract_all(text,
                 '{MOJIBAKE_PATTERNS["c1_control"]}')) AS n_c1_control,
             len(regexp_extract_all(text,
                 '{MOJIBAKE_PATTERNS["double_utf8"]}')) AS n_double_utf8,
             len(regexp_extract_all(text,
                 '{MOJIBAKE_PATTERNS["win1252_punct"]}')) AS n_win1252_punct
      FROM mdocs
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_replacement) AS BIGINT) AS total_replacement,
           CAST(sum(n_c1_control) AS BIGINT) AS total_c1_control,
           CAST(sum(n_double_utf8) AS BIGINT) AS total_double_utf8,
           CAST(sum(n_win1252_punct) AS BIGINT) AS total_win1252_punct,
           CAST(sum(CASE WHEN n_replacement + n_c1_control + n_double_utf8
                              + n_win1252_punct > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged
    FROM per_doc
    GROUP BY source
    """,
)
def q_curate_encoding_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake / decode-damage census per source
    (llm/text.encoding_anomaly_counts) over a deterministically
    decode-damaged corpus (U+FFFD, C1 controls, latin-1-double-encoded
    UTF-8, cp1252-misdecoded punctuation): the encoding-quality filter a
    web pipeline runs before training. Pure regexp_count scan
    projection + one map-side aggregate; the hash pins every signature
    pattern's cross-engine semantics."""
    per_doc = encoding_anomaly_counts(_moji_docs(spark, sf_dir))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_replacement").alias("total_replacement"),
        F.sum("n_c1_control").alias("total_c1_control"),
        F.sum("n_double_utf8").alias("total_double_utf8"),
        F.sum("n_win1252_punct").alias("total_win1252_punct"),
        F.sum(F.col("is_mojibake").cast("long")).alias("n_docs_flagged"),
    )


@query(
    "q_curate_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= 20
    """,
)
def q_curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20-per-language sample: rank by md5(doc_id) within
    the stratum — uniform, reproducible, engine-independent. One shuffle
    keyed on the stratum."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return C.stratified_sample(docs, "lang", k=20)


@query(
    "q_curate_incremental_dedup",
    oracle=f"""
    WITH {SQL_AUG.strip()},
    incoming AS (SELECT doc_id, text FROM aug WHERE doc_id >= 100000),
    seen AS (SELECT DISTINCT md5(text) AS h FROM aug WHERE doc_id < 100000)
    SELECT i.doc_id, md5(i.text) AS text_md5
    FROM incoming i
    WHERE md5(i.text) NOT IN (SELECT h FROM seen)
    """,
)
def q_curate_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment exact dedup: the augmented corpus's high doc_ids
    (exact + truncated copies) arrive as the increment; exact copies of
    the existing corpus are dropped by digest anti-join (16-byte shuffle
    keys, bodies never move)."""
    aug = augmented_docs(spark, sf_dir)
    existing = aug.where(F.col("doc_id") < 100000)
    incoming = aug.where(F.col("doc_id") >= 100000)
    return C.incremental_dedup(existing, incoming).select(
        "doc_id", F.md5("text").alias("text_md5")
    )


# PII is injected deterministically (the fixture text is synthetic word
# salad with no PII), identically on both engines, so the regex path is
# exercised with nonzero counts.
def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministic PII injections (mirrors _SQL_PII_AUG)."""
    d = load_table(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-867-5309")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 13 == 0, F.lit(" ssn 123-45-6789")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 17 == 0, F.lit(" host 10.0.21.42")).otherwise(
            F.lit("")
        ),
    )
    return d.select("doc_id", "source", txt.alias("text"))


_SQL_PII_AUG = """
pdocs AS (
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789' ELSE '' END
         || CASE WHEN doc_id % 17 = 0 THEN ' host 10.0.21.42' ELSE '' END
         AS text
  FROM documents
)
"""


@query(
    "q_curate_pii_scan",
    oracle=f"""
    WITH {_SQL_PII_AUG.strip()},
    per_doc AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '{C.PII_PATTERNS["email"]}')) AS n_email,
             len(regexp_extract_all(text, '{C.PII_PATTERNS["phone"]}')) AS n_phone,
             len(regexp_extract_all(text, '{C.PII_PATTERNS["ssn"]}')) AS n_ssn,
             len(regexp_extract_all(text, '{C.PII_PATTERNS["ipv4"]}')) AS n_ipv4
      FROM pdocs
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_email) AS BIGINT) AS total_email,
           CAST(sum(n_phone) AS BIGINT) AS total_phone,
           CAST(sum(n_ssn) AS BIGINT) AS total_ssn,
           CAST(sum(n_ipv4) AS BIGINT) AS total_ipv4,
           CAST(sum(CASE WHEN n_email + n_phone + n_ssn + n_ipv4 > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged
    FROM per_doc
    GROUP BY source
    """,
)
def q_curate_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pattern census per source over the deterministically PII-
    injected corpus: regexp_count column expressions (whole-stage
    codegen, one scan), aggregated map-side."""
    per_doc = C.pii_counts(_pii_docs(spark, sf_dir))
    flagged = (
        F.col("n_email") + F.col("n_phone") + F.col("n_ssn") + F.col("n_ipv4") > 0
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("total_email"),
        F.sum("n_phone").alias("total_phone"),
        F.sum("n_ssn").alias("total_ssn"),
        F.sum("n_ipv4").alias("total_ipv4"),
        F.sum(flagged.cast("long")).alias("n_docs_flagged"),
    )


def _sql_redact_expr() -> str:
    """Nested DuckDB regexp_replace mirroring C.redact_pii's fixed chain
    (global flag — Spark's regexp_replace is always global)."""
    expr = "text"
    for name in C.REDACT_ORDER:
        expr = (
            f"regexp_replace({expr}, '{C.PII_PATTERNS[name]}', "
            f"'{C.REDACT_TOKENS[name]}', 'g')"
        )
    return expr


@query(
    "q_curate_pii_redact",
    oracle=f"""
    WITH {_SQL_PII_AUG.strip()},
    red AS (
      SELECT doc_id, source,
             {_sql_redact_expr()} AS text,
             len(regexp_extract_all(text, '{C.PII_PATTERNS["email"]}'))
           + len(regexp_extract_all(text, '{C.PII_PATTERNS["ssn"]}'))
           + len(regexp_extract_all(text, '{C.PII_PATTERNS["phone"]}'))
           + len(regexp_extract_all(text, '{C.PII_PATTERNS["ipv4"]}'))
               AS n_redacted
      FROM pdocs
    )
    SELECT doc_id, source, text, n_redacted
    FROM red WHERE n_redacted > 0
    """,
)
def q_curate_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-placeholder PII redaction (llm/curation.py:redact_pii) over
    the injected corpus, returning the flagged documents with their
    redacted text — the redacted STRINGS themselves are hash-compared
    against the oracle's mirrored replace chain, not just the counts.
    Pure map stage: codegen'd regexp chain, no shuffle, no UDF."""
    red = C.redact_pii(_pii_docs(spark, sf_dir))
    return red.where(F.col("n_redacted") > 0).select(
        "doc_id", "source", "text", "n_redacted"
    )


@query(
    "q_curate_domain_mix",
    oracle="""
    WITH cells AS (
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_chars,
           n_docs / (SELECT sum(n_docs) FROM cells) AS doc_frac,
           n_chars / (SELECT sum(n_chars) FROM cells) AS char_frac
    FROM cells
    """,
)
def q_curate_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture accounting per (source, lang) with corpus fractions — what
    a sampling stage consumes to hit target domain weights. The global
    window runs over the pre-aggregated cell table (|sources| x |langs|
    rows), so the single-partition total is trivially cheap."""
    return C.domain_mix(load_table(spark, sf_dir, "documents"))


@query(
    "q_events_sessionize",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s2 AS (
      SELECT user_id, ts, value,
             CAST(sum(brk) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS session_id
      FROM s
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS start_ts,
           max(ts) AS end_ts,
           date_sub('second', min(ts), max(ts)) AS duration_sec,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS sum_value
    FROM s2
    GROUP BY user_id, session_id
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands, operators/sessions.py):
    30-minute inactivity gap. One shuffle keyed on user_id; interval
    arithmetic keeps event time TZ-free (NTZ end-to-end)."""
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, gap="30 minutes")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.expr("timestampdiff(SECOND, min(ts), max(ts))").alias("duration_sec"),
        F.round(dsum("value", 18, 2), 2).alias("sum_value"),
    )


@query(
    "q_doc_length_histogram",
    oracle="""
    SELECT least(n_chars // 200, 19) AS bucket,
           least(n_chars // 200, 19) * 200 AS bucket_lo,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram: 200-char buckets, top-capped — integer
    division on both engines, no float boundaries. One map-side-combined
    aggregation; the classic first look at a new corpus."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.expr("n_chars DIV 200"), F.lit(19).cast("long"))
    return d.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    ).select(
        "bucket",
        (F.col("bucket") * 200).alias("bucket_lo"),
        "n_docs",
        "min_chars",
        "max_chars",
    )


@query(
    "q_curate_quantile_filter",
    oracle="""
    SELECT doc_id, lang, quality_score,
           CASE WHEN n > 1
                THEN CAST(rn - 1 AS DOUBLE) / (n - 1)
                ELSE 0.0 END AS pr
    FROM (
      SELECT doc_id, lang, quality_score,
             row_number() OVER (
               PARTITION BY lang ORDER BY quality_score, doc_id
             ) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM (
        SELECT doc_id, lang,
               CAST(length(text) AS DOUBLE)
                 / (1 + length(text) - length(replace(text, ' ', '')))
               AS quality_score
        FROM documents
      )
    )
    WHERE rn > floor(0.25 * n)
    """,
)
def q_curate_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile filtering (llm/curation.py:quantile_filter):
    drop the worst quarter of each language bucket by a quality score —
    here mean word length (chars per whitespace token), an
    integer-arithmetic score identical on both engines. Per-bucket
    quantiles self-calibrate where a global threshold would gut
    low-resource languages. The cut drops exactly floor(0.25*n) rows
    per group (row_number/count, integer-exact — small groups are never
    over-dropped). Above the size threshold the rank is the cutpoint
    plan, since the per-lang window sorts each whole language on one
    task; the histogram-offset rank is bit-identical under the same
    total (score, doc_id) order. The bucket coarsens the continuous
    mean-word-length score (range is a few tens) to floor(score*256),
    keeping the histogram small while tie sorts stay bounded by bucket
    occupancy."""
    d = load_table(spark, sf_dir, "documents")
    spaces = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" ")))
    score = F.length("text").cast("double") / (F.lit(1) + spaces)
    return C.quantile_filter(
        d,
        score,
        group_col="lang",
        drop_frac=0.25,
        rank_bucket=F.floor(F.col("quality_score") * 256),
    )


_W_CRAWL = 0.2
_W_MID = 0.5
_T_CRAWL = C.md5_threshold(_W_CRAWL)
_T_MID = C.md5_threshold(_W_MID)
_T_FULL = C.md5_threshold(1.0)


@query(
    "q_curate_weighted_sample",
    oracle=f"""
    SELECT doc_id, source, lang
    FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) <
      CASE source
        WHEN 'src0' THEN '{_T_CRAWL}'
        WHEN 'src1' THEN '{_T_CRAWL}'
        WHEN 'src2' THEN '{_T_MID}'
        ELSE '{_T_FULL}'
      END
    """,
)
def q_curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain reweighting
    (llm/curation.py:weighted_sample): downsample src0/src1 to 20%,
    src2 to 50%, keep everything else — the mixture knob of a training
    pipeline. The Bernoulli coin is md5(doc_id) compared against a
    per-domain 32-hex threshold STRING (identical semantics on any
    engine; no hex-to-int builtin differences), evaluated as a plain
    scan filter: no shuffle, no RNG state, reproducible under any
    partitioning."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return C.weighted_sample(
        d, {"src0": _W_CRAWL, "src1": _W_CRAWL, "src2": _W_MID}, default=1.0
    )


_T_EPOCH_04 = C.md5_threshold(0.4)  # fractional part of src0's 2.4 epochs
_T_EPOCH_05 = C.md5_threshold(0.5)  # src1: 0.5 epochs = pure downsample
_T_EPOCH_00 = C.md5_threshold(0.0)  # default 1.0 epochs: no top-up coin


@query(
    "q_curate_epoch_upsample",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, source, lang,
             (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END
              + CASE WHEN md5(CAST(doc_id AS VARCHAR)) <
                  CASE source WHEN 'src0' THEN '{_T_EPOCH_04}'
                              WHEN 'src1' THEN '{_T_EPOCH_05}'
                              ELSE '{_T_EPOCH_00}' END
                THEN 1 ELSE 0 END) AS n_copies
      FROM documents
    )
    SELECT doc_id, source, lang, CAST(u.epoch_idx AS INT) AS epoch_idx
    FROM n, UNNEST(range(n.n_copies)) AS u(epoch_idx)
    """,
)
def q_curate_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional dataset repetition (llm/curation.epoch_upsample):
    src0 at 2.4 epochs (every row twice + a deterministic 40% a third
    time), src1 at 0.5 (the e < 1 downsample degenerate case),
    everything else at exactly 1 — the Llama-style mixing recipe step
    the pure downsamplers cannot express. Rows repeat with a 0-based
    ``epoch_idx`` so a downstream shard shuffle interleaves copies.
    Map-side only: per-domain CASE + one md5 coin + explode(sequence);
    no shuffle anywhere."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return C.epoch_upsample(d, {"src0": 2.4, "src1": 0.5}, default=1.0)


@query(
    "q_pipeline_curation_v2",
    oracle=f"""
    WITH samp AS (
      SELECT doc_id, text, lang, source FROM documents
      WHERE md5(CAST(doc_id AS VARCHAR)) <
        CASE source
          WHEN 'src0' THEN '{_T_CRAWL}'
          WHEN 'src1' THEN '{_T_CRAWL}'
          WHEN 'src2' THEN '{_T_MID}'
          ELSE '{_T_FULL}'
        END
    ),
    scored AS (
      SELECT doc_id, lang, text,
             CAST(length(text) AS DOUBLE)
               / (1 + length(text) - length(replace(text, ' ', '')))
               AS score
      FROM samp
    ),
    ranked AS (
      SELECT doc_id, lang, text,
             row_number() OVER (
               PARTITION BY lang ORDER BY score, doc_id
             ) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM scored
    ),
    kept AS (
      SELECT doc_id, lang, text FROM ranked WHERE rn > floor(0.25 * n)
    ),
    exact AS (
      SELECT lang, text, min(doc_id) AS doc_id FROM kept GROUP BY lang, text
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM exact
    GROUP BY lang
    """,
)
def q_pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation stages composed end-to-end: weighted domain
    sampling (downsample crawl-like sources) → per-language quantile
    quality filter (drop the worst 25% of each language) → exact dedup
    within (lang, text) → per-language document/token accounting. One
    hash-checked result pins every stage's row-level decisions. All
    stages are scan filters or single keyed shuffles — the pipeline's
    cost at 100 TB is the dedup shuffle; everything before it only
    shrinks the data."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    samp = C.weighted_sample(
        d, {"src0": _W_CRAWL, "src1": _W_CRAWL, "src2": _W_MID}, default=1.0
    )
    spaces = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" ")))
    score = F.length("text").cast("double") / (F.lit(1) + spaces)
    # Rank shape: quantile_filter's cutpoint rank never sorts a whole
    # language on one task — the 100 TB shape — but its histogram and
    # tie-rank exchanges cost ~0.4 s at fixture size (0.475→0.865 s
    # measured), so it only runs when the scored projection is not
    # small. Both shapes are bit-identical (tests/test_runtime_ops.py).
    from csv2db_spark import plans
    scored = samp.select("doc_id", "lang", score.alias("quality_score"))
    # reuse: the cutpoint plan's histogram, tie-rank leg and group totals
    # read the scored sample; the window plan reads it once
    staged = (
        scored if plans.small_input(scored) else stage.materialize_stage(scored)
    )
    kept_ids = C.quantile_filter(
        staged,
        F.col("quality_score"),
        group_col="lang",
        drop_frac=0.25,
        rank_bucket=F.floor(F.col("quality_score") * 4096),
    ).select("doc_id")
    kept = samp.join(kept_ids, "doc_id")
    exact = kept.groupBy("lang", "text").agg(F.min("doc_id").alias("doc_id"))
    return exact.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )


# ------------------------------------------------- URL / domain dedup

# The fixtures carry no URL column, so the gates synthesize a
# deterministic URL per document from fixture fields — the SAME
# expression on both engines — exercising every canonicalization rule:
# uppercase scheme/host, www., default port, trailing slash, tracking
# params, unsorted query, fragment.
_SYNTH_URL_SQL = """concat(
      'HTTPS://',
      CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
      'Site-', CAST(doc_id % 50 AS VARCHAR), '.Example.COM',
      CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
      '/Docs/', lang, '/page-', CAST(doc_id % 200 AS VARCHAR),
      CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
      '?b=2&utm_source=feed&a=1',
      CASE WHEN doc_id % 5 = 0 THEN '&gclid=xyz' ELSE '' END,
      '#sec-', CAST(doc_id AS VARCHAR))"""

# DuckDB replica of llm/web.py:canonical_url over the synthesized urls:
# produces CTE `canon` with (doc_id, canon_url)
_CANON_SQL = f"""
    urls AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
    st AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS u FROM urls),
    pp AS (
      SELECT doc_id, url,
        lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          AS scheme,
        lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
          AS hostport,
        regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1)
          AS rest
      FROM st),
    p2 AS (
      SELECT doc_id, url, scheme,
        CASE WHEN scheme = 'http'
               THEN regexp_replace(
                      regexp_replace(hostport, '^www\\.', ''), ':80$', '')
             WHEN scheme = 'https'
               THEN regexp_replace(
                      regexp_replace(hostport, '^www\\.', ''), ':443$', '')
             ELSE regexp_replace(hostport, '^www\\.', '') END AS host,
        regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '')
          AS path0,
        regexp_extract(rest, '\\?(.*)$', 1) AS query
      FROM pp),
    p3 AS (
      SELECT doc_id, url, scheme, host,
        CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        array_to_string(list_sort(list_filter(string_split(query, '&'),
          x -> x <> '' AND NOT regexp_matches(x,
            '^(utm_[a-z0-9]+|gclid|fbclid|msclkid|mc_cid|mc_eid|ref|ref_src)=')
        )), '&') AS qs
      FROM p2),
    canon AS (
      SELECT doc_id,
        CASE WHEN scheme = '' THEN url
             ELSE concat(scheme, '://', host, path,
                    CASE WHEN qs = '' THEN ''
                         ELSE concat('?', qs) END) END AS canon_url
      FROM p3)
"""


def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site-"),
        (did % 50).cast("string"),
        F.lit(".Example.COM"),
        F.when(did % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"),
        F.col("lang"),
        F.lit("/page-"),
        (did % 200).cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?b=2&utm_source=feed&a=1"),
        F.when(did % 5 == 0, F.lit("&gclid=xyz")).otherwise(F.lit("")),
        F.lit("#sec-"),
        did.cast("string"),
    )
    return d.select("doc_id", url.alias("url"))


@query(
    "q_curate_url_canonicalize",
    oracle=f"WITH {_CANON_SQL.strip()} SELECT doc_id, canon_url FROM canon",
)
def q_curate_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (llm/web.py:canonical_url): per-document
    canonical form — scheme/host lowercased, www. and default port
    dropped, fragment and tracking params removed, query params sorted,
    trailing slash stripped. Hash-checked ROW BY ROW against a DuckDB
    replica of the same rules, so every regex and the param-sort order
    are pinned. Pure scan-stage projection: no shuffle, no UDF — at
    100 TB canonicalization is free relative to the read."""
    from csv2db_spark.llm.web import canonical_url

    docs = _docs_with_urls(spark, sf_dir)
    return docs.select(
        "doc_id", canonical_url(F.col("url")).alias("canon_url")
    )


@query(
    "q_curate_url_dedup",
    oracle=f"""
    WITH {_CANON_SQL.strip()}
    SELECT canon_url, min(doc_id) AS keeper_id, count(*) AS n_dupes
    FROM canon GROUP BY canon_url
    """,
)
def q_curate_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (llm/web.py:url_dedup): group refetch variants of
    the same page (case, ports, www, tracking params, param order,
    trailing slash, fragments) under their canonical URL; keeper is the
    smallest doc_id — deterministic. The synthesized corpus collapses
    ~10x (doc_id mod 200 x lang), a realistic crawl dedup rate. One
    map-side-combined shuffle on the canonical string."""
    from csv2db_spark.llm.web import url_dedup

    return url_dedup(_docs_with_urls(spark, sf_dir))


@query(
    "q_curate_domain_stats",
    oracle=f"""
    WITH {_CANON_SQL.strip()},
    per_url AS (
      SELECT canon_url, count(*) AS n_pages FROM canon GROUP BY canon_url
    )
    SELECT
      regexp_replace(regexp_replace(lower(regexp_extract(canon_url,
        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', ''),
        ':[0-9]+$', '') AS domain,
      CAST(sum(n_pages) AS BIGINT) AS n_pages,
      count(*) AS n_urls,
      CAST(sum(n_pages) AS DOUBLE) / count(*) AS pages_per_url
    FROM per_url GROUP BY 1
    """,
)
def q_curate_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level crawl accounting (llm/web.py:domain_stats): per
    registered host, page fetches vs distinct canonical URLs and their
    ratio — the signal behind per-domain caps and mirror detection.
    pages_per_url is ONE IEEE double division of exact integers, so it
    hash-compares bit-for-bit. Inner rollup reuses the URL-dedup
    shuffle; the outer aggregate is |distinct urls| rows."""
    from csv2db_spark.llm.web import domain_stats

    return domain_stats(_docs_with_urls(spark, sf_dir))


@query(
    "q_curate_assign_split",
    oracle="""
    SELECT CASE
             WHEN md5(CAST(doc_id AS VARCHAR))
                  < 'e6666666666668000000000000000000' THEN 'train'
             WHEN md5(CAST(doc_id AS VARCHAR))
                  < 'f3333333333330000000000000000000' THEN 'val'
             ELSE 'test'
           END AS split,
           lang,
           count(*) AS n_docs,
           min(doc_id) AS min_doc_id
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_curate_assign_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment
    (llm/curation.py:assign_split, 90/5/5): membership is md5(doc_id)
    against cumulative threshold strings, so documents never migrate
    between splits across runs, engines, or corpus growth — the
    leakage-safe split every training pipeline needs. Gate aggregates
    per (split, lang) with a min-id witness pinning actual membership,
    not just counts. Scan-only: no shuffle beyond the tiny aggregate."""
    d = C.assign_split(load_table(spark, sf_dir, "documents"))
    return d.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(
    "q_curate_source_overlap",
    oracle=f"""
    WITH t AS (SELECT source, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT source AS src, s
      FROM (
        SELECT source, unnest({{sh}}) AS s FROM t
      )
    ),
    sz AS (SELECT src, count(*) AS n FROM sh GROUP BY 1),
    iv AS (
      SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT iv.src_a, iv.src_b, iv.n_common,
           CAST(iv.n_common AS DOUBLE) / (sa.n + sb.n - iv.n_common)
             AS jaccard
    FROM iv
    JOIN sz sa ON iv.src_a = sa.src
    JOIN sz sb ON iv.src_b = sb.src
    """.replace("{sh}", SQL_SHINGLES.format(t="t")),
)
def q_curate_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix
    (llm/curation.py:source_overlap): shared distinct 3-gram shingles
    and exact-count Jaccard for every source pair — the check that
    catches one dataset bleeding into another before mixing. The
    corpus-side cost is the distinct-shingle shuffle dedup already
    pays; the pair join fans out at most |sources|² per shingle."""
    from csv2db_spark.llm.curation import source_overlap

    return source_overlap(load_table(spark, sf_dir, "documents"))


@query(
    "q_pipeline_curation_v3",
    oracle=f"""
    WITH {_CANON_SQL.strip()},
    keepers AS (
      SELECT min(doc_id) AS doc_id FROM canon GROUP BY canon_url
    ),
    kept AS (
      SELECT d.doc_id, d.text, d.lang FROM documents d
      JOIN keepers k ON d.doc_id = k.doc_id
    ),
    m AS (
      SELECT doc_id, lang,
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
      FROM kept
    ),
    quality AS (
      SELECT doc_id, lang, n_words FROM m
      WHERE n_words >= 50 AND n_words <= 100000
        AND n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
        AND 10 * n_symbols <= n_words
        AND stop_hits >= 2
    )
    SELECT CASE
             WHEN md5(CAST(doc_id AS VARCHAR))
                  < 'e6666666666668000000000000000000' THEN 'train'
             WHEN md5(CAST(doc_id AS VARCHAR))
                  < 'f3333333333330000000000000000000' THEN 'val'
             ELSE 'test'
           END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens
    FROM quality
    GROUP BY 1, 2
    """,
)
def q_pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation stages composed end-to-end: URL-level dedup
    (canonicalize synthesized refetch URLs, keep min doc_id per
    canonical) → Gopher-rule quality filter → leakage-safe md5 split
    assignment → per-(split, lang) document/token accounting. One
    hash-checked result pins every stage's row-level decisions — a
    wrong canonical form, a mis-fired quality rule, or a moved split
    boundary all change the hash. Cost shape at 100 TB: the URL-dedup
    groupBy is the only corpus shuffle (short string keys);
    canonicalization, quality flags, and split assignment are all
    scan-stage projections."""
    from csv2db_spark.llm.curation import assign_split
    from csv2db_spark.llm.text import gopher_quality
    from csv2db_spark.llm.web import url_dedup

    docs = load_table(spark, sf_dir, "documents")
    keepers = (
        url_dedup(_docs_with_urls(spark, sf_dir))
        .select(F.col("keeper_id").alias("doc_id"))
    )
    kept = docs.join(keepers, "doc_id").select("doc_id", "text", "lang")
    flags = gopher_quality(kept).where("keep").select("doc_id", "n_words")
    quality = kept.join(flags, "doc_id").select("doc_id", "lang", "n_words")
    split = assign_split(quality)
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    )


@query(
    "q_curate_chunk_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    nc AS (
      SELECT doc_id, tk,
             greatest(
               CAST(floor((len(tk) - 32 + 95) / 96) AS INT), 1
             ) AS n_chunks
      FROM t
    )
    SELECT doc_id,
           CAST(u.ci AS INT) AS chunk_id,
           CAST(len(tk[u.ci * 96 + 1 : u.ci * 96 + 128]) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(tk[u.ci * 96 + 1 : u.ci * 96 + 128], ' ')
             AS chunk_text
    FROM nc, unnest(generate_series(0, n_chunks - 1)) u(ci)
    """,
)
def q_curate_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget overlapping chunking
    (llm/curation.py:chunk_documents, 128-token chunks, 32 overlap):
    the prep step before embedding/long-context training. Chunk count
    is integer ceiling division, extraction is a codegen slice over the
    token array — zero shuffle, the op rides the scan and chunks land
    partitioned like their documents. Every chunk's text is
    hash-checked, so boundary arithmetic (stride, clamping at the doc
    tail, short-doc passthrough) is pinned row by row."""
    from csv2db_spark.llm.curation import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=128, overlap=32
    )


@query(
    "q_curate_vocab_coverage",
    oracle="""
    WITH counts AS (
      SELECT t, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      GROUP BY t
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY cnt DESC, t) AS rank,
             sum(cnt) OVER (ORDER BY cnt DESC, t
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER () AS total
      FROM counts
    )
    SELECT rank AS rank_cutoff,
           CAST(cum AS BIGINT) AS n_covered,
           CAST(total AS BIGINT) AS n_total,
           CAST(cum AS DOUBLE) / total AS coverage
    FROM ranked WHERE rank IN (5, 10, 20)
    """,
)
def q_curate_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (llm/curation.py:vocab_coverage): the
    token-occurrence fraction covered by the top-10/100/1000 tokens —
    the tokenizer-budget / OOV-rate measurement. Frequency ties break
    on the token string (total order), cumulative sums are exact
    integers, coverage is one IEEE division. The corpus-linear cost is
    one combined token count; the ranking window touches |vocab| rows
    only."""
    from csv2db_spark.llm.curation import vocab_coverage

    return vocab_coverage(
        load_table(spark, sf_dir, "documents"), ranks=(5, 10, 20)
    )


# ------------------------------------------------------- text normalization

# Deterministic mess injected over the pristine fixture texts so the
# normalizer has real work; every injected artifact is expressible
# identically in both engines (chr() for control chars).
_SQL_MESSY = """
messy AS (
  SELECT doc_id,
         '“Quoted”' || chr(9) || '— ' || text
           || '  ' || chr(11) || ' Tail’s end  ' AS text
  FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id >= 40 AND doc_id < 60
)
"""


def _sql_normalize_expr(col: str) -> str:
    """Mirror of llm/curation.NORMALIZE_RULES + trim + lower."""
    from csv2db_spark.llm.curation import NORMALIZE_RULES

    expr = col
    for pat, rep in NORMALIZE_RULES:
        p, r = pat.replace("'", "''"), rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{r}', 'g')"
    return f"lower(trim({expr}))"


@query(
    "q_curate_normalize_text",
    oracle=f"""
    WITH {_SQL_MESSY.strip()}
    SELECT doc_id,
           {_sql_normalize_expr('text')} AS text,
           {_sql_normalize_expr('text')} <> text AS was_changed
    FROM messy
    """,
)
def q_curate_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (llm/curation.normalize_text):
    control chars out, curly quotes/dashes folded to ASCII, NBSP to
    space, whitespace collapsed, trimmed, lowercased — the normalized
    STRINGS are hash-compared against the oracle's identical rule
    chain over a deterministically messed-up corpus slice (the raw
    fixture is already clean, so docs 40-59 also prove the
    was_changed=false path... modulo lowercasing). Pure codegen map
    stage — no UDF, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    messy = docs.where(F.col("doc_id") < 40).select(
        "doc_id",
        F.concat(
            F.lit("“Quoted”\t— "),
            F.col("text"),
            F.lit("  \x0b Tail’s end  "),
        ).alias("text"),
    )
    clean = docs.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 60))
    from csv2db_spark.llm.curation import normalize_text

    return normalize_text(messy.unionByName(clean), lowercase=True)


# --------------------------------------------------------- pseudonymization

_PSEUDO_SALT = "rotate-me-2026"


@query(
    "q_curate_pseudonymize",
    oracle=f"""
    SELECT 'pid_' || substr(
             md5('{_PSEUDO_SALT}' || '|' || CAST(user_id AS VARCHAR)), 1, 16
           ) AS user_token,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY 1
    """,
)
def q_curate_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII tokenization (llm/curation.pseudonymize):
    user_id becomes a salted md5 surrogate, then the usual per-user
    aggregation runs on TOKENS — proving analyses survive
    pseudonymization byte-for-byte (the oracle derives the same tokens
    independently). Tokenization is a pure map stage; the aggregation
    shuffles tokens (16 hex chars) instead of raw ids."""
    from csv2db_spark.llm.curation import pseudonymize

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    p = pseudonymize(ev, ["user_id"], salt=_PSEUDO_SALT)
    return (
        p.groupBy(F.col("user_id").alias("user_token"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


# --------------------------------------------------------------- domain cap


@query(
    "q_curate_domain_cap",
    oracle="""
    SELECT doc_id, source, cap_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('cap' || '|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS cap_rank
      FROM documents
    ) WHERE cap_rank <= 5
    """,
)
def q_curate_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (llm/curation.domain_cap, k=5): at most
    five docs per source, picked by the deterministic md5 permutation —
    the guard against one domain flooding a training mix. Exact
    membership (not just counts) is hash-verified."""
    from csv2db_spark.llm.curation import domain_cap

    return domain_cap(
        load_table(spark, sf_dir, "documents").select("doc_id", "source"),
        group_col="source",
        k=5,
    )


# -------------------------------------------------- score normalization


@query(
    "q_curate_score_quantile_norm",
    oracle="""
    SELECT doc_id, source, n_chars,
           percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
             AS pct
    FROM documents
    """,
)
def q_curate_score_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source percent-rank of a quality score
    (llm/curation.score_quantile_normalize) — makes scores comparable
    across heterogeneous sources before a corpus-wide quantile filter.
    (rank-1)/(n-1) is an exact integer ratio, so the normalized scores
    hash-match. Above the size threshold the rank is the cutpoint plan
    instead of one window per source (a single-task sort of the
    dominant source); n_chars is an integer, so it is its own bounded
    histogram bucket — no coarsening expression needed."""
    from csv2db_spark.llm.curation import score_quantile_normalize

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return score_quantile_normalize(docs, "source", "n_chars")


@query(
    "q_curate_importance_weights",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang = 'en' AS tgt,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id, tgt,
             CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % 64 AS bucket
      FROM tok
    ),
    pb AS (
      SELECT bucket,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS cnt_t,
             sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cnt_r
      FROM h GROUP BY bucket
    ),
    tot AS (SELECT sum(cnt_t) AS tot_t, sum(cnt_r) AS tot_r FROM pb),
    p AS (
      SELECT bucket,
             CAST((cnt_t + 1) * 1000000 AS BIGINT) // CAST(tot_t + 64 AS BIGINT) AS p_t,
             CAST((cnt_r + 1) * 1000000 AS BIGINT) // CAST(tot_r + 64 AS BIGINT) AS p_r
      FROM pb, tot
    ),
    w AS (
      SELECT bucket, (p_t * 1000000) // greatest(p_r, 1) AS w FROM p
    ),
    tf AS (
      SELECT doc_id, bucket, count(*) AS tf
      FROM h WHERE NOT tgt GROUP BY 1, 2
    )
    SELECT t.doc_id, CAST(sum(t.tf * w.w) AS BIGINT) AS score
    FROM tf t JOIN w USING (bucket)
    GROUP BY t.doc_id
    """,
)
def q_curate_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scores (llm/curation.importance_weights):
    non-English documents (the selection pool) scored against the
    English subset (the target distribution) over 64 hashed unigram
    buckets — the two-count-vector importance-resampling recipe, with
    every Laplace probability and ratio an explicit integer floor so
    the driver hash-verifies each document's exact score. Model state
    is 64 rows broadcast over the pool; the target corpus never joins
    the pool row-to-row."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_is_en", F.col("lang") == "en"
    )
    return C.importance_weights(docs, "_is_en")


@query(
    "q_curate_token_budget",
    oracle="""
    WITH sized AS (
      SELECT doc_id, source AS "group",
             len(string_split(text, ' ')) AS n_tokens,
             sum(len(string_split(text, ' '))) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM documents
    )
    SELECT doc_id, "group",
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM sized WHERE cum_tokens <= 400
    """,
)
def q_curate_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus assembly (llm/curation.token_budget_sample):
    400 tokens admitted per source in stable md5 rank order — the
    budget-in-tokens sampler a target mix needs where doc-count
    sampling can't serve (doc lengths vary by orders of magnitude).
    The hash pins the exact admitted set and every cumulative count;
    growth-stability and the one-window shape are the same arguments as
    assign_split's."""
    docs = load_table(spark, sf_dir, "documents")
    return C.token_budget_sample(docs, budget_tokens=400)


@query(
    "q_pipeline_curation_v5",
    oracle=f"""
    WITH {SQL_AUG.strip()},
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
    win AS (
      SELECT doc_id,
             unnest(range(1, len(t) - 5 + 2)) AS i,
             unnest(list_transform(
               range(1, len(t) - 5 + 2),
               i -> md5(array_to_string(t[i:i+4], ' '))
             )) AS h
      FROM toks WHERE len(t) >= 5
    ),
    doomed AS (
      SELECT doc_id, i FROM (
        SELECT doc_id, i,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
        FROM win
      ) WHERE rn > 1
    ),
    isl AS (
      SELECT doc_id, i,
             CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                  <= 5 THEN 0 ELSE 1 END AS brk
      FROM doomed
    ),
    grp AS (
      SELECT doc_id, i,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM isl
    ),
    spans AS (
      SELECT doc_id, min(i) AS s, max(i) + 4 AS e
      FROM grp GROUP BY doc_id, g
    ),
    pos_t AS (
      SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, unnest(t) AS tok
      FROM toks
    ),
    kept_tok AS (
      SELECT p.doc_id, p.i, p.tok
      FROM pos_t p ANTI JOIN spans s
        ON p.doc_id = s.doc_id AND p.i BETWEEN s.s AND s.e
    ),
    trimmed AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text
      FROM kept_tok GROUP BY doc_id
    ),
    labeled AS (
      SELECT t.doc_id, t.text, d.lang, d.lang = 'en' AS pos
      FROM trimmed t JOIN documents d ON d.doc_id = t.doc_id % 100000
    ),
    tok2 AS (
      SELECT doc_id, pos, unnest(string_split(text, ' ')) AS tok
      FROM labeled
    ),
    h2 AS (
      SELECT doc_id, pos,
             CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % 64 AS bucket
      FROM tok2
    ),
    pb AS (
      SELECT bucket,
             sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cnt_pos,
             sum(CASE WHEN pos THEN 0 ELSE 1 END) AS cnt_neg
      FROM h2 GROUP BY bucket
    ),
    tot AS (SELECT sum(cnt_pos) AS tot_pos, sum(cnt_neg) AS tot_neg FROM pb),
    wt AS (
      SELECT bucket,
             CAST(cnt_pos * tot_neg - cnt_neg * tot_pos AS BIGINT) AS w
      FROM pb, tot
    ),
    tf AS (SELECT doc_id, bucket, count(*) AS tf FROM h2 GROUP BY 1, 2),
    scored AS (
      SELECT t.doc_id, CAST(sum(t.tf * wt.w) AS BIGINT) AS score
      FROM tf t JOIN wt USING (bucket) GROUP BY t.doc_id
    ),
    keep AS (
      SELECT l.doc_id, l.text, l.lang
      FROM labeled l JOIN scored s ON l.doc_id = s.doc_id
      WHERE s.score > 0
    ),
    sized AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             sum(len(string_split(text, ' '))) OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM keep
    ),
    admitted AS (SELECT * FROM sized WHERE cum_tokens <= 600)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(max(cum_tokens) AS BIGINT) AS max_cum
    FROM admitted GROUP BY lang
    """,
)
def q_pipeline_curation_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v5 — this session's operators composed end to
    end, every intermediate exact: (1) keep-first substring dedup
    rebuilds the augmented corpus's text (llm/dedup.
    remove_duplicated_spans — exact and near copies lose their repeated
    passages); (2) a hashed-feature linear classifier trains ON THE
    TRIMMED corpus against the lang supervision and keeps
    predicted-English docs (llm/text.hashed_linear_classifier); (3) a
    600-token-per-lang budget admits survivors in stable hash order
    (llm/curation.token_budget_sample); (4) per-lang accounting. The
    oracle replays all four stages in one SQL pipeline — a single token
    drifting anywhere in the chain breaks the hash. Order matters and
    is the production order: dedup before training the filter (else
    duplicated passages dominate its counts), budget last (it must see
    final token counts)."""
    from csv2db_spark.llm import dedup as D
    from csv2db_spark.llm import text as X
    docs = augmented_docs(spark, sf_dir)
    trimmed = D.remove_duplicated_spans(docs, w=5).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    base = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"), "lang"
    )
    # reuse: the classifier and the keep join read labeled
    labeled = stage.materialize_stage(
        trimmed.join(
            F.broadcast(base), trimmed["doc_id"] % 100000 == base["base_id"]
        ).select(
            "doc_id", "text", "lang", (F.col("lang") == "en").alias("_pos")
        )
    )
    scored = X.hashed_linear_classifier(labeled, "_pos")
    keep = labeled.join(
        scored.where(F.col("predicted_pos")).select("doc_id"), "doc_id"
    )
    admitted = C.token_budget_sample(
        keep, budget_tokens=600, group_col="lang", text_col="text"
    )
    return admitted.groupBy(F.col("group").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.max("cum_tokens").alias("max_cum"),
    )


@query(
    "q_pipeline_curation_v6",
    oracle=f"""
    WITH {SQL_AUG.strip()},
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
    sh6 AS (SELECT doc_id, {SQL_SHINGLES.format(t="t")} AS s FROM toks),
    ex6 AS (SELECT doc_id, unnest(s) AS s FROM sh6),
    exf6 AS (
      SELECT doc_id, s FROM ex6
      WHERE s NOT IN (SELECT s FROM ex6 GROUP BY s
                      HAVING count(DISTINCT doc_id) > 64)
    ),
    sizes6 AS (SELECT doc_id, count(*) AS n FROM exf6 GROUP BY doc_id),
    inter6 AS (
      SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b, count(*) AS n_common
      FROM exf6 e1 JOIN exf6 e2 ON e1.s = e2.s AND e1.doc_id != e2.doc_id
      GROUP BY e1.doc_id, e2.doc_id
    ),
    dropped AS (
      SELECT DISTINCT i.doc_a AS doc_id
      FROM inter6 i JOIN sizes6 sz ON sz.doc_id = i.doc_a
      WHERE (1000 * i.n_common) // sz.n >= 900 AND i.doc_a > i.doc_b
    ),
    kept1 AS (
      SELECT a.doc_id, a.text, d.lang, d.source
      FROM aug a
      JOIN documents d ON d.doc_id = a.doc_id % 100000
      WHERE a.doc_id NOT IN (SELECT doc_id FROM dropped)
    ),
    ktoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept1),
    kpos AS (
      SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS tok
      FROM ktoks
    ),
    kocc AS (
      SELECT p1.doc_id, p1.tok AS a, p2.tok AS b
      FROM kpos p1
      JOIN kpos p2 ON p1.doc_id = p2.doc_id AND p2.i = p1.i + 1
    ),
    refocc AS (
      SELECT o.* FROM kocc o JOIN kept1 k USING (doc_id)
      WHERE k.source IN ('src0', 'src1', 'src2', 'src3', 'src4')
    ),
    pc6 AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS cnt_pair
      FROM refocc GROUP BY a, b
    ),
    pfx6 AS (
      SELECT a, CAST(sum(cnt_pair) AS BIGINT) AS cnt_prefix
      FROM pc6 GROUP BY a
    ),
    v6 AS (
      SELECT pc6.a, pc6.b, (1000000 * pc6.cnt_pair) // pfx6.cnt_prefix AS q
      FROM pc6 JOIN pfx6 ON pc6.a = pfx6.a
    ),
    scored6 AS (
      SELECT kocc.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(COALESCE(v6.q, 0)) AS DOUBLE) / 1000000.0
               / CAST(count(*) AS DOUBLE) AS avg_prob
      FROM kocc LEFT JOIN v6 ON kocc.a = v6.a AND kocc.b = v6.b
      GROUP BY kocc.doc_id
    ),
    bucketed AS (
      SELECT k.doc_id, k.lang, k.source, s.n_bigrams,
             ntile(3) OVER (PARTITION BY k.lang
                            ORDER BY s.avg_prob DESC, k.doc_id) AS b
      FROM scored6 s JOIN kept1 k USING (doc_id)
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams
    FROM bucketed WHERE b <= 2
    GROUP BY lang, source
    """,
)
def q_pipeline_curation_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v6 — this session's operators composed end to
    end and replayed stage-for-stage by one SQL oracle: (1) directed
    shingle-containment dedup (llm/dedup.containment_pairs ≥900‰, keep
    the smaller id — the truncated-prefix clones drop against their
    originals where Jaccard would keep them); (2) reference-LM scoring
    of the SURVIVORS (llm/text.bigram_lm_scores trained on the kept
    src0-src4 slice — the model never sees dropped duplicates, so
    boilerplate can't inflate its own likelihood); (3) per-language
    CCNet tail-drop (ntile(3), keep head+middle); (4) per (lang,
    source) accounting."""
    return curation_v6_pipeline(spark, sf_dir)


def curation_v6_pipeline(
    spark: SparkSession,
    sf_dir: str,
    materialize: str = "local",
    stage_path: str | None = None,
) -> DataFrame:
    """The v6 pipeline body with its scale knobs exposed:
    ``materialize`` picks how the multi-consumer survivor set persists
    (operators/stage.materialize_stage). The gate defaults to 'local'
    (eager localCheckpoint — right at gate scale, but executor-cached:
    an executor loss on a real cluster kills the truncated lineage and
    the job restarts); a 100 TB run passes 'reliable' + a staging dir so
    the boundary is durable parquet. The CCNet tercile plan is picked
    from the size of the two staged tables it joins: the plain
    per-language ntile at fixture size, operators/ranking.grouped_ntile's
    histogram-offset rank with no whole-group sort above the threshold,
    where the window would be a single-task sort of the dominant
    language. Both shapes
    are row-for-row equal (tests/test_plan_shapes.py), so the gate
    hashes identically."""
    from csv2db_spark.llm import dedup as D
    from csv2db_spark.llm.text import bigram_lm_scores
    # lang/source ride the augmented corpus from the scan (with_meta),
    # so survivors need no join back to `documents` on doc_id % 100000
    # (A/B measured at sf0.1, PLANS.md). The shingle subtree still
    # reads only (doc_id, text): Catalyst prunes lang/source below the
    # explode.
    aug = augmented_docs(spark, sf_dir, with_meta=True)
    # distinct=False + pair_filter: containment_pairs dedups (doc_id, s)
    # on its own shared postings exchange, and this pipeline only ever
    # keeps the doc_a > doc_b direction, so the directed filter runs
    # BEFORE the pair-count aggregate — half the pair shuffle for
    # bit-identical drop decisions.
    ex = D.shingle_table(aug.select("doc_id", "text"), distinct=False)
    cont = D.containment_pairs(
        ex,
        min_permille=900,
        max_doc_freq=64,
        pair_filter="a_gt_b",
        materialize=materialize,
        stage_path=stage_path,
    )
    dropped = (
        cont.where(F.col("doc_a") > F.col("doc_b"))
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    kept1 = aug.join(dropped, "doc_id", "left_anti")
    # reuse: LM training, LM scoring and the final join read kept1
    kept1 = stage.materialize_stage(kept1, mode=materialize, path=stage_path)
    ref = kept1.where(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    scored = bigram_lm_scores(kept1, train_docs=ref)
    # reuse: the tercile histogram, the rank attach and the rollup read
    # scored
    scored = stage.materialize_stage(scored, mode=materialize, path=stage_path)
    from csv2db_spark.operators.ranking import grouped_ntile

    # the ntile input joins the two staged tables, so it is sized by
    # their stored bytes, not by the join's product estimate
    bucketed = grouped_ntile(
        scored.join(kept1.select("doc_id", "lang", "source"), "doc_id"),
        "lang",
        "avg_next_token_prob",
        "doc_id",
        3,
        descending=True,
        out_col="b",
        # order-coarsening for the continuous probability (see
        # operators/ranking.grouped_rank): histogram stays 4096 cells
        bucket=F.floor(F.col("avg_next_token_prob") * 4096),
    )
    return (
        bucketed.where(F.col("b") <= 2)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("total_bigrams"),
        )
    )


@query(
    "q_curate_dataset_card",
    oracle="""
    WITH base AS (
      SELECT source, lang, len(string_split(text, ' ')) AS ntok
      FROM documents
    ),
    med AS (
      SELECT source, ntok AS median_tokens FROM (
        SELECT source, ntok,
               row_number() OVER (PARTITION BY source ORDER BY ntok) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM base
      ) WHERE rn = CAST(ceil(n / 2.0) AS INT)
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(sum(ntok) AS BIGINT) AS total_tokens,
             CAST(sum(ntok) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS mean_tokens,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
      FROM base GROUP BY source
    )
    SELECT a.source, a.n_docs, a.n_langs, a.total_tokens, a.mean_tokens,
           CAST(m.median_tokens AS BIGINT) AS median_tokens,
           CAST((1000 * a.n_en) // a.n_docs AS BIGINT) AS en_permille
    FROM agg a JOIN med m USING (source)
    """,
)
def q_curate_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card accounting block (llm/curation.dataset_card): per
    source, exact doc/lang/token counts, mean and lower-median document
    length (an order statistic, never an interpolation), and English
    share in floor-permille — every figure integer-derived so the whole
    datasheet hash-verifies. One corpus groupBy + one window for the
    median rank."""
    from csv2db_spark.llm.curation import dataset_card

    return dataset_card(load_table(spark, sf_dir, "documents"))


_HTML_WRAP_SQL = (
    "'<html><head><style>p{{color:red}}</style></head><body><p>' || text"
    " || '</p><!-- footer --><script>var a=1;</script>&amp; extra</body></html>'"
).format()


@query(
    "q_text_strip_html",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_HTML_WRAP_SQL} AS text FROM documents
    ),
    s AS (
      SELECT doc_id, length(text) AS n_chars_raw,
             trim(regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(regexp_replace(
               text,
               '(?s)<script\\b[^>]*>.*?</script>', ' ', 'g'),
               '(?s)<style\\b[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
               '<[^>]+>', ' ', 'g'),
               '&nbsp;', ' ', 'g'),
               '&amp;', '&', 'g'),
               '&lt;', '<', 'g'),
               '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
               '&#39;', '''', 'g'),
               '\\s+', ' ', 'g')) AS text
      FROM raw
    )
    SELECT doc_id, n_chars_raw, text, length(text) AS n_chars_text FROM s
    """,
)
def q_text_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate extraction (llm/curation.strip_html): documents
    wrapped in deterministic markup — style block, tags, a comment, a
    script body, an &amp; entity — must come back as the original text
    plus the decoded '& extra' tail, with raw/text char counts (the
    markup-ratio signal). The rule chain is data (HTML_STRIP_RULES) and
    the oracle replays it verbatim; pure codegen map, no shuffle."""
    from csv2db_spark.llm.curation import strip_html

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>p{color:red}</style></head><body><p>"),
            F.col("text"),
            F.lit(
                "</p><!-- footer --><script>var a=1;</script>"
                "&amp; extra</body></html>"
            ),
        ).alias("text"),
    )
    return strip_html(docs)


@query(
    "q_curate_line_filter",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             text || '.' || chr(10) || 'lorem ipsum dolor sit amet.'
               || chr(10) || 'Buy now {instantly}.'
               || chr(10) || 'Short line.'
               || chr(10) || 'Please accept our cookie banner today.'
               || chr(10) || 'A perfectly good closing sentence stays.'
               AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id, i AS pos, trim(l[i]) AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM raw),
           unnest(range(1, 7)) r(i)
    ),
    flagged AS (
      SELECT doc_id, pos, line,
             regexp_matches(line, '[.!?"'']$')
             AND len(string_split_regex(line, '\\s+')) >= 3
             AND NOT contains(lower(line), 'lorem ipsum')
             AND NOT contains(lower(line), 'javascript')
             AND NOT contains(lower(line), 'cookie')
             AND NOT contains(lower(line), 'privacy policy')
             AND NOT contains(line, '{') AS keep
      FROM lines
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS text,
             CAST(count(*) AS BIGINT) AS n_lines_kept
      FROM flagged WHERE keep GROUP BY doc_id
    ),
    dropped AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
               AS n_lines_dropped
      FROM flagged GROUP BY doc_id
    )
    SELECT r.doc_id, r.text, r.n_lines_kept, d.n_lines_dropped
    FROM rebuilt r JOIN dropped d USING (doc_id)
    """,
)
def q_curate_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (llm/curation.c4_line_filter — Raffel et
    al. §2.2, the complement of document-level Gopher rules): each doc
    is staged as six lines — its own text plus five boilerplate lines
    (lorem ipsum, curly-brace junk, a 2-word line, a cookie notice, one
    legitimate closer) — and the filter must keep exactly the
    punctuation-terminated ≥3-word non-boilerplate lines and rebuild
    the document in position order. posexplode → codegen predicates →
    one doc-keyed sorted rebuild; kept/dropped accounting per doc."""
    from csv2db_spark.llm.curation import c4_line_filter

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(
                ".\nlorem ipsum dolor sit amet."
                "\nBuy now {instantly}."
                "\nShort line."
                "\nPlease accept our cookie banner today."
                "\nA perfectly good closing sentence stays."
            ),
        ).alias("text"),
    )
    return c4_line_filter(docs)


@query(
    "q_curate_shard_shuffle",
    oracle="""
    WITH k AS (
      SELECT doc_id,
             md5('epoch0' || CAST(doc_id AS VARCHAR)) AS rk
      FROM documents
    ),
    s AS (
      SELECT doc_id, rk,
             CAST('0x' || substr(rk, 1, 12) AS BIGINT) % 8 AS shard
      FROM k
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY rk, doc_id)
                AS INT) AS position
    FROM s
    """,
)
def q_curate_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding
    (llm/curation.shard_assignments): the terminal step before training
    examples are written — shard = md5-prefix mod 8, within-shard order
    = md5 rank (salted, so a new epoch salt is a fresh permutation of
    the SAME data, reproducible by any worker with no RNG state). One
    window sort per shard; scales out with n_shards."""
    from csv2db_spark.llm.curation import shard_assignments

    return shard_assignments(
        load_table(spark, sf_dir, "documents"), n_shards=8, salt="epoch0"
    )


@query(
    "q_pipeline_curation_v7",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             text || '.' || chr(10) || 'lorem ipsum dolor sit amet.'
               || chr(10) || 'Buy now {instantly}.'
               || chr(10) || 'A perfectly good closing sentence stays.'
               AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id, i AS pos, trim(l[i]) AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM raw),
           unnest(range(1, 5)) r(i)
    ),
    kept_lines AS (
      SELECT doc_id, pos, line FROM lines
      WHERE regexp_matches(line, '[.!?"'']$')
        AND len(string_split_regex(line, '\\s+')) >= 3
        AND NOT contains(lower(line), 'lorem ipsum')
        AND NOT contains(lower(line), 'javascript')
        AND NOT contains(lower(line), 'cookie')
        AND NOT contains(lower(line), 'privacy policy')
        AND NOT contains(line, '{')
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      FROM kept_lines GROUP BY doc_id
    ),
    m AS (
      SELECT doc_id, text,
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
      FROM rebuilt
    ),
    survivors AS (
      SELECT doc_id, n_words FROM m
      WHERE n_words >= 50 AND n_words <= 100000
        AND n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
        AND 10 * n_symbols <= n_words
        AND stop_hits >= 2
    ),
    sharded AS (
      SELECT doc_id, n_words,
             CAST('0x' || substr(md5('epoch0' || CAST(doc_id AS VARCHAR)),
                                 1, 12) AS BIGINT) % 8 AS shard
      FROM survivors
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM sharded GROUP BY shard
    """,
)
def q_pipeline_curation_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v7 — the C4-shaped web pipeline end to end,
    replayed by one SQL oracle: (1) line-level cleaning
    (c4_line_filter) over documents staged with boilerplate lines;
    (2) document-level Gopher quality conjunction over the REBUILT
    text (llm/text.gopher_quality — integer/regex rules only);
    (3) deterministic md5 shard assignment of the survivors
    (shard_assignments' hash rule); (4) per-shard accounting. Each
    stage feeds the next; the line-filter rebuild is the only
    shuffle until the final 8-group aggregate."""
    from csv2db_spark.llm.curation import c4_line_filter
    from csv2db_spark.llm.text import gopher_quality

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(
                ".\nlorem ipsum dolor sit amet."
                "\nBuy now {instantly}."
                "\nA perfectly good closing sentence stays."
            ),
        ).alias("text"),
    )
    cleaned = c4_line_filter(docs).select("doc_id", "text")
    flags = gopher_quality(cleaned)
    survivors = (
        cleaned.join(
            flags.where(F.col("keep")).select("doc_id", "n_words"), "doc_id"
        )
    )
    rk = F.md5(F.concat(F.lit("epoch0"), F.col("doc_id").cast("string")))
    sharded = survivors.withColumn(
        "shard",
        F.pmod(F.conv(F.substring(rk, 1, 12), 16, 10).cast("long"), F.lit(8)),
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )



@query(
    "q_pipeline_curation_v8",
    oracle=f"""
    WITH mdocs AS (
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 19 = 0 THEN ' bad{_MOJI_REPL}decode'
                     ELSE '' END
             || CASE WHEN doc_id % 23 = 0 THEN ' {_MOJI_CAFE}' ELSE '' END
             || CASE WHEN doc_id % 29 = 0 THEN ' {_MOJI_APOS}' ELSE '' END
             || CASE WHEN doc_id % 31 = 0 THEN ' {_MOJI_C1}' ELSE '' END
             AS text
      FROM documents
    ),
    clean AS (
      SELECT * FROM mdocs
      WHERE len(regexp_extract_all(text,
              '{MOJIBAKE_PATTERNS["replacement"]}'))
          + len(regexp_extract_all(text,
              '{MOJIBAKE_PATTERNS["c1_control"]}'))
          + len(regexp_extract_all(text,
              '{MOJIBAKE_PATTERNS["double_utf8"]}'))
          + len(regexp_extract_all(text,
              '{MOJIBAKE_PATTERNS["win1252_punct"]}')) = 0
    ),
    toksc AS (SELECT doc_id, string_split(text, ' ') AS t FROM clean),
    shc AS (SELECT doc_id, {SQL_SHINGLES.format(t="t")} AS s FROM toksc),
    exc AS (SELECT doc_id, unnest(s) AS s FROM shc),
    bsh AS (SELECT DISTINCT s FROM exc WHERE doc_id % 97 = 0),
    cex AS (SELECT doc_id, s FROM exc WHERE doc_id % 97 <> 0),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM cex GROUP BY doc_id),
    ov AS (
      SELECT cex.doc_id, count(*) AS n_ov
      FROM cex JOIN bsh ON cex.s = bsh.s GROUP BY cex.doc_id
    ),
    contaminated AS (
      SELECT o.doc_id FROM ov o JOIN sizes z ON z.doc_id = o.doc_id
      WHERE CAST(o.n_ov AS DOUBLE) / z.n_sh >= 0.05
    ),
    kept AS (
      SELECT c.doc_id, c.source, c.text FROM clean c
      WHERE c.doc_id % 97 <> 0
        AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT source,
           count(*) AS n_kept,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM kept GROUP BY source
    """,
)
def q_pipeline_curation_v8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v8 — text-quality operators composed end to end
    and replayed stage-for-stage by one SQL oracle: (1) encoding-quality
    filter (llm/text.encoding_anomaly_counts) drops every decode-damaged
    document from a deterministically damaged corpus; (2) benchmark
    decontamination (llm/curation.decontaminate_ngram, every 97th CLEAN
    doc plays the eval set) drops survivors sharing >= 5% of their
    3-grams with it; (3) per-source corpus accounting of the kept set.
    Stage order is load-bearing (a damaged doc never reaches the
    contamination join) and the hash pins it. Plan: two pure scan
    projections + one broadcast shingle join; the corpus shuffles only
    for the final per-source aggregate."""
    from csv2db_spark.llm.curation import decontaminate_ngram
    from csv2db_spark.llm.text import n_tokens

    docs = _moji_docs(spark, sf_dir)
    flags = encoding_anomaly_counts(docs).select("doc_id", "is_mojibake")
    clean = (
        docs.join(flags, "doc_id")
        .where(~F.col("is_mojibake"))
        .drop("is_mojibake")
    )
    bench = clean.where(F.col("doc_id") % 97 == 0)
    corpus = clean.where(F.col("doc_id") % 97 != 0)
    contaminated = (
        decontaminate_ngram(corpus, bench)
        .where(F.col("overlap_ratio") >= 0.05)
        .select("doc_id")
        # reuse: the broadcast gate's count and the anti join read the
        # drop list
        .transform(stage.materialize_stage)
    )
    # size-gated broadcast: small drop list (the normal case) keeps the
    # corpus TEXT off any doc_id shuffle; an unbounded one falls back to
    # Spark's size-based join planning instead of a forced broadcast
    kept = R.anti_join_drop_list(corpus, contaminated, "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(n_tokens(F.col("text"))).alias("total_tokens"),
    )

"""Driver-gate queries for the LLM-data operators (dedup, similarity,
text analysis). Oracle SQL mirrors each algorithm step-for-step in DuckDB
— same tokens, same md5-based hashes, same exact-decimal dot products —
so the hash comparison validates the algorithm, not just row counts.

Dedup queries run on the deterministic augmented corpus
(llm/corpus.py) because the fixture has no duplicates of its own.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv2db_spark.llm import dedup as D
from csv2db_spark.llm import text as X
from csv2db_spark.llm import similarity as S
from csv2db_spark.llm.corpus import SQL_AUG, SQL_SHINGLES, augmented_docs, tokens
from csv2db_spark.operators import relational as R
from csv2db_spark.operators import stage
from csv2db_spark.registry import query
from csv2db_spark.sources import load_table

# shared oracle CTE prefix: augmented corpus -> tokens -> shingles -> exploded
_SH = SQL_SHINGLES.format(t="t")
_CTE_EX = f"""
WITH {SQL_AUG.strip().removeprefix('aug AS')[0:0]}{SQL_AUG.strip()},
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
sh AS (SELECT doc_id, {_SH} AS s FROM toks),
ex AS (SELECT doc_id, unnest(s) AS s FROM sh)
"""

# ---------------------------------------------------------------- exact dedup


@query(
    "q_dedup_exact",
    oracle=f"""
    WITH {SQL_AUG.strip()}
    SELECT md5(text) AS text_md5,
           min(doc_id) AS rep_doc_id,
           count(*) AS n_copies
    FROM aug
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(augmented_docs(spark, sf_dir))


# ------------------------------------------------------------- n-gram Jaccard

# exf = ex minus stop-shingles (doc freq > 64), mirroring
# jaccard_pairs(max_doc_freq=64): Jaccard over the capped sets
_JACCARD_TAIL = """
exf AS (
  SELECT doc_id, s FROM ex
  WHERE s NOT IN (SELECT s FROM ex GROUP BY s HAVING count(DISTINCT doc_id) > 64)
),
sizes AS (SELECT doc_id, count(*) AS n FROM exf GROUP BY doc_id),
inter AS (
  SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b, count(*) AS inter
  FROM exf e1 JOIN exf e2 ON e1.s = e2.s AND e1.doc_id < e2.doc_id
  GROUP BY 1, 2
),
jacc AS (
  SELECT doc_a, doc_b,
         inter / (sa.n + sb.n - inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
"""


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    {_CTE_EX},
    {_JACCARD_TAIL.strip()}
    SELECT doc_a, doc_b, jaccard FROM jacc WHERE jaccard >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard with the stop-shingle cap engaged (doc freq
    > 64 dropped before the pairwise join) — the oracle mirrors the cap,
    so the comparison proves capped semantics, not just the happy path."""
    ex = D.shingle_table(augmented_docs(spark, sf_dir))
    return D.jaccard_pairs(ex, min_jaccard=0.5, max_doc_freq=64)


# -------------------------------------------------------------- MinHash + LSH


def _sql_minhash_cte(
    k: int = D.MINHASH_K, rows: int = D.BAND_ROWS, max_bucket: int | None = None
) -> str:
    """Mirror of llm/dedup.py: one md5 per shingle -> two 48-bit ints ->
    K Kirsch-Mitzenmacher min-hashes -> band join on the raw values.
    ``max_bucket`` mirrors minhash_candidates' bucket cap: buckets with
    more than ``max_bucket`` members are dropped wholesale before the
    self-join."""
    p = D.MINHASH_P
    mins = ",\n         ".join(
        f"min((h1 + {i} * h2 + {i * i}) % {p}) AS h{i}" for i in range(k)
    )
    vcols = ", ".join(f"v{j}" for j in range(rows))
    bands = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band_id, {vals} FROM mh".format(
            b=b,
            vals=", ".join(
                f"h{b * rows + j} AS v{j}" for j in range(rows)
            ),
        )
        for b in range(k // rows)
    )
    vjoin = " AND ".join(f"a.v{j} = b.v{j}" for j in range(rows))
    vcols_all = ", ".join(["band_id"] + [f"v{j}" for j in range(rows)])
    if max_bucket is not None:
        cap = f""",
capped AS (
  SELECT doc_id, {vcols_all} FROM (
    SELECT *, count(*) OVER (PARTITION BY {vcols_all}) AS _n FROM bands
  ) WHERE _n <= {max_bucket}
)"""
        src = "capped"
    else:
        cap = ""
        src = "bands"
    return f"""
hsh AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(s), 1, 12) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(s), 13, 12) AS BIGINT) AS h2
  FROM ex
),
mh AS (
  SELECT doc_id,
         {mins}
  FROM hsh GROUP BY doc_id
),
bands AS (
  {bands}
){cap},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {src} a
  JOIN {src} b ON a.band_id = b.band_id AND {vjoin}
              AND a.doc_id < b.doc_id
)
"""


# Jaccard over 48-bit shingle-hash SETS (h1), mirroring the Spark side:
# set identity is the hash, not the string — identical on both engines,
# including any (astronomically rare) collisions.
_JACCARD_H1_TAIL = """
hset AS (SELECT DISTINCT doc_id, h1 FROM hsh),
sizes AS (SELECT doc_id, count(*) AS n FROM hset GROUP BY doc_id),
inter AS (
  SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b, count(*) AS inter
  FROM hset e1 JOIN hset e2 ON e1.h1 = e2.h1 AND e1.doc_id < e2.doc_id
  GROUP BY 1, 2
),
jacc AS (
  SELECT doc_a, doc_b,
         inter / (sa.n + sb.n - inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
"""


_MINHASH_MAX_BUCKET = 3  # small enough to engage on the test corpus


@query(
    "q_dedup_minhash_lsh",
    oracle=f"""
    {_CTE_EX},
    {_sql_minhash_cte(max_bucket=_MINHASH_MAX_BUCKET).strip()},
    {_JACCARD_H1_TAIL.strip()}
    SELECT c.doc_a, c.doc_b, j.jaccard
    FROM cand c JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    WHERE j.jaccard >= 0.5
    """,
    bench=True,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidates (banded signatures, llm/dedup.py) verified
    with exact Jaccard — the standard scale recipe: pairwise work only on
    band collisions.

    Hot-path shape: signatures + distinct-hash sets are computed per
    document in ONE Arrow pass (minhash_doc_signatures) — the corpus-wide
    shingle explode never materializes and nothing shuffles until the
    band join on a 5k-row signature table. Jaccard verification is
    `array_intersect` over the two hash-set arrays of each candidate
    pair. The oracle mirrors the same hash-set math from relational CTEs.

    The band-bucket skew cap (``max_bucket`` — the guard that stops one
    degenerate boilerplate bucket from emitting m^2/2 pairs at corpus
    scale) is ACTIVE and mirrored in the oracle, so the capped semantics
    themselves are hash-verified, not just the happy path.
    """
    sig = D.minhash_doc_signatures(augmented_docs(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand = D.minhash_candidates(
        D.minhash_bands(sig), max_bucket=_MINHASH_MAX_BUCKET
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("ha"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    jac = inter / (F.size("ha") + F.size("hb") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


@query("q_dedup_minhash_lsh_xxh")
def q_dedup_minhash_lsh_xxh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-hash production twin of ``q_dedup_minhash_lsh``: identical
    banding / bucket-cap / exact-Jaccard-verify machinery, but every
    hash is Spark's native xxhash64 in whole-stage codegen — no Python
    worker, no Arrow transfer anywhere in the plan. Rows-only gate:
    DuckDB has no Spark-compatible xxhash64, so cross-engine value
    parity is impossible by construction; pytest instead pins (a) that
    every exact-copy pair is recalled, (b) that Jaccard values agree
    EXACTLY with the md5 path on shared pairs (set cardinalities are
    hash-independent absent collisions), and (c) determinism.

    Shuffle budget vs the md5 twin: signatures carry only the K mins
    (96 B/doc; the md5 twin's per-doc hash sets ride its zero-shuffle
    Arrow pass for free), and exact-verify hash sets are recomputed
    ONLY for docs surviving the band join — a broadcast semi-filter of
    the corpus — so the one set-sized shuffle (the exploded builder's
    collect_set) is bounded by the candidate set, never the corpus.
    Single-node the two are within ~25% of each other (measured at
    sf0.1; the md5 Arrow pass is NOT the bottleneck — see the PLANS.md
    profiling); this path exists for clusters where Python workers are
    unavailable or the constraint."""
    docs = augmented_docs(spark, sf_dir)
    cand = D.minhash_candidates(
        D.minhash_bands(D.minhash_doc_signatures_xxh(docs)),
        max_bucket=_MINHASH_MAX_BUCKET,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # reuse: both join legs (sa, sb) read the hash sets
    hs = stage.materialize_stage(
        D.minhash_doc_hashsets_xxh(docs.join(F.broadcast(ids), "doc_id"))
    )
    sa = hs.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("ha"))
    sb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    jac = inter / (F.size("ha") + F.size("hb") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


@query(
    "q_dedup_minhash_xxh_precision",
    oracle="SELECT CAST(0 AS BIGINT) AS doc_a, CAST(0 AS BIGINT) AS doc_b, "
    "0.0 AS jaccard_xxh, 0.0 AS jaccard_true WHERE 1 = 0",
)
def q_dedup_minhash_xxh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible precision contract for the JVM-hash twin — the
    empty-oracle upgrade for the one rows-only dedup gate: every pair
    the xxh path emits must have the SAME Jaccard when recomputed from
    the raw STRING shingle sets (an independent representation — the
    gate verifies over 48-bit xxhash64 sets, this check over
    ``array_distinct(shingles(...))`` strings, so a hash collision
    inflating a set intersection, a banding bug emitting an unverified
    pair, or a threshold regression all surface as violation rows and
    therefore a driver hash mismatch). Set cardinalities are
    hash-independent absent collisions, so the two rationals are
    bit-identical doubles when healthy.

    Scale shape: string sets are built only for docs in emitted pairs
    (broadcast semi-filter, same discipline as the gate's own verify
    stage); the comparison joins |pairs| rows."""
    from csv2db_spark.llm.corpus import shingles, tokens

    docs = augmented_docs(spark, sf_dir)
    pairs = q_dedup_minhash_lsh_xxh(spark, sf_dir)
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # reuse: both join legs (sa, sb) read the shingle sets
    ss = stage.materialize_stage(
        docs.join(F.broadcast(ids), "doc_id")
        .where(F.size(tokens("text")) >= 3)
        .select(
            "doc_id",
            F.array_distinct(shingles(tokens("text"))).alias("sset"),
        )
    )
    sa = ss.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("sa"))
    sb = ss.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    true_j = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("jaccard").alias("jaccard_xxh"),
            true_j.alias("jaccard_true"),
        )
        .where(
            (F.col("jaccard_xxh") != F.col("jaccard_true"))
            | (F.col("jaccard_true") < 0.5)
        )
    )


# --------------------------------------------------- duplicate clustering


@query(
    "q_dedup_clusters",
    oracle=f"""
    {_CTE_EX.replace("WITH ", "WITH RECURSIVE ", 1)},
    {_sql_minhash_cte().strip()},
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS component
      FROM reach GROUP BY a
    ),
    sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
    SELECT c.doc_id, c.component, s.cluster_size
    FROM comp c JOIN sizes s USING (component)
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> duplicate CLUSTERS via iterative connected
    components (operators/graph.py): each doc labeled with the min doc_id
    reachable through LSH-candidate edges, plus the cluster size — the
    keep-one-per-cluster step of a dedup pipeline. Oracle: transitive
    closure by recursive CTE."""
    from csv2db_spark.operators.graph import connected_components

    sig = D.minhash_doc_signatures(augmented_docs(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand = D.minhash_candidates(D.minhash_bands(sig))
    comp = connected_components(cand, src="doc_a", dst="doc_b")
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


# ----------------------------------------------------------------- SimHash


def _sql_simhash_cte() -> str:
    """Mirror of llm/dedup.py simhash: 60-bit fingerprint from per-token
    bit counters, 4-band pigeonhole join, bit_count(xor) verify."""
    bits = D.SIMHASH_BITS
    bands = D.SIMHASH_BANDS
    width = bits // bands
    mask = (1 << width) - 1
    counters = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    weave = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END"
        for i in range(bits)
    )
    bandt = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash >> {b * width}) & {mask} AS bv FROM sim"
        for b in range(bands)
    )
    return f"""
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM aug),
th AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
bits AS (
  SELECT doc_id,
         {counters}
  FROM th GROUP BY doc_id
),
sim AS (SELECT doc_id, {weave} AS simhash FROM bits),
bandt AS (
  {bandt}
),
spairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM bandt a
  JOIN bandt b ON a.band_id = b.band_id AND a.bv = b.bv
              AND a.doc_id < b.doc_id
)
"""


@query(
    "q_dedup_simhash",
    oracle=f"""
    WITH {SQL_AUG.strip()},
    {_sql_simhash_cte().strip()}
    SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
    FROM spairs
    WHERE bit_count(xor(sa, sb)) <= 3
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = D.simhash(augmented_docs(spark, sf_dir))
    return D.simhash_pairs(sig, max_hamming=3)


# ------------------------------------------------------- embedding near-dup

# scaled-long dot product (mirrors llm/similarity.py quantization)
def _sql_iel(expr: str) -> str:
    return f"cast(cast({expr} as decimal(9,8)) * 100000000 as bigint)"


def _sql_cos(dot: str, na: str, nb: str) -> str:
    return (
        f"(cast({dot} as double) / 1e16)"
        f" / (sqrt(cast({na} as double) / 1e16) * sqrt(cast({nb} as double) / 1e16))"
    )


_SQL_AUG_EMB = f"""
base AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v
         FROM embeddings),
pert AS (SELECT vec_id + 100000 AS vec_id,
                list_prepend(v[1] + 0.001, v[2:64]) AS v
         FROM base WHERE vec_id < 30),
augv AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
norms AS (
  SELECT vec_id,
         sum({_sql_iel('v[i]')} * {_sql_iel('v[i]')}) AS nrm2
  FROM augv, range(1, 65) r(i) GROUP BY vec_id
)
"""


def _aug_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    pert = base.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + 0.001), F.slice("v", 2, 63)
        ).alias("v"),
    )
    return base.unionByName(pert)


@query(
    "q_dedup_embedding_cosine",
    oracle=f"""
    WITH {_SQL_AUG_EMB.strip()},
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             sum({_sql_iel('a.v[i]')} * {_sql_iel('b.v[i]')}) AS dot
      FROM augv a JOIN augv b ON a.vec_id < b.vec_id, range(1, 65) r(i)
      GROUP BY 1, 2
    )
    SELECT vec_a, vec_b,
           {_sql_cos('dot', 'na.nrm2', 'nb.nrm2')} AS cos_sim
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE {_sql_cos('dot', 'na.nrm2', 'nb.nrm2')} >= 0.999
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vectors by cosine >= 0.999 over all pairs of the
    augmented embedding set (originals + 30 perturbed copies).

    Candidates come from an LSH band self-join (ids-only shuffle), scores
    from the exact quantized cosine — so results match the all-pairs
    oracle bit-for-bit while the plan stays linear-in-collisions instead
    of the O((n/block)^2) pair grid of ``blocked_all_pairs_cosine``
    (which remains available as the explicit small-n exact tool and pins
    this query's recall in tests/test_llm.py)."""
    aug = _aug_embeddings(spark, sf_dir)
    return S.lsh_all_pairs_cosine(aug, threshold=0.999)


# ------------------------------------------------ fuzzy match (edit distance)


@query(
    "q_dedup_fuzzy_ed1",
    oracle="""
    WITH base AS (SELECT doc_id, substr(text, 1, 20) AS s FROM documents),
    typo AS (
      SELECT doc_id + 300000 AS doc_id,
             concat(substr(s, 1, 4), substr(s, 6)) AS s
      FROM base WHERE doc_id % 4 = 0
    ),
    t AS (SELECT * FROM base UNION ALL SELECT * FROM typo),
    var AS (
      SELECT doc_id, s, s AS v FROM t
      UNION ALL
      SELECT doc_id, s, concat(substr(s, 1, i - 1), substr(s, i + 1)) AS v
      FROM (SELECT doc_id, s, unnest(range(1, len(s) + 1)) AS i FROM t)
    ),
    vf AS (
      SELECT DISTINCT doc_id, s, v FROM var
      WHERE v NOT IN (
        SELECT v FROM (SELECT DISTINCT doc_id, v FROM var)
        GROUP BY v HAVING count(*) > 64
      )
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.s AS s_a,
                      b.doc_id AS doc_b, b.s AS s_b
      FROM vf a JOIN vf b ON a.v = b.v AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(levenshtein(s_a, s_b) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(s_a, s_b) <= 1
    """,
)
def q_dedup_fuzzy_ed1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance <= 1) duplicate pairs over 20-char document
    prefixes, with deterministic one-char-deleted typo copies
    (doc_id % 4 == 0 -> doc_id + 300000) injected identically on both
    engines. Candidates come from deletion-neighborhood (FastSS)
    blocking — an equi-join on single-deletion variants with a hot-bucket
    cap — and one exact ``levenshtein`` on candidates only; the oracle
    replays the same blocking, so the hash comparison validates the
    algorithm including the cap, not just the final pair set. The only
    shuffle is the variant equi-join: linear in corpus size, never the
    n^2 grid (entity-resolution at 100 TB shape)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 20).alias("s")
    )
    typo = docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.substring("s", 1, 4), F.expr("substring(s, 6)")
        ).alias("s"),
    )
    return D.fuzzy_pairs(docs.unionByName(typo), max_distance=1, max_bucket=64)


_WIN_W = 5  # tokens per window


@query(
    "q_dedup_repeated_windows",
    oracle=f"""
    WITH {SQL_AUG.strip()},
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
    win AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(t) - {_WIN_W} + 2),
               i -> md5(array_to_string(t[i:i+{_WIN_W - 1}], ' '))
             )) AS h
      FROM toks WHERE len(t) >= {_WIN_W}
    ),
    freq AS (SELECT h, count(*) AS c FROM win GROUP BY h)
    SELECT w.doc_id,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN f.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows
    FROM win w JOIN freq f USING (h)
    GROUP BY w.doc_id
    """,
)
def q_dedup_repeated_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring detection (llm/dedup.py:duplicated_window_stats)
    over the augmented corpus: every 5-token window is fingerprinted and
    counted corpus-wide; windows occurring >= 2 times anywhere mark
    duplicated spans. This catches copied paragraphs inside otherwise-
    unique documents — the case whole-document MinHash can't see — with
    cost linear in corpus tokens (two digest-keyed shuffles, no pairwise
    join). Oracle replays the identical window/md5/frequency pipeline."""
    return D.duplicated_window_stats(
        augmented_docs(spark, sf_dir), w=_WIN_W
    )


@query(
    "q_dedup_span_removal",
    oracle=f"""
    WITH {SQL_AUG.strip()},
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
    win AS (
      SELECT doc_id,
             unnest(range(1, len(t) - {_WIN_W} + 2)) AS i,
             unnest(list_transform(
               range(1, len(t) - {_WIN_W} + 2),
               i -> md5(array_to_string(t[i:i+{_WIN_W - 1}], ' '))
             )) AS h
      FROM toks WHERE len(t) >= {_WIN_W}
    ),
    freq AS (SELECT h, count(*) AS c FROM win GROUP BY h),
    dup AS (SELECT w.doc_id, w.i FROM win w JOIN freq f USING (h)
            WHERE f.c >= 2),
    isl AS (
      SELECT doc_id, i,
             CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                  <= {_WIN_W} THEN 0 ELSE 1 END AS brk
      FROM dup
    ),
    grp AS (
      SELECT doc_id, i,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM isl
    )
    SELECT doc_id,
           CAST(min(i) AS BIGINT) AS span_start,
           CAST(max(i) + {_WIN_W} - 1 AS BIGINT) AS span_end,
           CAST(max(i) - min(i) + {_WIN_W} AS BIGINT) AS span_tokens,
           count(*) AS n_windows
    FROM grp GROUP BY doc_id, g
    """,
)
def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span extraction (llm/dedup.py:duplicated_spans):
    the maximal duplicated token intervals a trim stage cuts — the
    distributed form of suffix-array training-data dedup restricted to
    duplicates >= 5 tokens. Corpus-wide window frequency (one digest
    shuffle) + gaps-and-islands merge of overlapping duplicated windows
    (one doc shuffle reused by the rollup). The hash pins every span's
    exact 1-based [start, end] bounds per document — an off-by-one in
    the merge rule or a missed adjacent window changes it."""
    return D.duplicated_spans(augmented_docs(spark, sf_dir), w=_WIN_W)


@query(
    "q_dedup_span_trim",
    oracle=f"""
    WITH {SQL_AUG.strip()},
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
    win AS (
      SELECT doc_id,
             unnest(range(1, len(t) - {_WIN_W} + 2)) AS i,
             unnest(list_transform(
               range(1, len(t) - {_WIN_W} + 2),
               i -> md5(array_to_string(t[i:i+{_WIN_W - 1}], ' '))
             )) AS h
      FROM toks WHERE len(t) >= {_WIN_W}
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
                  <= {_WIN_W} THEN 0 ELSE 1 END AS brk
      FROM doomed
    ),
    grp AS (
      SELECT doc_id, i,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM isl
    ),
    spans AS (
      SELECT doc_id, min(i) AS s, max(i) + {_WIN_W} - 1 AS e
      FROM grp GROUP BY doc_id, g
    ),
    pos AS (
      SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, unnest(t) AS tok
      FROM toks
    ),
    kept AS (
      SELECT p.doc_id, p.i, p.tok
      FROM pos p ANTI JOIN spans s
        ON p.doc_id = s.doc_id AND p.i BETWEEN s.s AND s.e
    )
    SELECT doc_id,
           string_agg(tok, ' ' ORDER BY i) AS clean_text,
           count(*) AS n_tokens
    FROM kept GROUP BY doc_id
    """,
)
def q_dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first substring dedup APPLIED (llm/dedup.
    remove_duplicated_spans): the augmented corpus rebuilt with every
    non-first duplicated passage cut out — originals keep their text,
    the exact/near copies lose the repeated spans. Occurrences rank by
    (doc_id, position) inside the window-fingerprint shuffle (no join);
    the cut is one doc-keyed anti join of token positions against the
    merged doomed spans. The hash pins every surviving document's exact
    rebuilt string — one extra/missing token anywhere breaks it."""
    return D.remove_duplicated_spans(augmented_docs(spark, sf_dir), w=_WIN_W)


# -------------------------------------------------------- similarity search


@query(
    "q_sim_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    norms AS (
      SELECT vec_id,
             sum({_sql_iel('cast(embedding[i] as double)')}
                 * {_sql_iel('cast(embedding[i] as double)')}) AS nrm2
      FROM embeddings, range(1, 65) r(i) GROUP BY vec_id
    ),
    dots AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             sum({_sql_iel('cast(q.qv[i] as double)')}
                 * {_sql_iel('cast(e.embedding[i] as double)')}) AS dot
      FROM q, embeddings e, range(1, 65) r(i)
      WHERE e.vec_id != q.query_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_sql_cos('dot', 'nq.nrm2', 'nn.nrm2')} AS cos_sim
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nn ON nn.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    bench=True,
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force ANN baseline: top-10 cosine neighbours for the
    first 5 vectors (llm/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.cosine_topk(emb, queries, k=10)


@query("q_sim_ann_lsh", oracle=None)  # approximate by construction — recall
# vs the brute-force baseline is asserted in tests/test_llm.py
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.lsh_ann_topk(emb, queries, k=10)


@query("q_sim_ann_ivf", oracle=None)  # approximate by construction — recall
# vs the brute-force baseline is asserted in tests/test_llm.py
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means inverted-file) ANN — the centroid-bucketed scale path
    (llm/similarity.ivf_ann_topk): train centroids, assign cells, probe
    only the n_probe nearest cells per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.ivf_ann_topk(emb, queries, k=10, n_centroids=16, n_probe=4)


@query(
    "q_sim_ann_ivf_persisted",
    oracle="SELECT CAST(0 AS BIGINT) AS query_id, CAST(0 AS BIGINT) AS "
    "neighbor_id, '' AS side WHERE 1 = 0",
)
def q_sim_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index parity for IVF (llm/similarity.ivf_build_index /
    ivf_query_index): train once, write centroids + cell-PARTITIONED
    postings to disk, reload, query — the (query_id, neighbor_id, rank,
    cos_sim) results must equal the inline ``ivf_ann_topk`` exactly
    (float64 centroids round-trip parquet bit-exactly; the postings
    carry the same precomputed scoring state). Violations = rows on
    either side of the full outer join that the other side lacks —
    expected empty, hash-compared to an empty oracle. This is the
    train-once / query-many ANN lifecycle, with partition pruning as
    the probe mechanism at scale."""
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    inline = S.ivf_ann_topk(emb, queries_df, k=10, n_centroids=16, n_probe=4)

    work = tempfile.mkdtemp(prefix="c2s_ivf_index_")
    try:
        S.ivf_build_index(emb, work, n_centroids=16)
        persisted = S.ivf_query_index(spark, work, queries_df, k=10, n_probe=4)
        a = inline.select("query_id", "neighbor_id", "rank", "cos_sim")
        b = persisted.select("query_id", "neighbor_id", "rank", "cos_sim")
        out = (
            a.join(
                b.withColumnRenamed("cos_sim", "cs_b"),
                ["query_id", "neighbor_id", "rank"],
                "full",
            )
            .where(
                F.col("cos_sim").isNull()
                | F.col("cs_b").isNull()
                | (F.col("cos_sim") != F.col("cs_b"))
            )
            .select(
                F.coalesce(F.col("query_id"), F.lit(-1)).alias("query_id"),
                F.coalesce(F.col("neighbor_id"), F.lit(-1)).alias(
                    "neighbor_id"
                ),
                F.when(F.col("cos_sim").isNull(), "persisted_only")
                .when(F.col("cs_b").isNull(), "inline_only")
                .otherwise("cos_mismatch")
                .alias("side"),
            )
        )
        # lifetime: the rows outlive the temp dir removed below
        return stage.materialize_stage(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q_sim_ann_ivf_append",
    oracle="SELECT CAST(0 AS BIGINT) AS neighbor_id, '' AS side "
    "WHERE 1 = 0",
)
def q_sim_ann_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance invariance
    (llm/similarity.ivf_append_index): build the IVF index on 80% of
    the corpus's vectors, append the remaining 20% as a second batch
    against the FROZEN centroids, and compare the resulting postings —
    (neighbor_id, cell, c_iv, c_nrm2) — to a full build over the same
    centroid set. Assignment is a pure per-row function of the frozen
    centroids, so build(part)+append(rest) must equal build(full)
    EXACTLY; violations (rows on one side only, or cell/state
    mismatches) hash-compare to an empty oracle. This is the
    daily-crawl ingestion path: appends touch only the cells the batch
    lands in, standing postings files stay byte-identical."""
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    part = emb.where(F.col("vec_id") % 5 != 0)
    rest = emb.where(F.col("vec_id") % 5 == 0)

    w_inc = tempfile.mkdtemp(prefix="c2s_ivf_inc_")
    w_full = tempfile.mkdtemp(prefix="c2s_ivf_full_")
    try:
        S.ivf_build_index(part, w_inc, n_centroids=16)
        S.ivf_append_index(rest, w_inc)
        # full rebuild AGAINST THE SAME centroids: copy the model over,
        # then assign the whole corpus through the shared routine
        import numpy as np

        crows = spark.read.parquet(f"{w_inc}/centroids.parquet").collect()
        centers = np.stack(
            [np.asarray(r.weights) for r in sorted(crows, key=lambda r: r.cell)]
        )
        S._assign_postings(emb, centers, "vec_id", "embedding").write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(f"{w_full}/postings")

        inc = spark.read.parquet(f"{w_inc}/postings").select(
            "neighbor_id", "cell", "c_iv", "c_nrm2"
        )
        full = spark.read.parquet(f"{w_full}/postings").select(
            "neighbor_id", "cell", "c_iv", "c_nrm2"
        )
        out = (
            inc.withColumn("_s", F.lit(1))
            .join(
                full.withColumn("_s2", F.lit(1)),
                ["neighbor_id", "cell", "c_iv", "c_nrm2"],
                "full",
            )
            .where(F.col("_s").isNull() | F.col("_s2").isNull())
            .select(
                "neighbor_id",
                F.when(F.col("_s").isNull(), "full_only")
                .otherwise("incremental_only")
                .alias("side"),
            )
        )
        # lifetime: the rows outlive the temp dir removed below
        return stage.materialize_stage(out)
    finally:
        shutil.rmtree(w_inc, ignore_errors=True)
        shutil.rmtree(w_full, ignore_errors=True)


# Self-checking recall gates: EMPTY output iff mean recall@10 clears the
# bound, hash-compared against an empty oracle — so ANN regressions are
# driver-visible (a rows/hash mismatch), not just pytest-visible. Bounds
# sit under the measured means at sf0.001/0.01/0.1 (LSH 0.26-0.42, IVF
# 0.58-0.76 — toy index parameters; the gates catch collapses, not tuning).
_EMPTY_RECALL_ORACLE = (
    "SELECT 'mean_recall@k' AS metric, 0.0 AS mean_recall WHERE 1 = 0"
)


@query("q_sim_ann_lsh_recall", oracle=_EMPTY_RECALL_ORACLE)
def q_sim_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall floor for the LSH index: violations of
    mean recall@10 >= 0.2 vs the exact baseline (expected: none)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.ann_recall_violations(
        S.lsh_ann_topk(emb, queries, k=10),
        S.cosine_topk(emb, queries, k=10),
        min_mean_recall=0.2,
    )


@query("q_sim_ann_ivf_recall", oracle=_EMPTY_RECALL_ORACLE)
def q_sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall floor for the IVF index: violations of
    mean recall@10 >= 0.35 vs the exact baseline (expected: none)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.ann_recall_violations(
        S.ivf_ann_topk(emb, queries, k=10, n_centroids=16, n_probe=4),
        S.cosine_topk(emb, queries, k=10),
        min_mean_recall=0.35,
    )


# ------------------------------------------------------------- text analysis


@query(
    "q_text_token_stats",
    oracle="""
    SELECT doc_id,
           cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
           cast(length(text) as bigint) AS n_chars,
           (length(text) - (len(string_split(text, ' ')) - 1))
             / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.token_stats(load_table(spark, sf_dir, "documents"))


@query(
    "q_text_token_stats_pandas",
    oracle="""
    SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) AS n_tokens
    FROM documents
    """,
)
def q_text_token_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.token_stats_pandas(load_table(spark, sf_dir, "documents"))


def _sql_occurrences(padded: str, needle: str) -> str:
    return (
        f"(length({padded}) - length(replace({padded}, '{needle}', '')))"
        f" / {len(needle)}"
    )


_PADDED = "(' ' || text || ' ')"

_QUAL_STOPS = " + ".join(
    f"cast({_sql_occurrences(_PADDED, ' ' + w + ' ')} as bigint)"
    for w in X._STOPWORDS
)


@query(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           cast(length(text) as bigint) AS n_chars,
           length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text)
               AS alpha_ratio,
           (length(text) - length(replace(text, ' ', ''))) / length(text)
               AS space_ratio,
           {_QUAL_STOPS} AS stop_hits,
           ({_QUAL_STOPS}) / len(string_split(text, ' ')) AS stop_ratio,
           (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text)) * 0.5
             + (({_QUAL_STOPS}) / len(string_split(text, ' '))) * 0.3
             + (1 - (length(text) - length(replace(text, ' ', ''))) / length(text)) * 0.2
               AS quality
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.quality_score(load_table(spark, sf_dir, "documents"))


def _sql_lang_score(words: tuple[str, ...]) -> str:
    return " + ".join(
        f"cast({_sql_occurrences(_PADDED, ' ' + w + ' ')} as bigint)"
        for w in words
    )


_LANG_SCORES = {
    lang: _sql_lang_score(words) for lang, words in X.LANG_MARKERS.items()
}
_GREATEST = "greatest(" + ", ".join(f"({s})" for s in _LANG_SCORES.values()) + ")"
_LANG_CASE = "CASE WHEN " + _GREATEST + " <= 0 THEN 'unknown' " + " ".join(
    f"WHEN ({_LANG_SCORES[lang]}) = {_GREATEST} THEN '{lang}'"
    for lang in X.LANG_MARKERS
) + " END"


@query(
    "q_text_lang_id",
    oracle=f"""
    SELECT doc_id,
           {", ".join(f"({s}) AS score_{lang}" for lang, s in _LANG_SCORES.items())},
           {_LANG_CASE} AS pred_lang
    FROM documents
    """,
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.lang_id(load_table(spark, sf_dir, "documents"))


@query(
    "q_text_fingerprint",
    oracle=f"""
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t
                  FROM documents),
    sh AS (SELECT doc_id, text, {_SH} AS s FROM toks)
    SELECT doc_id,
           md5(text) AS text_md5,
           list_min(list_transform(s, x -> md5(x))) AS shingle_fp,
           cast(len(s) as bigint) AS n_shingles
    FROM sh
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.fingerprint(load_table(spark, sf_dir, "documents"))


# ------------------------------------------- end-to-end training-data pipeline


@query(
    "q_pipeline_training_data",
    oracle=f"""
    WITH RECURSIVE {SQL_AUG.strip()},
    qual AS (
      SELECT doc_id, text FROM aug
      WHERE len(string_split(text, ' ')) >= 30
    ),
    exact AS (
      SELECT min(doc_id) AS doc_id, text FROM qual GROUP BY text
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM exact),
    sh AS (SELECT doc_id, {SQL_SHINGLES.format(t='t')} AS s FROM toks),
    ex AS (SELECT doc_id, unnest(s) AS s FROM sh),
    {_sql_minhash_cte().strip()},
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS component
      FROM reach GROUP BY a
    ),
    final AS (
      SELECT e.doc_id, e.text FROM exact e
      LEFT JOIN comp c ON c.doc_id = e.doc_id
      WHERE c.doc_id IS NULL OR c.component = e.doc_id
    )
    SELECT doc_id,
           cast(len(string_split(text, ' ')) as bigint) AS n_tokens
    FROM final
    """,
)
def q_pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM training-data curation over the (duplicate-bearing)
    augmented corpus, composed entirely from the engine's operators:

      1. quality gate  — keep docs with >= 30 tokens;
      2. exact dedup   — one survivor (min doc_id) per identical text
                         (grouped by text here for oracle clarity; at
                         100 TB group by md5 digest so the shuffle key is
                         16 bytes, semantics identical);
      3. near-dedup    — MinHash-LSH candidates -> connected components
                         -> keep each cluster's canonical (min) doc;
      4. emit          — surviving doc_ids with token counts.

    The single hash-checked result pins the whole pipeline: quality
    predicate, dedup choice, LSH banding, iterative clustering, and the
    canonical-selection rule."""
    from csv2db_spark.llm.corpus import tokens as _tokens
    from csv2db_spark.operators.graph import connected_components

    docs = augmented_docs(spark, sf_dir)
    qual = docs.where(F.size(_tokens("text")) >= 30)
    exact = qual.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    sig = D.minhash_doc_signatures(exact).persist(StorageLevel.MEMORY_AND_DISK)
    cand = D.minhash_candidates(D.minhash_bands(sig))
    comp = connected_components(cand, src="doc_a", dst="doc_b")
    losers = comp.where(F.col("component") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    # size-gated broadcast of the drop list: when the near-dup loser set
    # is small (the common case) the text-carrying survivor table never
    # rides a doc_id shuffle; a web-corpus-scale loser set (a large
    # corpus fraction is normal there) falls back to Spark's own
    # size-based planning instead of a forced driver-OOM broadcast.
    # The gating count is cheap: comp's labels are staged
    # inside connected_components.
    final = R.anti_join_drop_list(exact, losers, "doc_id")
    return final.select(
        "doc_id", F.size(_tokens("text")).cast("long").alias("n_tokens")
    )


@query(
    "q_text_bpe_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
             AS n_bpe_pieces,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting both ways: whitespace tokens and BPE-ish regex
    pieces (llm/text.bpe_ish_tokens) per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(X.bpe_ish_tokens(F.col("text"))).cast("long").alias("n_bpe_pieces"),
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
    )


@query(
    "q_sample_hash_stable",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 10 = 0
    """,
)
def q_sample_hash_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample by key hash — the reproducible
    subsampling a training-data pipeline needs (same keys selected on any
    engine, any partitioning, any run; unlike df.sample whose RNG is
    engine-specific). Evaluated as a whole-stage-codegen filter directly
    over the scan: no shuffle, no state (the hash itself cannot prune row
    groups — a stored sample-bucket column would, if sampling is hot).
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10
    )
    return docs.where(bucket == 0).select("doc_id", "lang", "n_chars")


@query(
    "q_embed_dim_stats",
    oracle=f"""
    WITH ex AS (
      SELECT CAST(i - 1 AS INT) AS dim,
             {_sql_iel('cast(embedding[i] as double)')} AS q
      FROM embeddings, unnest(generate_series(1, 64)) u(i)
    )
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(q) AS BIGINT) AS sum_q,
           CAST(CAST(sum(q) AS DOUBLE) / count(*) / 100000000.0 AS DOUBLE) AS mean,
           CAST(sum(CAST(q AS DECIMAL(38,0)) * q) AS VARCHAR) AS sumsq_str
    FROM ex
    GROUP BY dim
    """,
)
def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (the normalization pre-pass of
    an embedding pipeline): posexplode the vector, aggregate exact scaled
    integers per dimension. Sum-of-squares exceeds int64 so it accumulates
    in DECIMAL(38,0) — emitted as a string because the exact integer is
    the contract, not a lossy double. One explode + one 64-key
    aggregation: map-side combinable, no skew (dims are uniform)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.transform("embedding", lambda x: S._iel(x))).alias("dim", "q")
    )
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sum_q"),
        (F.sum("q").cast("double") / F.count(F.lit(1)) / 1e8).alias("mean"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("sumsq_str"),
    )


@query(
    "q_dedup_semdedup",
    oracle=f"""
    WITH {_SQL_AUG_EMB.strip()},
    cent AS (SELECT vec_id AS cluster_id, v FROM augv WHERE vec_id < 8),
    cdots AS (
      SELECT a.vec_id, c.cluster_id,
             sum({_sql_iel('a.v[i]')} * {_sql_iel('c.v[i]')}) AS dot
      FROM augv a JOIN cent c ON true, range(1, 65) r(i)
      GROUP BY 1, 2
    ),
    d AS (
      SELECT cdots.vec_id, cdots.cluster_id,
             na.nrm2 + nc.nrm2 - 2 * cdots.dot AS d2
      FROM cdots
      JOIN norms na ON na.vec_id = cdots.vec_id
      JOIN norms nc ON nc.vec_id = cdots.cluster_id
    ),
    asn AS (
      SELECT vec_id, cluster_id FROM (
        SELECT vec_id, cluster_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster_id) AS rn
        FROM d) WHERE rn = 1
    ),
    pdots AS (
      SELECT aa.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
             sum({_sql_iel('a.v[i]')} * {_sql_iel('b.v[i]')}) AS dot
      FROM augv a
      JOIN asn aa ON aa.vec_id = a.vec_id
      JOIN asn ab ON ab.cluster_id = aa.cluster_id
      JOIN augv b ON b.vec_id = ab.vec_id AND a.vec_id < b.vec_id,
      range(1, 65) r(i)
      GROUP BY 1, 2, 3
    )
    SELECT cluster_id, vec_a, vec_b,
           {_sql_cos('dot', 'na.nrm2', 'nb.nrm2')} AS cos_sim
    FROM pdots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE {_sql_cos('dot', 'na.nrm2', 'nb.nrm2')} >= 0.999
    """,
)
def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (llm/cluster.py:semdedup_pairs): cluster-blocked
    semantic dedup over the augmented embedding set — assign every
    vector to its nearest of 8 seed centroids (exact integer d²,
    deterministic tie-break), then exact quantized cosine only WITHIN
    each cluster. The oracle replays assignment + within-cluster scoring
    in ANSI SQL, so both the blocking decisions and every score are
    hash-checked. Complements the LSH path: work bounded by cluster
    size instead of collision probability, and reuses centroids a
    pipeline already trains."""
    from csv2db_spark.llm.cluster import semdedup_pairs

    aug = _aug_embeddings(spark, sf_dir)
    cents = aug.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster_id"), "v"
    )
    return semdedup_pairs(aug, cents, threshold=0.999, vec_col="v")


@query(
    "q_text_bm25_topk",
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
    )
    SELECT doc_id,
           coalesce(sum(CASE WHEN t = 'hash' THEN sc END), 0.0)
           + coalesce(sum(CASE WHEN t = 'vector' THEN sc END), 0.0)
           + coalesce(sum(CASE WHEN t = 'stream' THEN sc END), 0.0) AS score
    FROM per
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style ranked retrieval (llm/text.py:bm25_topk) for the query
    {hash, vector, stream}: top-20 documents by rational-idf BM25 with
    the standard k1=1.2 / b=0.75 saturation and length normalization.
    Scores are bit-checked, not just rankings — possible because every
    arithmetic input is an exact integer, the expression shape is
    mirrored verbatim in the oracle, and the per-document total adds
    per-term scores in a fixed order (float addition is not
    associative)."""
    from csv2db_spark.llm.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["hash", "vector", "stream"], k=20)


@query(
    "q_text_lexical_diversity",
    oracle="""
    WITH counts AS (
      SELECT doc_id, t, count(*) AS cnt
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY doc_id, t
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           1.0 - CAST(sum(cnt * cnt) AS DOUBLE)
                 / CAST(sum(cnt) * sum(cnt) AS DOUBLE) AS simpson_diversity
    FROM counts
    GROUP BY doc_id
    """,
)
def q_text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Simpson lexical diversity
    (llm/text.py:lexical_diversity): 1 - Σcnt²/total² over token counts
    — the log-free diversity signal whose low end flags boilerplate and
    generation loops. Integer cores, one final division: bit-exact on
    both engines."""
    from csv2db_spark.llm.text import lexical_diversity

    return lexical_diversity(load_table(spark, sf_dir, "documents"))


@query(
    "q_graph_cc_star",
    oracle=f"""
    {_CTE_EX.replace("WITH ", "WITH RECURSIVE ", 1)},
    {_sql_minhash_cte().strip()},
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS component
      FROM reach GROUP BY a
    ),
    sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
    SELECT c.doc_id, c.component, s.cluster_size
    FROM comp c JOIN sizes s USING (component)
    """,
)
def q_graph_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate-clustering contract as q_dedup_clusters — doc,
    component minimum, cluster size over the MinHash-LSH candidate graph
    — computed by the ALTERNATING large-star/small-star contraction
    (operators/graph.py:connected_components_star) instead of min-label
    propagation. Both implementations are pinned to the identical
    recursive-CTE transitive-closure oracle, so the O(log n)-round
    variant is proven interchangeable: at 100 TB it replaces
    O(diameter)x2 shuffles with O(log n) contraction rounds — the
    difference between 200 and 8 rounds on a chain-shaped component."""
    from csv2db_spark.operators.graph import connected_components_star

    sig = D.minhash_doc_signatures(augmented_docs(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand = D.minhash_candidates(D.minhash_bands(sig))
    comp = connected_components_star(cand, src="doc_a", dst="doc_b")
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


@query(
    "q_text_collocations",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    n AS (SELECT count(*) AS n_docs FROM documents),
    bg AS (
      SELECT DISTINCT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      FROM t, unnest(generate_series(1, len(tk) - 1)) u(i)
    ),
    dfab AS (SELECT w1, w2, count(*) AS df_ab FROM bg GROUP BY 1, 2),
    tok AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest(tk) AS w FROM t)
    ),
    dfw AS (SELECT w, count(*) AS df FROM tok GROUP BY 1)
    SELECT d.w1, d.w2, d.df_ab,
           CAST(d.df_ab * n.n_docs AS DOUBLE) / (a.df * b.df) AS lift
    FROM dfab d
    CROSS JOIN n
    JOIN dfw a ON d.w1 = a.w
    JOIN dfw b ON d.w2 = b.w
    WHERE d.df_ab >= 2
    ORDER BY lift DESC, d.w1, d.w2 LIMIT 20
    """,
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations (llm/text.py:collocations): adjacent bigrams
    ranked by document-frequency lift df_ab*N/(df_a*df_b) — the PMI
    ranking with the monotone log dropped so every quantity is an exact
    integer and the one lift division is bit-identical IEEE. Total
    (lift, w1, w2) order makes the 20-row cut stable; the oracle
    rebuilds the identical counts. Bigram expansion is a codegen
    transform — no UDF, no join — and the frequency joins broadcast
    vocabulary-sized sides."""
    docs = load_table(spark, sf_dir, "documents")
    return X.collocations(docs, k=20)


@query(
    "q_text_gopher_quality",
    oracle="""
    WITH m AS (
      SELECT doc_id,
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
      FROM documents
    )
    SELECT doc_id, n_words,
           (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
           (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words)
             AS ok_mean_word_len,
           (10 * n_symbols <= n_words) AS ok_symbol_ratio,
           (stop_hits >= 2) AS ok_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words)
            AND (10 * n_symbols <= n_words)
            AND (stop_hits >= 2)) AS keep
    FROM m
    """,
)
def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality filter
    (llm/text.py:gopher_quality): word-count bounds, mean-word-length
    band, symbol ratio, stopword evidence — per-rule flags plus the
    conjunction, every rule integer/regex arithmetic (mean word length
    compared by cross-multiplication, never a float mean) so flags are
    bit-identical across engines. Pure scan projection: free at any
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return X.gopher_quality(docs)


@query(
    "q_dedup_ppjoin",
    oracle=f"""
    {_CTE_EX},
    sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
    inter AS (
      SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b, count(*) AS inter
      FROM ex e1 JOIN ex e2 ON e1.s = e2.s AND e1.doc_id < e2.doc_id
      GROUP BY 1, 2
    ),
    jacc AS (
      SELECT doc_a, doc_b,
             inter / (sa.n + sb.n - inter) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM jacc WHERE jaccard >= 0.5
    """,
)
def q_dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered set-similarity join
    (llm/dedup.py:ppjoin_pairs) over the augmented corpus at Jaccard
    >= 0.5. The ORACLE is the naive full shingle equi-join: prefix
    filtering is provably lossless (any pair at J >= t shares a prefix
    shingle under the global rarity order), so the hash match certifies
    the optimization drops no qualifying pair while joining only on
    prefix shingles — the frequent shingles that make the naive join
    quadratic fall outside prefixes by construction."""
    from csv2db_spark.llm.dedup import ppjoin_pairs

    return ppjoin_pairs(augmented_docs(spark, sf_dir), 0.5)


@query(
    "q_dedup_incremental_minhash",
    oracle=f"""
    {_CTE_EX},
    {_sql_minhash_cte(max_bucket=_MINHASH_MAX_BUCKET).strip()},
    {_JACCARD_H1_TAIL.strip()}
    SELECT c.doc_a, c.doc_b, j.jaccard
    FROM cand c JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    WHERE j.jaccard >= 0.5 AND c.doc_a < 100000 AND c.doc_b >= 100000
    """,
)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-duplicate detection: the original corpus's
    MinHash signatures are STORED STATE (computed once, here the
    doc_id<100000 half), and an arriving batch (the synthesized exact
    copies + truncated variants) computes only ITS OWN signatures, band-
    joins against the standing band table, and exact-verifies on hash
    sets — no re-shingling of the existing corpus, the near-dup
    complement of q_curate_incremental_dedup's digest anti-join. The
    oracle is the FULL-batch pipeline restricted to cross-batch pairs:
    hash equality proves incremental signature reuse emits exactly the
    pairs a from-scratch run would (same band caps, same verification).
    Scale shape: per arrival, signature work is batch-sized; the band
    join touches the new bands' buckets only."""
    corpus = augmented_docs(spark, sf_dir)
    sig_old = D.minhash_doc_signatures(
        corpus.where(F.col("doc_id") < 100000)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sig_new = D.minhash_doc_signatures(
        corpus.where(F.col("doc_id") >= 100000)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bands = D.minhash_bands(sig_old).unionByName(D.minhash_bands(sig_new))
    cand = D.minhash_candidates(bands, max_bucket=_MINHASH_MAX_BUCKET).where(
        (F.col("doc_a") < 100000) & (F.col("doc_b") >= 100000)
    )
    sa = sig_old.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("ha"))
    sb = sig_new.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    jac = inter / (F.size("ha") + F.size("hb") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


@query(
    "q_dedup_keep_best",
    oracle=f"""
    {_CTE_EX.replace("WITH ", "WITH RECURSIVE ", 1)},
    {_sql_minhash_cte().strip()},
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS component
      FROM reach GROUP BY a
    ),
    scored AS (
      SELECT c.doc_id, c.component,
             CAST(len(string_split(t.text, ' ')) AS BIGINT) AS score
      FROM comp c JOIN aug t ON t.doc_id = c.doc_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY component
                                   ORDER BY score DESC, doc_id) AS rk
      FROM scored
    )
    SELECT doc_id, component, score, rk = 1 AS is_kept
    FROM ranked
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final policy step: within each LSH duplicate
    cluster keep the highest-quality member — quality here = token
    count, so the truncated near-dup copies lose to their originals and
    exact-copy ties break on doc_id (llm/dedup.keep_best_representative).
    Oracle: recursive-CTE transitive closure + the same (score desc, id)
    window. The join and window touch cluster MEMBERS only — docs
    without a near-dup never shuffle."""
    from csv2db_spark.operators.graph import connected_components

    docs = augmented_docs(spark, sf_dir)
    sig = D.minhash_doc_signatures(docs).persist(StorageLevel.MEMORY_AND_DISK)
    cand = D.minhash_candidates(D.minhash_bands(sig))
    comp = connected_components(cand, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    quality = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("score")
    )
    return D.keep_best_representative(comp, quality)


@query(
    "q_text_feature_hash",
    oracle="""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % 64 AS bucket,
             CASE WHEN CAST('0x' || substr(md5(tok), 13, 12) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM t
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS tf,
           CAST(sum(sgn) AS BIGINT) AS signed_tf
    FROM h GROUP BY 1, 2
    """,
)
def q_text_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (llm/text.feature_hash_tf): 64-bucket
    signed term frequencies per document, every cell hash-verified via
    the shared md5 half-split convention. No vocabulary pass, no
    broadcast state — the 100 TB featurizer."""
    return X.feature_hash_tf(load_table(spark, sf_dir, "documents"))


@query(
    "q_text_hashed_classifier",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang = 'en' AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id, pos,
             CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % 64 AS bucket
      FROM tok
    ),
    pb AS (
      SELECT bucket,
             sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cnt_pos,
             sum(CASE WHEN pos THEN 0 ELSE 1 END) AS cnt_neg
      FROM h GROUP BY bucket
    ),
    tot AS (SELECT sum(cnt_pos) AS tot_pos, sum(cnt_neg) AS tot_neg FROM pb),
    w AS (
      SELECT bucket,
             CAST(cnt_pos * tot_neg - cnt_neg * tot_pos AS BIGINT) AS w
      FROM pb, tot
    ),
    tf AS (SELECT doc_id, bucket, count(*) AS tf FROM h GROUP BY 1, 2)
    SELECT t.doc_id,
           CAST(sum(t.tf * w.w) AS BIGINT) AS score,
           CAST(sum(t.tf * w.w) AS BIGINT) > 0 AS predicted_pos
    FROM tf t JOIN w USING (bucket)
    GROUP BY t.doc_id
    """,
)
def q_text_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier, trained AND applied in one plan
    (llm/text.hashed_linear_classifier): the fastText-quality-filter
    shape — 64 hashed bag-of-words buckets, per-class bucket counts,
    division-free cross-multiplied skew weights, per-doc integer scores.
    Supervision here is the fixture's lang column (en vs rest); the
    hash pins every document's exact score and decision. The model is
    64 rows broadcast back over the corpus — no vocabulary state, no
    Python, two linear passes."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_is_en", F.col("lang") == "en"
    )
    return X.hashed_linear_classifier(docs, "_is_en")


@query(
    "q_curate_leakage_safe_split",
    oracle=f"""
    {_CTE_EX.replace("WITH ", "WITH RECURSIVE ", 1)},
    {_sql_minhash_cte().strip()},
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS component
      FROM reach GROUP BY a
    ),
    assigned AS (
      SELECT g.doc_id,
             c.component IS NOT NULL AS is_clustered,
             CASE
               WHEN md5(CAST(coalesce(c.component, g.doc_id) AS VARCHAR))
                    < 'e6666666666668000000000000000000' THEN 'train'
               WHEN md5(CAST(coalesce(c.component, g.doc_id) AS VARCHAR))
                    < 'f3333333333330000000000000000000' THEN 'val'
               ELSE 'test'
             END AS split
      FROM aug g LEFT JOIN comp c ON c.doc_id = g.doc_id
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN is_clustered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clustered,
           min(doc_id) AS min_doc_id
    FROM assigned GROUP BY split
    """,
)
def q_curate_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test assignment
    (llm/curation.leakage_safe_split): split membership hashes the
    duplicate-cluster REPRESENTATIVE, so a test document can never have
    a training twin — the leakage plain per-doc splits cannot prevent
    (every-member-same-split is additionally pinned in pytest). Oracle:
    recursive-CTE clusters + the same md5 threshold bands. Gate
    aggregates per split with clustered-doc counts and a min-id
    witness."""
    from csv2db_spark.llm.curation import leakage_safe_split
    from csv2db_spark.operators.graph import connected_components

    docs = augmented_docs(spark, sf_dir)
    sig = D.minhash_doc_signatures(docs).persist(StorageLevel.MEMORY_AND_DISK)
    cand = D.minhash_candidates(D.minhash_bands(sig))
    comp = connected_components(cand, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    s = leakage_safe_split(docs, comp)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("component").isNotNull().cast("long")).alias("n_clustered"),
        F.min("doc_id").alias("min_doc_id"),
    )


# ------------------------------------------------------- paragraph dedup

# Synthetic paragraph corpus (the fixture texts have no newlines): every
# 4 consecutive documents become one multi-paragraph doc, plus a trailer
# paragraph copied from document (7*g) % 100 — so ~each trailer
# duplicates a body paragraph somewhere in the corpus and the
# first-occurrence rule does real work. Both engines build it
# relationally from the same parquet.
_SQL_PARA_CORPUS = """
grp AS (
  SELECT doc_id // 4 AS pdoc_id,
         string_agg(text, chr(10) ORDER BY doc_id) AS body
  FROM documents GROUP BY doc_id // 4
),
corp AS (
  SELECT g.pdoc_id, g.body || chr(10) || d.text AS text
  FROM grp g JOIN documents d ON d.doc_id = (g.pdoc_id * 7) % 100
)
"""


def _paragraph_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grp = docs.groupBy((F.col("doc_id") / F.lit(4)).cast("long").alias("pdoc_id")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("body")
    )
    trailer = docs.select(F.col("doc_id").alias("t_id"), F.col("text").alias("t_text"))
    return grp.join(
        trailer, (F.col("pdoc_id") * 7) % 100 == F.col("t_id")
    ).select("pdoc_id", F.concat_ws("\n", "body", "t_text").alias("text"))


@query(
    "q_dedup_paragraphs",
    oracle=f"""
    WITH {_SQL_PARA_CORPUS.strip()},
    px AS (
      SELECT pdoc_id,
             unnest(string_split(text, chr(10))) AS para,
             unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
      FROM corp
    ),
    keep AS (
      SELECT pdoc_id, pos, para,
             row_number() OVER (PARTITION BY md5(para)
                                ORDER BY pdoc_id, pos) AS rn
      FROM px
    )
    SELECT pdoc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           md5(string_agg(para, chr(10) ORDER BY pos)) AS text_md5
    FROM keep WHERE rn = 1
    GROUP BY pdoc_id
    """,
)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style paragraph-level exact dedup
    (llm/dedup.dedup_paragraphs): each distinct paragraph survives only
    at its first (doc, position) occurrence corpus-wide; documents are
    reassembled from the survivors. Gate emits per-doc surviving-para
    count + md5 of the rebuilt text, so a wrong keep/drop ANYWHERE
    changes the hash. The oracle replays the same rule with a DuckDB
    window. Two linear shuffles (paragraph digest, then doc) — no
    pairwise step; see the operator docstring for the 100 TB shape."""
    out = D.dedup_paragraphs(_paragraph_corpus(spark, sf_dir), id_col="pdoc_id")
    return out.select("pdoc_id", "n_paras", F.md5("text").alias("text_md5"))


@query(
    "q_text_zipf_histogram",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token
    )
    SELECT CAST(length(format('{:b}', freq)) - 1 AS INTEGER) AS log2_bin,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(freq) AS BIGINT) AS n_occurrences,
           min(freq) AS min_freq,
           max(freq) AS max_freq
    FROM freq
    GROUP BY 1
    """,
)
def q_text_zipf_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf corpus diagnostic (llm/text.zipf_histogram): token
    frequencies bucketed by EXACT bit-length log2 bins — integer
    arithmetic end to end, so the hash check is unconditional (no float
    log at a bin boundary). One wordcount shuffle + a vocab-row bin
    aggregate; <= 64 output rows at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return X.zipf_histogram(docs)


@query(
    "q_sim_hamming_topk",
    oracle=f"""
    WITH wt AS (
      SELECT b, i,
             CASE WHEN CAST('0x' || substr(md5('hp:' || b || ':' || i), 1, 2)
                       AS INT) % 2 = 0 THEN 1 ELSE -1 END AS w
      FROM range(0, 48) rb(b), range(1, 65) ri(i)
    ),
    el AS (
      SELECT vec_id, i, {_sql_iel('cast(embedding[i] as double)')} AS q
      FROM embeddings, range(1, 65) r(i)
    ),
    bits AS (
      SELECT e.vec_id, wt.b,
             CASE WHEN sum(wt.w * e.q) > 0 THEN 1 ELSE 0 END AS bit
      FROM el e JOIN wt ON wt.i = e.i GROUP BY e.vec_id, wt.b
    ),
    sig AS (
      SELECT vec_id,
             CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS signature
      FROM bits GROUP BY vec_id
    ),
    qs AS (SELECT vec_id AS query_id, signature AS sig_q
           FROM sig WHERE vec_id < 5),
    scored AS (
      SELECT qs.query_id, s.vec_id AS neighbor_id,
             bit_count(xor(s.signature, qs.sig_q)) AS hamming
      FROM sig s, qs WHERE s.vec_id <> qs.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id,
           CAST(hamming AS BIGINT) AS hamming,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact-code similarity search, fully hash-verified (llm/
    similarity.hyperplane_signatures + hamming_topk): 48-bit
    random-hyperplane signatures (Charikar rounding, md5-parity
    hyperplanes — no RNG state) packed into one long per vector, then
    exact top-5 by popcount(xor) with deterministic tiebreak. Unlike
    the LSH/IVF/PQ gates (recall-bounded by nature), here BOTH stages
    are integer-exact, so the driver hash-checks the entire ANN
    pipeline — codes and neighbor lists — bit for bit. 64 floats
    become 6 bytes; the scan side of a query touches one long per
    vector."""
    from csv2db_spark.llm import similarity as S

    sig = S.hyperplane_signatures(load_table(spark, sf_dir, "embeddings"))
    out = S.hamming_topk(sig, query_ids=range(5), k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("hamming").cast("long").alias("hamming"),
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "q_sim_hamming_rerank",
    oracle=f"""
    WITH wt AS (
      SELECT b, i,
             CASE WHEN CAST('0x' || substr(md5('hp:' || b || ':' || i), 1, 2)
                       AS INT) % 2 = 0 THEN 1 ELSE -1 END AS w
      FROM range(0, 48) rb(b), range(1, 65) ri(i)
    ),
    el AS (
      SELECT vec_id, i, {_sql_iel('cast(embedding[i] as double)')} AS q
      FROM embeddings, range(1, 65) r(i)
    ),
    bits AS (
      SELECT e.vec_id, wt.b,
             CASE WHEN sum(wt.w * e.q) > 0 THEN 1 ELSE 0 END AS bit
      FROM el e JOIN wt ON wt.i = e.i GROUP BY e.vec_id, wt.b
    ),
    sig AS (
      SELECT vec_id,
             CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS signature
      FROM bits GROUP BY vec_id
    ),
    qs AS (SELECT vec_id AS query_id, signature AS sig_q
           FROM sig WHERE vec_id < 5),
    hscore AS (
      SELECT qs.query_id, s.vec_id AS neighbor_id,
             bit_count(xor(s.signature, qs.sig_q)) AS hamming
      FROM sig s, qs WHERE s.vec_id <> qs.query_id
    ),
    hrank AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hrk
      FROM hscore
    ),
    cand AS (SELECT query_id, neighbor_id FROM hrank WHERE hrk <= 25),
    norms AS (
      SELECT vec_id,
             sum({_sql_iel('cast(embedding[i] as double)')}
                 * {_sql_iel('cast(embedding[i] as double)')}) AS nrm2
      FROM embeddings, range(1, 65) r(i) GROUP BY vec_id
    ),
    dots AS (
      SELECT c.query_id, c.neighbor_id,
             sum({_sql_iel('cast(eq.embedding[i] as double)')}
                 * {_sql_iel('cast(en.embedding[i] as double)')}) AS dot
      FROM cand c
      JOIN embeddings eq ON eq.vec_id = c.query_id
      JOIN embeddings en ON en.vec_id = c.neighbor_id, range(1, 65) r(i)
      GROUP BY 1, 2
    ),
    rer AS (
      SELECT d.query_id, d.neighbor_id,
             {_sql_cos('d.dot', 'nq.nrm2', 'nn.nrm2')} AS cos_sim
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.query_id
      JOIN norms nn ON nn.vec_id = d.neighbor_id
    ),
    fin AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM rer
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM fin WHERE rank <= 5
    """,
)
def q_sim_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortlist-then-refine over binary codes (llm/similarity.
    hamming_rerank_topk): Hamming top-25 candidates from the 48-bit
    signatures, exact quantized-cosine re-rank to top-5 — the
    production composition of the compact-code family (the binary
    sibling of ivfpq_topk's ADC-then-refine). Every stage is
    deterministic — integer Hamming, exact integer dots, correctly-
    rounded IEEE sqrt/division — so the full two-stage ANN pipeline
    hash-matches the oracle end to end. Full vectors are fetched for
    shortlist×queries rows only; the corpus-wide scan touches one long
    per vector."""
    from csv2db_spark.llm import similarity as S

    return S.hamming_rerank_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=range(5),
        k=5,
        shortlist=25,
    ).select(
        "query_id",
        "neighbor_id",
        "cos_sim",
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------- MMR diversification


def _mmr_oracle(qid: int, n_short: int, k: int) -> str:
    """Unrolled greedy MMR in plain SQL: shortlist + pairwise cosines,
    then k chained argmax steps (aggregates in recursive CTEs are not
    portable, so the greedy is unrolled)."""
    iel_e = _sql_iel("cast(e.embedding[i] as double)")
    iel_q = _sql_iel("cast(q.embedding[i] as double)")
    iel_a = _sql_iel("cast(ea.embedding[i] as double)")
    iel_b = _sql_iel("cast(eb.embedding[i] as double)")
    steps = []
    for i in range(2, k + 1):
        steps.append(f"""
    sel{i} AS MATERIALIZED (
      SELECT * FROM (
        SELECT {i} AS rank, c.vec_id, c.rel,
               max(p.cs) AS diversity_penalty,
               0.5 * c.rel - 0.5 * max(p.cs) AS mmr_score
        FROM short c
        JOIN pairs p ON p.va = c.vec_id
        WHERE p.vb IN (SELECT vec_id FROM acc{i - 1})
          AND c.vec_id NOT IN (SELECT vec_id FROM acc{i - 1})
        GROUP BY c.vec_id, c.rel
      ) ORDER BY mmr_score DESC, vec_id LIMIT 1
    ),
    acc{i} AS MATERIALIZED (SELECT * FROM acc{i - 1} UNION ALL SELECT * FROM sel{i})""")
    return f"""
    WITH nrm AS MATERIALIZED (
      SELECT vec_id,
             sum({_sql_iel('cast(embedding[i] as double)')}
                 * {_sql_iel('cast(embedding[i] as double)')}) AS nrm2
      FROM embeddings, range(1, 65) r(i) GROUP BY vec_id
    ),
    qdots AS MATERIALIZED (
      SELECT e.vec_id, sum({iel_q} * {iel_e}) AS dot
      FROM embeddings e,
           (SELECT * FROM embeddings WHERE vec_id = {qid}) q,
           range(1, 65) r(i)
      WHERE e.vec_id != {qid}
      GROUP BY e.vec_id
    ),
    short AS MATERIALIZED (
      SELECT d.vec_id, {_sql_cos('d.dot', 'qn.nrm2', 'nn.nrm2')} AS rel
      FROM qdots d
      JOIN nrm qn ON qn.vec_id = {qid}
      JOIN nrm nn ON nn.vec_id = d.vec_id
      ORDER BY rel DESC, d.vec_id LIMIT {n_short}
    ),
    pairs AS MATERIALIZED (
      SELECT ea.vec_id AS va, eb.vec_id AS vb,
             {_sql_cos('sum(' + iel_a + ' * ' + iel_b + ')',
                       'na.nrm2', 'nb.nrm2')} AS cs
      FROM embeddings ea
      JOIN embeddings eb ON ea.vec_id != eb.vec_id
      JOIN nrm na ON na.vec_id = ea.vec_id
      JOIN nrm nb ON nb.vec_id = eb.vec_id, range(1, 65) r(i)
      WHERE ea.vec_id IN (SELECT vec_id FROM short)
        AND eb.vec_id IN (SELECT vec_id FROM short)
      GROUP BY ea.vec_id, eb.vec_id, na.nrm2, nb.nrm2
    ),
    sel1 AS MATERIALIZED (
      SELECT * FROM (
        SELECT 1 AS rank, vec_id, rel, 0.0 AS diversity_penalty,
               0.5 * rel - 0.5 * 0.0 AS mmr_score
        FROM short
      ) ORDER BY mmr_score DESC, vec_id LIMIT 1
    ),
    acc1 AS MATERIALIZED (SELECT * FROM sel1),{','.join(steps)}
    SELECT rank, vec_id AS neighbor_id, rel AS relevance,
           diversity_penalty, mmr_score
    FROM acc{k}
    """


@query("q_retrieval_mmr_rerank", oracle=_mmr_oracle(0, 24, 8))
def q_retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-8 for query vector 0 over a 24-candidate
    exact-cosine shortlist (llm/retrieval.mmr_rerank): greedy
    λ=1/2 relevance-vs-redundancy argmax, fully hash-verified — the
    oracle replays the same greedy as 8 unrolled SQL argmax steps over
    the same quantized-integer cosines. The corpus-sized stage is the
    distributed shortlist; the greedy is bounded driver work
    (24 rows × 8 picks × 64 dims)."""
    from csv2db_spark.llm.retrieval import mmr_rerank

    return mmr_rerank(
        load_table(spark, sf_dir, "embeddings"),
        query_id=0,
        n_shortlist=24,
        k=8,
    )


# ----------------------------------------------------- shingle containment


@query(
    "q_dedup_containment",
    oracle=f"""
    {_CTE_EX},
    exf AS (
      SELECT doc_id, s FROM ex
      WHERE s NOT IN (SELECT s FROM ex GROUP BY s
                      HAVING count(DISTINCT doc_id) > 64)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM exf GROUP BY doc_id),
    inter AS (
      SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM exf e1 JOIN exf e2 ON e1.s = e2.s AND e1.doc_id != e2.doc_id
      GROUP BY e1.doc_id, e2.doc_id
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           CAST(sz.n AS BIGINT) AS n_shingles_a,
           CAST((1000 * i.n_common) // sz.n AS BIGINT)
             AS containment_permille
    FROM inter i JOIN sizes sz ON sz.doc_id = i.doc_a
    WHERE CAST((1000 * i.n_common) // sz.n AS BIGINT) >= 700
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment over the augmented corpus
    (llm/dedup.containment_pairs): the truncated-prefix clones
    (doc_id+100000 — originals minus their last 5 tokens) are true
    SUB-documents, so they surface with containment ≈ 1000‰ toward
    their originals even where Jaccard would sit below a dedup
    threshold. Stop-shingle cap (df > 64) applied to numerator and
    denominator; threshold enforced by integer permille — every
    emitted pair hash-verified. distinct=False: containment_pairs
    dedups (doc_id, s) itself on its shared postings exchange, so the
    upstream dedup shuffle would be pure waste."""
    ex = D.shingle_table(augmented_docs(spark, sf_dir), distinct=False)
    return D.containment_pairs(ex, min_permille=700, max_doc_freq=64)


@query(
    "q_sim_sq8_rerank",
    oracle=f"""
    WITH stats AS MATERIALIZED (
      SELECT i, min(cast(embedding[i] as double)) AS mn,
             max(cast(embedding[i] as double)) AS mx
      FROM embeddings, range(1, 65) r(i) GROUP BY i
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, i,
             cast(cast(cast(c as double) * rng / 255.0 + mn as decimal(9,8)) * 100000000 as bigint) AS d
      FROM (
        SELECT e0.vec_id, r0.i AS i,
               CASE WHEN s.mx = s.mn THEN 0
                    ELSE CAST(floor((cast(e0.embedding[r0.i] as double)
                                     - s.mn) * 255.0 / (s.mx - s.mn))
                              AS BIGINT)
               END AS c, s.mn AS mn, s.mx - s.mn AS rng
        FROM embeddings e0, range(1, 65) r0(i)
        JOIN stats s ON s.i = r0.i
      )
    ),
    qc AS MATERIALIZED (
      SELECT vec_id AS query_id, i, d FROM codes WHERE vec_id < 5
    ),
    approx AS MATERIALIZED (
      SELECT qc.query_id, c.vec_id AS neighbor_id, sum(qc.d * c.d)
               AS code_dot
      FROM codes c JOIN qc ON c.i = qc.i
      WHERE c.vec_id != qc.query_id
      GROUP BY qc.query_id, c.vec_id
    ),
    short AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY code_dot DESC, neighbor_id)
                    AS rn
        FROM approx
      ) WHERE rn <= 25
    ),
    nrm AS MATERIALIZED (
      SELECT vec_id,
             sum({_sql_iel('cast(embedding[i] as double)')}
                 * {_sql_iel('cast(embedding[i] as double)')}) AS nrm2
      FROM embeddings, range(1, 65) r(i) GROUP BY vec_id
    ),
    rescored AS (
      SELECT sh.query_id, sh.neighbor_id,
             {_sql_cos(
                 "sum(" + _sql_iel('cast(eq.embedding[i] as double)')
                 + " * " + _sql_iel('cast(en.embedding[i] as double)') + ")",
                 'any_value(nq.nrm2)', 'any_value(nn.nrm2)')} AS cos_sim
      FROM short sh
      JOIN embeddings eq ON eq.vec_id = sh.query_id
      JOIN embeddings en ON en.vec_id = sh.neighbor_id
      JOIN nrm nq ON nq.vec_id = sh.query_id
      JOIN nrm nn ON nn.vec_id = sh.neighbor_id, range(1, 65) r(i)
      GROUP BY sh.query_id, sh.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id)
                  AS rank
      FROM rescored
    ) WHERE rank <= 5
    """,
)
def q_sim_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN with exact rescore
    (llm/similarity.sq8_rerank_topk): per-dimension 8-bit linear codes
    (FAISS ScalarQuantizer recipe) scan as integer dots, top-25
    shortlist re-scored by the exact quantized cosine to top-5. Every
    stage is deterministic — per-dim min/max, one fixed-order IEEE
    quantization expression, integer code dots, exact rescore — so
    this compact-code pipeline hash-verifies END TO END, joining
    hamming_topk as the second fully-oracled ANN family (PQ's k-means
    codebooks stay rows-only by nature)."""
    from csv2db_spark.llm import similarity as S

    return S.sq8_rerank_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=range(5),
        k=5,
        shortlist=25,
    )


@query(
    "q_sim_range_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    norms AS (
      SELECT vec_id,
             sum({_sql_iel('cast(embedding[i] as double)')}
                 * {_sql_iel('cast(embedding[i] as double)')}) AS nrm2
      FROM embeddings, range(1, 65) r(i) GROUP BY vec_id
    ),
    dots AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             sum({_sql_iel('cast(q.qv[i] as double)')}
                 * {_sql_iel('cast(e.embedding[i] as double)')}) AS dot
      FROM q, embeddings e, range(1, 65) r(i)
      WHERE e.vec_id != q.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id,
           {_sql_cos('dot', 'nq.nrm2', 'nn.nrm2')} AS cos_sim
    FROM dots
    JOIN norms nq ON nq.vec_id = query_id
    JOIN norms nn ON nn.vec_id = neighbor_id
    WHERE {_sql_cos('dot', 'nq.nrm2', 'nn.nrm2')} >= 0.15
    """,
)
def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search (llm/similarity.cosine_range_search): the COMPLETE
    cosine ≥ 0.15 ball around each of the first 5 vectors — the
    threshold-complete complement of top-k (dedup audits want every
    neighbour above τ, not a fixed count). Exact quantized cosines, a
    filter instead of a window sort, output proportional to matches."""
    from csv2db_spark.llm import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_range_search(
        emb, emb.where(F.col("vec_id") < 5), min_cosine=0.15
    )


@query(
    "q_text_code_detect",
    oracle="""
    WITH staged AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN
               'def main():' || chr(10) ||
               '    for i in range(10):' || chr(10) ||
               '        x = compute(i);' || chr(10) ||
               '    return {x: [1, 2]};' || chr(10) || text
             ELSE text END AS text
      FROM documents
    ),
    m AS (
      SELECT doc_id, text,
             greatest(length(text), 1) AS n_chars,
             len(regexp_extract_all(text, '[{}();=<>\\[\\]]')) AS code_chars,
             greatest(len(string_split(text, chr(10))), 1) AS n_lines,
             len(list_filter(string_split(text, chr(10)),
                 l -> regexp_matches(l, '[;{}]\\s*$')
                   OR regexp_matches(l,
                      '^\\s*(def |import |for |if |class |return )')))
               AS stmt_lines,
             len(list_filter(string_split(text, chr(10)),
                 l -> regexp_matches(l, '^(    |\\t)'))) AS indented
      FROM staged
    ),
    r AS (
      SELECT doc_id,
             CAST(floor(code_chars * 1000 / n_chars) AS BIGINT)
               AS code_char_permille,
             CAST(floor(stmt_lines * 1000 / n_lines) AS BIGINT)
               AS stmt_line_permille,
             CAST(floor(indented * 1000 / n_lines) AS BIGINT)
               AS indent_line_permille
      FROM m
    )
    SELECT doc_id, code_char_permille, stmt_line_permille,
           indent_line_permille,
           CAST(floor((code_char_permille + stmt_line_permille
                       + indent_line_permille) / 3) AS BIGINT)
             AS code_score_permille,
           CAST(floor((code_char_permille + stmt_line_permille
                       + indent_line_permille) / 3) AS BIGINT) >= 60
             AS looks_like_code
    FROM r
    """,
)
def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signal (llm/text.code_detect): every 10th
    document is staged with a python-shaped preamble (statement lines,
    indentation, brace/semicolon characters) and must flag
    looks_like_code while plain prose stays below threshold. All
    features are integer floor-permilles of regexp counts — flags
    hash-verify; pure scan projection, free at any scale."""
    from csv2db_spark.llm.text import code_detect

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.lit(
                    "def main():\n    for i in range(10):\n"
                    "        x = compute(i);\n    return {x: [1, 2]};\n"
                ),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return code_detect(docs)


@query(
    "q_text_compressibility_parity",
    oracle="SELECT CAST(0 AS BIGINT) AS doc_id,"
    " CAST(0 AS BIGINT) AS spark_zbytes,"
    " CAST(0 AS BIGINT) AS ref_zbytes WHERE 1 = 0",
)
def q_text_compressibility_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible parity gate for the zlib compressibility signal
    (llm/text.compressibility — the RedPajama-v2/Dolma-class
    boilerplate/junk quality feature; DEFLATE has no Catalyst
    expression, so it is the repo's canonical Arrow-batched pandas_udf
    slow path). The executor-side batch computation must byte-agree
    with an independent single-process driver recompute on a BOUNDED
    deterministic sample (the 256 smallest doc ids — bounded at any
    corpus scale). EMPTY means the Arrow path is exact, hash-verified
    the same way as q_text_bpe_parity."""
    from csv2db_spark.llm.text import compressibility_violations

    docs = load_table(spark, sf_dir, "documents")
    return compressibility_violations(docs)


@query(
    "q_text_sentence_split",
    oracle="""
    WITH staged AS (
      SELECT doc_id,
             'First thought ends here. Second one asks? Third shouts! '
               || text AS text
      FROM documents
    ),
    parts AS (
      SELECT doc_id, text,
             regexp_extract_all(text, '[^.!?]*[.!?]') AS sents
      FROM staged
    ),
    with_tail AS (
      SELECT doc_id,
             CASE WHEN length(trim(substr(text,
                         length(list_aggregate(sents, 'string_agg', ''))
                           + 1))) > 0
                  THEN list_append(sents,
                         trim(substr(text,
                           length(list_aggregate(sents, 'string_agg', ''))
                             + 1)))
                  ELSE sents END AS sents
      FROM parts
    )
    SELECT doc_id, CAST(i AS INT) AS sentence_idx,
           trim(sents[i]) AS sentence
    FROM with_tail, unnest(range(1, len(sents) + 1)) r(i)
    WHERE length(trim(sents[i])) > 0
    """,
)
def q_text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (llm/text.sentence_split): documents staged
    with a three-sentence preamble (period/question/exclamation
    terminators) followed by the fixture text as the unterminated tail
    fragment — every sentence comes back with its 1-based index, the
    tail included. Extraction-pattern segmentation (no lookbehind — the
    oracle's RE2 has none); pure scan projection + posexplode."""
    from csv2db_spark.llm.text import sentence_split

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("First thought ends here. Second one asks? Third shouts! "),
            F.col("text"),
        ).alias("text"),
    )
    return sentence_split(docs)

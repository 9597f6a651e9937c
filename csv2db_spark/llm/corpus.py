"""Shared text primitives: tokens, shingles, and the augmented test
corpus.

The fixture ``documents`` table has no duplicates at all (500 unique
texts), so dedup operators would trivially return empty results. Each
dedup query therefore runs on a deterministic AUGMENTED corpus built
inside the query itself (and identically inside the oracle SQL):

- exact copies:   doc_id + 200000 for doc_id < 30
- near-dup copies: doc_id + 100000 for doc_id < 50 (last 5 tokens cut)

Both engines build the same corpus with pure relational ops, so the
correctness gate stays meaningful.

Cross-engine identity: tokens are ``split(text, ' ')`` (fixture texts are
single-space separated, no leading/trailing spaces); shingles are
distinct word 3-grams; hashes are md5 hex strings (identical bytes on
both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2db_spark.sources import load_table

# ---------------------------------------------------------------- Spark side


def tokens(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.split(c, " ")


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams; empty array when the doc is shorter than n.

    Built from arrays_zip of n shifted slices — the repo's standard
    n-gram idiom — with the transform body reduced to struct-field
    access + one concat_ws. The earlier sequence + per-index
    element_at×n body evaluated interpreted per element and measured
    8.7× slower at sf0.1 (2.95 → 0.34 s for the size-only projection,
    element-identical output)."""
    m = F.size(toks) - (n - 1)
    z = F.arrays_zip(*[F.slice(toks, j + 1, m).alias(f"t{j}") for j in range(n)])
    make = F.array_distinct(
        F.transform(
            z, lambda st: F.concat_ws(" ", *[st[f"t{j}"] for j in range(n)])
        )
    )
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(make)


def augmented_docs(
    spark: SparkSession, sf_dir: str, with_meta: bool = False
) -> DataFrame:
    """The duplicate-bearing test corpus: documents + exact clones
    (+200000) + truncated near-clones (+100000).

    ``with_meta=True`` carries lang/source through every branch — free,
    since the clone branches derive from the same documents scan — so a
    consumer needing those columns after a dedup stage doesn't pay a
    corpus-sized join back to ``documents`` (the r7 verdict's v6
    join-back finding). Default stays the 2-column shape: Catalyst
    prunes, but the narrower contract keeps oracle SQL_AUG aligned."""
    cols = ["doc_id", "text"] + (["lang", "source"] if with_meta else [])
    docs = load_table(spark, sf_dir, "documents").select(*cols)
    exact = docs.where(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + 200000
    )
    toks = tokens("text")
    near = (
        docs.where(F.col("doc_id") < 50)
        .withColumn(
            "text", F.array_join(F.slice(toks, 1, F.size(toks) - 5), " ")
        )
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    return docs.unionByName(exact).unionByName(near)


# --------------------------------------------------------------- oracle side

SQL_TOKENS = "string_split({c}, ' ')"

# DuckDB: distinct word 3-grams, 1-based list indexing, range() end-exclusive
SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len({t}) - 1, 1)), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]))"
)

SQL_AUG = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(
           (string_split(text, ' '))[1:len(string_split(text, ' ')) - 5],
           ' ') AS text
  FROM documents WHERE doc_id < 50
)
"""

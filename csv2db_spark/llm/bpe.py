"""Byte-pair-encoding merge training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") — tokenizer
training as a sequence of corpus-wide aggregations.

The classic algorithm, kept in its scale-correct shape:

1. ONE corpus pass builds the word-frequency table — from then on the
   working state is |vocab| rows (distinct words as symbol arrays with
   counts), never the corpus again. This is the detail that makes BPE
   training tractable at 100 TB: a 1e12-token corpus has a few million
   distinct words; iteration happens on megabytes.
2. Each merge round: adjacent-pair counts weighted by word frequency
   (one |vocab|-row aggregation), argmax with a total-order tie-break
   (count desc, then pair lexicographically — deterministic), then the
   merge is applied to every word's symbol array by a LEFT FOLD inside
   ``F.aggregate`` — pure codegen, no Python in the loop.
3. The driver touches ONE row per round (the winning pair) — the same
   justified-collect class as graph.py's convergence checks.

Determinism: counts are exact longs and the tie-break is total, so the
merge sequence is bit-reproducible at any partitioning (pinned by a
pure-Python reference in tests/test_analytics2.py). The gate is
rows-only: SQL cannot iterate, so the oracle-form check is the Python
reference, not DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2db_spark.operators import stage

END = "</w>"  # word-end marker: merges never cross word boundaries


def _word_vocab(docs: DataFrame, text_col: str) -> DataFrame:
    """(syms: array<string>, n: long) — distinct words as character
    arrays with an end marker, weighted by corpus frequency."""
    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).where(F.length("w") > 0)
    counted = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    syms = F.concat(
        F.split(F.col("w"), ""),  # single characters
        F.array(F.lit(END)),
    )
    return counted.select(syms.alias("syms"), "n")


def _apply_merge(syms_col, left: str, right: str):
    """Left fold replacing every adjacent (left, right) with left+right.
    Carry one pending symbol; a merged token is never re-merged within
    the same pass (standard BPE single-pass semantics)."""
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("carry"),
    )

    def step(acc, x):
        return (
            F.when(
                acc.getField("carry").isNull(),
                F.struct(acc.getField("out").alias("out"), x.alias("carry")),
            )
            .when(
                (acc.getField("carry") == F.lit(left)) & (x == F.lit(right)),
                F.struct(
                    F.concat(
                        acc.getField("out"), F.array(F.lit(merged))
                    ).alias("out"),
                    F.lit(None).cast("string").alias("carry"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(
                        acc.getField("out"), F.array(acc.getField("carry"))
                    ).alias("out"),
                    x.alias("carry"),
                )
            )
        )

    def finish(acc):
        return F.when(
            acc.getField("carry").isNull(), acc.getField("out")
        ).otherwise(F.concat(acc.getField("out"), F.array(acc.getField("carry"))))

    return F.aggregate(syms_col, init, step, finish)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns
    [(rank, left, right, weighted_count), ...] in merge order."""
    spark = docs.sparkSession
    # loop: the first merge round's vocabulary
    vocab = _word_vocab(docs, text_col).transform(stage.materialize_stage)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        n1 = F.greatest(F.size("syms") - 1, F.lit(0))
        pairs = F.zip_with(
            F.slice("syms", 1, n1),
            F.slice("syms", 2, n1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
        best = (
            vocab.select(F.explode(pairs).alias("p"), "n")
            .groupBy("p")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        row = best[0]
        left, right, cnt = row.p.a, row.p.b, row.cnt
        merges.append((rank, left, right, int(cnt)))
        # loop: each round reads only the previous round's vocabulary
        vocab = vocab.select(
            _apply_merge(F.col("syms"), left, right).alias("syms"), "n"
        ).transform(stage.materialize_stage)
    return merges


def bpe_train_df(
    spark: SparkSession, docs: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """DataFrame face of ``bpe_train`` for the gate registry."""
    merges = bpe_train(docs, n_merges, text_col)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, weighted_count long"
    )


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list to segment documents: each word's
    character array folds through the merges IN RANK ORDER — the
    standard greedy BPE encoder, entirely in codegen (one chained
    fold expression, zero shuffles, zero Python). Returns
    (id, tokens: array<string>, n_tokens)."""
    words = docs.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("_ws"),
    )
    # per word: chars + END, folded through every merge
    def encode_word(w):
        syms = F.concat(F.split(w, ""), F.array(F.lit(END)))
        for _, left, right, _ in merges:
            syms = _apply_merge(syms, left, right)
        return syms

    toks = F.flatten(F.transform(F.col("_ws"), encode_word))
    return words.select(
        F.col(id_col),
        toks.alias("tokens"),
        F.size(toks).alias("n_tokens"),
    )


def bpe_train_violations(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """EMPTY iff the distributed BPE trainer reproduces, merge for
    merge, an independent in-driver reference fold over the SAME
    word-frequency table — the driver-visible twin of the pytest
    equality pins on ``bpe_train`` (tests/test_analytics2.py), making
    tokenizer-training regressions a hash mismatch instead of a
    pytest-only property.

    The reference is pure Python over the (syms, n) vocab — a
    DIFFERENT evaluation of every step (Counter argmax vs distributed
    sum+orderBy, list surgery vs the F.aggregate fold), so agreement
    checks the codegen fold, the tie-break total order, and the
    weighted pair counting. The vocab collect is bounded by |distinct
    words| — the same driver-size class as the trainer's own one-row
    per-round collect — and is a diagnostic gate, not the production
    training path.

    Violation rows: (rank, field, spark_val, ref_val) for every
    component that disagrees, plus a length row if one side learned
    fewer merges."""
    from collections import Counter

    spark = docs.sparkSession
    merges = bpe_train(docs, n_merges, text_col)

    vocab: Counter = Counter()
    for r in _word_vocab(docs, text_col).collect():
        vocab[tuple(r.syms)] += r.n
    ref: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pc: Counter = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        ref.append((rank, a, b, int(c)))
        nv: Counter = Counter()
        for syms, cnt in vocab.items():
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            nv[tuple(ns)] += cnt
        vocab = nv

    viol: list[tuple[int, str, str, str]] = []
    if len(merges) != len(ref):
        viol.append((0, "n_merges", str(len(merges)), str(len(ref))))
    for (rk_s, l_s, r_s, c_s), (rk_r, l_r, r_r, c_r) in zip(merges, ref):
        for field, sv, rv in (
            ("rank", rk_s, rk_r),
            ("left", l_s, l_r),
            ("right", r_s, r_r),
            ("weighted_count", c_s, c_r),
        ):
            if sv != rv:
                viol.append((rk_r, field, str(sv), str(rv)))
    return spark.createDataFrame(
        viol, "rank int, field string, spark_val string, ref_val string"
    )

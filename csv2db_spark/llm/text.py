"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting — plus an Arrow-batched Pandas-UDF variant to
exercise the Python fast path.

Everything except the pandas_udf variant is pure ``pyspark.sql.functions``
(whole-stage codegen, no Python in the row path).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from csv2db_spark.llm.corpus import shingles, tokens

# ------------------------------------------------------------- token stats


def n_tokens(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    nt = n_tokens(t)
    # single-space-separated fixture text: chars minus separators / tokens
    avg_len = (F.length(t) - (nt - 1)) / nt
    return docs.select(
        "doc_id",
        nt.alias("n_tokens"),
        F.length(t).cast("long").alias("n_chars"),
        avg_len.alias("avg_token_len"),
    )


# ------------------------------------------------------------ quality score

_STOPWORDS = ("the", "a", "data", "table")


def _count_occurrences(text: Column, needle: str) -> Column:
    """Substring occurrence count via the length-difference trick (exactly
    the same arithmetic is used in the oracle SQL)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, alpha ratio, whitespace ratio,
    stopword density — combined into one deterministic score."""
    t = F.col(text_col)
    total = F.length(t)
    alpha = F.length(F.regexp_replace(t, "[^a-z]", ""))
    spaces = total - F.length(F.replace(t, F.lit(" "), F.lit("")))
    stop_hits = None
    for w in _STOPWORDS:
        c = _count_occurrences(F.concat(F.lit(" "), t, F.lit(" ")), f" {w} ")
        stop_hits = c if stop_hits is None else stop_hits + c
    nt = n_tokens(t)
    alpha_ratio = alpha / total
    space_ratio = spaces / total
    stop_ratio = stop_hits / nt
    score = alpha_ratio * 0.5 + stop_ratio * 0.3 + (1 - space_ratio) * 0.2
    return docs.select(
        "doc_id",
        total.cast("long").alias("n_chars"),
        alpha_ratio.alias("alpha_ratio"),
        space_ratio.alias("space_ratio"),
        stop_hits.alias("stop_hits"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality"),
    )


# -------------------------------------------------------------- language ID

# marker words per language; scores are padded-substring occurrence counts
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "nicht"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
}


def lang_scores(text: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    out = {}
    for lang, words in LANG_MARKERS.items():
        s = None
        for w in words:
            c = _count_occurrences(padded, f" {w} ")
            s = c if s is None else s + c
        out[lang] = s
    return out


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram-heuristic language ID. Deterministic argmax with a fixed
    tie-break order (en > de > fr > es > unknown) — mirrored in the
    oracle. Note the fixture text is synthetic word salad, so this tests
    the operator's determinism, not linguistic accuracy."""
    scores = lang_scores(F.col(text_col))
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, "unknown")
    for lang in LANG_MARKERS:  # insertion order = tie-break priority
        pred = pred.when(scores[lang] == best, lang)
    cols = [scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS]
    return docs.select("doc_id", *cols, pred.alias("pred_lang"))


# ------------------------------------------------------------- fingerprint


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the full text (exact identity) plus a
    min-hash over word 3-grams (robust to reordering/truncation — the
    1-seed special case of MinHash).

    The min-of-md5s runs EXPLODED (explode → codegen md5 → map-side
    combined min per doc, one bounded shuffle of 16-byte partials), not
    as an array ``transform`` lambda: higher-order functions evaluate
    interpreted, and md5-per-element is exactly the real-work body
    where that costs 3-10× (measured 6.3 → ~1 s at sf0.1 on this
    gate, PLANS.md).
    Docs with no shingles (< 3 tokens) keep a NULL fingerprint via the
    left join, matching the array path and the oracle."""
    sh = shingles(tokens(text_col))
    exploded = docs.select(
        "doc_id", F.explode(sh).alias("s")
    )
    fp = exploded.groupBy("doc_id").agg(
        F.min(F.md5("s")).alias("shingle_fp")
    )
    return (
        docs.select(
            "doc_id",
            F.md5(F.col(text_col)).alias("text_md5"),
            F.size(sh).cast("long").alias("n_shingles"),
        )
        .join(fp, "doc_id", "left")
        .select("doc_id", "text_md5", "shingle_fp", "n_shingles")
    )


# ------------------------------------------------- encoding anomalies


# Mojibake / decode-damage signatures. Same portability rule as
# PII_PATTERNS (llm/curation.py): character classes and literals only —
# identical semantics in Java regex (Spark) and RE2 (DuckDB).
# - replacement: U+FFFD, what a lossy decode leaves behind.
# - c1_control: U+0080-U+009F — bytes 0x80-0x9F decoded as latin-1;
#   never legitimate in clean text.
# - double_utf8: 'Ã' + [U+0080-U+00BF] — a UTF-8 lead byte 0xC3 and its
#   continuation byte each decoded as one latin-1 char (é -> 'Ã©').
# - win1252_punct: 'â€' — UTF-8 punctuation (0xE2 0x80 ..) misdecoded
#   as cp1252 ("don't" -> 'donâ€™t').
MOJIBAKE_PATTERNS: dict[str, str] = {
    "replacement": "\ufffd",
    "c1_control": "[\u0080-\u009f]",
    "double_utf8": "\u00c3[\u0080-\u00bf]",
    "win1252_punct": "\u00e2\u20ac",
}


def encoding_anomaly_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mojibake / decode-damage counts — the encoding-quality
    filter every web-corpus pipeline runs before training (documents that
    survived a wrong-charset decode poison the token distribution with
    garbage code points that n-gram quality scores barely notice).

    One codegen'd ``regexp_count`` column per signature + an any-hit
    flag: a pure scan projection, zero shuffle, the same plan class as
    ``pii_counts``."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat in MOJIBAKE_PATTERNS.items()
    ]
    out = docs.select("doc_id", "source", *counts)
    total = None
    for name in MOJIBAKE_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("is_mojibake", total > 0)


# ----------------------------------------------------- pandas-UDF token stats


def token_stats_pandas(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Same n_tokens as token_stats but through an Arrow-batched Pandas
    UDF — the sanctioned Python escape hatch (row-at-a-time Python UDFs
    are 10-100x slower; never use them in the hot path).

    The UDF is built lazily: decorating at import time would require an
    active SparkSession for return-type parsing."""

    @pandas_udf("long")
    def pd_token_count(text: pd.Series) -> pd.Series:
        return text.str.split(" ").str.len().astype("int64")

    return docs.select(
        "doc_id", pd_token_count(F.col(text_col)).alias("n_tokens")
    )


# ---------------------------------------------------- BPE-ish tokenization

# GPT-2-flavoured pre-tokenizer, reduced to an ASCII-safe core that means
# the same thing in Java regex (Spark) and RE2 (DuckDB): letter runs,
# digit runs, single non-alnum-non-space marks.
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def bpe_ish_tokens(text: Column) -> Column:
    """Sub-word-style token pieces via the BPE-ish pre-tokenizer regex —
    the counting proxy for LLM token budgeting when the real tokenizer
    (tiktoken et al.) is out of reach JVM-side. Pure regexp_extract_all:
    codegen, no Python."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


# ------------------------------------------------- repetition signals

def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals per document: the share of
    word 2-grams taken by the single most frequent 2-gram (template/spam
    indicator) and the fraction of word 3-grams that occur more than once
    (boilerplate indicator).

    Built from ONE tokens explode + ONE window pass: grams come from
    ``lead`` over (doc, position) — the codegen formulation (HOF
    ``transform`` lambdas evaluate interpreted and measured ~4x slower on
    this exact shape) — then both gram sizes ride one tagged union into a
    single (doc, n, gram) count and one conditional per-doc aggregate.
    Shuffle keys always include doc_id, so hot grams never concentrate on
    one partition regardless of corpus size."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(tokens(text_col)).alias("pos", "w")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    l1 = F.lead("w", 1).over(w)
    l2 = F.lead("w", 2).over(w)
    grams = toks.select(
        "doc_id",
        F.when(l1.isNotNull(), F.concat_ws(" ", "w", l1)).alias("g2"),
        F.when(l2.isNotNull(), F.concat_ws(" ", "w", l1, l2)).alias("g3"),
    )
    # tag both gram sizes in ONE pass: explode a 2-element array of
    # tagged structs (null when that gram doesn't exist at this
    # position) — the 2-way unionAll shape this replaces replanned the
    # explode+window subtree once per leg, doubling the dominant cost
    # (guide §2.4)
    tagged = (
        grams.select(
            "doc_id",
            F.explode(
                F.array(
                    F.when(
                        F.col("g2").isNotNull(),
                        F.struct(
                            F.lit(2).alias("n"), F.col("g2").alias("g")
                        ),
                    ),
                    F.when(
                        F.col("g3").isNotNull(),
                        F.struct(
                            F.lit(3).alias("n"), F.col("g3").alias("g")
                        ),
                    ),
                )
            ).alias("t"),
        )
        .where(F.col("t").isNotNull())
        .select("doc_id", F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    )
    counts = tagged.groupBy("doc_id", "n", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    two = F.col("n") == 2
    three = F.col("n") == 3
    per_doc = counts.groupBy("doc_id").agg(
        F.sum(F.when(two, F.col("cnt"))).alias("n_2grams"),
        F.max(F.when(two, F.col("cnt"))).alias("top2_cnt"),
        F.sum(F.when(three, F.col("cnt"))).alias("n_3grams"),
        F.coalesce(
            F.sum(F.when(three & (F.col("cnt") > 1), F.col("cnt"))), F.lit(0)
        ).alias("dup3_cnt"),
    )
    return per_doc.select(
        "doc_id",
        "n_2grams",
        "top2_cnt",
        (F.col("top2_cnt").cast("double") / F.col("n_2grams")).alias("top2_frac"),
        "n_3grams",
        "dup3_cnt",
        (F.col("dup3_cnt").cast("double") / F.col("n_3grams")).alias("dup3_frac"),
    )


# ------------------------------------------------- salient terms (tf/df)

def salient_terms(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Keyword extraction: per-document top-k terms by corpus-relative
    frequency score ``tf * n_docs / df`` (the log-free tf-idf core —
    ln() is deliberately avoided because Java's Math.log and C libm may
    differ in the last ulp, which would break cross-engine hash checks;
    the RANKING this score induces is identical to tf·idf's for fixed tf
    ordering).

    Plan shape: one tokens explode → (doc, term) counts (shuffle keys
    include doc_id); document frequency is a reaggregation of those
    counts on term alone — hot terms skew that partition, which AQE's
    skew handling splits; n_docs is a one-row broadcast. Top-k per doc is
    a rank-filter window, deterministic tie-break (score desc, term asc).
    """
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(tokens(text_col)).alias("w"))
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25-style ranked retrieval for a bag-of-terms query: top-k
    documents by sum over query terms of

        idf_rational(t) * tf * (k1+1) / (tf + k1 * (1 - b + b*dl/avgdl))

    with ``idf_rational = (N - df + 0.5) / (df + 0.5)`` — the classic
    BM25 saturation/length normalization, but with the rational idf
    core instead of its log (ln() differs in the last ulp between
    Java's Math.log and C libm, which would break cross-engine hash
    verification; the log is monotone in the rational core, so per-term
    orderings agree, and the tradeoff is documented: very common terms
    are downweighted more aggressively than under log-idf).

    Every input to the float arithmetic is an exact integer (tf, df, N,
    dl) except avgdl (one division) — evaluated in the same literal
    expression shape on any engine, the scores are bit-identical.

    Plan shape: one tokens explode filtered to the query terms BEFORE
    any shuffle (the corpus-wide token table never materializes for
    non-query terms), (doc, term) tf counts, a |terms|-row df broadcast,
    a 1-row corpus-stats broadcast, and a TakeOrdered top-k with doc-id
    tiebreak. Linear in corpus size, output k rows.

    Shape (guide §2.4): tf and dl are each consumed twice (tf by the
    scoring join AND the df broadcast; dl by the length join AND the
    corpus-stats aggregate), and without a boundary each consumer
    replanned its whole corpus subtree — the sf0.1 plan parsed/split
    the corpus text FOUR times. Both are checkpointed once: tf is tiny
    (docs containing a query term x |terms|), dl is |docs| rows of two
    longs; the corpus is now read and split exactly twice (the explode
    pass and the length pass), the minimum this shape needs.
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("t")
    )
    dl = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("dl"),
    ).localCheckpoint(eager=True)
    stats = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_dl"),
        )
    )
    tf = (
        toks.where(F.col("t").isin(*terms))
        .groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_t = F.broadcast(
        tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl") / avgdl)
    )
    per_term = (
        tf.join(df_t, "t")
        .join(dl, id_col)
        .crossJoin(stats)
        .select(
            F.col(id_col),
            F.col("t"),
            (idf * F.col("tf") * F.lit(k1 + 1.0) / denom).alias("sc"),
        )
    )
    # The per-document total adds per-term scores in the CALLER'S term
    # order (conditional sums picked out one term at a time), not in
    # whatever order the aggregate encounters rows — float addition is
    # not associative, and a free-order sum would not hash-match the
    # oracle's.
    parts = [
        F.coalesce(F.sum(F.when(F.col("t") == t, F.col("sc"))), F.lit(0.0))
        for t in terms
    ]
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    return (
        per_term.groupBy(id_col)
        .agg(total.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def lexical_diversity(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document lexical diversity as the Simpson/Gini index
    ``1 - Σ cnt_t² / total²`` over token counts — 0 for a one-token
    document, approaching 1 for all-distinct tokens. The
    entropy-flavored quality signal WITHOUT logs (ln differs in the
    last ulp across libm implementations): both Σcnt² and total² are
    exact integers, so the single final division is bit-identical on
    any engine.

    One explode → (doc, token) counts → per-doc integer aggregate;
    both shuffles carry doc-keyed counts. Low-diversity documents
    (boilerplate, keyword stuffing, generation loops) score near 0 and
    are the rows a quality gate drops.
    """
    counts = (
        docs.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("t")
        )
        .groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.groupBy(id_col).agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        (
            F.lit(1.0)
            - F.sum(F.col("cnt") * F.col("cnt")).cast("double")
            / (F.sum("cnt") * F.sum("cnt")).cast("double")
        ).alias("simpson_diversity"),
    )


def collocations(
    docs: DataFrame, k: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k collocations (PMI-style bigram association) over the corpus,
    ranked by exact-integer lift: for an adjacent bigram (w1, w2),
    ``lift = df_ab * N / (df_a * df_b)`` where df_* are DOCUMENT
    frequencies and N the corpus size — the document-level pointwise
    mutual information with the log dropped (log is monotone, so the
    lift ranking IS the PMI ranking, and integer arithmetic keeps it
    bit-deterministic where ln() would differ in the last ulp across
    libm builds). All three frequencies are exact counts; the single
    lift division is one IEEE op on exact integers. Ties break on
    (w1, w2) — a total order, so the k-row cut is stable.

    Returns (w1, w2, df_ab, lift). Filters bigrams seen in fewer than 2
    documents (singleton "collocations" are noise and dominate the tail).

    Scale shape: bigram expansion is a codegen ``transform`` over the
    token array (no UDF, no join); the three doc-frequency aggregates
    are map-side-combined shuffles keyed by word/bigram; the final join
    attaches two |vocab|-sized sides (broadcastable for any real
    vocabulary) and top-k is TakeOrdered. Overflow bound: df_ab * N
    must stay under 2^63 — pre-aggregate or sample beyond ~3e9 docs.
    """
    t = F.split(F.col(text_col), " ")
    # adjacent bigrams as structs, built by index inside codegen
    bigrams = F.expr(
        f"transform(slice(split({text_col}, ' '), 1, "
        f"size(split({text_col}, ' ')) - 1), "
        f"(x, i) -> struct(x AS w1, element_at(split({text_col}, ' '), i + 2) AS w2))"
    )
    doc_bigrams = (
        docs.select(F.col(id_col), F.explode(bigrams).alias("bg"))
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .distinct()
    )
    df_ab = doc_bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("df_ab")
    )
    doc_tokens = (
        docs.select(F.col(id_col), F.explode(t).alias("w")).distinct()
    )
    df_w = doc_tokens.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # one scalar; the plan reuses the cached scan
    joined = (
        df_ab.where(F.col("df_ab") >= 2)
        .join(
            F.broadcast(df_w.withColumnRenamed("w", "w1").withColumnRenamed("df", "df_a")),
            "w1",
        )
        .join(
            F.broadcast(df_w.withColumnRenamed("w", "w2").withColumnRenamed("df", "df_b")),
            "w2",
        )
    )
    lift = (F.col("df_ab") * F.lit(n_docs)).cast("double") / (
        F.col("df_a") * F.col("df_b")
    )
    return (
        joined.select("w1", "w2", "df_ab", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(k)
    )


# Gopher-style rule thresholds (Rae et al. 2021, table A1 — the publicly
# documented rule set), expressed so every rule is integer/regex
# arithmetic identical across engines.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_quality(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style composite quality filter: the classic rule set as
    one pass — word-count bounds, mean-word-length band, symbol ratio,
    and minimum stopword evidence — each rule emitted as its own flag
    plus the conjunction, so downstream can both FILTER (keep) and
    AUDIT (which rule fired, per document; the histogram of rule
    failures is the standard curation diagnostic).

    Every rule is exact arithmetic: counts are integers; mean word
    length is compared via cross-multiplication (n_chars vs bound *
    n_words as integers — no float mean), so the flags are
    bit-identical on any engine. Pure codegen projection + one
    aggregate-free scan: at 100 TB this is a free rider on the first
    read of the corpus.
    """
    t = F.col(text_col)
    n_words = F.size(F.split(t, " ")).cast("long")
    # single-space-separated text: chars excluding separators
    n_word_chars = (F.length(t) - (n_words - 1)).cast("long")
    n_symbols = F.length(F.regexp_replace(t, "[a-zA-Z0-9 ]", "")).cast("long")
    stop_hits = sum(
        (
            F.size(F.split(t, f"\\b{w}\\b")) - 1
            for w in _STOPWORDS
        ),
        start=F.lit(0),
    ).cast("long")
    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    # 3 <= n_word_chars/n_words <= 10, cross-multiplied to stay integral
    ok_word_len = (
        n_word_chars >= F.lit(int(GOPHER_MIN_MEAN_WORD_LEN)) * n_words
    ) & (n_word_chars <= F.lit(int(GOPHER_MAX_MEAN_WORD_LEN)) * n_words)
    # n_symbols/n_words <= 0.1  <=>  10*n_symbols <= n_words
    ok_symbols = F.lit(10) * n_symbols <= n_words
    ok_stopwords = stop_hits >= GOPHER_MIN_STOPWORD_HITS
    return docs.select(
        id_col,
        n_words.alias("n_words"),
        ok_words.alias("ok_word_count"),
        ok_word_len.alias("ok_mean_word_len"),
        ok_symbols.alias("ok_symbol_ratio"),
        ok_stopwords.alias("ok_stopwords"),
        (ok_words & ok_word_len & ok_symbols & ok_stopwords).alias("keep"),
    )


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prob_scale: int = 1_000_000,
    train_docs: DataFrame | None = None,
) -> DataFrame:
    """Corpus-bigram language-model likelihood per document — the
    KenLM-style quality signal (documents whose token sequences are
    improbable under the corpus's own bigram statistics score low), made
    hash-exact by replacing log-probabilities with INTEGER-FLOORED
    scaled probabilities:

        q(a -> b) = floor(prob_scale * cnt(a,b) / cnt(a as prefix))

    Both counts are exact corpus integers and floor-division is
    engine-independent, so the per-document sum of q over its bigram
    occurrences is an exact long and avg_prob = score / scale / n is two
    fixed-order IEEE divisions. (Logs would break cross-engine hashing —
    same rationale as the rational-idf BM25 above; the tradeoff: scores
    add probabilities instead of multiplying them, which still orders
    documents by average next-token likelihood.)

    Overflow domain: prob_scale * cnt(a,b) must fit int64 — exact to
    9.2e12 occurrences of any single bigram at scale 1e6, beyond a
    100 TB corpus.

    ``train_docs``: optional separate model corpus (the CCNet pattern —
    train on a trusted reference slice, score everything). Defaults to
    ``docs`` (score against the corpus's own statistics). Bigrams the
    model never saw contribute probability 0 but still count in
    n_bigrams — unseen-heavy documents score low, exactly the signal
    the reference-LM filter wants.

    Plan shape: bigrams come from zipping the token array with its own
    tail (pure codegen, zero shuffle, no position self-join); one
    groupBy(a, b) for pair counts; prefix counts FOLD the pair-count
    table (a |vocab|-row aggregate, not a second corpus pass); then one
    join of bigram occurrences to the count table on (a, b) and a
    doc_id-keyed sum. Two corpus-sized shuffles total."""
    toks = F.split(F.col(text_col), " ")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))

    def _occurrences(d: DataFrame) -> DataFrame:
        pairs_ = F.arrays_zip(
            F.slice(toks, 1, n1).alias("a"),
            F.slice(toks, 2, n1).alias("b"),
        )
        return d.select(F.col(id_col), F.explode(pairs_).alias("bg")).select(
            id_col, F.col("bg.a").alias("a"), F.col("bg.b").alias("b")
        )
    # arrays_zip, not zip_with: the packing needs no lambda, and
    # zip_with's lambda body would run interpreted outside whole-stage
    # codegen on every corpus row (see the HOF pitfalls in PLANS.md)
    occ = _occurrences(docs)
    model_occ = occ if train_docs is None else _occurrences(train_docs)
    # checkpoint the pair-count table: it feeds BOTH the prefix fold
    # and the scoring join, and without a boundary each consumer
    # replanned the model corpus' explode+aggregate — the sf0.1 gate
    # plan carried THREE corpus bigram explodes where two are the
    # minimum (guide §2.4). The table is |distinct bigrams|
    # rows — vocabulary-sized, far below the corpus it folds.
    pair_counts = model_occ.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("cnt_pair")
    ).localCheckpoint(eager=True)
    prefix_counts = pair_counts.groupBy("a").agg(
        F.sum("cnt_pair").alias("cnt_prefix")
    )
    scored_vocab = pair_counts.join(prefix_counts, "a").select(
        "a",
        "b",
        F.expr(f"div({prob_scale}L * cnt_pair, cnt_prefix)").alias("q"),
    )
    per_doc = (
        occ.join(scored_vocab, ["a", "b"], "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("q"), F.lit(0))).alias("score_scaled"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )
    return per_doc.select(
        id_col,
        "score_scaled",
        "n_bigrams",
        (
            F.col("score_scaled").cast("double")
            / F.lit(float(prob_scale))
            / F.col("n_bigrams").cast("double")
        ).alias("avg_next_token_prob"),
    )


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase matching by positional postings — the inverted-index
    plan a search engine runs, expressed relationally: tokenize with
    positions, keep ONLY the phrase's tokens (the filter rides the scan
    — at 100 TB with a prebuilt postings table this touches just those
    tokens' posting lists), then join adjacency: an occurrence is
    token_0 at position p with token_i at p+i for every i. Counting
    occurrences, not just containment, so overlapping matches count —
    semantics a LIKE scan cannot give on repeated phrases.

    Returns (id, n_occurrences) for documents with at least one match.
    All arithmetic is integer position math — hash-exact. ``phrase``
    must be non-empty; a single-token phrase degenerates to a token
    count.

    Scale shape: the postings fan-out is |phrase| filtered explodes of
    the SAME tokenization (Spark collapses them into one generate +
    filter); the adjacency join shuffles only the phrase tokens'
    postings on (doc, position) keys; the fold is one count per doc."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    ).where(F.col("tok").isin(*phrase))
    first = toks.where(F.col("tok") == phrase[0]).select(
        id_col, F.col("pos").alias("p0")
    )
    matched = first
    for i, t in enumerate(phrase[1:], start=1):
        nxt = toks.where(F.col("tok") == t).select(
            id_col, (F.col("pos") - i).alias("p0")
        )
        matched = matched.join(nxt, [id_col, "p0"])
    return matched.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )


# ----------------------------------------------------- feature hashing


def feature_hash_tf(
    docs: DataFrame, n_features: int = 64, text_col: str = "text"
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): map each token to one
    of ``n_features`` buckets by hash, with a second hash choosing a
    ±1 sign so collisions cancel in expectation — the vectorizer that
    needs NO vocabulary pass, no broadcast dictionary, no OOV handling,
    which is what makes it THE featurizer at 100 TB (sklearn's
    HashingVectorizer / Vowpal Wabbit semantics). Emits the sparse form
    (doc_id, bucket, tf, signed_tf); densify downstream only if a model
    needs it.

    Hash identity across engines: bucket and sign derive from the two
    48-bit halves of md5(token) — the corpus-wide convention, also the
    (h1, h2) of llm/dedup.minhash_doc_signatures — so the DuckDB oracle
    reproduces every cell exactly.

    Scale shape: explode -> hash -> ONE map-side-combined groupBy
    (doc_id, bucket); the shuffle carries <= n_features partials per
    doc per task. No vocabulary state anywhere."""
    from csv2db_spark.llm.corpus import tokens

    tok = docs.select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    md5 = F.md5("tok")
    h1 = F.conv(F.substring(md5, 1, 12), 16, 10).cast("long")
    h2 = F.conv(F.substring(md5, 13, 12), 16, 10).cast("long")
    hashed = tok.select(
        "doc_id",
        (h1 % n_features).alias("bucket"),
        F.when(h2 % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("sgn"),
    )
    return hashed.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sum("sgn").alias("signed_tf"),
    )


def hashed_linear_classifier(
    docs: DataFrame,
    label_col: str,
    n_features: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Train-and-apply a linear classifier over hashed bag-of-words
    features in ONE plan — the shape of fastText-style quality filters
    (a linear model over hashed n-gram features; Joulin et al. 2016)
    with an integer-exact discriminant so the gate can hash-verify every
    score. ``label_col`` is a boolean column on ``docs`` (the supervised
    signal: curated-vs-crawl, English-vs-not, ...).

    Train: per-bucket token counts by class (one map-combined shuffle to
    ``n_features`` rows), then the cross-multiplied class-skew weight

        w(b) = cnt_pos(b) * total_neg_tokens - cnt_neg(b) * total_pos_tokens

    — positive iff bucket b is over-represented in the positive class
    (the division-free form of the count-ratio discriminant, same
    integer cross-multiplication idiom as gopher_quality). Apply:
    score(d) = sum_b tf(d,b) * w(b), predict positive iff score > 0.

    Scale shape: the model is ``n_features`` rows — aggregated in one
    pass, broadcast back; the corpus is tokenized ONCE: the per-doc tf
    table (<= |docs| x n_features numeric rows, _pos riding along as a
    doc-constant key) is eagerly checkpointed, and BOTH the per-bucket
    class counts (train) and the per-doc scores (apply) fold from it,
    so the corpus explode is planned once, not once per leg (guide
    §2.4). The corpus is never joined against itself,
    and per-doc scoring shuffles (doc_id, bucket) tf partials only. No
    vocabulary state, no OOV handling, no Python — pure codegen end to
    end."""
    from csv2db_spark.llm.corpus import tokens

    tok = docs.select(
        "doc_id",
        F.col(label_col).alias("_pos"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long")
        % n_features
    ).alias("bucket")
    hashed = tok.select("doc_id", "_pos", bucket)
    # _pos is doc-constant, so grouping by it too yields the same
    # groups as (doc_id, bucket) while keeping the label on the row;
    # per-token class counts then fold from tf (sum of counts = count)
    tf = hashed.groupBy("doc_id", "_pos", "bucket").agg(
        F.count(F.lit(1)).alias("tf")
    )
    tf = tf.localCheckpoint(eager=True)
    per_bucket = tf.groupBy("bucket").agg(
        F.sum(F.when(F.col("_pos"), F.col("tf")).otherwise(0)).alias(
            "cnt_pos"
        ),
        F.sum(F.when(~F.col("_pos"), F.col("tf")).otherwise(0)).alias(
            "cnt_neg"
        ),
    )
    totals = per_bucket.agg(
        F.sum("cnt_pos").alias("tot_pos"), F.sum("cnt_neg").alias("tot_neg")
    )
    weights = per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.col("cnt_pos") * F.col("tot_neg")
            - F.col("cnt_neg") * F.col("tot_pos")
        ).alias("w"),
    )
    return (
        tf.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("w")).alias("score"))
        .select(
            "doc_id", "score", (F.col("score") > 0).alias("predicted_pos")
        )
    )


def zipf_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus token-frequency (Zipf) histogram over power-of-two bins:
    tokenize, count occurrences per distinct token, then bucket tokens
    by floor(log2(frequency)) and report per-bin type counts, total
    occurrences, and the frequency range. A healthy natural-language
    corpus shows the Zipf signature (type counts falling roughly
    geometrically with the bin); a scrape full of boilerplate shows a
    fat high-frequency tail — this is the standard one-glance corpus
    diagnostic before training.

    The bin is computed EXACTLY as the bit length of the integer count
    (``length(bin(freq)) - 1``), never float ``log2`` — a float log at
    a power-of-two boundary can land on either side by one ulp and
    break cross-engine verification (see PLANS.md ln() rule). The
    rank-slope fit stays a pytest-side float check.

    Scale shape: explode (map-side) -> groupBy(token) with map-side
    combine (the heavy shuffle, uniform except stop words — the same
    profile every wordcount has) -> a |vocab|-row groupBy on the bin.
    Output is <= 64 rows regardless of corpus size."""
    tok = docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    binned = freq.select(
        "freq",
        (F.length(F.conv(F.col("freq").cast("string"), 10, 2)) - 1)
        .cast("int")
        .alias("log2_bin"),
    )
    return binned.groupBy("log2_bin").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").alias("n_occurrences"),
        F.min("freq").alias("min_freq"),
        F.max("freq").alias("max_freq"),
    )


def code_detect(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_permille: int = 60,
) -> DataFrame:
    """Is-this-code routing signal — pretraining pipelines split code
    from prose early (different tokenizers, different quality rules,
    different mixing weights). Heuristic in the StarCoder/pile-filter
    family, reduced to hash-exact integer arithmetic: per document,
    permille rates of code-y characters ({}();=<>[]), of lines-that-
    look-like-statements (end in ; { } or start with def/import/for/
    if/class/return), and of whitespace-indented lines; the flag fires
    when the combined evidence clears ``threshold_permille``.

    All counts are regexp_count/length integers; rates are exact
    floor-permilles; the combined score is their integer mean — no
    floats anywhere, so flags hash-verify. Pure scan projection:
    costs nothing at any scale."""
    t = F.col(text_col)
    n_chars = F.greatest(F.length(t), F.lit(1))
    code_chars = F.regexp_count(t, F.lit(r"[{}();=<>\[\]]"))
    lines = F.split(t, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    stmt_lines = F.size(
        F.filter(
            lines,
            lambda l: l.rlike(r"[;{}]\s*$")
            | l.rlike(r"^\s*(def |import |for |if |class |return )"),
        )
    )
    indented = F.size(F.filter(lines, lambda l: l.rlike(r"^(    |\t)")))
    # floor-permilles: floor() of the double ratio is engine-identical
    # (positive operands well under 2^53); a bare cast would TRUNCATE on
    # Spark but ROUND on DuckDB
    char_permille = F.floor(code_chars * 1000 / n_chars).cast("long")
    stmt_permille = F.floor(stmt_lines * 1000 / n_lines).cast("long")
    indent_permille = F.floor(indented * 1000 / n_lines).cast("long")
    score = F.floor(
        (char_permille + stmt_permille + indent_permille) / 3
    ).cast("long")
    return docs.select(
        id_col,
        char_permille.alias("code_char_permille"),
        stmt_permille.alias("stmt_line_permille"),
        indent_permille.alias("indent_line_permille"),
        score.alias("code_score_permille"),
        (score >= threshold_permille).alias("looks_like_code"),
    )


def sentence_split(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence segmentation — the unit many span-level operators want
    (citation checks, sentence-level dedup, context packing by
    sentence): one row per sentence with its 1-based index, plus a
    trailing fragment row for text after the last terminator.

    Deterministic rule-based splitting. Spark side: ONE zero-width
    lookbehind split `(?<=[.!?])` — the segments tile the text exactly
    like the extraction pattern '[^.!?]*[.!?]' plus its unterminated
    tail, but in a single linear regex pass (the extraction variant
    paid regexp_extract_all + an array_join re-copy of every sentence
    to locate the tail: measured 6.4 s → 0.2 s at sf0.1, row-identical
    output on the gate feed). The ORACLE keeps the extraction pattern —
    RE2 has no lookbehind — and the gate hash pins the two segmentations
    equal. Equivalence argument: every mid-text segment ends with a
    terminator (so never trims to empty — indices match the extraction
    array 1:1), and only a trailing empty/whitespace fragment differs,
    which both variants filter after indexing. Pure scan projection +
    posexplode; no shuffle, no UDF."""
    parts = F.split(F.col(text_col), r"(?<=[.!?])")
    return docs.select(
        id_col, F.posexplode(parts).alias("pos0", "sentence")
    ).select(
        id_col,
        (F.col("pos0") + 1).cast("int").alias("sentence_idx"),
        F.trim(F.col("sentence")).alias("sentence"),
    ).where(F.length("sentence") > 0)


# ----------------------------------------------------- compressibility


def compressibility(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compressibility — the RedPajama-v2 / Dolma /
    CCNet-class quality signal: highly compressible text is repeated
    boilerplate (nav bars, SEO spam, template farms), nearly
    incompressible text is often encoding damage or binary junk; the
    useful middle band is a cheap single-scan document quality feature
    that catches repetition n-gram heuristics miss (long-range repeats
    beyond any fixed window).

    DEFLATE has no Catalyst expression, so this is the documented slow
    path done right: one Arrow-batched pandas_udf (zlib's C loop over
    each batch — no per-row Python), applied in a pure scan projection.
    No shuffle, no driver data. compress_permille = 1000 * deflated /
    raw bytes, floor-integer so downstream thresholds are exact;
    deterministic for a fixed zlib level (RFC 1951 encoder state is
    fully determined by input + level; parity vs an independent driver
    recompute is gate-checked in q_text_compressibility_parity)."""

    def _zlen(s):
        import zlib

        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level))
            if t is not None
            else None
        )

    zlen_udf = pandas_udf(_zlen, "long")
    n_bytes = F.octet_length(F.col(text_col))
    n_zbytes = zlen_udf(F.col(text_col))
    return docs.select(
        id_col,
        n_bytes.cast("long").alias("n_bytes"),
        n_zbytes.alias("n_zbytes"),
        F.floor(n_zbytes * 1000 / n_bytes).cast("long").alias(
            "compress_permille"
        ),
    )


def compressibility_violations(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
    sample_n: int = 256,
) -> DataFrame:
    """Empty-set parity check for ``compressibility``: re-derive the
    deflated length for a BOUNDED deterministic sample (the sample_n
    smallest doc ids — bounded at any corpus scale) with an independent
    driver-side zlib pass and emit one row per disagreement. EMPTY means
    the executor-side Arrow batch path computes exactly what a plain
    single-process pass computes — the same driver-visible contract
    style as q_text_bpe_parity."""
    sample = (
        docs.select(id_col, text_col)
        .orderBy(id_col)
        .limit(sample_n)
    )
    spark_side = compressibility(sample, text_col, id_col, level)

    import zlib

    ref_rows = [
        (
            r[0],
            len(r[1].encode("utf-8")),
            len(zlib.compress(r[1].encode("utf-8"), level)),
        )
        for r in sample.collect()
    ]
    spark = docs.sparkSession
    ref = spark.createDataFrame(
        ref_rows or [(0, 0, 0)],
        f"{id_col} long, ref_bytes long, ref_zbytes long",
    )
    if not ref_rows:
        ref = ref.where(F.lit(False))
    joined = spark_side.join(ref, id_col, "full_outer")
    return (
        joined.where(
            ~F.col("n_bytes").eqNullSafe(F.col("ref_bytes"))
            | ~F.col("n_zbytes").eqNullSafe(F.col("ref_zbytes"))
        )
        .select(
            F.col(id_col),
            F.coalesce("n_zbytes", F.lit(-1)).alias("spark_zbytes"),
            F.coalesce("ref_zbytes", F.lit(-1)).alias("ref_zbytes"),
        )
        .orderBy(id_col)
    )

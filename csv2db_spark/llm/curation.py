"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, deterministic stratified sampling, incremental dedup
against an existing corpus, PII pattern scanning, and domain-mix
accounting.

All are compositions of built-in DataFrame ops — no Python in the row
path — and each has a matching ANSI-SQL oracle in queries/curation.py.

Scale shapes (100 TB corpus):
- decontaminate: the benchmark side is SMALL by construction (eval sets
  are thousands of documents) — its distinct shingle set broadcasts; the
  corpus-side cost is one shingle pass + a broadcast-hash semi-ish join,
  no shuffle of the corpus.
- stratified_sample: rank is by an md5 of the id, so the sample is
  deterministic, uniform within the stratum, and reproducible across
  runs/engines; one window shuffle keyed by the stratum for a small
  input, the bucket-histogram plan above the size threshold.
- The twin-shape operators here (stratified_sample, quantile_filter,
  domain_cap, score_quantile_normalize, token_budget_sample) each pick
  their shape once, with ``plans.small_input`` on their own input
  against the one ``spark.csv2db.adaptive.smallInputMaxBytes`` setting.
  Both shapes return identical rows.
- incremental_dedup: digests of the existing corpus are md5 longs; the
  incoming side anti-joins on the digest — shuffle carries 16-byte keys,
  never document bodies.
- pii_scan: pure regexp_count column expressions, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from csv2db_spark import plans
from csv2db_spark.llm.dedup import shingle_table

# Patterns deliberately restricted to syntax with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): character classes, +, {m,}, no
# backrefs or lookaround.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def decontaminate_ngram(
    corpus: DataFrame, benchmark: DataFrame, n: int = 3
) -> DataFrame:
    """Benchmark-contamination report: for every corpus document, how many
    of its distinct word n-grams also occur in the benchmark set.

    Returns (doc_id, n_shingles, n_overlap, overlap_ratio) for documents
    with at least one overlapping shingle — the decontamination candidates
    a pipeline would drop or down-weight before training.
    """
    corpus_sh = shingle_table(corpus, n=n)
    bench_sh = shingle_table(benchmark, n=n).select("s").distinct()
    sizes = corpus_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    overlap = (
        corpus_sh.join(F.broadcast(bench_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        overlap.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap") / F.col("n_shingles")).alias("overlap_ratio"),
        )
    )


def decontaminate_semantic(
    corpus_vecs: DataFrame,
    benchmark_vecs: DataFrame,
    tau: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark-contamination report — the semantic
    complement of ``decontaminate_ngram`` (paraphrased or lightly
    reworded benchmark leakage shares no n-grams but lands next to the
    benchmark in embedding space; SemDeDup-era pipelines screen both).

    For EVERY corpus vector: its single most-similar benchmark vector
    (exact cosine, quantized-long dot per llm/similarity.quantize so
    the doubles hash bit-identically cross-engine), and whether that
    similarity clears ``tau`` (the drop/down-weight verdict). Returns
    (vec_id, best_bench_id, best_cos, contaminated).

    Plan shape for 100 TB: the benchmark side is small by definition —
    it rides BROADCAST into one corpus scan (|corpus|x|bench| codegen
    fold work, zero corpus shuffle); the per-vector argmax is a
    map-side-combinable max(struct) aggregate keyed on the corpus id,
    NOT a window. Ties break to the smallest benchmark id
    (struct max on (cos, -bench_id))."""
    from csv2db_spark.llm.similarity import (
        cos_from_parts,
        dot_iv,
        quantize,
    )

    c = quantize(corpus_vecs, id_col, vec_col, "vec_id", "c_")
    b = quantize(benchmark_vecs, id_col, vec_col, "bench_id", "b_")
    scored = c.crossJoin(F.broadcast(b)).select(
        "vec_id",
        "bench_id",
        cos_from_parts(
            dot_iv(F.col("c_iv"), F.col("b_iv")),
            F.col("c_nrm2"),
            F.col("b_nrm2"),
        ).alias("cos_sim"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cos_sim"), (-F.col("bench_id")).alias("neg_bench")
            )
        ).alias("m")
    )
    return best.select(
        "vec_id",
        (-F.col("m.neg_bench")).alias("best_bench_id"),
        F.col("m.cos_sim").alias("best_cos"),
        (F.col("m.cos_sim") >= F.lit(tau)).alias("contaminated"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, deterministically:
    rank by md5 of the id within each stratum (uniform pseudo-random
    order, stable across runs and engines), keep rank <= k.

    A small input (``plans.small_input(df)``) sorts each stratum
    in one window — the cheapest plan at fixture size, but the
    dominant stratum IS the corpus at 100 TB. Above the threshold the
    plan exploits that the admission key is a uniform md5, so it is its
    own bucket key: a 2-hex-prefix bucket histogram gives every bucket
    its exact rank offset, buckets whose offset already exceeds ``k``
    are dropped BEFORE any sort (for k ≪ |stratum| that is ~every row),
    and survivors rank inside their (stratum, bucket) — bounded tie
    sets, identical rows to the window shape
    (tests/test_runtime_ops.py)."""
    rk = F.md5(F.col(id_col).cast("string"))
    if plans.small_input(df):
        w = Window.partitionBy(strata_col).orderBy(rk, F.col(id_col))
        return (
            df.withColumn("sample_rank", F.row_number().over(w))
            .where(F.col("sample_rank") <= k)
            .drop("sample_rank")
        )
    base = df.withColumn("_rk", rk).withColumn("_b", F.substring("_rk", 1, 2))
    hist = (
        base.groupBy(strata_col, "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "_off",
            F.sum("_c").over(Window.partitionBy(strata_col).orderBy("_b"))
            - F.col("_c"),
        )
        .where(F.col("_off") < k)  # bucket can still reach rank <= k
        .select(
            F.col(strata_col).alias("_h_s"), F.col("_b").alias("_h_b"), "_off"
        )
    )
    tw = Window.partitionBy(strata_col, "_b").orderBy(
        F.col("_rk"), F.col(id_col)
    )
    return (
        base.join(
            F.broadcast(hist),
            base[strata_col].eqNullSafe(F.col("_h_s"))
            & (base["_b"] == F.col("_h_b")),
        )
        .withColumn("_rn", F.col("_off") + F.row_number().over(tw))
        .where(F.col("_rn") <= k)
        .select(*df.columns)
    )


def incremental_dedup(
    existing: DataFrame, incoming: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Incoming documents whose exact text is NOT already in the existing
    corpus — the daily-increment dedup pass. Compares md5 digests, so the
    anti-join shuffles 16-byte keys, not bodies."""
    seen = existing.select(F.md5(F.col(text_col)).alias("text_md5")).distinct()
    return (
        incoming.withColumn("text_md5", F.md5(F.col(text_col)))
        .join(seen, "text_md5", "anti")
        .drop("text_md5")
    )


def pii_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII pattern counts as codegen'd regexp_count columns."""
    return docs.select(
        "doc_id",
        "source",
        *[
            F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
            for name, pat in PII_PATTERNS.items()
        ],
    )


# Redaction applies in a FIXED order (email first — an email local part
# can contain digit runs the phone/ssn patterns would nibble at) with a
# typed placeholder per class; counts are measured on the ORIGINAL text
# for every class independently. Both choices are mirrored verbatim in
# the oracle so redacted output is hash-checked.
REDACT_ORDER: tuple[str, ...] = ("email", "ssn", "phone", "ipv4")
REDACT_TOKENS: dict[str, str] = {
    "email": "<EMAIL>",
    "ssn": "<SSN>",
    "phone": "<PHONE>",
    "ipv4": "<IP>",
}


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Typed-placeholder PII redaction as a chain of regexp_replace
    column expressions — whole-stage codegen, one scan, no UDF, no
    shuffle. Returns the input columns with ``text_col`` redacted plus
    ``n_redacted`` (total pattern hits on the original text). At 100 TB
    this is a pure map stage: it pipelines into whatever scan feeds it
    and costs no extra pass."""
    n_total = None
    for name in REDACT_ORDER:
        c = F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[name]))
        n_total = c if n_total is None else n_total + c
    redacted = F.col(text_col)
    for name in REDACT_ORDER:
        redacted = F.regexp_replace(
            redacted, PII_PATTERNS[name], REDACT_TOKENS[name]
        )
    others = [c for c in docs.columns if c != text_col]
    return docs.select(
        *others, redacted.alias(text_col), n_total.alias("n_redacted")
    )


def domain_mix(docs: DataFrame) -> DataFrame:
    """Mixture accounting per (source, lang): document and character
    counts plus each cell's fraction of the corpus — the table a sampling
    stage consumes to hit target domain weights."""
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    total = Window.partitionBy()
    return cells.select(
        "source",
        "lang",
        "n_docs",
        "n_chars",
        (F.col("n_docs") / F.sum("n_docs").over(total)).alias("doc_frac"),
        (F.col("n_chars") / F.sum("n_chars").over(total)).alias("char_frac"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy contiguous sequence packing: assign documents to
    fixed-token-budget training bins.

    Documents are sharded by ``id % n_shards`` and, within a shard,
    packed in id order: a document starts in bin
    ``floor(tokens_before_it / budget)`` — the streaming packer every
    training pipeline runs before writing examples. The window runs
    PER SHARD, so at 100 TB the cumulative sum parallelizes across
    shards instead of serializing on one global ordering (one shuffle
    keyed by shard; shard count scales with the cluster, and id-hash
    sharding keeps them balanced). Deterministic given ids — identical
    across engines and reruns, no RNG.
    """
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = F.size(F.split(F.col(text_col), " "))
    return (
        docs.select(
            F.col(id_col),
            (F.col(id_col) % n_shards).alias("shard"),
            toks.alias("n_tokens"),
        )
        .withColumn(
            "bin_in_shard",
            # explicit floor: double->long CAST truncates on Spark but
            # rounds on some engines (e.g. DuckDB) — floor is portable
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget
            ),
        )
    )


def quantile_filter(
    docs: DataFrame,
    score: Column,
    group_col: str = "lang",
    drop_frac: float = 0.25,
    id_col: str = "doc_id",
    rank_bucket: Column | None = None,
) -> DataFrame:
    """Per-group quantile filtering — the CCNet-style curation step "drop
    the worst X% of documents *within each language/domain bucket*"
    (absolute thresholds are wrong when score distributions differ by
    bucket; a per-bucket quantile is self-calibrating).

    Ranks every document inside its group by (score, id) — the id
    tiebreak makes the ordering total, so the cut is bit-deterministic
    on any engine and any partitioning — and drops exactly
    ``floor(drop_frac * n)`` lowest-ranked rows per group (a
    row_number/count cut, NOT a percent_rank >= drop_frac test:
    percent_rank is 0 for every group's minimum and for singletons, so
    that cut always drops the group minimum, empties singletons, and
    halves 2-row groups — over-dropping exactly the low-resource
    buckets per-group quantiles exist to protect). With this cut a
    group of n rows loses at most drop_frac of them: singletons are
    kept, and groups smaller than 1/drop_frac lose nothing. Returns
    (id, group, quality_score, pr) where pr is the conventional
    percent_rank (k/(n-1)) for reporting.

    Scale shape, picked once from the size of the (id, group, score)
    projection it ranks: a small input gets ONE window shuffle keyed
    by the group column — right at gate scale,
    but a skewed group (one language dominating a web corpus) becomes
    a single-task total sort over most of the data. A large input gets
    the identical rank via operators/ranking.grouped_rank's
    histogram-offset + tie-rank plan: no task ever sorts a whole group,
    and the output is bit-identical (pinned in
    tests/test_runtime_ops.py), so gates hash the same in either shape.
    For a CONTINUOUS score pass ``rank_bucket`` (a monotone coarsening
    over ``quality_score``, e.g. ``F.floor(F.col("quality_score") *
    4096)``) — see operators/ranking.grouped_rank: without it a
    distinct-per-doc score makes the cutpoint histogram group-sized
    again.
    """
    from csv2db_spark.operators.ranking import (
        _grouped_rank,
        join_totals_nullsafe,
    )

    scored = docs.select(
        F.col(id_col), F.col(group_col), score.alias("quality_score")
    )
    small = plans.small_input(scored)
    ranked = _grouped_rank(
        scored, [group_col], "quality_score", id_col,
        descending=False, out_col="_rn", bucket=rank_bucket, small=small,
    )
    if small:
        ranked = ranked.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy(group_col))
        )
    else:
        totals = scored.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
        # null-safe: NULL groups rank in both shapes
        ranked = join_totals_nullsafe(ranked, totals, [group_col])
    return (
        ranked.where(F.col("_rn") > F.floor(F.lit(drop_frac) * F.col("_n")))
        .select(
            id_col,
            group_col,
            "quality_score",
            F.when(
                F.col("_n") > 1,
                (F.col("_rn") - 1).cast("double") / (F.col("_n") - 1),
            )
            .otherwise(F.lit(0.0))
            .alias("pr"),
        )
    )


def md5_threshold(p: float) -> str:
    """32-hex-digit string t such that P[md5(x) < t] ~= p for uniform
    md5 output — Bernoulli sampling as a plain STRING comparison, which
    both Spark and any ANSI engine evaluate identically (no hex-to-int
    conversion, whose builtins differ across engines)."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"probability must be in [0, 1], got {p}")
    return format(min(int(p * 16**32), 16**32 - 1), "032x")


def weighted_sample(
    docs: DataFrame,
    weights: dict[str, float],
    domain_col: str = "source",
    id_col: str = "doc_id",
    default: float = 1.0,
) -> DataFrame:
    """Deterministic importance sampling for domain reweighting: keep
    each row of domain d with probability ``weights[d]`` (``default``
    for unlisted domains), decided by md5(id) against a per-domain
    threshold string.

    The standard knob for mixing a training corpus ("downsample crawl
    to 30%, keep curated sources whole"): reproducible across runs,
    engines, and partitionings (the coin is the row's own id, no RNG
    state), and executed as a pushed-down scan FILTER — no shuffle, no
    sort, output streamed straight from the scan at any corpus size.
    """
    thr = None
    for dom, p in sorted(weights.items()):
        cond = F.col(domain_col) == dom
        lit = F.lit(md5_threshold(p))
        thr = F.when(cond, lit) if thr is None else thr.when(cond, lit)
    thr = F.lit(md5_threshold(default)) if thr is None else thr.otherwise(
        F.lit(md5_threshold(default))
    )
    return docs.where(F.md5(F.col(id_col).cast("string")) < thr)


def assign_split(
    docs: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row lands in the
    split whose cumulative md5-threshold band contains md5(id) — the
    standard leakage-safe way to split a corpus (membership depends
    only on the id, so re-runs, engine changes, and corpus growth never
    move a document between splits; new documents just fill in).

    ``fractions`` maps split name -> probability (must sum to ~1; the
    last split absorbs rounding). Returns the input plus a ``split``
    column. Pure scan projection — one md5 + string compares, no
    shuffle, no RNG state; the same md5-vs-threshold-string trick as
    ``weighted_sample`` so any ANSI engine reproduces the assignment
    bit-for-bit.
    """
    if fractions is None:
        fractions = {"train": 0.9, "val": 0.05, "test": 0.05}
    if not fractions:
        raise ValueError("fractions must name at least one split")
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    h = F.md5(F.col(id_col).cast("string"))
    names = list(fractions)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += fractions[name]
        cond = h < md5_threshold(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = (
        F.lit(names[0]) if expr is None else expr.otherwise(F.lit(names[-1]))
    )
    return docs.withColumn("split", split)


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, the
    number of shared distinct n-gram shingles and their Jaccard overlap
    — the diagnostic that catches one dataset bleeding into another
    (mirrored dumps, re-crawls, benchmark leakage between subsets)
    BEFORE they are mixed into a training corpus.

    Returns (src_a, src_b, n_common, jaccard) for src_a < src_b.
    Jaccard is one IEEE division of exact integer counts.

    Scale shape: one shingle pass + distinct per (source, shingle) —
    the corpus-side shuffle; the pair join is keyed by shingle with
    fan-out bounded by |sources|² per key (sources are few), and the
    output is |sources|² rows. At 100 TB the distinct-shingle shuffle
    dominates and is exactly the dedup shuffle you already pay;
    everything after is noise.
    """
    from csv2db_spark.llm.corpus import shingles, tokens

    sh = (
        docs.select(
            F.col(group_col).alias("src"),
            F.explode(shingles(tokens(F.col(text_col)), n=shingle_n)).alias("s"),
        )
        .distinct()
    )
    sizes = sh.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .where(F.col("a.src") < F.col("b.src"))
        .groupBy(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("src").alias("src_a"), F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("src").alias("src_b"), F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-budget overlapping token chunks — the
    standard prep before embedding or long-context training: chunk i
    covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap, and every document yields at least
    one chunk (short docs come through whole, never dropped).

    Returns (id, chunk_id, n_chunk_tokens, chunk_text). All arithmetic
    is integer (chunk count = ceil((n - overlap)/stride) via integer
    ceiling division) and the chunk extraction is a codegen
    slice/array_join over the token array — one explode whose fan-out
    is the chunk count, no UDF, no shuffle at all: chunking rides the
    scan and lands partitioned exactly like its input, which is what a
    downstream embedding stage wants (a chunk's executor already holds
    its document's pages).
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_tokens "
            f"({chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # ceil((n - overlap)/stride) as integers, floored at 1
    n_chunks = F.greatest(
        F.floor((n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride))
        .cast("int"),
        F.lit(1),
    )
    return (
        docs.select(
            F.col(id_col),
            toks.alias("_toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size(
                F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens)
            ).cast("long").alias("n_chunk_tokens"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens),
                " ",
            ).alias("chunk_text"),
        )
    )


def vocab_coverage(
    docs: DataFrame, ranks: tuple[int, ...] = (10, 100, 1000),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve: for each rank cutoff k, the fraction
    of ALL token occurrences covered by the k most frequent tokens —
    the measurement behind vocabulary-size / OOV-rate decisions
    (tokenizer budgeting, stop-list sizing). Ties in frequency break on
    the token string, so ranks are total-ordered and the curve is
    bit-deterministic; coverage is one IEEE division of exact integer
    sums.

    Returns (rank_cutoff, n_covered, n_total, coverage). Scale shape:
    the corpus-linear work is one map-side-combined token count; the
    ranking window then runs over |vocabulary| rows only — millions of
    rows, not corpus-sized — in a single partition (documented: the
    vocab table is always tiny next to the corpus; for a truly huge
    vocab, pre-prune with approx_top_k)."""
    counts = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("t").asc())
    ranked = counts.select(
        F.row_number().over(w).alias("rank"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    cuts = [(k,) for k in ranks]
    cuts_df = docs.sparkSession.createDataFrame(cuts, ["rank_cutoff"])
    return (
        ranked.join(
            F.broadcast(cuts_df), F.col("rank") == F.col("rank_cutoff")
        )
        .select(
            "rank_cutoff",
            F.col("cum").cast("long").alias("n_covered"),
            F.col("total").cast("long").alias("n_total"),
            (F.col("cum").cast("double") / F.col("total")).alias("coverage"),
        )
    )


def epoch_upsample(
    docs: "DataFrame",
    epochs: dict[str, float],
    domain_col: str = "source",
    id_col: str = "doc_id",
    default: float = 1.0,
) -> "DataFrame":
    """Materialize FRACTIONAL dataset repetition — the data-mixing step
    the downsamplers above cannot express: a domain weighted at e = 2.4
    epochs emits every row twice plus a third copy for a deterministic
    40% of rows (md5-coin on the row id, the same engine-exact coin as
    ``weighted_sample``), so the realized multiplicity is floor(e) or
    ceil(e) per row and exactly e in distribution. e < 1 degrades to
    plain downsampling (0 or 1 copies), making this the general mixing
    primitive. Output repeats the row with ``epoch_idx`` (0-based copy
    number) so a downstream shard shuffle can interleave copies instead
    of clustering them.

    Scale shape: pure map-side — a per-domain CASE for the base count,
    one md5 compare for the fractional top-up, and an
    explode(sequence(0, n-1)); no shuffle, no RNG state, reproducible
    under any partitioning, and the output is at most ceil(max epoch)
    times the scan (rows with n = 0 never leave the scan)."""
    for dom, e in epochs.items():
        if e < 0:
            raise ValueError(f"epochs must be >= 0, got {e!r} for {dom!r}")
    if default < 0:
        raise ValueError(f"default epochs must be >= 0, got {default!r}")

    def split(e: float) -> tuple[int, str]:
        base = int(e)
        return base, md5_threshold(e - base)

    base_c = None
    thr_c = None
    for dom, e in sorted(epochs.items()):
        b, t = split(e)
        cond = F.col(domain_col) == dom
        base_c = (F.when(cond, b) if base_c is None else base_c.when(cond, b))
        thr_c = (
            F.when(cond, F.lit(t)) if thr_c is None else thr_c.when(cond, F.lit(t))
        )
    db, dt = split(default)
    base_c = F.lit(db) if base_c is None else base_c.otherwise(F.lit(db))
    thr_c = F.lit(dt) if thr_c is None else thr_c.otherwise(F.lit(dt))

    coin = F.md5(F.col(id_col).cast("string"))
    n = base_c + F.when(coin < thr_c, 1).otherwise(0)
    return (
        docs.withColumn("_n_copies", n)
        .where(F.col("_n_copies") > 0)
        .select(
            *docs.columns,
            F.explode(
                F.sequence(F.lit(0), F.col("_n_copies") - 1)
            ).alias("epoch_idx"),
        )
    )


def temperature_mix(
    docs: DataFrame,
    target_frac: float = 0.5,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based domain rebalancing (the multilingual-LM
    alpha-sampling rule, alpha = 0.5): sample domain d at a rate
    proportional to n_d^alpha / n_d, so small domains are boosted and
    large ones suppressed, with the overall kept fraction ≈
    ``target_frac``. Unlike ``weighted_sample`` (rates given by the
    caller) the rates here derive from the CORPUS ITSELF — one
    |domains|-row statistics pass parametrizes the same deterministic
    md5-coin filter.

    Reproducibility: alpha is fixed at 1/2 because sqrt() is
    IEEE-correctly-rounded on every platform (pow() is not — the same
    reason BM25 here uses rational idf, llm/text.py); the rounded sqrt
    is floored to integer micro-units so the normalizing sum is an
    ORDERLESS exact long sum, and each rate is a fixed shape of IEEE
    mult/div on identical operands → identical 48-bit integer cutoffs
    on any engine. The coin is the row's own md5 — no RNG state, stable
    under reruns and corpus growth.

    Scale shape: one map-combined |domains|-row aggregate + a 1-row
    fold, broadcast back onto the scan as a per-domain cutoff — the
    filter itself is scan-local, no shuffle of row data."""
    two48 = float(1 << 48)
    stats = docs.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_n"))
    stats = stats.withColumn(
        "_s", F.floor(F.sqrt(F.col("_n")) * 1e6).cast("long")
    )
    tot = stats.agg(
        F.sum("_n").alias("_total"), F.sum("_s").alias("_ssum")
    )
    rates = stats.crossJoin(F.broadcast(tot)).select(
        domain_col,
        (
            (
                (F.lit(target_frac) * F.col("_total").cast("double"))
                * F.col("_s").cast("double")
            )
            / (F.col("_n").cast("double") * F.col("_ssum").cast("double"))
        ).alias("_rate"),
    )
    cutoffs = rates.select(
        domain_col,
        F.floor(F.least(F.col("_rate"), F.lit(1.0)) * F.lit(two48))
        .cast("long")
        .alias("_cutoff"),
    )
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("long")
    return (
        docs.join(F.broadcast(cutoffs), domain_col)
        .where(h < F.col("_cutoff"))
        .drop("_cutoff")
    )


# ------------------------------------------------------- text normalization

# Each rule is (java/RE2-compatible pattern, replacement), applied in
# order; the control-strip runs FIRST so the later \s classes agree
# across engines (Java \s includes \x0B, RE2's does not — moot once
# control chars are gone). Mirrored verbatim in the oracle SQL.
NORMALIZE_RULES: tuple[tuple[str, str], ...] = (
    ("[\\x00-\\x1F\\x7F]", " "),       # control chars -> space
    ("[‘’‚‛]", "'"),  # curly single quotes
    ("[“”„‟]", '"'),  # curly double quotes
    ("[–—―]", "-"),     # en/em/horizontal-bar dashes
    (" ", " "),                    # no-break space
    ("\\s+", " "),                      # collapse whitespace runs
)


def normalize_text(
    docs: DataFrame, text_col: str = "text", lowercase: bool = False
) -> DataFrame:
    """Canonical text normalization — the first stage of every training
    corpus pipeline: control chars out, typographic quotes/dashes
    folded to ASCII, whitespace runs collapsed, edges trimmed,
    optional lowercasing. Emits the input columns with ``text_col``
    normalized plus ``was_changed``.

    Pure map stage: a chain of codegen'd regexp_replace expressions —
    one scan, no UDF, no shuffle; at 100 TB it pipelines into the scan
    that feeds it. Rules are data, not code (NORMALIZE_RULES), so the
    DuckDB oracle replays the identical chain and the normalized
    STRINGS are hash-checked."""
    out = F.col(text_col)
    for pat, rep in NORMALIZE_RULES:
        out = F.regexp_replace(out, pat, rep)
    out = F.trim(out)
    if lowercase:
        out = F.lower(out)
    others = [c for c in docs.columns if c != text_col]
    return docs.select(
        *others,
        out.alias(text_col),
        (out != F.col(text_col)).alias("was_changed"),
    )


# --------------------------------------------------------- pseudonymization


def pseudonymize(
    df: DataFrame, cols: list[str], salt: str, token_len: int = 16
) -> DataFrame:
    """Deterministic PII tokenization: every value in ``cols`` becomes
    ``pid_`` + the first ``token_len`` hex chars of md5(salt || '|' ||
    value) — the keyed surrogate that lets analysts join and aggregate
    across tables without ever seeing the raw identifier, while a salt
    rotation re-keys the whole corpus. NULL stays NULL (a token for
    NULL would invent a linkable value). Same value + same salt ==
    same token in EVERY table, so referential joins survive.

    Pure map stage — one md5 per cell, codegen, no shuffle. The salt
    must come from a secret store at deployment; tokens are
    pseudonymous, not anonymous (GDPR art. 4(5)) — k-anonymity checks
    (q_quality_k_anonymity) remain the caller's job."""
    out = df
    for c in cols:
        tok = F.concat(
            F.lit("pid_"),
            F.substring(
                F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(c).cast("string"))),
                1,
                token_len,
            ),
        )
        out = out.withColumn(c, F.when(F.col(c).isNotNull(), tok))
    return out


# --------------------------------------------------------------- domain cap


def domain_cap(
    docs: DataFrame,
    group_col: str = "source",
    k: int = 5,
    salt: str = "cap",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap — the CCNet/Gopher-style guard against
    one domain flooding the training mix: keep at most ``k`` documents
    per group, chosen as a deterministic uniform sample (rank by
    md5(salt|id) within the group; the hash order is a random
    permutation that every engine and every re-run reproduces, and a
    salt change redraws it). Returns the surviving rows plus their
    ``cap_rank``.

    Scale shape, by ``plans.small_input(docs)``: a small input is
    one window over the group — with power-law domain sizes the
    heaviest domain would be one sort task at corpus scale. A large one
    takes the stratified_sample plan, since the salted hash is its own
    uniform bucket key: a 2-hex-prefix histogram of it gives exact
    bucket offsets, buckets whose offset already exceeds ``k`` drop
    before any sort, survivors rank within bounded (group, bucket) tie
    sets — identical rows AND cap_rank values
    (tests/test_runtime_ops.py)."""
    from csv2db_spark.operators.ranking import checked_int_rank

    h = F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(id_col).cast("string")))
    if plans.small_input(docs):
        w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
        return (
            docs.withColumn("cap_rank", F.row_number().over(w))
            .where(F.col("cap_rank") <= k)
        )
    base = docs.withColumn("_rk", h).withColumn("_b", F.substring("_rk", 1, 2))
    hist = (
        base.groupBy(group_col, "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "_off",
            F.sum("_c").over(Window.partitionBy(group_col).orderBy("_b"))
            - F.col("_c"),
        )
        .where(F.col("_off") < k)
        .select(
            F.col(group_col).alias("_h_g"), F.col("_b").alias("_h_b"), "_off"
        )
    )
    tw = Window.partitionBy(group_col, "_b").orderBy(
        F.col("_rk"), F.col(id_col)
    )
    return (
        base.join(
            F.broadcast(hist),
            base[group_col].eqNullSafe(F.col("_h_g"))
            & (base["_b"] == F.col("_h_b")),
        )
        # checked: a wrapped negative rank would sail through `<= k`
        .withColumn(
            "cap_rank",
            checked_int_rank(F.col("_off") + F.row_number().over(tw), "cap_rank"),
        )
        .where(F.col("cap_rank") <= k)
        .select(*docs.columns, "cap_rank")
    )


# ------------------------------------------------------ leakage-safe split


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    cluster_col: str = "component",
) -> DataFrame:
    """Split assignment keyed on the duplicate-cluster REPRESENTATIVE
    instead of the document: every member of a near-dup cluster lands
    in the same split, so a test document can never have a training
    twin — the leakage mode plain per-doc hashing cannot prevent.
    ``clusters`` is (id, component) from connected components over
    near-dup pairs; docs absent from it (no near-dup) key on their own
    id. Same md5-threshold band assignment as ``assign_split``.

    Scale shape: one left join against the (small — only docs WITH a
    near-dup) cluster table, then a scan projection; broadcastable
    whenever dups are a corpus minority."""
    j = docs.join(
        clusters.select(F.col(id_col), F.col(cluster_col)), id_col, "left"
    )
    j = j.withColumn(
        "_split_key", F.coalesce(F.col(cluster_col), F.col(id_col))
    )
    return assign_split(j, fractions, id_col="_split_key").drop("_split_key")


# -------------------------------------------------- score normalization


def score_quantile_normalize(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str = "doc_id",
    rank_bucket: Column | None = None,
) -> DataFrame:
    """Percent-rank a quality score WITHIN each source so scores become
    comparable ACROSS sources — the fix for mixing heterogeneous
    quality signals (a "0.7" from a clean-wiki scorer and from a
    web-crawl scorer mean different things; their within-source ranks
    do not). Ties break on the id so the rank is total and
    reproducible. Adds ``pct`` in [0, 1] ((rank-1)/(n-1), the
    percent_rank definition over the (score, id) total order — an
    exact integer ratio, one IEEE division, hash-checkable).

    NOTE the tie semantics: percent_rank() with id in the ORDER BY
    already gives tied scores distinct pct values, so the
    (rank-1)/(n-1) reconstruction is exact, not an approximation of
    tie-averaged percent_rank.

    A small input (``plans.small_input(df)``) gets one keyed
    window per group — a single-reducer total sort of the dominant
    source at corpus scale, so a large input instead derives the
    identical pct from operators/ranking.grouped_rank's
    histogram-offset rank (bit-equal, tests/test_runtime_ops.py). The
    common next step is a corpus-wide quantile filter on ``pct`` (see
    quantile_filter), now fair across sources."""
    from csv2db_spark.operators.ranking import (
        _grouped_rank,
        join_totals_nullsafe,
    )

    if plans.small_input(df):
        w = Window.partitionBy(group_col).orderBy(score_col, id_col)
        return df.withColumn("pct", F.percent_rank().over(w))
    ranked = _grouped_rank(
        df, [group_col], score_col, id_col,
        descending=False, out_col="_rn", bucket=rank_bucket, small=False,
    )
    totals = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    return (
        # null-safe: NULL groups rank in both shapes
        join_totals_nullsafe(ranked, totals, [group_col])
        .withColumn(
            "pct",
            F.when(F.col("_n") > 1, (F.col("_rn") - 1) / (F.col("_n") - 1))
            .otherwise(F.lit(0.0)),
        )
        .select(*df.columns, "pct")
    )


def importance_weights(
    docs: DataFrame,
    target_col: str,
    n_features: int = 64,
    text_col: str = "text",
    scale: int = 1_000_000,
) -> DataFrame:
    """DSIR-shaped data selection scores (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    each RAW-pool document by how much its hashed n-gram feature
    distribution resembles a TARGET distribution, using only two count
    vectors of ``n_features`` cells — the trick that made importance
    resampling tractable at web scale. ``target_col`` is a boolean on
    ``docs``: True rows define the target distribution (the quality
    corpus you want more of), False rows are the selection pool that
    gets scored.

    Integer-exact pipeline (every division an explicit floor, mirrored
    by the oracle): Laplace-smoothed per-bucket probabilities in
    ``scale`` micro-units,

        p_hat(b)   = ((cnt(b) + 1) * scale) div (total + n_features)
        w_micro(b) = (p_t(b) * scale) div max(p_r(b), 1)

    and score(d) = sum_b tf(d, b) * w_micro(b) — a log-free surrogate
    of the DSIR log-likelihood ratio (monotone in each feature's
    target/raw ratio; the downstream resampler only needs relative
    order). Returns (doc_id, score) for pool documents.

    Scale shape: one explode -> one map-combined groupBy to
    2*n_features count cells -> broadcast weight table -> per-doc tf
    rollup. The target corpus is never joined row-to-row against the
    pool; model state is n_features rows regardless of corpus size."""
    from csv2db_spark.llm.corpus import tokens

    tok = docs.select(
        "doc_id",
        F.col(target_col).alias("_tgt"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long")
        % n_features
    ).alias("bucket")
    hashed = tok.select("doc_id", "_tgt", bucket)
    pb = hashed.groupBy("bucket").agg(
        F.sum(F.col("_tgt").cast("long")).alias("cnt_t"),
        F.sum((~F.col("_tgt")).cast("long")).alias("cnt_r"),
    )
    tot = pb.agg(
        F.sum("cnt_t").alias("tot_t"), F.sum("cnt_r").alias("tot_r")
    )
    w = (
        pb.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.expr(
                f"((cnt_t + 1) * {scale}) div (tot_t + {n_features})"
            ).alias("p_t"),
            F.expr(
                f"((cnt_r + 1) * {scale}) div (tot_r + {n_features})"
            ).alias("p_r"),
        )
        .select(
            "bucket",
            F.expr(f"(p_t * {scale}) div greatest(p_r, 1)").alias("w"),
        )
    )
    tf = (
        hashed.where(~F.col("_tgt"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("w")).alias("score"))
    )


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget corpus assembly: admit documents per group, in
    deterministic md5(doc_id) order, until the group's TOKEN budget is
    spent — the operation that turns "we want a 1T-token mix with 30%
    web, 20% code, ..." into an actual document set. Doc-count sampling
    (stratified_sample) can't do this: a budget is in tokens, and doc
    lengths vary by orders of magnitude.

    The admission order is the same hash-rank device as every sampler
    here (stable under corpus growth: a new doc displaces at most the
    budget boundary, not the whole sample; no seed, no shuffle of the
    data itself). A doc is kept iff its cumulative token count stays
    within budget — the first overflowing doc is excluded, leaving the
    budget underfilled by less than one document (the knapsack slack a
    real mix tolerates).

    Output: (doc_id, group, n_tokens, cum_tokens) for admitted docs.
    The shape is picked once by ``plans.small_input(docs)``. A
    small input gets one window sort per group over (16-byte rank,
    token count) pairs — token counts ride the scan (size(split)), the
    text never shuffles; the dominant group would be a single-task sort
    at corpus scale. A large input gets the identical cumulative via
    operators/ranking.grouped_prefix_sum, bucketed on a 2-hex md5
    prefix — the admission key is uniform by construction, so the 256
    buckets split every group's sort ~evenly (bit-equal,
    tests/test_runtime_ops.py). That plan consumes the sized table
    (4 narrow columns, no text) twice (histogram + join leg), so it is
    checkpointed first; each consumer would otherwise replan the
    upstream tokenize."""
    from csv2db_spark.llm.corpus import tokens
    from csv2db_spark.operators.ranking import _grouped_prefix_sum

    small = plans.small_input(docs)
    n_tok = F.size(tokens(text_col)).cast("long")
    sized = docs.select(
        "doc_id",
        F.col(group_col).alias("group"),
        n_tok.alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("_rk"),
    )
    if not small:
        sized = sized.localCheckpoint(eager=True)
    sized = _grouped_prefix_sum(
        sized,
        ["group"],
        ["_rk", "doc_id"],
        "n_tokens",
        bucket=F.substring("_rk", 1, 2),
        out_col="cum_tokens",
        small=small,
    )
    return sized.where(F.col("cum_tokens") <= budget_tokens).select(
        "doc_id", "group", "n_tokens", "cum_tokens"
    )


def dataset_card(docs: DataFrame) -> DataFrame:
    """Per-source dataset datasheet — the summary block of a dataset
    card (Gebru et al.'s datasheets): document count, language spread,
    exact token totals, mean and LOWER-MEDIAN document length, and the
    English share in integer permille. The one-call accounting a corpus
    release ships with.

    Exactness discipline: every statistic is integer-derived — token
    counts are exact longs, the mean is one IEEE division of exact
    operands, the median is the order-statistic at ⌈n/2⌉ (lower median:
    an actual document's length, never an interpolation), and the
    language share is floor-permille. The median comes straight off the
    per-(source, length) HISTOGRAM — the smallest length whose
    cumulative count reaches ⌈n/2⌉ — so the only window runs over
    histogram rows (distinct lengths per source), never documents: a
    per-row row_number would sort every source on one task, the exact
    skew shape the cutpoint ranks exist to avoid, and an order
    statistic needs no per-row rank at all."""
    toks = F.size(F.split(F.col("text"), " "))
    base = docs.select(
        "source",
        "lang",
        toks.alias("_ntok"),
    )
    hist = base.groupBy("source", "_ntok").agg(F.count(F.lit(1)).alias("_c"))
    cum = hist.withColumn(
        "_cum", F.sum("_c").over(Window.partitionBy("source").orderBy("_ntok"))
    ).withColumn("_n", F.sum("_c").over(Window.partitionBy("source")))
    med = (
        cum.where(F.col("_cum") >= F.ceil(F.col("_n") / 2))
        .groupBy("source")
        .agg(F.min("_ntok").alias("median_tokens"))
    )
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("_ntok").alias("total_tokens"),
        (
            F.sum("_ntok").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_tokens"),
        F.sum(
            F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
        ).alias("_n_en"),
    )
    return (
        agg.join(med, "source")
        .withColumn(
            "en_permille", F.expr("div(1000 * _n_en, n_docs)")
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            "total_tokens",
            "mean_tokens",
            "median_tokens",
            "en_permille",
        )
    )


# html strip rules as data (pattern, replacement), replayed verbatim by
# the DuckDB oracle. Order matters: script/style bodies go before
# generic tags, entities after.
HTML_STRIP_RULES: tuple[tuple[str, str], ...] = (
    (r"(?s)<script\b[^>]*>.*?</script>", " "),
    (r"(?s)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]+>", " "),
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"\s+", " "),
)


def strip_html(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Boilerplate-free text from raw markup — the extraction step every
    web-crawl corpus runs before any quality signal (the
    trafilatura/jusText stage, reduced to its deterministic core):
    script/style bodies and comments dropped wholesale, tags dropped,
    the five ubiquitous entities decoded, whitespace recollapsed.

    Pure map stage like ``normalize_text``: a chain of codegen
    regexp_replace expressions — no UDF, no shuffle, pipelines into the
    scan. Rules are data (HTML_STRIP_RULES) so the oracle replays the
    identical chain; emits ``n_chars_raw``/``n_chars_text`` — the
    markup-ratio signal (text far smaller than markup flags boilerplate
    pages)."""
    out = F.col(text_col)
    for pat, rep in HTML_STRIP_RULES:
        out = F.regexp_replace(out, pat, rep)
    out = F.trim(out)
    others = [c for c in docs.columns if c != text_col]
    return docs.select(
        *others,
        F.length(F.col(text_col)).alias("n_chars_raw"),
        out.alias(text_col),
        F.length(out).alias("n_chars_text"),
    )


def c4_line_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """C4's LINE-level cleaning (Raffel et al. 2020 §2.2) — the
    complement of the document-level Gopher rules: split on newlines,
    keep only lines that end in terminal punctuation AND have at least
    ``min_words`` words AND don't carry boilerplate markers (lorem
    ipsum, javascript, cookie/privacy-policy notices, curly braces),
    then reassemble the document from its surviving lines (documents
    losing every line disappear).

    Shape: posexplode → codegen predicates → one doc-keyed
    array_agg(sort_array) rebuild — a single shuffle on doc_id, line
    order preserved by position, no UDF anywhere. Emits
    ``n_lines_kept``/``n_lines_dropped`` for accounting."""
    lines = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("line", F.trim(F.col("line")))
    keep = (
        F.col("line").rlike(r"[.!?\"']$")
        & (F.size(F.split(F.col("line"), r"\s+")) >= min_words)
        & ~F.lower(F.col("line")).contains("lorem ipsum")
        & ~F.lower(F.col("line")).contains("javascript")
        & ~F.lower(F.col("line")).contains("cookie")
        & ~F.lower(F.col("line")).contains("privacy policy")
        & ~F.col("line").contains("{")
    )
    flagged = lines.withColumn("_keep", keep)
    rebuilt = (
        flagged.where(F.col("_keep"))
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line"))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
    )
    dropped = (
        flagged.groupBy(id_col)
        .agg(
            F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).alias(
                "n_lines_dropped"
            )
        )
    )
    return rebuilt.join(dropped, id_col)


def shard_assignments(
    docs: DataFrame,
    n_shards: int,
    salt: str = "epoch0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic shard + within-shard training order — the terminal
    'global shuffle then shard' step before examples are written for
    the trainer: shard = pmod(xxhash64(id, salt), n_shards) balances
    documents pseudo-randomly; position = md5(salt, id) rank inside the
    shard gives a reproducible read order that changes with the salt
    (new epoch → new permutation, same data).

    One window sort per shard (the shuffle is BY SHARD, so it scales
    out with n_shards); everything is md5 arithmetic (the engine's
    cross-engine-stable hash family, see md5_threshold) — no RNG
    state, any worker can recompute any document's placement."""
    rank_key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(rank_key, 1, 12), 16, 10).cast("long"),
        F.lit(n_shards),
    ).alias("shard")
    w = Window.partitionBy("shard").orderBy(rank_key, id_col)
    return docs.select(id_col, shard, rank_key.alias("_rk")).select(
        id_col,
        "shard",
        F.row_number().over(w).alias("position"),
    )

"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash,
embedding-cosine near-dup.

Apart from the md5 MinHash signature pass (one Arrow batch per
partition, see below) these are compositions of built-in DataFrame ops
(explode, hash, groupBy, self-join) — no Python in the row path — so
they inherit Catalyst/Tungsten execution and scale by partitioning:

- exact dedup: one hash-shuffle on the digest.
- MinHash: one signature row per document (``minhash_doc_signatures``:
  md5 per 3-shingle, K Kirsch-Mitzenmacher mins and the shingle hash
  set, computed row-locally with no shuffle) → band table → band-bucket
  candidate pairs. At 100 TB the band join is the only pairwise step
  and only collides candidates, never the full corpus. The xxhash64
  twin computes signatures of the same shape (other hash values)
  JVM-side, for clusters without Python workers.
- SimHash: one groupBy(doc) with 64 bit-counter aggregates → band join on
  16-bit chunks (pigeonhole: hamming<=3 over 4 bands guarantees one equal
  band) → bit_count(xor) verify.
- n-gram Jaccard: explode → equi-join on the shingle → per-pair
  intersection counts. Quadratic only within identical shingles; the
  ``max_doc_freq`` cap drops stop-shingles (corpus-global heavy hitters)
  before the pairwise join, bounding per-shingle fan-out.

Hash identity across engines: md5 hex strings (DuckDB md5() == Spark
F.md5 == hashlib.md5), so min-hash values and band keys are comparable
in oracle SQL.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from csv2db_spark.llm.corpus import tokens
from csv2db_spark.operators import stage

# ------------------------------------------------------------------- exact


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Group identical texts by md5 digest: representative = min(doc_id).
    One shuffle on the digest; at scale hash first so the shuffle key is
    16 bytes instead of the document body."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ----------------------------------------------------------------- MinHash

MINHASH_K = 12  # 4 bands x 3 rows
BAND_ROWS = 3
# largest prime below 2^48 — the min-hash value space
MINHASH_P = (1 << 48) - 59
# shingle hashes are 48-bit so the K-M arithmetic cannot overflow int64
_H48 = (1 << 48) - 1


def shingle_table(
    docs: DataFrame, text_col: str = "text", n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-grams per document as rows (doc_id, s); docs with a NULL
    text or fewer than n tokens emit none.

    Built ZERO-SHUFFLE in whole-stage codegen: arrays_zip of n shifted
    array slices + explode + concat_ws, all per-row expressions. Two
    earlier shapes lost: a higher-order ``transform`` lambda evaluates
    interpreted (~4x slower), and posexplode + window ``lead`` pays a
    per-doc window SHUFFLE before the consumer's own (PLANS.md: the zip
    shape cut the containment gate's shingle stage shuffle out
    entirely).

    ``distinct=False`` skips the per-doc dedup shuffle — correct for any
    duplicate-insensitive consumer (min-hash aggregation, hash sets); set
    consumers (Jaccard) dedup their own, typically much smaller, slice."""
    toks = tokens(text_col)
    m = F.size(toks) - (n - 1)
    z = F.arrays_zip(
        *[F.slice(toks, j + 1, m).alias(f"t{j}") for j in range(n)]
    )
    out = (
        docs.where(F.size(toks) >= n)
        .select("doc_id", F.explode(z).alias("st"))
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.col(f"st.t{j}") for j in range(n)]
            ).alias("s"),
        )
    )
    return out.dropDuplicates(["doc_id", "s"]) if distinct else out


def minhash_signatures(hashed: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """The Kirsch-Mitzenmacher fold as Column expressions: (doc_id, h1,
    h2) shingle-hash rows → (doc_id, h0..h{k-1}) with h_i = min((h1 +
    i*h2 + i*i) mod P), K min-hashes from two hashes per shingle in ONE
    map-side-combinable aggregation. Pure 64-bit arithmetic inside
    whole-stage codegen — no string hashing per hash function."""
    aggs = [
        F.min((F.col("h1") + i * F.col("h2") + F.lit(i * i)) % F.lit(MINHASH_P)).alias(
            f"h{i}"
        )
        for i in range(k)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _cpu_parallel(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, text) in at least ``defaultParallelism`` partitions.

    The signature passes are CPU-bound: a small single-file corpus can
    arrive in fewer partitions than cores (3 on the test fixture),
    serializing them. The shuffled payload is only (doc_id, text), and at
    real scale file splits already outnumber cores, making this a
    no-op."""
    slim = docs.select("doc_id", text_col)
    par = docs.sparkSession.sparkContext.defaultParallelism
    if slim.rdd.getNumPartitions() < par:
        slim = slim.repartition(par)
    return slim


def minhash_doc_signatures(
    docs: DataFrame, text_col: str = "text", k: int = MINHASH_K
) -> DataFrame:
    """The md5 MinHash signature kernel: (doc_id, hset, h0..h{k-1}).

    Per document, inside one mapInPandas batch: split the text on single
    spaces, md5 each distinct word 3-shingle (hashlib's C md5), read the
    hex digest's first and second 12 digits as two 48-bit ints (h1, h2)
    and fold them into K mins h_i = min((h1 + i*h2 + i*i) mod P).
    ``hset`` is the sorted distinct h1 set, so exact Jaccard verification
    is ``array_intersect`` on candidate pairs and the corpus-wide
    shingle table never materializes. ``_sql_minhash_cte`` in
    queries/llm.py is the DuckDB mirror of these values.

    One input row → at most one output row, no aggregation shuffle:
    measured faster than exploding shingles into a grouped Column fold
    (1.06 s against 1.49 s for the pass alone at sf0.1, local[4]). The
    pass sits above its only exchange, so Spark cannot reuse it across
    consumers: a caller that reads the signatures more than once (both
    legs of the band join, both directions of an edge union) persists
    them.

    Docs with a NULL text or fewer than 3 tokens have no shingles and
    are omitted."""
    out_schema = "doc_id bigint, hset array<bigint>, " + ", ".join(
        f"h{i} bigint" for i in range(k)
    )
    p = MINHASH_P

    def batch(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        cols = ["doc_id", "hset"] + [f"h{i}" for i in range(k)]
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None:
                    continue
                toks = text.split(" ")
                if len(toks) < 3:
                    continue
                hexes = {
                    hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()
                    for i in range(len(toks) - 2)
                }
                h1 = np.array([int(x[:12], 16) for x in hexes], dtype=np.int64)
                h2 = np.array([int(x[12:24], 16) for x in hexes], dtype=np.int64)
                mins = [int(((h1 + i * h2 + i * i) % p).min()) for i in range(k)]
                rows.append((did, np.unique(h1).tolist(), *mins))
            yield pd.DataFrame(rows, columns=cols)

    return _cpu_parallel(docs, text_col).mapInPandas(batch, out_schema)


def minhash_doc_signatures_xxh(
    docs: DataFrame, text_col: str = "text", k: int = MINHASH_K
) -> DataFrame:
    """JVM-hash twin of ``minhash_doc_signatures``: (doc_id,
    h0..h{k-1}), the same K Kirsch-Mitzenmacher fold over the same
    shingles, but each shingle's (h1, h2) is Spark's native ``xxhash64``
    of (s) and of (s, 1), masked to 48 bits — no Python worker, no Arrow
    transfer. The values differ from the md5 kernel's, so DuckDB (which
    has no Spark-compatible xxhash64) cannot check them; the md5 kernel
    stays the cross-engine parity path and, measured single-node (the
    Arrow pass is ~0.6 s of the ~2 s gate, PLANS.md), the default. This
    twin exists for clusters where Python workers are unavailable.

    Shape: ``shingle_table`` (codegen zip + explode, no distinct —
    duplicate shingles cannot change a MIN), two codegen xxhash64 per
    shingle, then ``minhash_signatures``' ONE groupBy(doc_id) with
    map-side partial aggregation, so the shuffle carries ~one k-long
    partial per doc per task, not the shingle rows. An all-HOF variant
    (k zip_with/array_min folds per row) was measured 8x SLOWER at
    sf0.1: lambda bodies evaluate interpreted.

    Unlike the md5 kernel this does NOT carry the per-doc hash set: at
    corpus scale the sets dominate the shuffle (the k mins are 96
    bytes/doc; the sets ~8·|shingles|, measured ~25% of the whole query
    when carried via collect_set), and exact-Jaccard verification only
    needs them for docs that survive the band join — build those with
    ``minhash_doc_hashsets_xxh`` on the bounded candidate doc set.
    Docs with a NULL text or fewer than 3 tokens are omitted."""
    s = shingle_table(_cpu_parallel(docs, text_col), text_col, distinct=False)
    return minhash_signatures(
        s.select(
            "doc_id",
            F.xxhash64("s").bitwiseAND(F.lit(_H48)).alias("h1"),
            F.xxhash64("s", F.lit(1)).bitwiseAND(F.lit(_H48)).alias("h2"),
        ),
        k,
    )


def minhash_doc_hashsets_xxh(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, hset) — the distinct 48-bit xxhash64 shingle hashes per
    doc (the xxh twin's h1), built all-codegen: ``shingle_table`` +
    xxhash64 + one ``collect_set`` groupBy. Intended only for the
    BOUNDED post-band-join doc set, where that shuffle is tiny; a
    per-row higher-order ``transform`` builder measured 3.28 s against
    2.31 s end to end for the xxh LSH gate at sf0.1 (PLANS.md). hset
    element order is free (set semantics — ``array_intersect``
    consumers are order-insensitive)."""
    return (
        shingle_table(docs, text_col, distinct=False)
        .select("doc_id", F.xxhash64("s").bitwiseAND(F.lit(_H48)).alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("hset"))
    )


def minhash_bands(sig: DataFrame, k: int = MINHASH_K, rows: int = BAND_ROWS) -> DataFrame:
    """Band table keyed by the raw row values (long columns) — the LSH
    bucket join needs no digest at all; equality on 3 longs is cheaper
    than building and comparing an md5 per band."""
    bands = []
    for b in range(k // rows):
        bands.append(
            F.struct(
                F.lit(b).alias("band_id"),
                *[
                    F.col(f"h{b * rows + j}").alias(f"v{j}")
                    for j in range(rows)
                ],
            )
        )
    return sig.select("doc_id", F.explode(F.array(*bands)).alias("band")).select(
        "doc_id", "band.band_id", *[f"band.v{j}" for j in range(rows)]
    )


def minhash_candidates(
    bands: DataFrame, rows: int = BAND_ROWS, max_bucket: int | None = None
) -> DataFrame:
    """Band-bucket candidate pairs. ``max_bucket`` caps bucket size: a
    bucket of m docs emits m^2/2 candidate pairs, so one degenerate
    bucket (boilerplate text, empty docs) can dominate the whole job at
    corpus scale. Buckets above the cap are dropped wholesale — their
    members still collide in their other, more selective bands unless
    they are pathological; run exact_duplicates first to take identical
    docs out of the LSH path.

    With the cap active, surviving buckets hold <= max_bucket docs, so
    candidates come from ONE groupBy on the band key with in-bucket
    pair expansion over the (sorted, bounded) doc array — one shuffle
    of the band table, versus three for the hot-count + broadcast
    anti-join + self-join formulation it replaces (measured ~0.7 s
    faster on the sf0.1 gate; pair sets verified identical at sf0.001
    and sf0.1, and the DuckDB oracle keeps hash-proving the bucket-cap
    semantics). The self-join branch remains for max_bucket=None, where
    an unbounded collect would concentrate a degenerate bucket's rows
    on one task."""
    if max_bucket is not None:
        keys = ["band_id"] + [f"v{j}" for j in range(rows)]
        buckets = (
            bands.groupBy(*keys)
            .agg(F.sort_array(F.collect_set("doc_id")).alias("_ds"))
            .where((F.size("_ds") >= 2) & (F.size("_ds") <= max_bucket))
        )
        # all i<j index pairs of the sorted bounded array -> doc_a < doc_b
        combs = F.expr(
            "flatten(transform(sequence(1, size(_ds) - 1), "
            "i -> transform(sequence(0, i - 1), "
            "j -> struct(_ds[j] AS doc_a, _ds[i] AS doc_b))))"
        )
        return (
            buckets.select(F.explode(combs).alias("p"))
            .select("p.doc_a", "p.doc_b")
            .distinct()
        )
    a, b = bands.alias("a"), bands.alias("b")
    cond = (F.col("a.band_id") == F.col("b.band_id")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    for j in range(rows):
        cond &= F.col(f"a.v{j}") == F.col(f"b.v{j}")
    return (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# ------------------------------------------------------------ n-gram Jaccard


def jaccard_pairs(
    exploded: DataFrame,
    min_jaccard: float,
    candidate_pairs: DataFrame | None = None,
    key: str = "s",
    distinct_input: bool = True,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over shingle SETS via explode + equi-join.

    With ``candidate_pairs`` (doc_a, doc_b), the self-join is restricted to
    documents that appear in some candidate pair — the LSH contract: exact
    verification touches band collisions only, never the full corpus. The
    candidate doc set is tiny relative to the corpus, so Spark broadcasts
    the semi-join side.

    ``max_doc_freq`` drops stop-shingles — shingles appearing in more
    than that many documents — from BOTH intersection and union (Jaccard
    over the capped sets). A shingle in m docs fans out to m^2/2 join
    rows, so one boilerplate phrase across a real corpus turns the
    equi-join quadratic; heavy hitters carry no dedup signal. Frequency
    is corpus-global (counted on the full input, before any candidate
    restriction); the hot list is a tiny aggregate, applied as a
    broadcast anti-join.

    Shape for the UNRESTRICTED path (guide §2.4, the
    containment_pairs fix applied here too): the postings fed FOUR
    consumers (df census, size census, both SMJ legs), each replanning
    the shingle-explode prep chain — the gate plan carried 46 Exchanges
    / 48 parquet scans. Now one ``repartition(key)`` exchange serves
    everything (census aggregates reuse the key clustering; the per-doc
    dedup — when the input is a multiset — and the df census run on it
    too), and the postings materialize once as a plain eager
    ``localCheckpoint`` with AQE on, as in ``containment_pairs`` (see
    there for why the partitioning is not preserved); the self-join
    legs re-shuffle the staged postings. Measured at local[4] against
    the partition-preserving (AQE-off) stage: ``q_dedup_ngram_jaccard``
    2.67 s → 1.02 s at sf0.01 and 4.99 s → 2.64 s at sf0.1. The
    candidate-restricted path is left alone: its postings are
    band-collision-sized and the broadcast join is the fast path (a
    corpus repartition there would cost more than it saves)."""
    if candidate_pairs is None:
        dd = exploded.repartition(F.col(key))
        if not distinct_input:
            dd = dd.dropDuplicates(["doc_id", key])
        if max_doc_freq is not None:
            # postings are (doc_id, key)-distinct here, so doc frequency
            # is a plain count — count_distinct would pay a second
            # corpus aggregate for the same value
            hot = (
                dd.groupBy(key)
                .agg(F.count(F.lit(1)).alias("_df"))
                .where(F.col("_df") > max_doc_freq)
                .select(key)
            )
            dd = dd.join(F.broadcast(hot), key, "anti")
        # reuse: the size census and both self-join legs read the postings
        exploded = stage.materialize_stage(dd)
    else:
        if max_doc_freq is not None:
            hot = (
                exploded.groupBy(key)
                .agg(F.count_distinct("doc_id").alias("_df"))
                .where(F.col("_df") > max_doc_freq)
                .select(key)
            )
            exploded = exploded.join(F.broadcast(hot), key, "anti")
        cand_docs = (
            candidate_pairs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(candidate_pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        exploded = exploded.join(F.broadcast(cand_docs), "doc_id", "semi")
        if not distinct_input:
            # set semantics over a multiset input: dedup AFTER the
            # candidate restriction, so the shuffle only touches
            # surviving docs
            exploded = exploded.dropDuplicates(["doc_id", key])
    sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    e1, e2 = exploded.alias("e1"), exploded.alias("e2")
    # unrestricted (no candidate_pairs): both sides are the exploded
    # corpus — pin sort-merge so Catalyst's undershooting size estimate
    # of an exploded intermediate can never pick a corpus-sized
    # broadcast (same hazard as containment_pairs, fixed there after an
    # observed sf0.1 OOM). Candidate-restricted postings stay unhinted:
    # they are band-join-sized and broadcasting them is the fast path.
    if candidate_pairs is None:
        e1 = e1.hint("merge")
    inter = (
        e1.join(
            e2,
            (F.col(f"e1.{key}") == F.col(f"e2.{key}"))
            & (F.col("e1.doc_id") < F.col("e2.doc_id")),
        )
        .groupBy(
            F.col("e1.doc_id").alias("doc_a"), F.col("e2.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------------------------ SimHash

SIMHASH_BITS = 60  # 15 hex chars of md5 → safely inside a signed long
SIMHASH_BANDS = 4
_BAND_WIDTH = SIMHASH_BITS // SIMHASH_BANDS  # 15 bits


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash over the token multiset: one explode + one groupBy
    with 60 counter aggregates (single pass, map-side combinable)."""
    tok = docs.select(
        "doc_id", F.explode(tokens(text_col)).alias("tok")
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    )
    counters = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*counters)
    sim = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        range(SIMHASH_BITS),
        F.lit(0).cast("long"),
    )
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance. Pigeonhole banding: with 4
    bands, any pair within hamming<=3 shares at least one identical band →
    the self-join only compares band-colliding docs.

    The signature table is checkpointed first (guide §2.4):
    both self-join legs consume it, and each would otherwise replan the
    full signature computation — for the gate that means the corpus
    tokenize + 60-counter aggregate running TWICE per query. sig is two
    longs per document, the cheapest possible boundary."""
    # reuse: both self-join legs read the signatures
    sig = stage.materialize_stage(sig)
    bands = []
    mask = (1 << _BAND_WIDTH) - 1
    for b in range(SIMHASH_BANDS):
        bands.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright("simhash", b * _BAND_WIDTH)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
        )
    bt = sig.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("band")
    ).select("doc_id", "simhash", "band.band_id", "band.bv")
    a, b = bt.alias("a"), bt.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------- fuzzy match (edit distance)


def deletion_variants(c: Column) -> Column:
    """``s`` plus every single-character deletion of ``s`` (FastSS /
    deletion-neighborhood blocking). Two strings are within edit
    distance 1 (one insert, delete, or substitute) iff their variant
    sets intersect, so an equi-join on the variant is a complete
    candidate generator for ED<=1 — no all-pairs comparison.

    This array form is the spec / ad-hoc helper; ``fuzzy_pairs`` inlines
    the explode-first equivalent so the substr+concat work runs codegen
    per row instead of interpreted per lambda element (measured 1.6x on
    the gate, PLANS.md)."""
    return F.concat(
        F.array(c),
        F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: F.concat(
                c.substr(F.lit(1), i - F.lit(1)),
                c.substr(i + F.lit(1), F.length(c)),
            ),
        ),
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    s_col: str = "s",
    max_distance: int = 1,
    max_bucket: int | None = 64,
) -> DataFrame:
    """ED<=1 near-duplicate pairs via deletion-neighborhood blocking.

    Shape at scale: each string of length L emits L+1 variants; the only
    shuffle is the equi-join on the variant key, so cost is linear in
    total string length plus the (blocked) candidate count — never the
    n^2 grid. ``max_bucket`` drops variants shared by more than that
    many strings (the analogue of the stop-shingle cap: a hot variant —
    e.g. the empty string from length-1 inputs — would fan out
    quadratically and carries no signal). False candidates (variant
    collision but ED>1, e.g. "ab"/"ba") are removed by one exact
    ``levenshtein`` on the candidate pairs only.
    """
    # deletion_variants semantics, exploded FIRST: the int sequence is
    # the only array built per row, and the substr+concat string work
    # runs whole-stage-codegen per exploded row instead of interpreted
    # per lambda element (_i = 0 is the identity variant)
    var = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(s_col).alias("_s"),
            F.explode(F.sequence(F.lit(0), F.length(s_col))).alias("_i"),
        )
        .select(
            "_id",
            "_s",
            F.when(F.col("_i") == 0, F.col("_s"))
            .otherwise(
                F.concat(
                    F.col("_s").substr(F.lit(1), F.col("_i") - 1),
                    F.col("_s").substr(F.col("_i") + 1, F.length("_s")),
                )
            )
            .alias("v"),
        )
        .distinct()
    )
    if max_bucket is not None:
        hot = (
            var.groupBy("v")
            .agg(F.count_distinct("_id").alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select("v")
        )
        var = var.join(F.broadcast(hot), "v", "anti")
    a = var.select(
        F.col("_id").alias("doc_a"), F.col("_s").alias("s_a"), "v"
    )
    b = var.select(
        F.col("_id").alias("doc_b"), F.col("_s").alias("s_b"), "v"
    )
    return (
        a.join(b, ["v"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "s_a", "doc_b", "s_b")
        .distinct()
        .withColumn("dist", F.levenshtein("s_a", "s_b").cast("long"))
        .where(F.col("dist") <= max_distance)
        .select("doc_a", "doc_b", "dist")
    )


# ----------------------------------------------- repeated-substring windows


def duplicated_window_stats(
    docs: DataFrame, text_col: str = "text", w: int = 5
) -> DataFrame:
    """Per-document duplicated-span statistics via repeated ``w``-token
    windows — the distributed stand-in for exact-substring training-data
    dedup (suffix-array approaches find the same spans centrally; at
    corpus scale the standard trick is fixed-width window fingerprints).

    Every position i of every document emits md5 of its w-token window;
    a window whose fingerprint occurs >= 2 times ANYWHERE in the corpus
    (other docs or elsewhere in the same doc) is a duplicated span.
    Output: (doc_id, n_windows, n_dup_windows) — the trim/drop decision
    input for a curation stage.

    Shape at scale: windows explode to ~tokens-per-doc rows, but the
    payload is a 16-byte digest + doc_id, and the corpus-wide frequency
    is a window count over the digest — ONE digest-keyed shuffle of the
    exploded table (no join back, no second scan of the corpus), then
    the doc rollup. No pairwise joins anywhere, so cost is linear in
    corpus tokens — this is the operator you run where MinHash
    (whole-doc similarity) can't see a copied paragraph inside an
    otherwise-unique document.
    """
    # same arrays_zip + hash-after-explode build as the span family —
    # the position column is unused here, only the digest stream
    exploded = _window_fingerprints(docs, text_col, w).select("doc_id", "h")
    c = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        exploded.withColumn("_c", c)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("_c") >= 2).cast("long")).alias("n_dup_windows"),
        )
    )


def duplicated_spans(
    docs: DataFrame, text_col: str = "text", w: int = 5
) -> DataFrame:
    """Maximal duplicated token spans per document — the REMOVE list
    exact-substring training-data dedup feeds a trim stage (the
    suffix-array approach finds the same spans centrally; fixed-width
    window fingerprints recover every duplicate of >= ``w`` tokens with
    corpus-linear cost). Where ``duplicated_window_stats`` answers "how
    much of this doc is copied", this answers "exactly WHICH tokens",
    so the curation stage can cut the span instead of dropping the doc.

    Every position i emits md5 of its w-token window; windows whose
    fingerprint occurs >= 2 times corpus-wide are duplicated; runs of
    overlapping-or-adjacent duplicated windows (next start within w of
    the previous) merge into maximal [span_start, span_end] token
    intervals via gaps-and-islands. Output: (doc_id, span_start,
    span_end, span_tokens, n_windows), 1-based inclusive positions.

    Shape at scale: one digest-keyed shuffle for the corpus-wide window
    frequency (16-byte payloads), then ONE doc_id shuffle that both the
    island window and the span rollup reuse (same partitioning — no
    extra exchange). No pairwise join anywhere; output is sized by
    duplicated content, not the corpus.
    """
    exploded = _window_fingerprints(docs, text_col, w)
    freq = F.count(F.lit(1)).over(Window.partitionBy("h"))
    dup = exploded.withColumn("_c", freq).where(F.col("_c") >= 2).drop("_c")
    return _merge_islands(dup, w)


def _window_fingerprints(
    docs: DataFrame, text_col: str, w: int
) -> DataFrame:
    """(doc_id, i, h): md5 of every w-token window, 1-based starts.

    Built as arrays_zip of ``w`` shifted slices (the repo's n-gram
    idiom, see llm/corpus.shingles) with posexplode BEFORE the hash, so
    concat_ws + md5 run whole-stage-codegen per exploded row instead of
    interpreted per array element — the earlier sequence + per-index
    slice/array_join/md5 lambda was the interpreted-HOF-with-real-work
    class this repo eliminates on sight (PLANS.md)."""
    t = F.split(F.col(text_col), " ")
    m = F.size(t) - (w - 1)
    z = F.arrays_zip(*[F.slice(t, j + 1, m).alias(f"t{j}") for j in range(w)])
    # posexplode of NULL emits no rows, exactly the size<w empty case
    exploded = docs.select(
        "doc_id",
        F.posexplode(F.when(F.size(t) >= w, z)).alias("p0", "wd"),
    )
    return exploded.select(
        "doc_id",
        (F.col("p0") + 1).alias("i"),
        F.md5(
            F.concat_ws(" ", *[F.col("wd").getField(f"t{j}") for j in range(w)])
        ).alias("h"),
    )


def _merge_islands(marked: DataFrame, w: int) -> DataFrame:
    """Gaps-and-islands over marked window starts (doc_id, i): runs
    whose next start is within ``w`` of the previous merge into one
    maximal [span_start, span_end] token interval."""
    doc_win = Window.partitionBy("doc_id").orderBy("i")
    brk = (
        F.when(F.col("i") - F.lag("i").over(doc_win) <= w, F.lit(0))
        .otherwise(F.lit(1))
        .alias("brk")
    )
    grouped = marked.select("doc_id", "i", brk).withColumn(
        "g", F.sum("brk").over(doc_win.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        grouped.groupBy("doc_id", "g")
        .agg(
            F.min("i").cast("long").alias("span_start"),
            (F.max("i") + w - 1).cast("long").alias("span_end"),
            (F.max("i") - F.min("i") + w).cast("long").alias("span_tokens"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("g")
    )


def remove_duplicated_spans(
    docs: DataFrame, text_col: str = "text", w: int = 5
) -> DataFrame:
    """Keep-first exact-substring dedup, applied: rebuild every document
    with its NON-FIRST duplicated spans cut out — the full Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    transformation (their suffix-array tool removes every repeated
    occurrence after the first; fixed-width window fingerprints recover
    exactly that for repeats >= ``w`` tokens). Unlike
    ``duplicated_spans`` (which marks ALL copies — the audit view),
    this ranks each fingerprint's occurrences by (doc_id, position) and
    dooms only occurrences 2..n, so one canonical copy of every
    repeated passage survives the cut.

    Output: (doc_id, clean_text, n_tokens) — documents whose every
    token fell inside a doomed span drop out entirely (both engines).

    Shape at scale (guide §8 — decide with small rows, never
    move the payload): the occurrence ranking is a window over the
    digest shuffle (no join); doomed windows merge to spans per doc.
    The CUT then happens on the document's token ARRAY in place: the
    per-doc span list (small — sized by duplicated content, disjoint
    sorted intervals by construction of the island merge) joins back to
    the corpus on doc_id, and one row-local expression slices the kept
    intervals out of the split array and rejoins them. The earlier shape
    instead exploded every corpus token, anti-joined positions against
    the spans, and re-shuffled ALL tokens by doc_id for a
    collect_list/array_sort rebuild — two corpus-sized token passes
    (explode + shuffle) replaced by zero; text never moves at all when
    the span table broadcasts. The per-row lambdas here iterate over a
    doc's SPANS (few), not its tokens — each slice() is one array copy,
    so the rebuild stays O(tokens) per doc with no interpreted
    per-token work (the HOF rule is about corpus-sized
    per-element lambdas, which this is not)."""
    occ = _window_fingerprints(docs, text_col, w)
    rn = F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "i"))
    doomed = occ.withColumn("_rn", rn).where(F.col("_rn") > 1).drop("_rn")
    spans = _merge_islands(doomed, w)
    sp_doc = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            )
        ).alias("_sp")
    )
    toks = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("_t")
    )
    joined = toks.join(sp_doc, "doc_id", "left")
    # kept intervals = the complement of the doomed spans inside
    # [1, size(_t)]; spans are disjoint and sorted, so one fold builds
    # the gap list and the closing lambda appends the tail interval.
    # Docs the spans cover entirely produce an empty interval list and
    # drop out — exactly the rows the anti-join shape lost.
    ivs = F.expr(
        """
        aggregate(
          coalesce(_sp, cast(array() as array<struct<s:bigint,e:bigint>>)),
          named_struct(
            'nxt', cast(1 as bigint),
            'out', cast(array() as array<struct<s:bigint,e:bigint>>)),
          (acc, x) -> named_struct(
            'nxt', x.e + 1,
            'out', if(x.s > acc.nxt,
                      concat(acc.out, array(named_struct(
                        's', acc.nxt, 'e', x.s - cast(1 as bigint)))),
                      acc.out)),
          acc -> if(acc.nxt <= size(_t),
                    concat(acc.out, array(named_struct(
                      's', acc.nxt, 'e', cast(size(_t) as bigint)))),
                    acc.out)
        )
        """
    )
    return (
        joined.withColumn("_ivs", ivs)
        .where(F.size("_ivs") > 0)
        .select(
            "doc_id",
            F.expr(
                "array_join(flatten(transform(_ivs, iv ->"
                " slice(_t, cast(iv.s as int),"
                " cast(iv.e - iv.s + 1 as int)))), ' ')"
            ).alias("clean_text"),
            F.expr(
                "aggregate(_ivs, cast(0 as bigint),"
                " (a, iv) -> a + iv.e - iv.s + 1)"
            ).alias("n_tokens"),
        )
    )


def ppjoin_pairs(
    docs: DataFrame,
    min_jaccard: float,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact set-similarity self-join with PPJoin-style PREFIX FILTERING
    (Xiao et al., WWW'08): pairs of documents whose shingle-set Jaccard
    >= ``min_jaccard``, identical output to the naive shingle equi-join
    (``jaccard_pairs``) but with provably fewer candidates.

    The prefix principle: order the universe globally by ascending
    document frequency (rarest first, ties on the shingle); if
    J(a, b) >= t then a and b must share at least one shingle among the
    FIRST ``|d| - ceil(t*|d|) + 1`` of each document's ordered shingles.
    Joining only on prefix shingles therefore finds every qualifying
    pair — completeness is a theorem, not a heuristic, which is why the
    driver gate can hash-match this against the naive join — while the
    frequent shingles that dominate equi-join fan-out sit at the END of
    the ordering and mostly fall outside prefixes.

    Scale shape: the frequency ranking is one |vocab|-row window (at
    extreme vocabularies, bucket the rank by df instead of a total
    order — the theorem only needs a consistent global order); the
    candidate join keys on prefix shingles only; exact verification
    reuses ``jaccard_pairs`` restricted to candidate documents. Versus
    the plain equi-join, fan-out moves from sum(df^2) over ALL shingles
    to sum(df_prefix^2) — the stop-shingle problem solved by
    construction rather than by a cap.
    """
    # reuse: the frequency count, the prefix build and the exact verify
    # read the shingle table
    sh = stage.materialize_stage(shingle_table(docs, text_col=text_col, n=n))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # the consistent global order the prefix theorem needs is (df, s)
    # used DIRECTLY: per-doc positions come from a doc-partitioned
    # window ordered by (df, s), and the candidate join keys on the
    # shingle itself — no vocabulary-wide rank (the earlier global
    # row_number was a single-partition sort of the whole vocab, the
    # one non-scalable stage in this plan)
    tr = sh.join(dfreq, "s").select("doc_id", "s", "df")
    sizes = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    wd = Window.partitionBy("doc_id").orderBy("df", "s")
    ordered = tr.withColumn("pos", F.row_number().over(wd))
    pref = (
        ordered.join(sizes, "doc_id")
        .where(
            F.col("pos")
            <= F.col("nsh") - F.ceil(F.lit(min_jaccard) * F.col("nsh")) + 1
        )
        .select("doc_id", "s")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "s")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return jaccard_pairs(sh, min_jaccard, candidate_pairs=cand)


# ------------------------------------------------- representative selection


def keep_best_representative(
    members: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """The keep-one-per-cluster policy step that completes a dedup
    pipeline: within each duplicate cluster keep the highest-quality
    member (ties broken on the id, ascending — deterministic), mark the
    rest as drops. ``quality`` is any (id, score) table — length,
    Gopher score, model perplexity.

    Returns members ⋈ quality plus ``is_kept``. Scale shape: one equi
    join on the id and one window over the cluster — both shuffle only
    cluster MEMBERS (docs that had a near-dup), never the corpus; the
    window partition is a cluster (bounded by the dedup blocking), so
    no skewed giant partition."""
    j = members.join(quality, id_col)
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return j.withColumn("is_kept", F.row_number().over(w) == 1)


def minhash_lsh_params(
    threshold: float,
    max_k: int = 256,
    fn_weight: float = 1.0,
) -> tuple[int, int]:
    """Choose (bands, rows_per_band) for a target Jaccard ``threshold``
    — the S-curve planning step every LSH deployment does before
    committing a signature width. A pair with Jaccard s collides in at
    least one of b bands of r rows with probability 1 - (1 - s^r)^b;
    this picks the (b, r) with b*r <= max_k minimizing estimated error
    mass around the threshold: the false-positive integral of the curve
    below t plus ``fn_weight`` times the false-negative integral above
    it (both by small fixed Simpson grids — deterministic, no RNG).
    ``fn_weight`` > 1 biases toward recall (catch more true dups at the
    cost of more candidates to verify), < 1 toward a cheaper verify
    stage.

    Use: (b, r) = minhash_lsh_params(0.5); k = b*r as MINHASH_K and r
    as BAND_ROWS. The shipped defaults (4 x 3 at k=12) are what this
    returns for threshold 0.5 at max_k=12 — pinned in tests so the
    planner and the deployed constants cannot drift apart."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")

    def collide(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s**r) ** b

    def simpson(f, lo: float, hi: float, n: int = 32) -> float:
        h = (hi - lo) / n
        acc = f(lo) + f(hi)
        for i in range(1, n):
            acc += f(lo + i * h) * (4 if i % 2 else 2)
        return acc * h / 3.0

    best: tuple[float, int, int] | None = None
    for r in range(1, max_k + 1):
        for b in range(1, max_k // r + 1):
            fp = simpson(lambda s: collide(s, b, r), 0.0, threshold)
            fn = simpson(lambda s: 1.0 - collide(s, b, r), threshold, 1.0)
            err = fp + fn_weight * fn
            # prefer smaller signatures on ties: cheaper shuffle state
            key = (err, b * r, r)
            if best is None or key < best[0]:
                best = (key, b, r)
    assert best is not None
    return best[1], best[2]


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the C4 / RefinedWeb
    line-dedup rule): split every document on ``sep``, keep each
    distinct paragraph ONLY at its first occurrence ordered by
    (document id, position), drop every later copy anywhere in the
    corpus, and reassemble the surviving paragraphs in their original
    order. Documents whose every paragraph was seen earlier vanish.

    Returns (id_col, n_paras, text) with the rebuilt text.

    Scale shape: posexplode (map-side), then the first occurrence per
    paragraph digest is computed with a ``min(struct(id, pos))``
    GROUPBY — map-side combinable, so a boilerplate paragraph with
    millions of copies ("Home | About | Contact" on every page of a
    crawl) collapses to one partial per task BEFORE the shuffle. A
    row_number window would instead sort that whole hot partition on
    one reducer — the exact C4-corpus skew case — which is why this
    deliberately isn't a window. The winner table (one row per
    distinct paragraph) joins back on the digest; the probe side's hot
    keys are AQE-skew-splittable because the build side is unique per
    key. Then one groupBy(doc) reassembles. The reassembly sort is
    per-document (array_sort of a few struct elements), not a global
    sort. At 100 TB this is two linear shuffles plus a skew-safe join
    — the same cost class as exact_duplicates, one level finer."""
    paras = docs.select(
        id_col, F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para")
    ).withColumn("_ph", F.md5("para"))
    first = paras.groupBy("_ph").agg(
        F.min(F.struct(id_col, "pos")).alias("_w")
    )
    keep = paras.join(first, "_ph").where(
        F.struct(id_col, "pos") == F.col("_w")
    )
    return keep.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text"),
    )


def containment_pairs(
    exploded: DataFrame,
    min_permille: int = 700,
    key: str = "s",
    max_doc_freq: int | None = None,
    pair_filter: str | None = None,
    materialize: str = "local",
    stage_path: str | None = None,
) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |S(A)∩S(B)| / |S(A)| —
    the quote / sub-document detector (Broder's containment, the measure
    resemblance-Jaccard misses: a paragraph lifted into a much larger
    document has low Jaccard but containment ≈ 1). Emits one row per
    DIRECTED pair above the threshold: ``doc_a`` is the (near-)contained
    document, ``doc_b`` the container.

    The threshold is an integer PERMILLE compared via exact integer
    cross-multiplication (1000·inter ≥ permille·|S(A)| after floor
    division — engine-identical, no float ratio), so the gate
    hash-verifies every pair bit for bit.

    Same scale discipline as ``jaccard_pairs``: ``max_doc_freq`` drops
    stop-shingles from numerator AND denominator before the postings
    self-join (a shingle in m docs fans out m²/2 join rows; boilerplate
    carries no containment signal), keeping the join linear in the
    postings list. At 100 TB this runs after an LSH candidate pass the
    same way jaccard verification does.

    Negative result (PLANS.md): rebuilding this as grouped
    postings + in-group pair expansion (the minhash_candidates shape —
    sort_array(collect_set) per shingle, unordered pairs via nested
    ``transform``, directed rows emitted after the count) measured
    1.5-2x SLOWER at sf0.1 despite halving pair traffic: the expansion
    lambdas evaluate interpreted over a corpus-sized posting table —
    the same HOF lesson as the signature pass — where minhash applies
    them only to the tiny >=2-member band buckets. The two-sided SMJ
    stays.

    Shape (guide §2.4 — share one exchange, materialize the
    multi-consumer boundary): the postings table is consumed THREE
    times (both self-join legs + the size census) and its prep chain
    (per-doc dedup, df census, stop-shingle anti) was replanned per
    consumer — the final AQE plan at sf0.1 carried 19 Exchanges / 21
    FileScans with only 2 reused. Now ONE ``repartition(key)`` exchange
    serves everything: the (doc_id, key) dedup and the df census both
    reuse the key-clustering (aggregate keys ⊇ partition key), and the
    prepared table is materialized once
    (``operators/stage.materialize_stage``, an eager
    ``localCheckpoint`` with AQE on). The checkpoint reports
    UnknownPartitioning, so each SMJ leg re-shuffles and sorts the
    staged postings. Preserving the partitioning instead
    (``preserve_partitioning=True``) makes the legs exchange-free but
    turns AQE off for the staging job, which then runs every partition
    of the fixed shuffle width (32 partitions, 70 tasks for 580
    documents at sf0.01) and costs more than the exchanges it saves.
    Measured at local[4], build + run of the gate, median of 12
    in-process rotations: 1.568 s preserved, 0.787 s AQE-on checkpoint,
    0.955 s with no stage at all (the checkpoint won 12 of 12 against
    the lazy plan). ``materialize='reliable'`` + ``stage_path`` stages
    via durable parquet at cluster scale (same knob as curation v6);
    ``materialize='none'`` keeps the lazy recompute plan.

    ``pair_filter='a_gt_b'`` restricts the join to doc_a > doc_b pairs
    BEFORE the pair-count aggregate (guide §2.3 — shuffle fewer bytes):
    consumers that only ever keep that direction (curation v6's
    keep-smaller-id drop rule) halve the join output and the aggregate
    traffic; emitted rows are bit-identical to filtering afterwards.

    Input need not be pre-deduplicated: per-doc distinct is enforced
    here (on the shared exchange), so callers should pass
    ``shingle_table(..., distinct=False)`` and skip the upstream
    dedup shuffle entirely."""
    dd = exploded.repartition(F.col(key)).dropDuplicates(["doc_id", key])
    if max_doc_freq is not None:
        # after the per-doc dedup, doc frequency is a plain count —
        # count_distinct would pay a second corpus aggregate for nothing
        hot = (
            dd.groupBy(key)
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select(key)
        )
        dd = dd.join(F.broadcast(hot), key, "anti")
    if materialize != "none":
        # reuse: the size census and both self-join legs read the postings
        dd = stage.materialize_stage(dd, mode=materialize, path=stage_path)
    sizes = dd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    e1, e2 = dd.alias("e1"), dd.alias("e2")
    # the postings self-join must NEVER broadcast: both sides are the
    # exploded corpus, and Catalyst's size estimate of an exploded
    # intermediate undershoots badly enough to pick a corpus-sized
    # BroadcastExchange (observed OOM at sf0.1 inside a composed
    # pipeline). merge-hint pins the sort-merge plan — the only shape
    # that survives 100 TB postings anyway.
    if pair_filter not in (None, "a_gt_b"):
        raise ValueError(f"unknown pair_filter {pair_filter!r}")
    pair_cond = (
        F.col("e1.doc_id") > F.col("e2.doc_id")
        if pair_filter == "a_gt_b"
        else F.col("e1.doc_id") != F.col("e2.doc_id")
    )
    inter = (
        e1.hint("merge")
        .join(e2, F.col(f"e1.{key}") == F.col(f"e2.{key}"))
        .where(pair_cond)
        .groupBy(
            F.col("e1.doc_id").alias("doc_a"),
            F.col("e2.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("n_shingles_a")
            ),
            "doc_a",
        )
        .withColumn(
            "containment_permille",
            F.expr("div(1000 * n_common, n_shingles_a)"),
        )
        .where(F.col("containment_permille") >= min_permille)
        .select(
            "doc_a", "doc_b", "n_common", "n_shingles_a",
            "containment_permille",
        )
    )

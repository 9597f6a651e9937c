"""Validation for LLM-data operators that have no SQL oracle: SimHash
against a pure-Python reference implementation, and LSH-ANN recall against
the exact brute-force baseline."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from csv2db_spark.llm import dedup as D
from csv2db_spark.llm import similarity as S
from csv2db_spark.llm.corpus import augmented_docs
from csv2db_spark.sources import load_table


# ---------------------------------------------------------------- SimHash


def _py_simhash(text: str) -> int:
    """Independent reference implementation of the same algorithm."""
    counters = [0] * D.SIMHASH_BITS
    for tok in text.split(" "):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for i in range(D.SIMHASH_BITS):
            counters[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i, c in enumerate(counters):
        if c > 0:
            out |= 1 << i
    return out


def test_simhash_matches_python_reference(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    got = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for doc_id, text in texts.items():
        assert got[doc_id] == _py_simhash(text), f"doc {doc_id}"


def test_simhash_finds_exact_copies(spark, sf_dir):
    # exact copies (doc_id+200000) have hamming distance 0 → must pair up
    sig = D.simhash(augmented_docs(spark, sf_dir))
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_pairs(sig, max_hamming=3).collect()
    }
    for doc_id in range(30):
        assert pairs.get((doc_id, doc_id + 200000)) == 0, f"doc {doc_id}"


# ---------------------------------------------------------------- LSH ANN


def test_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = S.cosine_topk(emb, queries, k=10).collect()
    approx = S.lsh_ann_topk(emb, queries, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # random-gaussian fixture embeddings are a worst case for LSH; the
    # bar asserts the machinery works, not production-grade recall
    assert mean_recall >= 0.3, f"mean recall {mean_recall:.2f}, {recalls}"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = S.cosine_topk(emb, queries, k=10).collect()
    approx = S.ivf_ann_topk(emb, queries, k=10, n_centroids=16, n_probe=4).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # gaussian fixture = worst case for cell-probing; the bar asserts the
    # machinery (train/assign/probe/score) works, not production recall
    assert mean_recall >= 0.2, f"mean recall {mean_recall:.2f}, {recalls}"


def test_lsh_all_pairs_matches_exact_blocked(spark, sf_dir):
    # LSH candidates + exact verify must reproduce the exact blocked
    # all-pairs result identically (recall == 1 at this threshold with
    # the fixed seed; scores are the same quantized cosine on both paths)
    from csv2db_spark.queries.llm import _aug_embeddings

    aug = _aug_embeddings(spark, sf_dir)
    exact = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in S.blocked_all_pairs_cosine(aug, threshold=0.999).collect()
    }
    got = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in S.lsh_all_pairs_cosine(aug, threshold=0.999).collect()
    }
    assert got == exact
    assert len(exact) > 0


def test_lsh_candidate_exchange_carries_ids_only(spark, sf_dir):
    # the candidate-generation shuffle must not carry vector payloads:
    # no array column may appear in any Exchange above the pair distinct
    emb = load_table(spark, sf_dir, "embeddings")
    plan = S.lsh_ann_topk(emb, emb.where(F.col("vec_id") < 3), k=5)._jdf.queryExecution().toString()
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "_iv" not in m.group(1), m.group(0)


def test_stop_shingle_cap_bounds_skew(spark):
    # 1000 docs share one hot shingle; uncapped, the equi-join fans out to
    # ~500k pairs. The cap drops the heavy hitter so only real overlap
    # (here: none — fillers are unique) survives.
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("the same boiler plate"),
            F.concat(F.lit("u"), F.col("id")),
            F.concat(F.lit("v"), F.col("id")),
            F.concat(F.lit("w"), F.col("id")),
        ).alias("text"),
    )
    ex = D.shingle_table(docs)
    capped = D.jaccard_pairs(ex, min_jaccard=0.0, max_doc_freq=100)
    assert capped.count() == 0
    # sanity on a small slice: without the cap the hot shingle does pair up
    uncapped = D.jaccard_pairs(
        D.shingle_table(docs.where(F.col("doc_id") < 40)), min_jaccard=0.0
    )
    assert uncapped.count() == 40 * 39 // 2


def test_band_bucket_cap_bounds_skew(spark):
    # 500 identical docs collapse into one bucket per band -> ~125k
    # candidate pairs uncapped; the bucket cap drops the degenerate
    # buckets (identical docs belong to the exact-dedup pass, not LSH).
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("all documents carry exactly the same words here").alias("text"),
    )
    bands = D.minhash_bands(D.minhash_doc_signatures(docs))
    assert D.minhash_candidates(bands, max_bucket=10).count() == 0
    assert (
        D.minhash_candidates(bands.where(F.col("doc_id") < 30)).count()
        == 30 * 29 // 2
    )


def test_minhash_finds_near_dups(spark, sf_dir):
    # truncated near-copies (doc_id+100000) must surface as candidates
    sig = D.minhash_doc_signatures(augmented_docs(spark, sf_dir))
    cand = D.minhash_candidates(D.minhash_bands(sig))
    pairs = {(r.doc_a, r.doc_b) for r in cand.collect()}
    hits = sum((d, d + 100000) in pairs for d in range(50))
    # MinHash is probabilistic: with J~0.9 and 4 bands of 3 rows the pair
    # probability is ~1-(1-0.9^3)^4 ≈ 0.995 — expect nearly all 50
    assert hits >= 45, f"only {hits}/50 near-dup pairs found"
    exact_hits = sum((d, d + 200000) in pairs for d in range(30))
    assert exact_hits == 30  # identical docs always collide


def test_fuzzy_pairs_ed1(spark):
    # one substitution, one insertion, one deletion, one unrelated, one
    # transposition (ED=2: variant sets collide but verify must reject)
    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "abcd"), (4, "xyz"), (5, "ab"), (6, "ba")],
        ["doc_id", "s"],
    )
    got = {
        (r.doc_a, r.doc_b, r.dist) for r in D.fuzzy_pairs(df).collect()
    }
    assert got == {(1, 2, 1), (1, 3, 1), (1, 5, 1), (2, 3, 1), (2, 5, 1)}


def test_fuzzy_pairs_hot_bucket_cap(spark):
    # 100 single-char strings all share the empty-string deletion variant;
    # the cap must stop the quadratic blowup while same-letter exact
    # duplicates still pair through their identity variant
    rows = [(i, chr(ord("a") + i % 5)) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "s"])
    out = D.fuzzy_pairs(df, max_bucket=30).collect()
    # each letter group has 20 members -> C(20,2)*5 = 950 exact pairs;
    # without the cap every cross-letter pair (ED=1) would also appear
    assert len(out) == 5 * (20 * 19 // 2)
    assert all(r.dist == 0 for r in out)
    uncapped = D.fuzzy_pairs(df, max_bucket=None).count()
    assert uncapped == 100 * 99 // 2  # every pair is ED<=1 here


# ------------------------------------------------- URL canonicalization


def test_canonical_url_rules(spark):
    from csv2db_spark.llm.web import canonical_url

    import pyspark.sql.functions as F

    cases = [
        # scheme+host case, www, https default port, fragment
        ("HTTPS://WWW.Ex.COM:443/A/b#frag", "https://ex.com/A/b"),
        # http default port kept-path case-sensitivity
        ("http://Ex.com:80/Path/", "http://ex.com/Path"),
        # non-default port survives
        ("https://ex.com:8443/x", "https://ex.com:8443/x"),
        # tracking params dropped, rest sorted
        ("https://ex.com/p?z=1&utm_source=a&a=2&gclid=g", "https://ex.com/p?a=2&z=1"),
        # all params dropped -> no '?'
        ("https://ex.com/p?utm_campaign=c", "https://ex.com/p"),
        # empty path -> '/'
        ("https://ex.com", "https://ex.com/"),
        # repeated trailing slashes
        ("https://ex.com/a///", "https://ex.com/a"),
        # non-URL strings pass through untouched
        ("not a url", "not a url"),
        ("relative/path?utm_source=x", "relative/path?utm_source=x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [
        r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


def test_canonical_url_idempotent(spark):
    # canonical(canonical(x)) == canonical(x): a second pass is a no-op
    from csv2db_spark.llm.web import canonical_url

    import pyspark.sql.functions as F

    urls = [
        "HTTPS://WWW.Ex.COM:443/A/b/?b=2&utm_source=f&a=1#x",
        "http://ex.com:80",
        "plain string",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    out = df.select(
        canonical_url(F.col("url")).alias("c1"),
        canonical_url(canonical_url(F.col("url"))).alias("c2"),
    ).collect()
    for r in out:
        assert r.c1 == r.c2


def test_url_dedup_and_domain_stats(spark):
    from csv2db_spark.llm.web import domain_stats, url_dedup

    rows = [
        (1, "https://a.com/x?utm_source=1"),
        (2, "HTTPS://WWW.A.com:443/x/"),   # same page as 1
        (3, "https://a.com/y"),
        (4, "http://b.org/z#frag"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    dd = {r.canon_url: (r.keeper_id, r.n_dupes) for r in url_dedup(df).collect()}
    assert dd["https://a.com/x"] == (1, 2)
    assert dd["https://a.com/y"] == (3, 1)
    assert dd["http://b.org/z"] == (4, 1)
    ds = {r.domain: (r.n_pages, r.n_urls) for r in domain_stats(df).collect()}
    assert ds == {"a.com": (3, 2), "b.org": (1, 1)}


def test_approx_topk_upper_bound_and_order(spark):
    # count-min estimates are upper bounds on true counts, and the
    # (est desc, item asc) order is total -> deterministic cut
    import pyspark.sql.functions as F

    from csv2db_spark.operators.sketch import approx_top_k

    rows = [(f"w{i % 23}",) for i in range(2000)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, ["item"])
    true = {
        r.item: r.n
        for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    top = approx_top_k(df, k=5, d=4, w=256).collect()
    assert top[0].item == "hot"  # the genuine heavy hitter leads
    for r in top:
        assert r.est_count >= true[r.item]  # never underestimates
    # deterministic under repartitioning
    top64 = approx_top_k(df.repartition(64), k=5, d=4, w=256).collect()
    assert [(r.item, r.est_count) for r in top] == [
        (r.item, r.est_count) for r in top64
    ]


def test_assign_split_deterministic_and_complete(spark):
    from csv2db_spark.llm.curation import assign_split

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    out = assign_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = {r.doc_id: r.split for r in out.collect()}
    assert set(rows.values()) == {"train", "val", "test"}
    # roughly proportional (md5 is uniform; 500 rows, generous bands)
    from collections import Counter

    c = Counter(rows.values())
    assert 330 <= c["train"] <= 470
    # identical under repartitioning and re-evaluation
    rows2 = {r.doc_id: r.split for r in assign_split(df.repartition(32), {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert rows == rows2
    # growth safety: a bigger corpus never moves an existing doc
    big = assign_split(
        spark.range(1000).withColumnRenamed("id", "doc_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    rows_big = {r.doc_id: r.split for r in big.collect()}
    assert all(rows_big[k] == v for k, v in rows.items())


def test_assign_split_validates_fractions(spark):
    import pytest

    from csv2db_spark.llm.curation import assign_split

    df = spark.range(5).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="sum to 1"):
        assign_split(df, {"train": 0.5, "val": 0.1})
    with pytest.raises(ValueError, match="at least one"):
        assign_split(df, {})


def test_gopher_quality_rules(spark):
    from csv2db_spark.llm.text import gopher_quality

    rows = [
        # 60 stopword-bearing 4-char-ish words -> passes everything
        (1, " ".join(["the", "data"] * 30)),
        # too short
        (2, "the data table"),
        # symbol-heavy: >10% symbol chars vs words
        (3, " ".join(["the", "data"] * 30) + " " + "@#$% " * 20),
        # no stopword evidence
        (4, " ".join(["zzzz"] * 60)),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in gopher_quality(df).collect()}
    assert out[1].keep
    assert not out[2].ok_word_count and not out[2].keep
    assert not out[3].ok_symbol_ratio and not out[3].keep
    assert not out[4].ok_stopwords and not out[4].keep


def test_collocations_ranking_is_exact_and_stable(spark):
    from csv2db_spark.llm.text import collocations

    # "alpha beta" co-occurs in every doc it appears in; "the x" is common
    docs = [(i, "alpha beta the " + ("x " * 5).strip()) for i in range(10)]
    docs += [(100 + i, "the gamma") for i in range(10)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    top = collocations(df, k=3).collect()
    assert top[0].w1 == "alpha" and top[0].w2 == "beta"
    top64 = collocations(df.repartition(64), k=3).collect()
    assert [(r.w1, r.w2, r.df_ab, r.lift) for r in top] == [
        (r.w1, r.w2, r.df_ab, r.lift) for r in top64
    ]


def test_chunk_documents_boundaries(spark):
    from csv2db_spark.llm.curation import chunk_documents

    import pytest

    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),   # short: one whole chunk
        (2, " ".join(f"t{i}" for i in range(12))),   # exactly chunk size
        (3, " ".join(f"t{i}" for i in range(13))),   # one token over
        (4, " ".join(f"t{i}" for i in range(30))),   # several chunks
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=12, overlap=4)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for rs in by_doc.values():
        rs.sort(key=lambda r: r.chunk_id)
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_chunk_tokens == 10
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_chunk_tokens == 12
    # 13 tokens, stride 8: chunks [0..11], [8..12]
    assert len(by_doc[3]) == 2
    assert by_doc[3][1].chunk_text.split() == [f"t{i}" for i in range(8, 13)]
    # every token appears in at least one chunk; consecutive chunks
    # overlap by exactly `overlap` until the tail
    toks4 = set()
    for r in by_doc[4]:
        toks4.update(r.chunk_text.split())
    assert toks4 == {f"t{i}" for i in range(30)}
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_vocab_coverage_exact_fractions(spark):
    from csv2db_spark.llm.curation import vocab_coverage

    # 100x"a", 50x"b", then c..j once each: top-2 cover 150 of 158
    text = " ".join(["a"] * 100 + ["b"] * 50 + list("cdefghij"))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = {r.rank_cutoff: r for r in vocab_coverage(df, ranks=(1, 2, 5)).collect()}
    assert out[1].n_covered == 100 and out[1].n_total == 158
    assert out[2].n_covered == 150
    assert out[5].n_covered == 153  # +c, +d, +e (ties broken by token)
    assert out[2].coverage == 150 / 158


def test_ppjoin_matches_naive_jaccard_with_fewer_candidates(spark, sf_dir):
    # completeness is a theorem: prefix filtering must return EXACTLY
    # the naive equi-join's qualifying pairs
    import pyspark.sql.functions as SF

    from csv2db_spark.llm.corpus import augmented_docs
    from csv2db_spark.llm.dedup import jaccard_pairs, ppjoin_pairs, shingle_table

    docs = augmented_docs(spark, sf_dir)
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(shingle_table(docs), 0.5).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ppjoin_pairs(docs, 0.5).collect()
    }
    assert got == want
    assert want  # the augmented corpus plants near-dups; must find them


# ------------------------------------------------- JVM-hash MinHash twin


def test_xxh_hashsets_match_explode_path(spark, sf_dir):
    """Plan-diverse cross-check: the hash-set builder (shingle_table +
    collect_set) must equal an independent reference built from the
    array-form ``shingles`` helper, explode and a sorted collect_set of
    the same xxhash64&mask values."""
    from csv2db_spark.llm.corpus import shingles, tokens

    docs = augmented_docs(spark, sf_dir).where(F.col("doc_id") < 50)
    mask = (1 << 48) - 1
    got = {
        r.doc_id: sorted(r.hset)
        for r in D.minhash_doc_hashsets_xxh(docs).collect()
    }
    ref_df = (
        docs.select("doc_id", F.explode(shingles(tokens("text"))).alias("s"))
        .select("doc_id", F.xxhash64("s").bitwiseAND(F.lit(mask)).alias("h"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("h")).alias("hset"))
    )
    ref = {r.doc_id: list(r.hset) for r in ref_df.collect()}
    assert got == ref
    # 48-bit masked hashes are non-negative
    assert all(h >= 0 for hs in got.values() for h in hs)


def test_xxh_signature_mins_match_python_km_fold(spark, sf_dir):
    """Pull each doc's raw (h1, h2) shingle hashes out of Spark once,
    replay the Kirsch-Mitzenmacher fold in pure Python, and demand the
    operator's K mins match exactly."""
    from csv2db_spark.llm.corpus import shingles, tokens

    docs = augmented_docs(spark, sf_dir).where(F.col("doc_id") < 30)
    mask = (1 << 48) - 1
    raw = (
        docs.select("doc_id", F.explode(shingles(tokens("text"))).alias("s"))
        .select(
            "doc_id",
            F.xxhash64("s").bitwiseAND(F.lit(mask)).alias("h1"),
            F.xxhash64("s", F.lit(1)).bitwiseAND(F.lit(mask)).alias("h2"),
        )
        .collect()
    )
    per_doc: dict = {}
    for r in raw:
        per_doc.setdefault(r.doc_id, []).append((r.h1, r.h2))
    sig = {
        r.doc_id: [r[f"h{i}"] for i in range(D.MINHASH_K)]
        for r in D.minhash_doc_signatures_xxh(docs).collect()
    }
    assert set(sig) == set(per_doc)
    for did, hs in per_doc.items():
        want = [
            min((h1 + i * h2 + i * i) % D.MINHASH_P for h1, h2 in hs)
            for i in range(D.MINHASH_K)
        ]
        assert sig[did] == want


def test_md5_signature_mins_match_python_km_fold(spark, sf_dir):
    """The md5 kernel against a pure-Python replay: hashlib.md5 over each
    doc's distinct word 3-shingles, the hex digest's two 48-bit halves
    folded as min((h1 + i*h2 + i*i) mod P), and the sorted distinct h1
    values as ``hset`` — all must match exactly. A NULL text and a
    2-token text have no shingles, so neither doc may appear."""
    base = augmented_docs(spark, sf_dir).where(F.col("doc_id") < 30)
    extra = spark.createDataFrame(
        [(-1, None), (-2, "two tokens")], "doc_id long, text string"
    )
    docs = base.select("doc_id", "text").unionByName(extra)
    want = {}
    for r in base.select("doc_id", "text").collect():
        toks = r.text.split(" ")
        hexes = {
            hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()
            for i in range(len(toks) - 2)
        }
        hs = [(int(x[:12], 16), int(x[12:24], 16)) for x in hexes]
        if hs:
            want[r.doc_id] = (
                sorted({h1 for h1, _ in hs}),
                [
                    min((h1 + i * h2 + i * i) % D.MINHASH_P for h1, h2 in hs)
                    for i in range(D.MINHASH_K)
                ],
            )
    got = {
        r.doc_id: (list(r.hset), [r[f"h{i}"] for i in range(D.MINHASH_K)])
        for r in D.minhash_doc_signatures(docs).collect()
    }
    assert want and got == want


def test_minhash_xxh_gate_agrees_with_md5_gate(spark, sf_dir):
    """The two hash families see different band collisions, so the pair
    SETS may differ at the margin — but (a) Jaccard values on shared
    pairs are hash-independent set cardinalities and must match EXACTLY,
    (b) mutual overlap stays high on the fixture's engineered dups,
    (c) every emitted pair clears the 0.5 threshold, (d) the xxh gate
    is deterministic run-over-run."""
    from csv2db_spark.queries.llm import (
        q_dedup_minhash_lsh,
        q_dedup_minhash_lsh_xxh,
    )

    md5 = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q_dedup_minhash_lsh(spark, sf_dir).collect()
    }
    xxh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q_dedup_minhash_lsh_xxh(spark, sf_dir).collect()
    }
    shared = set(md5) & set(xxh)
    assert len(shared) >= 0.85 * max(len(md5), len(xxh))
    for p in shared:
        assert md5[p] == xxh[p]  # exact: same set sizes, same intersection
    assert all(j >= 0.5 for j in xxh.values())
    again = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q_dedup_minhash_lsh_xxh(spark, sf_dir).collect()
    }
    assert again == xxh


def test_ann_recall_table_and_gates(spark, sf_dir):
    """The recall table matches a hand-computed set intersection, and
    the self-checking gates are empty (bounds hold) but NOT vacuous
    (an absurd bound does produce a violation row)."""
    from csv2db_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = S.cosine_topk(emb, q, k=10)
    ann = S.lsh_ann_topk(emb, q, k=10)
    tbl = {r.query_id: r for r in S.ann_recall_table(ann, exact).collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    for qid in range(5):
        eq = {n for (x, n) in e if x == qid}
        aq = {n for (x, n) in a if x == qid}
        assert tbl[qid].n_exact == len(eq)
        assert tbl[qid].n_hits == len(eq & aq)
        assert tbl[qid].recall == len(eq & aq) / len(eq)
    # bounds hold -> empty; impossible bound -> exactly one violation row
    assert S.ann_recall_violations(ann, exact, 0.2).count() == 0
    viol = S.ann_recall_violations(ann, exact, 1.01).collect()
    assert len(viol) == 1 and viol[0].metric == "mean_recall@k"
    from csv2db_spark.queries.llm import (
        q_sim_ann_ivf_recall,
        q_sim_ann_lsh_recall,
    )

    assert q_sim_ann_lsh_recall(spark, sf_dir).count() == 0
    assert q_sim_ann_ivf_recall(spark, sf_dir).count() == 0


def test_normalize_text_idempotent_and_rules(spark):
    from csv2db_spark.llm.curation import normalize_text

    rows = [
        (1, "“Hi”\t— there’s  \x0b a  tail  "),
        (2, "already clean text"),
        (3, "Nbsp here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in normalize_text(df).collect()}
    assert out[1].text == "\"Hi\" - there's a tail"
    assert out[1].was_changed is True
    assert out[2].text == "already clean text" and out[2].was_changed is False
    assert out[3].text == "Nbsp here" and out[3].was_changed is True
    # idempotent: normalizing the normalized output changes nothing
    again = normalize_text(
        spark.createDataFrame(
            [(r.doc_id, r.text) for r in out.values()],
            "doc_id bigint, text string",
        )
    )
    assert all(not r.was_changed for r in again.collect())
    # lowercase flag
    low = normalize_text(df, lowercase=True).collect()
    assert all(r.text == r.text.lower() for r in low)


def test_pseudonymize_consistent_and_null_safe(spark):
    from csv2db_spark.llm.curation import pseudonymize

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (1, "z"), (None, "n")],
        "user_id bigint, v string",
    )
    b = spark.createDataFrame([(1, 10), (3, 30)], "user_id bigint, w bigint")
    pa = pseudonymize(a, ["user_id"], salt="s")
    pb = pseudonymize(b, ["user_id"], salt="s")
    ta = {r.v: r.user_id for r in pa.collect()}
    tb = {r.w: r.user_id for r in pb.collect()}
    assert ta["x"] == ta["z"] == tb[10]          # same value same token, cross-table
    assert ta["x"] != ta["y"] != tb[30]
    assert ta["n"] is None                        # NULL stays NULL
    assert all(t is None or t.startswith("pid_") for t in ta.values())
    # different salt re-keys everything
    pa2 = {r.v: r.user_id for r in pseudonymize(a, ["user_id"], salt="s2").collect()}
    assert pa2["x"] != ta["x"]


def test_keep_best_exactly_one_kept_per_cluster(spark, sf_dir):
    from csv2db_spark.queries.llm import q_dedup_keep_best

    rows = q_dedup_keep_best(spark, sf_dir).collect()
    by_c: dict = {}
    for r in rows:
        by_c.setdefault(r.component, []).append(r)
    for comp, members in by_c.items():
        kept = [m for m in members if m.is_kept]
        assert len(kept) == 1, comp
        best = kept[0]
        top = max(members, key=lambda m: (m.score, -m.doc_id))
        assert (best.score, best.doc_id) == (top.score, top.doc_id)


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    """The invariant the gate's aggregate can't show directly: every
    member of a duplicate cluster gets the SAME split."""
    from csv2db_spark.llm.curation import leakage_safe_split
    from csv2db_spark.operators.graph import connected_components

    docs = augmented_docs(spark, sf_dir)
    sig = D.minhash_doc_signatures(docs)
    cand = D.minhash_candidates(D.minhash_bands(sig))
    comp = connected_components(cand, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    s = leakage_safe_split(docs, comp)
    mixed = (
        s.where(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert mixed == 0
    # and every doc got exactly one split
    assert s.where(F.col("split").isNull()).count() == 0
    assert s.count() == docs.count()


def test_domain_cap_bounds_and_determinism(spark, sf_dir):
    from csv2db_spark.llm.curation import domain_cap

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    capped = domain_cap(docs, k=5)
    per = {r.source: r.n for r in
           capped.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    avail = {r.source: r.n for r in
             docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for src, n in per.items():
        assert n == min(5, avail[src])
    # deterministic: same rows on a second run; different salt redraws
    a = sorted((r.doc_id, r.source) for r in capped.collect())
    b = sorted((r.doc_id, r.source) for r in domain_cap(docs, k=5).collect())
    assert a == b
    c = sorted(
        (r.doc_id, r.source)
        for r in domain_cap(docs, k=5, salt="other").collect()
    )
    assert a != c


def test_feature_hash_mass_conservation(spark, sf_dir):
    """Σ tf per doc == token count; buckets in range; signed |s| <= tf."""
    from csv2db_spark.llm.text import feature_hash_tf

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    cells = feature_hash_tf(docs).collect()
    per_doc: dict = {}
    for r in cells:
        assert 0 <= r.bucket < 64
        assert abs(r.signed_tf) <= r.tf
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.tf
    want = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    }
    assert per_doc == want


def test_minhash_lsh_params_planner():
    """The S-curve planner: reproduces the deployed constants at their
    budget (so MINHASH_K/BAND_ROWS and the planner cannot silently
    drift apart), puts the collision-curve midpoint (1/b)^(1/r) near
    the target threshold, and moves the midpoint DOWN (more recall)
    when false negatives are weighted up."""
    from csv2db_spark.llm.dedup import (
        BAND_ROWS,
        MINHASH_K,
        minhash_lsh_params,
    )

    b, r = minhash_lsh_params(0.5, max_k=MINHASH_K)
    assert (b, r) == (MINHASH_K // BAND_ROWS, BAND_ROWS)

    for t in (0.3, 0.5, 0.7, 0.9):
        b, r = minhash_lsh_params(t, max_k=128)
        mid = (1.0 / b) ** (1.0 / r)
        assert abs(mid - t) < 0.15, (t, b, r, mid)

    b_bal, r_bal = minhash_lsh_params(0.5, max_k=64)
    b_rec, r_rec = minhash_lsh_params(0.5, max_k=64, fn_weight=3.0)
    assert (1.0 / b_rec) ** (1.0 / r_rec) < (1.0 / b_bal) ** (1.0 / r_bal)

    import pytest

    with pytest.raises(ValueError):
        minhash_lsh_params(1.0)


def test_ivf_persisted_index_roundtrip(spark, sf_dir, tmp_path):
    """ivf_build_index / ivf_query_index: the store is laid out as
    cell-partitioned postings (partition pruning IS the probe
    mechanism), reload + query equals the inline operator row for row,
    and the comparison is non-vacuous."""
    from csv2db_spark.llm import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    S.ivf_build_index(emb, path, n_centroids=16)
    cells = sorted(p.name for p in (tmp_path / "ivf" / "postings").iterdir()
                   if p.name.startswith("cell="))
    assert len(cells) > 1  # partitioned layout exists
    inline = S.ivf_ann_topk(emb, q, k=10, n_centroids=16, n_probe=4)
    persisted = S.ivf_query_index(spark, path, q, k=10, n_probe=4)
    ra = sorted(map(tuple, inline.collect()))
    rb = sorted(map(tuple, persisted.collect()))
    assert ra == rb
    assert len(ra) > 0


def test_ivf_append_leaves_standing_postings_untouched(spark, sf_dir, tmp_path):
    """ivf_append_index: appending a batch only ADDS files — every
    pre-existing postings file stays byte-identical (same path, size,
    mtime), and the merged store equals a full build over the same
    centroids row for row."""
    import os

    from csv2db_spark.llm import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    part = emb.where(F.col("vec_id") % 5 != 0)
    rest = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf")
    S.ivf_build_index(part, path, n_centroids=16)

    def snapshot():
        out = {}
        for root, _, files in os.walk(f"{path}/postings"):
            for f in files:
                # job markers (_SUCCESS + its .crc) are rewritten per
                # write; the invariant is about DATA files
                if not f.endswith(".parquet") and ".parquet" not in f:
                    continue
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot()
    S.ivf_append_index(rest, path)
    after = snapshot()
    assert set(before) <= set(after)          # nothing removed
    for p, sig in before.items():
        assert after[p] == sig                # standing files untouched
    assert len(after) > len(before)           # batch actually landed
    n = spark.read.parquet(f"{path}/postings").count()
    assert n == emb.count()


def test_duplicated_spans_exact_bounds_and_merge(spark):
    # doc 1 and doc 2 share tokens a1..a6 (6 tokens -> windows at i=1,2
    # with w=5, overlapping -> ONE span [1, 6]); doc 1 additionally
    # repeats z1..z5 internally at positions 8 and 13 (adjacent windows
    # 8 and 13: 13 - 8 == w -> merged into one contiguous span [8, 17])
    shared = "a1 a2 a3 a4 a5 a6"
    z = "z1 z2 z3 z4 z5"
    rows = [
        (1, f"{shared} x {z} {z} y"),
        (2, f"{shared} q r s t u v w"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"]): (
            r["span_end"],
            r["span_tokens"],
            r["n_windows"],
        )
        for r in D.duplicated_spans(docs, w=5).collect()
    }
    assert got == {
        (1, 1): (6, 6, 2),   # shared prefix, two overlapping windows merged
        (1, 8): (17, 10, 2), # adjacent z-runs merged into one span
        (2, 1): (6, 6, 2),
    }


def test_duplicated_spans_empty_when_no_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "u1 u2 u3 u4 u5 u6 u7"), (2, "v1 v2 v3 v4 v5 v6")],
        "doc_id long, text string",
    )
    assert D.duplicated_spans(docs, w=5).count() == 0


def test_hashed_classifier_separates_disjoint_vocabularies(spark):
    from csv2db_spark.llm.text import hashed_linear_classifier

    # two disjoint vocabularies are linearly separable in hash space
    # (up to bucket collisions — 64 buckets, 8 tokens, none here)
    rows = [(i, "alpha beta gamma delta", True) for i in range(10)] + [
        (100 + i, "omega psi chi phi", False) for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, pos boolean")
    out = hashed_linear_classifier(docs, "pos").collect()
    assert len(out) == 20
    for r in out:
        assert r["predicted_pos"] == (r["doc_id"] < 100)
    # scores are symmetric in magnitude across the two pure classes
    mags = {abs(r["score"]) for r in out}
    assert len(mags) == 1


def test_importance_weights_prefer_target_like_docs(spark):
    from csv2db_spark.llm.curation import importance_weights

    rows = (
        [(i, "alpha beta gamma delta alpha beta", True) for i in range(8)]
        + [(100, "alpha beta gamma delta", False)]   # target-like pool doc
        + [(101, "omega psi chi phi", False)]        # off-target pool doc
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    got = {r["doc_id"]: r["score"] for r in importance_weights(docs, "tgt").collect()}
    assert set(got) == {100, 101}  # only the pool is scored
    assert got[100] > got[101]


def test_remove_duplicated_spans_keeps_first_occurrence(spark):
    shared = "a1 a2 a3 a4 a5 a6"
    z = "z1 z2 z3 z4 z5"
    rows = [
        (1, f"{shared} x {z} {z} y"),   # internal repeat: 2nd z-run goes
        (2, f"{shared} q r s t u v w"), # cross-doc copy: loses the prefix
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"])
        for r in D.remove_duplicated_spans(docs, w=5).collect()
    }
    # doc 1 is the FIRST occurrence of both repeats: keeps its prefix and
    # its first z-run, loses only the second z-run [13, 17]
    assert got[1] == (f"{shared} x {z} y", 13)
    # doc 2's copy of the shared prefix is occurrence #2: cut
    assert got[2] == ("q r s t u v w", 7)


def test_token_budget_sample_boundary_and_stability(spark):
    from csv2db_spark.llm.curation import token_budget_sample

    rows = [(i, " ".join(["w"] * 10), "s") for i in range(20)]  # 10 tokens each
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = token_budget_sample(docs, budget_tokens=35).collect()
    # 10-token docs against a 35-token budget: exactly 3 admitted
    # (cum 10, 20, 30; the 4th would hit 40 > 35)
    assert len(out) == 3
    assert max(r["cum_tokens"] for r in out) == 30
    # growth stability: adding docs never evicts an admitted doc with a
    # smaller hash rank — the admitted set is a prefix of the rank order
    more = docs.unionByName(
        spark.createDataFrame(
            [(100 + i, " ".join(["w"] * 10), "s") for i in range(5)],
            "doc_id long, text string, source string",
        )
    )
    before = {r["doc_id"] for r in out}
    after = {r["doc_id"] for r in token_budget_sample(more, 35).collect()}
    # any change is a displacement AT the boundary, not a reshuffle:
    assert len(after) == 3 and len(before & after) >= 2


def test_hamming_topk_identical_vector_ranks_first(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    clone = emb.where(F.col("vec_id") == 0).select(
        F.lit(999).cast("long").alias("vec_id"), "embedding", "label"
    )
    sig = S.hyperplane_signatures(emb.unionByName(clone))
    out = S.hamming_topk(sig, query_ids=[0], k=3).collect()
    top = [r for r in out if r["rank"] == 1][0]
    # an identical vector has an identical signature: distance 0, rank 1
    assert top["neighbor_id"] == 999 and top["hamming"] == 0


def test_hyperplane_signatures_deterministic_and_packed(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    a = {r["vec_id"]: r["signature"] for r in S.hyperplane_signatures(emb).collect()}
    b = {r["vec_id"]: r["signature"] for r in S.hyperplane_signatures(emb).collect()}
    assert a == b  # no RNG state anywhere
    assert all(0 <= s < (1 << 48) for s in a.values())  # 48-bit packing


def test_hamming_rerank_recall_vs_exact_cosine(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = S.cosine_topk(emb, queries, k=5).collect()
    rer = S.hamming_rerank_topk(emb, query_ids=range(5), k=5, shortlist=50).collect()
    es, rs = {}, {}
    for r in exact:
        es.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in rer:
        rs.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(es[q] & rs.get(q, set())) / len(es[q]) for q in es]
    mean = sum(recalls) / len(recalls)
    # gaussian fixture is the worst case for 48-bit codes; the bar
    # asserts the shortlist+refine machinery beats chance (5/500 = 1%)
    assert mean >= 0.2, f"mean recall {mean:.2f}: {recalls}"


def test_sq8_rerank_recall_vs_exact_cosine(spark, sf_dir):
    """SQ8 preserves far more signal than 48-bit binary codes (64 bytes
    vs 6): with a 25-candidate shortlist over 500 vectors the rescored
    top-5 should align closely with the exact top-5."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = S.cosine_topk(emb, queries, k=5).collect()
    sq = S.sq8_rerank_topk(emb, query_ids=range(5), k=5, shortlist=25).collect()
    es, qs = {}, {}
    for r in exact:
        es.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in sq:
        qs.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(es[q] & qs.get(q, set())) / len(es[q]) for q in es]
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.6, f"mean recall {mean:.2f}: {recalls}"


def test_sq8_shortlist_orders_by_true_similarity(spark):
    """The decoded-dot shortlist must rank a genuinely-similar vector
    above a dissimilar one (raw SHIFTED code dots would not: they reward
    vector mass) — and the exact rescore returns true cosines."""
    rows = [
        (0, [0.9, 0.1, 0.0, 0.0]),
        (1, [0.88, 0.12, 0.01, 0.0]),   # near the query
        (2, [-0.9, -0.1, 0.0, 0.0]),    # opposite direction
        (3, [0.0, 0.0, 0.9, 0.1]),      # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["rank"]: r
        for r in S.sq8_rerank_topk(emb, query_ids=[0], k=3, shortlist=3).collect()
    }
    assert out[1]["neighbor_id"] == 1 and out[1]["cos_sim"] > 0.99
    assert out[3]["neighbor_id"] == 2 and out[3]["cos_sim"] < -0.99


def test_strip_html_exact(spark):
    from csv2db_spark.llm.curation import strip_html

    raw = (
        "<html><head><style>p{color:red}</style></head>"
        "<body><h1>Title</h1><p>Hello &amp; welcome</p>"
        "<script>var x = '<p>not text</p>';</script>"
        "<!-- hidden -->Tail&nbsp;end</body></html>"
    )
    df = spark.createDataFrame([(1, raw)], "doc_id long, text string")
    r = strip_html(df).collect()[0]
    assert r["text"] == "Title Hello & welcome Tail end"
    assert r["n_chars_raw"] == len(raw)
    assert r["n_chars_text"] == len(r["text"])


def test_c4_line_filter_semantics(spark):
    from csv2db_spark.llm.curation import c4_line_filter

    doc = "\n".join(
        [
            "This sentence is kept because it ends properly.",
            "no terminal punctuation so dropped",
            "Too short.",
            "lorem ipsum dolor sit amet.",
            "Enable javascript to continue.",
            "Another good line survives here!",
        ]
    )
    df = spark.createDataFrame(
        [(1, doc), (2, "only { junk } lines")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in c4_line_filter(df).collect()}
    assert out[1]["text"] == (
        "This sentence is kept because it ends properly.\n"
        "Another good line survives here!"
    )
    assert out[1]["n_lines_kept"] == 2 and out[1]["n_lines_dropped"] == 4
    assert 2 not in out  # every line dropped -> document disappears


def test_shard_assignments_deterministic_and_salted(spark):
    from csv2db_spark.llm.curation import shard_assignments

    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    a = {(r["doc_id"]): (r["shard"], r["position"])
         for r in shard_assignments(docs, 8, "s1").collect()}
    b = {(r["doc_id"]): (r["shard"], r["position"])
         for r in shard_assignments(docs.repartition(32), 8, "s1").collect()}
    assert a == b  # partition-invariant
    c = {(r["doc_id"]): (r["shard"], r["position"])
         for r in shard_assignments(docs, 8, "s2").collect()}
    assert a != c  # a new salt is a new permutation
    # positions are contiguous 1..n within every shard
    from collections import defaultdict

    by_shard = defaultdict(list)
    for shard, pos in a.values():
        by_shard[shard].append(pos)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_shard.values())
    assert set(by_shard) == set(range(8))


def test_code_detect_separates_code_from_prose(spark):
    from csv2db_spark.llm.text import code_detect

    code = (
        "import os\n"
        "def f(a, b):\n"
        "    total = a + b;\n"
        "    if total > 0:\n"
        "        return {total: [a, b]};\n"
    )
    prose = (
        "The quiet harbor town woke slowly under a pale sky.\n"
        "Fishermen walked to the pier and talked about the weather.\n"
    )
    df = spark.createDataFrame(
        [(1, code), (2, prose)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in code_detect(df).collect()}
    assert got[1]["looks_like_code"] is True
    assert got[2]["looks_like_code"] is False
    assert got[1]["code_score_permille"] > got[2]["code_score_permille"]


def test_sentence_split_indices_and_tail(spark):
    from csv2db_spark.llm.text import sentence_split

    df = spark.createDataFrame(
        [
            (1, "One. Two? Three! trailing fragment"),
            (2, "No terminator at all"),
            (3, "Only.One."),
        ],
        "doc_id long, text string",
    )
    got = {}
    for r in sentence_split(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["sentence_idx"], r["sentence"])
        )
    assert got[1] == [
        (1, "One."), (2, "Two?"), (3, "Three!"), (4, "trailing fragment"),
    ]
    assert got[2] == [(1, "No terminator at all")]
    assert got[3] == [(1, "Only."), (2, "One.")]


def test_decontaminate_semantic_argmax_tiebreak_and_flag(spark):
    """Per-vector best benchmark neighbour: exact argmax, smallest
    bench_id on cosine ties, tau flag on the winning similarity."""
    from csv2db_spark.llm.curation import decontaminate_semantic

    mk = lambda rows: spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bench = mk([(100, [1.0, 0.0]), (200, [1.0, 0.0]), (300, [0.0, 1.0])])
    corpus = mk([
        (1, [2.0, 0.0]),    # cos 1.0 vs BOTH 100 and 200 -> tie -> 100
        (2, [0.0, 5.0]),    # best = 300 at cos 1.0
        (3, [1.0, 1.0]),    # cos ~0.707 everywhere -> tie -> 100, clean
    ])
    got = {
        r.vec_id: (r.best_bench_id, round(r.best_cos, 6), r.contaminated)
        for r in decontaminate_semantic(corpus, bench, tau=0.8).collect()
    }
    assert got[1] == (100, 1.0, True)
    assert got[2] == (300, 1.0, True)
    assert got[3][0] == 100 and got[3][2] is False
    assert abs(got[3][1] - 0.707107) < 1e-5


def test_encoding_anomaly_counts_signatures(spark):
    """Each mojibake signature fires on its canonical damage and stays
    silent on clean text."""
    from csv2db_spark.llm.text import encoding_anomaly_counts

    rows = [
        (1, "w", "clean plain ascii text"),
        (2, "w", "lossy \ufffd here and \ufffd there"),
        (3, "w", "caf\u00c3\u00a9 na\u00c3\u00afve"),       # double-encoded
        (4, "w", "don\u00e2\u20ac\u2122t \u00e2\u20ac\u0153quote"),  # cp1252
        (5, "w", "stray x\u0085y control"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.doc_id: (
            r.n_replacement, r.n_double_utf8,
            r.n_win1252_punct, r.n_c1_control, r.is_mojibake,
        )
        for r in encoding_anomaly_counts(df).collect()
    }
    assert got[1] == (0, 0, 0, 0, False)
    assert got[2][0] == 2 and got[2][4] is True
    assert got[3][1] == 2 and got[3][4] is True
    assert got[4][2] == 2 and got[4][4] is True
    assert got[5][3] == 1 and got[5][4] is True


def test_compressibility_hand_computed(spark):
    """zlib lengths match a direct library call; boilerplate compresses
    far below prose; permille is the exact floor-integer ratio."""
    import zlib

    from csv2db_spark.llm.text import compressibility

    boiler = "nav home about contact " * 50
    prose = "the quick brown fox jumps over the lazy dog once only"
    df = spark.createDataFrame(
        [(1, boiler), (2, prose)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in compressibility(df).collect()}
    for doc_id, text in ((1, boiler), (2, prose)):
        raw = text.encode("utf-8")
        assert got[doc_id].n_bytes == len(raw)
        assert got[doc_id].n_zbytes == len(zlib.compress(raw, 6))
        assert (
            got[doc_id].compress_permille
            == 1000 * len(zlib.compress(raw, 6)) // len(raw)
        )
    # the signal separates: repeated boilerplate far more compressible
    assert got[1].compress_permille < got[2].compress_permille - 300


def test_compressibility_violations_empty_on_fixture(spark, sf_dir):
    from csv2db_spark.llm.text import compressibility_violations
    from csv2db_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert compressibility_violations(docs, sample_n=64).count() == 0


def test_lsh_ann_hot_bucket_cap_bounds_candidates(spark):
    """All-identical embeddings: every corpus vector lands in the SAME
    bucket of every table, so uncapped LSH degrades to brute force
    (each query scores the whole corpus). The cap must bound per-query
    candidates near max_bucket while still returning usable (cos=1)
    neighbors — sampling, not wholesale drop."""
    from csv2db_spark.llm.similarity import lsh_ann_topk

    vec = [1.0, 0.0, 2.0, -1.0, 0.5, 0.0, 0.0, 1.0]
    corpus = spark.createDataFrame(
        [(i, vec) for i in range(400)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(10_000 + i, vec) for i in range(5)], ["vec_id", "embedding"]
    )
    kw = dict(k=1000, n_planes=4, n_tables=2, dim=8)
    uncapped = lsh_ann_topk(corpus, queries, **kw)
    per_q = {r.query_id: r.cnt for r in
             uncapped.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()}
    assert set(per_q.values()) == {400}  # brute force: whole corpus per query
    capped = lsh_ann_topk(corpus, queries, max_bucket=20, **kw)
    per_q = {r.query_id: r.cnt for r in
             capped.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()}
    # expected survivors ~20/table, union over 2 tables; allow binomial
    # spread but pin the order of magnitude (vs 400 uncapped)
    assert all(1 <= n <= 80 for n in per_q.values()), per_q
    assert capped.where(F.col("cos_sim") < 0.999999).count() == 0
    # determinism: the hash coin makes the capped result reproducible
    again = lsh_ann_topk(corpus, queries, max_bucket=20, **kw)
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, again.collect())
    )

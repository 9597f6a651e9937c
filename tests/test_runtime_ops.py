"""Round-4 operator additions: bitset runtime filter, PageRank step,
per-group quantile filter. Fast tier — small synthetic frames, invariant
checks (the sf-fixture oracle comparisons live in the parity sweep)."""

from __future__ import annotations

from pyspark.sql import functions as F

from csv2db_spark.llm.curation import quantile_filter
from csv2db_spark.operators.graph import pagerank_step
from csv2db_spark.operators.runtime_filter import bitset_prefilter_join, key_bitset


def test_bitset_join_matches_plain_join(spark):
    fact = spark.range(0, 5000).select(F.col("id").alias("fk"))
    dim = spark.range(0, 5000, 13).select(F.col("id").alias("dk"))
    got = (
        bitset_prefilter_join(fact, dim, "fk", "dk", log2m=16)
        .select("fk")
        .toPandas()["fk"]
        .sort_values()
        .tolist()
    )
    want = sorted(range(0, 5000, 13))
    assert got == want


def test_bitset_never_false_negative_small_space(spark):
    # log2m=6 (64 bits) forces heavy collisions; the exact join must
    # still produce exactly the true matches
    fact = spark.range(0, 2000).select(F.col("id").alias("fk"))
    dim = spark.range(0, 2000, 7).select(F.col("id").alias("dk"))
    n = bitset_prefilter_join(fact, dim, "fk", "dk", log2m=6).count()
    assert n == len(range(0, 2000, 7))


def test_bitset_prunes_nonmatching_fact_rows(spark):
    fact = spark.range(0, 10000).select(F.col("id").alias("fk"))
    dim = spark.range(0, 100).select(F.col("id").alias("dk"))
    m = 1 << 20
    words = key_bitset(dim, "dk", log2m=20)
    survived = (
        fact.withColumn("_pos", F.pmod(F.xxhash64(F.col("fk")), F.lit(m)))
        .withColumn("_word_idx", (F.col("_pos") / 64).cast("long"))
        .join(F.broadcast(words), "_word_idx")
        .where(
            F.expr(
                "shiftrightunsigned(_bits, CAST(_pos % 64 AS INT)) & CAST(1 AS BIGINT)"
            )
            == 1
        )
        .count()
    )
    # 100 true keys; with 2^20 bits the false-positive tail must stay tiny
    assert 100 <= survived < 200


def test_bitset_rejects_outer_join(spark):
    fact = spark.range(10).select(F.col("id").alias("fk"))
    dim = spark.range(10).select(F.col("id").alias("dk"))
    try:
        bitset_prefilter_join(fact, dim, "fk", "dk", how="left")
    except ValueError:
        pass
    else:
        raise AssertionError("left join must be rejected: prefilter drops rows")


def test_pagerank_step_star_graph(spark):
    # star: 1..4 all point at 0; 0 points at 1
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)], ["src", "dst"]
    )
    r = {
        row.node: row.rank
        for row in pagerank_step(edges).collect()
    }
    # hub receives 4 whole ranks: 0.15 + 0.85*4; node 1 gets the hub's
    # single out-edge: 0.15 + 0.85*1; leaves 2-4 get the floor
    assert abs(r[0] - (0.15 + 0.85 * 4)) < 1e-9
    assert abs(r[1] - (0.15 + 0.85 * 1)) < 1e-9
    for leaf in (2, 3, 4):
        assert abs(r[leaf] - 0.15) < 1e-9


def test_pagerank_step_mass_conservation(spark):
    # a cycle conserves rank mass exactly: every node keeps rank 1.0
    edges = spark.createDataFrame([(i, (i + 1) % 5) for i in range(5)], ["src", "dst"])
    ranks = pagerank_step(edges).collect()
    for row in ranks:
        assert abs(row.rank - 1.0) < 1e-9


def test_pagerank_partition_invariant(spark):
    rows = [(i, (i * 7 + 1) % 50) for i in range(200)]
    e1 = spark.createDataFrame(rows, ["src", "dst"]).repartition(1)
    e64 = spark.createDataFrame(rows, ["src", "dst"]).repartition(64)
    r1 = {r.node: r.rank for r in pagerank_step(e1).collect()}
    r64 = {r.node: r.rank for r in pagerank_step(e64).collect()}
    assert r1 == r64  # bit-exact, not approximate


def test_quantile_filter_drops_bottom_fraction(spark):
    rows = [(i, "a" if i < 80 else "b", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "s"])
    kept = quantile_filter(df, F.col("s"), group_col="lang", drop_frac=0.25)
    out = kept.toPandas()
    a = out[out.lang == "a"]["doc_id"].tolist()
    b = out[out.lang == "b"]["doc_id"].tolist()
    # group a: 80 docs, scores 0..79 -> drop floor(.25*80)=20 lowest
    assert min(a) == 20 and len(a) == 60
    # group b: 20 docs -> drop floor(.25*20)=5 lowest
    assert min(b) == 85 and len(b) == 15


def test_pagerank_converges_on_cycle(spark):
    from csv2db_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)], ["src", "dst"])
    ranks = pagerank(edges, max_iter=10).collect()
    # stationary distribution of a cycle is uniform rank 1.0
    for row in ranks:
        assert abs(row.rank - 1.0) < 1e-9


def test_pagerank_matches_manual_iteration(spark):
    from csv2db_spark.operators.graph import pagerank, pagerank_step

    rows = [(1, 0), (2, 0), (3, 0), (0, 1), (2, 1)]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    # two manual steps == pagerank(max_iter=2) (no early convergence here)
    r = pagerank_step(edges)
    r = pagerank_step(edges, ranks=r)
    manual = {row.node: row.rank for row in r.collect()}
    auto = {row.node: row.rank for row in pagerank(edges, max_iter=2).collect()}
    assert manual == auto


def test_merge_aggregates_equals_full_aggregation(spark):
    from csv2db_spark.operators.merge import merge_aggregates

    rows = [(i % 3, float(i), i) for i in range(100)]
    df = spark.createDataFrame(rows, ["k", "v", "t"])

    def partial(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(14,2)")).alias("s"),
            F.min("t").alias("lo"),
            F.max("t").alias("hi"),
        )

    merged = merge_aggregates(
        partial(df.where(F.col("t") < 50)),
        partial(df.where(F.col("t") >= 50)),
        keys=["k"],
        sums=["s"],
        counts=["n"],
        mins=["lo"],
        maxs=["hi"],
    )
    full = partial(df)
    m = {r.k: (r.n, r.s, r.lo, r.hi) for r in merged.collect()}
    f = {r.k: (r.n, r.s, r.lo, r.hi) for r in full.collect()}
    assert m == f


def test_merge_aggregates_requires_measures(spark):
    from csv2db_spark.operators.merge import merge_aggregates

    d = spark.range(3).select(F.col("id").alias("k"))
    try:
        merge_aggregates(d, d, keys=["k"])
    except ValueError:
        pass
    else:
        raise AssertionError("expected ValueError with no measures")


def test_funnel_strict_ordering(spark):
    import datetime as dt

    from csv2db_spark.operators.funnel import funnel_stages

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1 completes in order: view@1, click@2, buy@3
        (1, "view", T(1)), (1, "click", T(2)), (1, "buy", T(3)),
        # u2 clicks BEFORE viewing -> stops at view
        (2, "click", T(1)), (2, "view", T(2)),
        # u3 views+clicks but buy precedes click -> stops at click
        (3, "view", T(1)), (3, "buy", T(2)), (3, "click", T(3)),
        # u4 never views -> counts nowhere
        (4, "click", T(1)), (4, "buy", T(2)),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    got = {
        r.stage: r.n_users
        for r in funnel_stages(ev, ["view", "click", "buy"]).collect()
    }
    assert got == {"view": 3, "click": 2, "buy": 1}


def test_cohort_retention_day(spark):
    import datetime as dt

    from csv2db_spark.operators.funnel import cohort_retention

    D = lambda d, h=0: dt.datetime(2024, 1, d, h)
    rows = [
        (1, D(1)), (1, D(1, 5)), (1, D(3)),   # cohort d1, active d1+d3
        (2, D(1)), (2, D(2)),                 # cohort d1, active d1+d2
        (3, D(2)),                            # cohort d2, active d2
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {
        (r.cohort_period.day, r.periods_since): r.n_users
        for r in cohort_retention(ev, period="day").collect()
    }
    assert got == {(1, 0): 2, (1, 1): 1, (1, 2): 1, (2, 0): 1}


def test_semdedup_blocks_by_cluster(spark):
    from csv2db_spark.llm.cluster import semdedup_pairs

    # two well-separated clusters along dims 0/1; v2 duplicates v1 (same
    # cluster -> reported), v102 duplicates v101 (reported); v1 vs v101
    # are orthogonal anyway, but the defining property: identical vectors
    # CAN only pair when co-clustered
    def vec(axis, eps):
        v = [0.0] * 8
        v[axis] = 0.9
        v[1 - axis] = eps
        return v

    rows = [
        (1, vec(0, 0.0)), (2, vec(0, 0.001)),      # cluster A near-dups
        (101, vec(1, 0.0)), (102, vec(1, 0.001)),  # cluster B near-dups
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, vec(0, 0.0)), (1, vec(1, 0.0))], ["cluster_id", "embedding"]
    )
    got = semdedup_pairs(vecs, cents, threshold=0.99).collect()
    pairs = {(r.vec_a, r.vec_b): r.cluster_id for r in got}
    assert set(pairs) == {(1, 2), (101, 102)}
    assert pairs[(1, 2)] != pairs[(101, 102)]


def test_snapshot_diff_null_safe(spark):
    from csv2db_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d")], ["k", "v"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (5, "e")], ["k", "v"]
    )
    got = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    # k=1 unchanged, k=2 NULL==NULL unchanged, k=3 c->NULL update,
    # k=4 delete, k=5 insert
    assert got == {3: "update", 4: "delete", 5: "insert"}


def test_weighted_sample_deterministic_and_proportional(spark):
    from csv2db_spark.llm.curation import weighted_sample

    rows = [(i, "crawl" if i < 4000 else "books") for i in range(5000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    w = {"crawl": 0.25, "books": 1.0}
    a = weighted_sample(df, w).collect()
    b = weighted_sample(df, w).collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)  # no RNG
    crawl = sum(1 for r in a if r.source == "crawl")
    books = sum(1 for r in a if r.source == "books")
    assert books == 1000  # default/1.0 keeps everything
    assert 800 <= crawl <= 1200  # ~25% of 4000, md5-uniform


def test_weighted_sample_zero_weight_drops_domain(spark):
    from csv2db_spark.llm.curation import weighted_sample

    df = spark.createDataFrame(
        [(i, "junk" if i % 2 else "keep") for i in range(100)],
        ["doc_id", "source"],
    )
    out = weighted_sample(df, {"junk": 0.0}).collect()
    assert all(r.source == "keep" for r in out)
    assert len(out) == 50


def test_minmax_manifest_prunes_files(spark, tmp_path):
    from csv2db_spark.sink import write_sorted_parquet
    from csv2db_spark.sources.skipping import build_minmax_manifest, read_pruned

    src = str(tmp_path / "skip")
    df = spark.range(0, 40000).selectExpr("id", "cast(id % 40000 as long) as k")
    write_sorted_parquet(df, src, ["k"], target_files=8)
    manifest = build_minmax_manifest(spark, src, ["k"])
    assert manifest.count() == 8
    # a narrow band must touch ~1 of 8 disjoint ranges
    pruned = read_pruned(spark, manifest, "k", 1000, 1200)
    import re

    scans = pruned.select("k")._jdf.queryExecution().executedPlan().toString()
    got = sorted(r.k for r in pruned.collect())
    assert got == list(range(1000, 1201))
    # verify fewer files fed the scan than exist (plan lists the paths)
    n_paths = len(re.findall(r"part-", scans)) or None
    if n_paths is not None:
        assert n_paths < 8


def test_read_pruned_empty_band_keeps_schema(spark, tmp_path):
    from csv2db_spark.sink import write_sorted_parquet
    from csv2db_spark.sources.skipping import build_minmax_manifest, read_pruned

    src = str(tmp_path / "skip2")
    write_sorted_parquet(
        spark.range(0, 1000).selectExpr("id", "id * 2 as k"), src, ["k"],
        target_files=4,
    )
    manifest = build_minmax_manifest(spark, src, ["k"])
    out = read_pruned(spark, manifest, "k", 10_000_000, 20_000_000)
    assert out.columns == ["id", "k"]
    assert out.count() == 0


def test_triangle_count_known_graph(spark):
    from csv2db_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 4-5
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        ["src", "dst"],
    )
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # orientation-insensitive: reversed edges give the identical answer
    rev = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (3, 2), (4, 2), (4, 3), (5, 4)],
        ["src", "dst"],
    )
    assert {r.node: r.n_triangles for r in triangle_count(rev).collect()} == got
    # physical-strategy identity: forcing the general wedge path
    # (dense_node_span=0) gives the same answer as the bitmap path
    wedge = triangle_count(edges, dense_node_span=0)
    assert {r.node: r.n_triangles for r in wedge.collect()} == got
    # and sparse wide-ID graphs fall through to the wedge path untouched
    wide = spark.createDataFrame(
        [(10**9, 2 * 10**9), (10**9, 3 * 10**9), (2 * 10**9, 3 * 10**9)],
        ["src", "dst"],
    )
    assert {
        r.node: r.n_triangles for r in triangle_count(wide).collect()
    } == {10**9: 1, 2 * 10**9: 1, 3 * 10**9: 1}


def test_triangle_count_non_integral_ids(spark):
    """String node IDs must work (the general path handles any orderable
    type), and float IDs within a small span must NOT take the dense
    bitmap path — the (v - mn) long cast would alias 1.2 and 1.7 onto
    the same bit and silently miscount (ADVICE r8)."""
    from csv2db_spark.operators.graph import triangle_count

    named = spark.createDataFrame(
        [("ann", "bob"), ("bob", "cat"), ("ann", "cat"), ("cat", "dan")],
        ["src", "dst"],
    )
    assert {r.node: r.n_triangles for r in triangle_count(named).collect()} == {
        "ann": 1,
        "bob": 1,
        "cat": 1,
    }
    # 1.2 and 1.7 alias to bit 0 under a long cast: a bitmap path would
    # see a triangle among {1.2/1.7, 2.5, 3.5}; the true graph has none
    fl = spark.createDataFrame(
        [(1.2, 2.5), (1.7, 3.5), (2.5, 3.5)], ["src", "dst"]
    )
    assert triangle_count(fl).count() == 0


def test_triangle_orientation_bounds_skewed_wedges(spark):
    """Star + clique: the skew shape the naive lo<hi orientation dies
    on. A 200-leaf star center has C(200,2)=19900 naive wedges; under
    degree orientation every star edge points leaf->center (leaves have
    degree 1), so each leaf has out-degree 1 and the star contributes
    ZERO wedge pairs. Correctness: only the disjoint K4 holds
    triangles."""
    from pyspark.sql import functions as F

    from csv2db_spark.operators.graph import _orient_by_degree, triangle_count

    star = [(0, i) for i in range(100, 300)]
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    edges = spark.createDataFrame(star + k4, ["src", "dst"])
    got = {
        r.node: r.n_triangles
        for r in triangle_count(edges, dense_node_span=0).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # the boundedness invariant itself: max out-degree after orientation
    # stays at the clique scale (3), never the star center's 200
    e = (
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        ).distinct()
    )
    out_deg = _orient_by_degree(e).groupBy("x").count()
    assert out_deg.agg(F.max("count")).collect()[0][0] <= 3


# ----------------------------------------------------------- MMR rerank


def test_mmr_diversifies_near_duplicate_shortlist(spark):
    """3 near-identical vectors close to the query + 1 orthogonal-ish
    one: plain top-k ranks the near-duplicates 1-2-3; MMR must spend
    pick 2 on the diverse vector."""
    import math

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = [
        (0, unit([1.0, 0.0, 0.0, 0.0])),            # query
        (1, unit([0.80, 0.60, 0.0, 0.0])),          # best match
        (2, unit([0.80, 0.60, 0.001, 0.0])),        # near-dup of 1
        (3, unit([0.78, 0.0, 0.62, 0.0])),          # diverse, lower rel
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from csv2db_spark.llm.retrieval import mmr_rerank

    out = mmr_rerank(emb, query_id=0, n_shortlist=3, k=3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert len({r["neighbor_id"] for r in out}) == 3
    # pick 1 is the pure-relevance argmax; pick 2 must be the diverse
    # vector (rel 0.78, sim-to-selected ~0.62) over the near-dup
    # (rel ~0.80 but sim-to-selected ~0.9999)
    assert out[0]["neighbor_id"] == 1
    assert out[1]["neighbor_id"] == 3
    assert out[2]["neighbor_id"] == 2
    # rank 1 pays no redundancy; the near-dup pays nearly full
    assert out[0]["diversity_penalty"] == 0.0
    assert out[2]["diversity_penalty"] > 0.99


# ------------------------------------------------- IVM with retractions


def test_apply_retractions_matches_recompute_and_drops_groups(spark):
    from pyspark.sql import functions as F

    from csv2db_spark.operators.merge import apply_retractions

    base = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4), ("c", 5)],
        "g string, x int",
    )
    view0 = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("x").cast("decimal(10,0)")).alias("sx"),
    )
    delta = spark.createDataFrame(
        # delete both 'a' rows (group drop), delete one 'b' row,
        # insert into 'b' and into brand-new 'd'
        [("a", 1, -1), ("a", 2, -1), ("b", 3, -1), ("b", 9, 1), ("d", 7, 1)],
        "g string, x int, op int",
    )
    out = apply_retractions(
        view0, delta, keys=["g"], op_col="op",
        sum_cols={"sx": F.col("x").cast("decimal(10,0)")},
    )
    got = {r["g"]: (r["n_rows"], int(r["sx"])) for r in out.collect()}
    assert got == {"b": (2, 13), "c": (1, 5), "d": (1, 7)}  # 'a' dropped


def test_apply_retractions_noop_delta_preserves_view(spark):
    from pyspark.sql import functions as F

    from csv2db_spark.operators.merge import apply_retractions

    base = spark.createDataFrame([("a", 1), ("b", 2)], "g string, x int")
    view0 = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("x").cast("decimal(10,0)")).alias("sx"),
    )
    empty = spark.createDataFrame([], "g string, x int, op int")
    out = apply_retractions(
        view0, empty, keys=["g"], op_col="op",
        sum_cols={"sx": F.col("x").cast("decimal(10,0)")},
    )
    assert sorted(
        (r["g"], r["n_rows"], int(r["sx"])) for r in out.collect()
    ) == [("a", 1, 1), ("b", 1, 2)]


# ----------------------------------------------------------- Benford


def test_benford_all_leading_ones(spark):
    from csv2db_spark.operators.quality import benford_report

    df = spark.createDataFrame(
        [(10.0,), (11.5,), (199.99,), (0.0,), (-5.0,)], "v double"
    )
    rows = benford_report(df, "v").collect()
    assert len(rows) == 1  # zero/negative rows excluded
    r = rows[0]
    assert (r["digit"], r["n_obs"], r["permille_obs"]) == (1, 3, 1000)
    assert r["permille_expected"] == 301
    assert r["abs_dev_permille"] == 699


def test_benford_digit_from_decimal_not_float_trunc(spark):
    """9.995 → decimal(12,2) rounds to 10.00 → digit 1 (not 9): the
    decimal route, identically on both engines."""
    from csv2db_spark.operators.quality import benford_report

    df = spark.createDataFrame([(9.995,)], "v double")
    assert benford_report(df, "v").collect()[0]["digit"] == 1


# ------------------------------------------------- label propagation


def test_label_propagation_path_graph_rounds(spark):
    """Path a-b-c-d with seed at a: b labelled round 1, c round 2, d
    unreached within 2 rounds; seed clamped at round 0."""
    from csv2db_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a", 7)], "node string, label int")
    got = {
        r["node"]: (r["label"], r["round_assigned"])
        for r in label_propagation(edges, seeds, rounds=2).collect()
    }
    assert got == {"a": (7, 0), "b": (7, 1), "c": (7, 2)}


def test_label_propagation_modal_vote_tiebreak(spark):
    """Node x has two neighbours labelled 5 and one labelled 3 → modal 5;
    node y has one of each → tie broken to the smaller label 3."""
    from csv2db_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [("x", "s1"), ("x", "s2"), ("x", "s3"), ("y", "s1"), ("y", "s3")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame(
        [("s1", 5), ("s2", 5), ("s3", 3)], "node string, label int"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, seeds, rounds=1).collect()
        if r["round_assigned"] == 1
    }
    assert got == {"x": 5, "y": 3}


# ------------------------------------------------- reference-LM scoring


def test_bigram_lm_train_docs_unseen_bigrams_score_zero(spark):
    """Scoring against a reference model: a document whose bigrams the
    model never saw gets score 0 but keeps its bigram count."""
    from csv2db_spark.llm.text import bigram_lm_scores

    ref = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zzz qqq www")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["score_scaled"], r["n_bigrams"])
        for r in bigram_lm_scores(docs, train_docs=ref).collect()
    }
    # 'the cat' q=1e6 (2/2); 'cat sat' q=5e5 (1/2)
    assert got[10] == (1_500_000, 2)
    assert got[11] == (0, 2)


# ------------------------------------------------- shingle containment


def test_containment_detects_subset_direction(spark):
    from csv2db_spark.llm.dedup import containment_pairs, shingle_table

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),                    # contained in 2
            (2, "a b c d e f g h i j k l"),      # container
            (3, "zz yy xx ww vv"),               # unrelated
        ],
        "doc_id long, text string",
    )
    ex = shingle_table(docs)
    got = {
        (r["doc_a"], r["doc_b"]): r["containment_permille"]
        for r in containment_pairs(ex, min_permille=700).collect()
    }
    assert got == {(1, 2): 1000}  # asymmetric: only the subset fires


def test_containment_stop_shingle_cap(spark):
    """A shingle in every doc is dropped from numerator AND denominator."""
    from csv2db_spark.llm.dedup import containment_pairs, shingle_table

    docs = spark.createDataFrame(
        [(i, f"common one two unique{i} tail{i} end{i}") for i in range(5)],
        "doc_id long, text string",
    )
    ex = shingle_table(docs)
    # 'common one two' appears in all 5 docs; with max_doc_freq=3 it is
    # dropped, leaving zero shared shingles -> no pairs at any threshold
    assert containment_pairs(ex, min_permille=1, max_doc_freq=3).count() == 0


# ------------------------------------------------- dirty-group refresh


def test_ivm_dirty_refresh_recomputes_only_dirty_groups(spark):
    from csv2db_spark.operators.merge import ivm_dirty_group_refresh

    def aggregate(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.min("x").alias("lo")
        )

    base_current = spark.createDataFrame(
        [("a", 5), ("a", 9), ("b", 3)], "g string, x int"
    )
    # the standing view: group 'a' is stale (a delete removed x=1);
    # group 'b' is deliberately POISONED to prove it is carried over
    # verbatim, never recomputed
    view = spark.createDataFrame(
        [("a", 3, 1), ("b", 999, -1)], "g string, n long, lo int"
    )
    changed = spark.createDataFrame([("a", 1)], "g string, x int")
    got = {
        r["g"]: (r["n"], r["lo"])
        for r in ivm_dirty_group_refresh(
            view, base_current, changed, ["g"], aggregate
        ).collect()
    }
    assert got == {"a": (2, 5), "b": (999, -1)}


# ----------------------------------------------------------- RFM


def test_rfm_scores_orders_and_ties(spark):
    import datetime as dt

    from csv2db_spark.operators.sessions import rfm_scores

    T = lambda d: dt.datetime(2024, 1, d)
    rows = []
    for u in range(1, 11):
        # user u has u events on day u with value u each
        rows += [(u, T(u), float(u))] * u
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")
    out = {r["user_id"]: r for r in rfm_scores(ev).collect()}
    # user 10: latest, most frequent, biggest spend -> 555
    assert out[10]["segment"] == "555"
    assert out[1]["segment"] == "111"
    assert out[10]["monetary"] == 100.0 and out[10]["n_events"] == 10
    # quintiles over 10 users: exactly 2 users per tile on each axis
    from collections import Counter

    assert Counter(r["r_score"] for r in out.values()) == Counter(
        {1: 2, 2: 2, 3: 2, 4: 2, 5: 2}
    )


# ------------------------------------------------- nearest as-of join


def test_asof_nearest_prefers_backward_on_ties(spark):
    import datetime as dt

    from csv2db_spark.operators.asof import asof_join_nearest

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, 10, T(10)), (2, 10, T(2)), (3, 20, T(30))],
        "lid long, user_id long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        # user 10: quotes at minute 8 and 12 (equidistant from 10),
        # user 20: only a much-earlier quote
        [(10, T(8), 100.0), (10, T(12), 200.0), (20, T(1), 300.0)],
        "user_id long, ts timestamp_ntz, px double",
    )
    got = {
        r["lid"]: (r["px_near"], r["ts_near"])
        for r in asof_join_nearest(
            left, right, on="ts", by="user_id", right_payload=["px"]
        ).collect()
    }
    assert got[1] == (100.0, T(8))   # tie at |2min| -> backward wins
    assert got[2] == (100.0, T(8))   # only-forward candidates... backward absent at T(2)? nearest is T(8)
    assert got[3] == (300.0, T(1))   # only a backward candidate


def test_asof_nearest_no_candidates_keeps_nulls(spark):
    import datetime as dt

    from csv2db_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [(1, 5, dt.datetime(2024, 1, 1))],
        "lid long, user_id long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [], "user_id long, ts timestamp_ntz, px double"
    )
    r = asof_join_nearest(
        left, right, on="ts", by="user_id", right_payload=["px"]
    ).collect()[0]
    assert r["px_near"] is None and r["ts_near"] is None


# ------------------------------------------------- chi-square audit


def test_chi_square_independent_data_near_zero(spark):
    """A perfectly balanced (independent) contingency table has zero
    contribution in every cell."""
    from csv2db_spark.operators.stats import chi_square_cells

    rows = [(r, c) for r in ("a", "b") for c in (0, 1) for _ in range(25)]
    df = spark.createDataFrame(rows, "r string, c int")
    out = chi_square_cells(df, "r", "c").collect()
    assert len(out) == 4
    assert all(x["contrib_e6"] == 0 and x["contribution"] == 0.0 for x in out)


def test_chi_square_dependent_data_matches_closed_form(spark):
    """2x2 table [[30,10],[10,30]]: chi2 = N(ad-bc)^2/(R1 R2 C1 C2) = 20;
    the per-cell contributions must sum to it (all four cells equal 5)."""
    from csv2db_spark.operators.stats import chi_square_cells

    rows = (
        [("a", 0)] * 30 + [("a", 1)] * 10 + [("b", 0)] * 10 + [("b", 1)] * 30
    )
    df = spark.createDataFrame(rows, "r string, c int")
    out = chi_square_cells(df, "r", "c").collect()
    total = sum(x["contribution"] for x in out)
    assert abs(total - 20.0) < 1e-9
    assert all(x["contrib_e6"] == 5_000_000 for x in out)


def test_file_metadata_lineage(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(100).withColumn("p", F.col("id") % 2)
    df.write.mode("overwrite").partitionBy("p").parquet(str(tmp_path / "t"))
    back = spark.read.parquet(str(tmp_path / "t")).select(
        "id", "p", F.col("_metadata.file_path").alias("fp")
    )
    got = back.withColumn(
        "p_from_path", F.regexp_extract("fp", r"p=(\d)", 1).cast("long")
    )
    assert got.where(F.col("p") != F.col("p_from_path")).count() == 0


def test_apply_retractions_null_group_key_folds_as_one_group(spark):
    """SQL GROUP BY treats NULL as one group; the null-safe merge must
    fold a NULL-keyed delta into the NULL-keyed view row, not split it."""
    from csv2db_spark.operators.merge import apply_retractions

    base = spark.createDataFrame(
        [(None, 1), (None, 2), ("a", 3)], "g string, x int"
    )
    view0 = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("x").cast("decimal(10,0)")).alias("sx"),
    )
    delta = spark.createDataFrame(
        [(None, 1, -1), (None, 9, 1)], "g string, x int, op int"
    )
    out = apply_retractions(
        view0, delta, ["g"], "op",
        sum_cols={"sx": F.col("x").cast("decimal(10,0)")},
    ).collect()
    got = {r["g"]: (r["n_rows"], int(r["sx"])) for r in out}
    assert got == {None: (2, 11), "a": (1, 3)}  # one NULL group, folded


def test_ivm_dirty_refresh_null_key_group_refreshes(spark):
    from csv2db_spark.operators.merge import ivm_dirty_group_refresh

    def aggregate(df):
        return df.groupBy("g").agg(F.count(F.lit(1)).alias("n"))

    base_current = spark.createDataFrame(
        [(None, 1), ("a", 2)], "g string, x int"
    )
    # stale view claims 5 rows in the NULL group; it IS dirty
    view = spark.createDataFrame([(None, 5), ("a", 1)], "g string, n long")
    changed = spark.createDataFrame([(None, 0)], "g string, x int")
    got = {
        r["g"]: r["n"]
        for r in ivm_dirty_group_refresh(
            view, base_current, changed, ["g"], aggregate
        ).collect()
    }
    assert got == {None: 1, "a": 1}  # NULL group recomputed, 'a' carried


def test_cusum_closed_form_equals_recursion(spark):
    """The window closed form C_i = S_i - min(0, min_j S_j) must equal
    the sequential recursion max(0, C + x - k) exactly."""
    from csv2db_spark.operators.timeseries import cusum_changepoints

    import datetime as dt

    vals = [1.0, 5.0, 5.0, 0.0, 9.0, 9.0, 9.0, 0.0, 1.0]
    k, h = 3.0, 4.0
    rows = [
        ("a", dt.datetime(2024, 1, 1, i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "key string, bucket timestamp_ntz, sum_value double"
    )
    got = {
        r["bucket"].hour: r["cusum_milli"]
        for r in cusum_changepoints(
            df, "key", "bucket", "sum_value",
            allowance_milli=3000, threshold_milli=4000,
        ).collect()
    }
    # reference recursion
    c, want = 0.0, {}
    for i, v in enumerate(vals):
        c = max(0.0, c + v - k)
        if c > h:
            want[i] = int(round(c * 1000))
    assert got == want and want  # non-empty: the burst at hours 4-6 fires


def test_funnel_windowed_gap_enforced(spark):
    import datetime as dt

    from csv2db_spark.operators.funnel import funnel_stages_windowed

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = [
        # u1 converts within the window at each step
        (1, "view", T(0)), (1, "click", T(1)), (1, "buy", T(2)),
        # u2 clicks 3h after viewing -> outside the 2h window
        (2, "view", T(0)), (2, "click", T(3)), (2, "buy", T(4)),
        # u3 clicks in-window, buys 5h later -> drops at buy
        (3, "view", T(0)), (3, "click", T(1, 30)), (3, "buy", T(7)),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    got = {
        r["stage"]: r["n_users"]
        for r in funnel_stages_windowed(
            ev, ["view", "click", "buy"], max_gap_hours=2
        ).collect()
    }
    assert got == {"view": 3, "click": 2, "buy": 1}
    # sanity: the strict funnel is the no-window upper bound
    from csv2db_spark.operators.funnel import funnel_stages

    strict = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(ev, ["view", "click", "buy"]).collect()
    }
    assert all(got[s] <= strict[s] for s in got)


def test_k_core_fixpoint_peels_tail(spark):
    """Path 1-2-3-4-5 plus a 4-clique {10,11,12,13}: the 2-core is
    exactly the clique (the path peels away end-in); fixpoint mode must
    find it and report within-core degrees."""
    from csv2db_spark.operators.graph import k_core

    path = [(i, i + 1) for i in range(1, 5)]
    clique = [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b]
    edges = spark.createDataFrame(path + clique, ["src", "dst"])
    got = {r["node"]: r["degree"] for r in k_core(edges, k=2).collect()}
    assert got == {10: 3, 11: 3, 12: 3, 13: 3}


def test_k_core_bounded_rounds_over_approximates(spark):
    """A long path needs many peel rounds; one round keeps interior
    nodes (over-approximation), fixpoint empties it entirely."""
    from csv2db_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["src", "dst"]
    )
    one = {r["node"] for r in k_core(edges, k=2, rounds=1).collect()}
    assert one  # interior survives the first peel
    assert k_core(edges, k=2).count() == 0  # fixpoint: no 2-core in a path


# --------------------------------------------- stage-boundary materialization


def test_materialize_stage_modes_row_for_row_equal(spark, sf_dir, tmp_path):
    """The v6 pipeline's stage boundary must produce identical results
    under executor-cached (local) and durable-parquet (reliable)
    staging — the knob changes fault-tolerance, never semantics."""
    from csv2db_spark.queries.curation import curation_v6_pipeline

    key = lambda df: sorted(
        tuple(r) for r in df.collect()
    )
    local = key(curation_v6_pipeline(spark, sf_dir, materialize="local"))
    reliable = key(
        curation_v6_pipeline(
            spark, sf_dir, materialize="reliable", stage_path=str(tmp_path)
        )
    )
    assert local == reliable and local


def test_materialize_stage_validation(spark):
    import pytest

    from csv2db_spark.operators.stage import materialize_stage

    df = spark.range(3)
    with pytest.raises(ValueError, match="staging path"):
        materialize_stage(df, mode="reliable")
    with pytest.raises(ValueError, match="unknown"):
        materialize_stage(df, mode="weird")
    assert materialize_stage(df, mode="local").count() == 3


def test_only_the_stage_module_calls_local_checkpoint():
    """Every stage goes through ``operators/stage.materialize_stage``, so
    each one can be found, timed and made lazy in one place."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "csv2db_spark"
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "localCheckpoint(" in p.read_text(encoding="utf-8")
    )
    assert callers == ["operators/stage.py"]


def test_vacuum_stages_age_gated(spark, tmp_path):
    """vacuum_stages reclaims only stage dirs older than the grace
    window: a live run's fresh stage survives the default sweep; an
    aged one (mtimes pushed past the cutoff) goes; non-stage entries
    are never touched."""
    import os

    from csv2db_spark.operators.stage import materialize_stage, vacuum_stages

    root = str(tmp_path)
    staged = materialize_stage(spark.range(5), mode="reliable", path=root)
    assert staged.count() == 5
    (tmp_path / "not-a-stage").mkdir()
    [stage_name] = [n for n in os.listdir(root) if n.startswith("stage-")]
    assert vacuum_stages(root) == []          # fresh: default grace keeps it
    old = 10.0
    for entry in os.scandir(tmp_path / stage_name):
        os.utime(entry.path, (old, old))
    os.utime(tmp_path / stage_name, (old, old))
    assert vacuum_stages(root) == [stage_name]
    assert sorted(os.listdir(root)) == ["not-a-stage"]
    assert vacuum_stages(str(tmp_path / "missing")) == []


# ------------------------------------------------- skew-safe exact rank


def _rank_fixture(spark):
    import random

    rng = random.Random(7)
    rows = []
    # one dominant group with heavy score ties (the skew shape), one
    # tiny group, one singleton, plus NULL scores in the big group
    for i in range(400):
        rows.append(("en", i, float(rng.randint(0, 9))))
    for i in range(400, 405):
        rows.append(("fr", i, float(rng.randint(0, 2))))
    rows.append(("xx", 999, 5.0))
    rows.extend([("en", 1000 + j, None) for j in range(3)])
    # NULL GROUP rows (ADVICE r9): window mode ranks NULL groups as a
    # real partition; every cutpoint-mode totals join must be null-safe
    # or these rows silently vanish from one mode only
    rows.extend([(None, 2000 + j, float(j % 4)) for j in range(6)])
    return spark.createDataFrame(rows, "lang string, doc_id long, s double")


def test_grouped_rank_cutpoint_equals_window(spark, plan_shape):
    from pyspark.sql import functions as F

    from csv2db_spark.operators.ranking import grouped_rank

    df = _rank_fixture(spark)
    for desc in (False, True):
        with plan_shape("small"):
            w = {
                (r.lang, r.doc_id): r._rn
                for r in grouped_rank(
                    df, "lang", "s", "doc_id", descending=desc
                ).collect()
            }
        with plan_shape("scale"):
            cut = grouped_rank(df, "lang", "s", "doc_id", descending=desc)
            assert "_gr_b" in cut._jdf.queryExecution().executedPlan().toString()
            assert {(r.lang, r.doc_id): r._rn for r in cut.collect()} == w
            # order-coarsening bucket (continuous-score shape): coarser
            # histogram, same exact ranks — including a 1-cell degenerate
            # coarsening, which must collapse to pure (score, id) tie-rank
            for b in (F.floor(F.col("s") / 3), F.lit(0)):
                cb = {
                    (r.lang, r.doc_id): r._rn
                    for r in grouped_rank(
                        df, "lang", "s", "doc_id", descending=desc, bucket=b
                    ).collect()
                }
                assert cb == w


def test_grouped_ntile_cutpoint_equals_window(spark, plan_shape):
    from csv2db_spark.operators.ranking import grouped_ntile

    df = _rank_fixture(spark)
    # k spanning: < group size, = singleton, > tiny-group size (n < k)
    for k in (2, 3, 5, 7):
        out = {}
        for shape in ("small", "scale"):
            with plan_shape(shape):
                out[shape] = {
                    (r.lang, r.doc_id): r.bucket
                    for r in grouped_ntile(
                        df, "lang", "s", "doc_id", k, descending=True
                    ).collect()
                }
        assert out["small"] == out["scale"]


def test_checked_int_rank_errors_instead_of_wrapping(spark):
    """ADVICE r9: past 2^31 rows per group the cutpoint rank used to
    cast('int') and silently WRAP; it must now raise. Exercised with a
    literal long (nobody materializes 2^31 rows in a unit test)."""
    import pytest
    from pyspark.sql import functions as F

    from csv2db_spark.operators.ranking import checked_int_rank

    one = spark.range(1)
    ok = one.select(
        checked_int_rank(F.lit(2_147_483_647).cast("long"), "r").alias("r")
    ).collect()
    assert ok[0].r == 2_147_483_647
    with pytest.raises(Exception, match="int32 range"):
        one.select(
            checked_int_rank(F.lit(2_147_483_648).cast("long"), "r").alias("r")
        ).collect()


def test_quantile_filter_modes_equal(spark, plan_shape):
    from pyspark.sql import functions as F

    from csv2db_spark.llm.curation import quantile_filter

    df = _rank_fixture(spark).withColumnRenamed("s", "score")
    out = {}
    for shape in ("small", "scale"):
        with plan_shape(shape):
            got = quantile_filter(
                df, F.col("score"), group_col="lang", drop_frac=0.25,
                id_col="doc_id",
            )
            out[shape] = {
                (r.doc_id, r.lang): (r.quality_score, r.pr)
                for r in got.collect()
            }
    assert out["small"] == out["scale"]
    # contract spot-checks survive the refactor: singleton kept
    assert (999, "xx") in out["small"]


def test_score_quantile_normalize_modes_equal(spark, plan_shape):
    from csv2db_spark.llm.curation import score_quantile_normalize

    df = _rank_fixture(spark).withColumnRenamed("lang", "source")
    out = {}
    for shape in ("small", "scale"):
        with plan_shape(shape):
            out[shape] = {
                (r.source, r.doc_id): r.pct
                for r in score_quantile_normalize(df, "source", "s").collect()
            }
    assert out["small"] == out["scale"]


def test_grouped_prefix_sum_modes_equal(spark, plan_shape):
    from pyspark.sql import functions as F

    from csv2db_spark.operators.ranking import grouped_prefix_sum

    df = (
        _rank_fixture(spark)
        .where(F.col("s").isNotNull())
        .withColumn("_rk", F.md5(F.col("doc_id").cast("string")))
    )
    kw = dict(
        group_cols="lang",
        order_cols=["_rk", "doc_id"],
        value_col="s",
        bucket=F.substring("_rk", 1, 1),
    )
    out = {}
    for shape in ("small", "scale"):
        with plan_shape(shape):
            out[shape] = {
                (r.lang, r.doc_id): r._cum
                for r in grouped_prefix_sum(df, **kw).collect()
            }
    assert out["small"] == out["scale"]


def test_token_budget_sample_modes_equal(spark, plan_shape):
    from csv2db_spark.llm.curation import token_budget_sample

    docs = spark.createDataFrame(
        [
            (i, "src" + str(i % 3), "tok " * (1 + i % 17))
            for i in range(300)
        ],
        ["doc_id", "source", "text"],
    )
    out = {}
    for shape in ("small", "scale"):
        with plan_shape(shape):
            out[shape] = {
                r.doc_id: (r.group, r.n_tokens, r.cum_tokens)
                for r in token_budget_sample(docs, 200).collect()
            }
    assert out["small"] == out["scale"] and len(out["small"]) > 0


def test_stratified_sample_modes_equal(spark, plan_shape):
    from csv2db_spark.llm.curation import stratified_sample

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 4)) for i in range(500)] + [(9999, "tiny")],
        ["doc_id", "source"],
    )
    for k in (1, 7, 200):  # k < bucket spread, k ~ stratum, k > stratum
        out = {}
        for shape in ("small", "scale"):
            with plan_shape(shape):
                out[shape] = {
                    (r.source, r.doc_id)
                    for r in stratified_sample(docs, "source", k).collect()
                }
        assert out["small"] == out["scale"]
        assert all(
            n == min(k, 125 if s != "tiny" else 1)
            for s, n in __import__("collections").Counter(
                s for s, _ in out["scale"]
            ).items()
        )


def test_domain_cap_modes_equal(spark, plan_shape):
    from csv2db_spark.llm.curation import domain_cap

    docs = spark.createDataFrame(
        [(i, "d" + str(i % 3)) for i in range(400)], ["doc_id", "source"]
    )
    for k in (1, 5, 300):
        out = {}
        for shape in ("small", "scale"):
            with plan_shape(shape):
                out[shape] = {
                    (r.source, r.doc_id): r.cap_rank
                    for r in domain_cap(docs, k=k).collect()
                }
        assert out["small"] == out["scale"]


def test_topk_per_query_modes_equal(spark, plan_shape):
    """The single-window and two-stage sharded top-k
    (similarity._topk_per_query) give the same rows, through both of
    its callers' compositions. The corpus repeats six vectors, so many
    neighbours tie on score and the k cut falls inside tie sets: only
    the neighbor_id tiebreak decides which rows survive."""
    from csv2db_spark.llm.pq import pq_codebook, pq_encode, pq_query_codes
    from csv2db_spark.llm.similarity import cosine_topk

    patterns = [
        [round(0.1 * ((p * 3 + j) % 7) - 0.3, 2) for j in range(8)]
        for p in range(6)
    ]
    corpus = spark.createDataFrame(
        [(i, patterns[i % 6]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.where(F.col("vec_id") < 3)
    codebook = pq_codebook(corpus, m=2, k=4, dim=8)
    codes = pq_encode(corpus, codebook, m=2, dim=8)
    builds = {
        "cosine": lambda: cosine_topk(corpus, queries, k=5),
        "pq": lambda: pq_query_codes(codebook, codes, queries, k=5, m=2, dim=8),
    }
    for name, build in builds.items():
        out, plan = {}, {}
        for shape in ("small", "scale"):
            with plan_shape(shape):
                df = build()
            plan[shape] = df._jdf.queryExecution().executedPlan().toString()
            out[shape] = sorted(map(tuple, df.collect()))
        assert out["small"] == out["scale"], name
        assert len(out["small"]) == 3 * 5, name
        assert "_srn" in plan["scale"] and "_srn" not in plan["small"], name

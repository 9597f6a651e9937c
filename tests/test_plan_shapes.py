"""Physical-plan assertions for the TPC-H-shaped queries: the claims in
PLANS.md are executable, not prose. Each test pins the join strategy that
keeps the query scale-safe; a Spark upgrade or refactor that silently
degrades one (e.g. NOT IN falling back to a null-aware BNLJ over the
fact table) fails here before it fails at 100 TB."""

from __future__ import annotations

import pytest

from csv2db_spark.registry import load_all_queries

QUERIES = load_all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q4_exists_is_semi_with_residual(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_tpch_q4_exists")
    assert "LeftSemi" in plan  # EXISTS -> semi join, never a per-row subquery
    # the inequality rides the hash join as a residual condition
    assert "l_shipdate" in plan.split("LeftSemi")[1].splitlines()[0]


def test_q16_not_in_is_hash_anti_not_nullaware(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_tpch_q16_notin_distinct")
    assert "LeftAnti" in plan
    # the rewrite's whole point: no null-aware anti join (BNLJ) anywhere
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_tpch_q22_antijoin_scalar")
    assert "LeftAnti" in plan  # NOT EXISTS -> anti join
    # the scalar threshold joins as a one-row broadcast, not a subquery
    assert "BroadcastNestedLoopJoin" in plan


def test_q14_part_side_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_tpch_q14_promo_ratio")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name", ["q_tpch_q4_exists", "q_tpch_q12_case_agg", "q_tpch_q14_promo_ratio"]
)
def test_date_filters_reach_the_scan(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "PushedFilters: [" in plan
    # at least one scan carries a pushed range predicate
    assert "GreaterThanOrEqual" in plan or "LessThan" in plan


def test_url_canonicalize_is_shuffle_free(spark, sf_dir):
    # canonicalization must be a pure scan projection: zero exchanges
    plan = _plan(spark, sf_dir, "q_curate_url_canonicalize")
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF in the row path


def test_url_dedup_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_curate_url_dedup")
    assert plan.count("Exchange") == 1  # one groupBy on the canonical key
    # map-side combine before the exchange
    assert "partial_" in plan


def test_collocations_broadcast_vocab_no_smj(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_text_collocations")
    assert "BroadcastHashJoin" in plan  # vocabulary sides broadcast
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan  # bigrams via codegen transform, no UDF


def test_approx_topk_sketch_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_agg_approx_topk")
    assert "BroadcastHashJoin" in plan  # d*w-cell sketch joins broadcast
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort


def test_gopher_quality_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_text_gopher_quality")
    assert "Exchange" not in plan  # pure scan projection
    assert "Python" not in plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_curate_chunk_documents")
    assert "Exchange" not in plan  # explode rides the scan
    assert "Python" not in plan


def test_silhouette_broadcasts_centroids_no_smj(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_embed_silhouette")
    # k-row centroid side joins as a broadcast, never a sort-merge
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_hll_has_mapside_partial_aggregates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_agg_hll_distinct")
    assert "partial_" in plan  # register maxes combine before the wire
    assert "SortMergeJoin" not in plan


def test_minhash_candidates_grouped_no_anti_join(spark, sf_dir):
    """With the bucket cap active, candidates come from ONE band-table
    aggregation + in-bucket expansion — the hot-count broadcast
    anti-join + self-join formulation (3 shuffles) must not return."""
    plan = _plan(spark, sf_dir, "q_dedup_minhash_lsh")
    assert "BroadcastHashJoin LeftAnti" not in plan
    assert "SortMergeJoin" not in plan


def test_linkage_single_window_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_link_sorted_neighborhood")
    # successor pairs explode from ONE lead window, not one per offset
    assert plan.count("Window") == 1
    assert "Python" not in plan  # levenshtein is codegen


def test_linear_trend_single_mapcombined_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_ts_linear_trend")
    assert plan.count("Exchange") == 1
    assert "partial_" in plan  # five sufficient stats combine map-side


def test_feature_hash_single_exchange_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_text_feature_hash")
    assert plan.count("Exchange") == 1
    assert "Python" not in plan


def test_cdc_apply_full_outer_shape(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_cdc_apply")
    # base shuffles exactly once into the full-outer join; the feed
    # compaction window adds its own exchange — nothing else
    assert plan.count("SortMergeJoin") == 1
    assert "CartesianProduct" not in plan


def test_pseudonymize_shuffles_tokens_not_scan_twice(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_curate_pseudonymize")
    # the count(distinct) expansion legitimately needs two aggregate
    # exchanges; anything beyond that (or a join) is a regression
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan and "Python" not in plan
    # tokenization happens at the scan projection, before any shuffle
    assert plan.index("md5") > plan.index("Exchange")  # md5 deepest


def test_epoch_upsample_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_curate_epoch_upsample")
    # fractional repetition is a pure map: CASE + md5 coin + explode —
    # any Exchange here means the mixing step stopped streaming from
    # the scan
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_dedup_paragraphs_no_window_partial_agg(spark, sf_dir):
    """First-occurrence-per-paragraph must be a map-side-combinable
    min(struct) aggregate + join-back, NEVER a row_number window: a
    window over md5(para) sorts every copy of a boilerplate paragraph
    on one reducer — the C4 hot-paragraph skew case."""
    plan = _plan(spark, sf_dir, "q_dedup_paragraphs")
    assert "Window" not in plan
    # partial_min proves the pre-shuffle combine on the digest groupBy
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_hashed_classifier_broadcast_model_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_text_hashed_classifier")
    # the 64-row model must come back as a broadcast, never an SMJ,
    # and the whole pipeline stays JVM-side
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_importance_weights_broadcast_model_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_curate_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_duplicated_spans_no_join_single_doc_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_dedup_span_removal")
    # linear pipeline: window-frequency + islands are WINDOWS, never a
    # self-join, and nothing touches Python
    assert "Join" not in plan
    assert "Python" not in plan
    # the doc-keyed island window and the span rollup share one
    # partitioning: exactly one exchange on doc_id
    import re

    doc_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "doc_id" in ln
    ]
    assert len(doc_exchanges) == 1, doc_exchanges


def test_hamming_topk_broadcasts_queries_no_smj(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_sim_hamming_topk")
    # the few-row query side must broadcast (nested-loop on a 5-row
    # side is fine; a sort-merge join against the corpus is not).
    # Signature packing is the round-14 Arrow matmul kernel
    # (ArrowEvalPython, one exact-int64 batch matmul — see
    # hyperplane_signatures; the JVM posexplode+join shape it replaced
    # carried a ~150M-row intermediate); row-at-a-time Python stays
    # banned.
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Broadcast" in plan


def test_referential_integrity_no_python_one_probe_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_quality_referential_integrity")
    assert "Python" not in plan
    # orphan counting is an outer probe + aggregate, never a cartesian
    assert "CartesianProduct" not in plan


def test_plan_stats_api_counts_the_known_shapes(spark, sf_dir):
    from csv2db_spark.plans import assert_plan, plan_stats

    df = QUERIES["q_curate_url_canonicalize"].fn(spark, sf_dir)
    s = plan_stats(df)
    assert s["exchanges"] == 0 and s["python_nodes"] == 0  # pure codegen scan
    # the classifier's known shape: broadcasts, no SMJ, no Python
    clf = QUERIES["q_text_hashed_classifier"].fn(spark, sf_dir)
    got = assert_plan(clf, sort_merge_joins=0, python_nodes=0, cartesian=0)
    assert got["broadcasts"] >= 1
    # violated bound raises with the actual shape in the message
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="exchanges"):
        assert_plan(QUERIES["q_agg_groupby_multi"].fn(spark, sf_dir), exchanges=0)


def test_ivm_retract_merges_groups_not_facts(spark, sf_dir):
    """The delta batch is the only fact-sized input; the view merge is a
    |groups|-row full-outer with no sort-merge join of fact data."""
    import re

    plan = _plan(spark, sf_dir, "q_agg_ivm_retract")
    assert "FullOuter" in plan
    # exactly one join in the whole plan — the |groups|-row view merge;
    # both fact scans are consumed by map-side partial aggregates
    assert len(re.findall(r"\w+Join", plan)) == 1
    # view build = 1 scan; the delta union = 2 filtered scans (inserts,
    # deletes). Nothing else touches the fact table.
    assert plan.count("FileScan") == 3
    assert "partial_count" in plan


def test_ivm_dirty_refresh_broadcasts_dirty_keys(spark, sf_dir):
    """Dirty keys drive a broadcast semi (base restriction) and a
    broadcast anti (view carry-over) — never a shuffled join."""
    plan = _plan(spark, sf_dir, "q_agg_ivm_dirty_refresh")
    assert "BuildRight, LeftSemi" in plan or "LeftSemi, BuildRight" in plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_mime_sniff_is_pure_codegen_single_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_mm_mime_sniff")
    assert "Exchange" not in plan  # scan-projection only, zero shuffles
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


def test_sql_interface_plan_matches_dataframe_shape(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_sql_interface")
    assert "BroadcastHashJoin" in plan  # nation side broadcasts
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [" in plan  # mktsegment filter reaches the scan


def test_asof_nearest_two_window_shuffles_no_cross_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_asof_nearest")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the naive nearest formulation joins left x right per group; the
    # operator unions instead
    assert "Union" in plan


def test_benford_single_scan_tiny_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_quality_benford")
    assert plan.count("FileScan") == 1  # orders scanned exactly once
    assert "pythonUDF" not in plan


def test_containment_postings_join_never_broadcasts(spark, sf_dir):
    """The postings self-join sits above an explode whose size estimate
    undershoots; an sf0.1 OOM proved Catalyst will broadcast it. The
    merge hint must hold SMJ in the plan."""
    plan = _plan(spark, sf_dir, "q_dedup_containment")
    assert "SortMergeJoin" in plan


def test_jaccard_unrestricted_postings_join_never_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_dedup_ngram_jaccard")
    assert "SortMergeJoin" in plan


def test_shingle_table_is_window_free(spark, sf_dir):
    """The n-gram build must stay a pure per-row codegen projection
    (arrays_zip of shifted slices + explode): the earlier posexplode +
    window-lead shape paid a per-doc window SHUFFLE before every
    consumer's own work (round-7 measurement: containment 2.8->2.2 s,
    curation v6 6.0->4.3 s at sf0.1 from removing it)."""
    from csv2db_spark.llm.dedup import shingle_table
    from csv2db_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        shingle_table(docs, distinct=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "Exchange" not in plan  # zero shuffle end to end
    # distinct=True keeps exactly the dedup shuffle, nothing upstream
    plan_d = (
        shingle_table(docs, distinct=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan_d


def test_semantic_decontaminate_broadcasts_bench_no_smj(spark, sf_dir):
    """The benchmark side must ride broadcast into one corpus scan (a
    sort-merge or shuffled join here would shuffle the 100 TB corpus
    for a dimension-sized eval set), and the per-vector argmax must be
    an aggregate, not a window."""
    plan = _plan(spark, sf_dir, "q_curate_decontaminate_semantic")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "pythonUDF" not in plan


def test_encoding_anomalies_single_scan_no_python(spark, sf_dir):
    """Mojibake census: one documents scan, codegen regexp columns, one
    map-side-combined aggregate — the same plan class as the PII scan."""
    plan = _plan(spark, sf_dir, "q_curate_encoding_anomalies")
    assert plan.count("FileScan") == 1
    assert "pythonUDF" not in plan
    assert "Window" not in plan


def test_training_data_drop_list_anti_join_broadcasts(spark, sf_dir):
    """The training-data pipeline's near-dup LOSERS anti join must stay
    broadcast at bounded drop-list sizes (the r7 audit's second
    text-carrying fix): an SMJ here shuffles the survivor TEXT by
    doc_id at 100 TB. The size gate (anti_join_drop_list) falls back to
    planner choice only above the documented bound."""
    plan = _plan(spark, sf_dir, "q_pipeline_training_data")
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines and all(
        "BroadcastHashJoin" in ln for ln in anti_lines
    ), f"anti join not broadcast: {anti_lines}"


# The round-7 registry-wide audit adjudicated every remaining
# SortMergeJoin LeftAnti/LeftSemi as correctly big-big: k-core and
# label-propagation peeling rounds join 8-byte node/edge ids whose
# survivor sets can be graph-sized (a forced broadcast would OOM at
# scale), and TPC-H Q21's lineitem-vs-lineitem anti join is big-big by
# construction. scripts/audit_anti_joins.py re-derives this list; the
# pins below make a silent Catalyst/AQE strategy flip loud in CI.
#
# Round 14: k_core and label_propagation checkpoint per round (the
# bounded-rounds mode replanned every earlier round's subtree — 376
# Exchanges in one k_core plan), so their per-round joins no longer
# appear in the FINAL plan at all; each round's joins are planned at
# checkpoint time with real sizes (AQE picks broadcast at fixture
# scale, SMJ once the survivor set is big — the adaptive choice the
# audit wanted). Their pins drop to 0: the assert now catches lineage
# leaking back into the final plan.
SMJ_ANTI_SEMI_ADJUDICATED = {
    "q_graph_k_core": 0,
    "q_graph_label_propagation": 0,
    "q_tpch_q21_waiting": 1,
}


@pytest.mark.parametrize("name", sorted(SMJ_ANTI_SEMI_ADJUDICATED))
def test_adjudicated_big_big_joins_stay_sort_merge(spark, sf_dir, name):
    from scripts.audit_anti_joins import smj_anti_semi_lines

    plan = _plan(spark, sf_dir, name)
    lines = smj_anti_semi_lines(plan)
    assert len(lines) == SMJ_ANTI_SEMI_ADJUDICATED[name], (
        f"{name}: expected {SMJ_ANTI_SEMI_ADJUDICATED[name]} SMJ anti/semi "
        f"joins, found {len(lines)} — a join strategy flipped; re-run "
        f"scripts/audit_anti_joins.py and re-adjudicate"
    )


def test_curation_v8_corpus_joins_broadcast_no_python(spark, sf_dir):
    """v8's corpus-facing joins are all broadcast: the benchmark
    shingles (BuildRight under the scan) and the contamination DROP
    LIST's anti join — corpus text must never ride a doc_id shuffle.
    (Aggregate-to-aggregate joins of per-doc COUNTS may sort-merge;
    they carry 16-byte rows, not bodies.) No Python anywhere.

    (This block had been accidentally appended to the parametrized
    adjudicated-SMJ test body, where it ran three times under the wrong
    name — split back out as its own test.)"""
    plan = _plan(spark, sf_dir, "q_pipeline_curation_v8")
    assert "BroadcastHashJoin" in plan
    assert "pythonUDF" not in plan
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines and all(
        "BroadcastHashJoin" in ln for ln in anti_lines
    ), f"anti join not broadcast: {anti_lines}"


def test_triangles_dense_path_broadcasts_no_wedge(spark, sf_dir):
    """q_graph_triangles on the fixture graph (node span <= 4096) must
    take the bitmap path: both adjacency joins broadcast and NO
    sort-merge join anywhere — the edge-derivation precursor is a
    join-free per-order expansion since round 8, so ANY SMJ means
    either the wedge self-join or the precursor self-join regressed.
    A flip back to the wedge plan re-materializes ~46M rows at sf0.1
    (13.6 s vs 3.7 s, PLANS.md round-8 session 3)."""
    plan = _plan(spark, sf_dir, "q_graph_triangles")
    assert "BroadcastHashJoin" in plan
    n_smj = plan.count("SortMergeJoin")
    assert n_smj == 0, (
        f"expected a join-free precursor + broadcast bitmap path, found "
        f"{n_smj} SortMergeJoin(s) — a self-join regressed into the plan"
    )


def test_adaptive_modes_engage_scale_shape_above_threshold(
    spark, sf_dir, plan_shape
):
    """The adaptive rule (plans.small_input): with the threshold forced
    to 0 every input counts as large, so the DEFAULT gate compositions
    must produce the scale shapes — the cutpoint rank (bucket-keyed
    row_number windows, no whole-group sort) and the two-stage sharded
    top-k (rank window keyed by the shard column). With the default
    threshold the same fixture inputs resolve small and the plans keep
    the single-window shape. Resolution happens at plan-construction
    time, so the setting is scoped around the build."""
    from pyspark.sql import functions as F

    from csv2db_spark.llm.similarity import cosine_topk
    from csv2db_spark.queries.analytics2 import ccnet_buckets
    from csv2db_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3)

    def _plan_str(df):
        return df._jdf.queryExecution().executedPlan().toString()

    with plan_shape("scale"):
        big_rank = _plan_str(ccnet_buckets(spark, sf_dir))
        big_topk = _plan_str(cosine_topk(emb, queries, k=3))
    # cutpoint engaged: tie-set windows keyed by the score bucket
    assert "_gr_b" in big_rank and "ntile" not in big_rank
    # two-stage engaged: the stage-1 shard rank column appears
    assert "_srn" in big_topk
    # default threshold at fixture size: single-window twins
    small_rank = _plan_str(ccnet_buckets(spark, sf_dir))
    small_topk = _plan_str(cosine_topk(emb, queries, k=3))
    assert "ntile" in small_rank and "_gr_b" not in small_rank
    assert "_srn" not in small_topk


def test_filtered_scan_keeps_its_scan_estimate(spark, sf_dir, plan_shape):
    """plans.small_input reads Catalyst's sizeInBytes, which with CBO
    off (the session default) does NOT shrink through a filter — only
    through projections. With the threshold AT a fixture scan's
    estimate, the scan itself is large, a one-column projection of it
    is small, and a filter keeping a single row still reads as large,
    so a twin operator over it takes the scale shape. Enabling CBO
    would let row counts through the filter and flip this test: the
    adaptive rule would then need revisiting."""
    from pyspark.sql import functions as F

    from csv2db_spark import plans
    from csv2db_spark.operators.ranking import grouped_rank
    from csv2db_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    filtered = docs.where(F.col("doc_id") == 1)
    est = plans.est_size_bytes(docs)
    assert plans.est_size_bytes(filtered) == est
    with plan_shape(est):
        assert not plans.small_input(docs)
        assert plans.small_input(docs.select("doc_id"))
        assert not plans.small_input(filtered)
        ranked = grouped_rank(filtered, "lang", "n_chars", "doc_id")
    assert "_gr_b" in ranked._jdf.queryExecution().executedPlan().toString()
    assert [r._rn for r in ranked.collect()] == [1]


def test_checkpointed_small_join_reads_small(spark, sf_dir, plan_shape):
    """A join's root estimate is the product of its children, and an
    eager localCheckpoint keeps the estimate of the plan it truncated,
    so a checkpointed 500-row self-join still reads as gigabytes at the
    root. plans.est_size_bytes reads the checkpoint's stored bytes from
    the block manager instead: the frame is small at the default
    threshold, and threshold 0 still forces the scale shape."""
    from csv2db_spark import plans
    from csv2db_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    joined = docs.alias("a").join(docs.alias("b"), "doc_id")
    staged = joined.localCheckpoint(eager=True)
    assert staged.count() == docs.count() == 500
    root = staged._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(str(root)) >= plans.ADAPTIVE_SMALL_DEFAULT
    with plan_shape(plans.ADAPTIVE_SMALL_DEFAULT):
        assert plans.small_input(staged)
        assert plans.small_input(joined)
    with plan_shape("scale"):
        assert not plans.small_input(staged)


def test_ccnet_cutpoint_mode_has_no_whole_group_sort(spark, sf_dir, plan_shape):
    """The 100-TB CCNet plan (the scale shape): every row_number window
    over corpus rows must be keyed by (group, score) — tie sets, never
    a whole language — and no ntile survives anywhere. The only
    group-keyed window left runs over the per-(group, score) histogram
    aggregate. Plus the contract that makes the adaptive choice safe:
    identical rows to the exact window shape."""
    from csv2db_spark.queries.analytics2 import ccnet_buckets

    with plan_shape("scale"):
        cut = ccnet_buckets(spark, sf_dir)
    plan = cut._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan
    # the null-safe histogram join must stay a KEYED join (coalesce/
    # isnull composite keys), never a nested-loop fallback
    assert "BroadcastNestedLoopJoin" not in plan
    rn_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rn_lines, "cutpoint shape must rank via row_number over tie sets"
    for ln in rn_lines:
        # partitioned by the quantized score bucket (the continuous
        # avg_next_token_prob would otherwise make the histogram — and
        # its cumulative window — group-sized again)
        assert "_gr_b" in ln, (
            f"doc-level rank window not keyed by the score bucket: {ln}"
        )
    with plan_shape("small"):
        win = {
            (r.doc_id): (r.lang, r.score_scaled, r.n_bigrams, r.ppl_bucket)
            for r in ccnet_buckets(spark, sf_dir).collect()
        }
    got = {
        (r.doc_id): (r.lang, r.score_scaled, r.n_bigrams, r.ppl_bucket)
        for r in cut.collect()
    }
    assert got == win


def test_curation_v6_rank_modes_equal(spark, sf_dir, plan_shape):
    """v6's tail-drop stage through the cutpoint tercile plan returns
    the exact rows of the window plan (the shape never changes results,
    only the shuffle key). Both shapes are forced explicitly, so the
    test can never silently compare one shape with itself."""
    from csv2db_spark.queries.curation import curation_v6_pipeline

    out = {}
    for shape in ("small", "scale"):
        with plan_shape(shape):
            out[shape] = {
                (r.lang, r.source): (r.n_docs, r.total_bigrams)
                for r in curation_v6_pipeline(spark, sf_dir).collect()
            }
    assert out["small"] == out["scale"]


def test_sampling_cutpoint_modes_have_no_whole_group_sort(
    spark, sf_dir, plan_shape
):
    """stratified_sample / domain_cap / token_budget_sample in the
    scale shape: every row_number / running-sum window over corpus rows
    must be keyed by (group, bucket) — the md5-prefix bucket rides the
    partition spec — and the only group-keyed windows left run over
    histogram aggregates."""
    from csv2db_spark.llm.curation import (
        domain_cap,
        stratified_sample,
        token_budget_sample,
    )
    from csv2db_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    with plan_shape("scale"):
        plans = {
            "stratified": stratified_sample(docs, "lang", 5),
            "cap": domain_cap(docs, k=5),
            "budget": token_budget_sample(docs, 10_000),
        }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        rn_lines = [
            ln
            for ln in plan.splitlines()
            if "row_number()" in ln
            or ("Window" in ln and "sum(" in ln and "_gp_b" not in ln
                and "_c#" not in ln and "_gr_cnt" not in ln)
        ]
        doc_level = [
            ln
            for ln in rn_lines
            if "_b#" not in ln and "_gp_b" not in ln
        ]
        assert not doc_level, f"{name}: doc-level window without bucket key: {doc_level}"


def test_nullsafe_totals_join_stays_broadcast_hash(spark, sf_dir, plan_shape):
    """join_totals_nullsafe (ADVICE r9 NULL-group fix) must not
    degrade the plan: Spark rewrites eqNullSafe keys to
    coalesce+isnull HASH keys, so the per-group totals join stays a
    BroadcastHashJoin — a BroadcastNestedLoopJoin here would evaluate
    |corpus| x |groups| comparisons at scale. The grouped_rank
    histogram SMJ (exchange shared with the tie window by design) is
    the only sort-merge allowed in the ntile plan."""
    from csv2db_spark.operators.ranking import grouped_ntile
    from csv2db_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    with plan_shape("scale"):
        out = grouped_ntile(docs, "lang", "n_chars", "doc_id", 3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoop") == 0, plan
    bhj = [ln for ln in plan.splitlines()
           if "BroadcastHashJoin" in ln and "_t_lang" in ln]
    assert bhj, f"totals join is not a BroadcastHashJoin:\n{plan}"


def test_graph_loop_edge_leg_plans_exchange_free(spark):
    """The iterative graph operators (connected_components,
    label_propagation, pagerank) pre-partition their loop-invariant
    edge list by the per-round join key and carry the partitioning +
    sort order through the checkpoint (round-14, guide §2.2). This pins
    the mechanism: joining the staged edge table against a node table
    under forced SMJ must plan the EDGE leg with no Exchange and no
    Sort — only the node-sized side shuffles per round. If the
    LogicalRDD ever stops reporting hashpartitioning (an AQE or
    checkpoint regression), both appear and this fails."""
    from pyspark.sql import functions as F

    from csv2db_spark.operators.graph import _stage_edges_by_key

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.range(2000).select(
            (F.col("id") % 500).alias("a"),
            ((F.col("id") * 7) % 500).alias("b"),
        )
        sym = _stage_edges_by_key(
            edges.unionByName(
                edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
            ).distinct(),
            "b",
        )
        labels = spark.range(500).select(
            F.col("id").alias("node"), F.col("id").alias("component")
        )
        j = sym.join(labels, sym.b == labels.node).select(
            F.col("a").alias("node"), "component"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        # exactly one Exchange and one Sort node: the labels leg. The
        # edge leg rides the preserved hashpartitioning(b) + sort order.
        # ("Sort [" keys the Sort operator; bare "Sort" would also count
        # the SortMergeJoin line.)
        assert "SortMergeJoin" in plan, plan
        assert plan.count("Exchange") == 1, plan
        assert plan.count("Sort [") == 1, plan
        rows = {tuple(r) for r in j.collect()}
        assert len(rows) > 900  # the join actually ran
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

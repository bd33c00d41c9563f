"""Physical-plan shape assertions (SURVEY.md §4): the scale contract.

Correctness tests prove the answers; these prove the *plans* are the ones
that survive 100 TB -- filters reach the parquet scan, column pruning holds,
small sides broadcast, sort+limit plans as top-k, aggregates are
partial+final, and the percent-share window runs above (never below) the
aggregation.
"""

from __future__ import annotations

import re

import pytest

from nyc_taxi_dataset_analysis_apache_hive_spark import registry
from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import (
    explain_str,
    has_pushed_filters,
    join_strategies,
)

SF = "/root/testdata/sf0.01"


def _q(spark, name):
    return registry.QUERIES[name](spark, SF)


def test_filter_pushdown_reaches_scan(spark):
    df = _q(spark, "p3_filter_compare")
    assert has_pushed_filters(df, "LessThan(l_discount")


def test_etl_sargable_conjuncts_pushed(spark):
    """The clean-filter's simple comparisons must reach the scan even though
    the derived date-part terms cannot."""
    df = _q(spark, "s3_etl_clean_derive")
    assert has_pushed_filters(df, "l_quantity", "l_extendedprice", "l_discount")


def test_column_pruning(spark):
    """A 2-column aggregate over the 16-column lineitem must scan 2 columns."""
    df = _q(spark, "a1_group_count")
    m = re.search(r"ReadSchema: struct<([^>]*)>", explain_str(df))
    assert m, "no parquet scan in plan"
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) == {"l_returnflag"}


def test_small_dim_join_broadcasts(spark):
    df = _q(spark, "p7_derived_duration_join")
    strategies = join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies)


def test_knn_broadcasts_queries_never_shuffles_corpus(spark):
    df = _q(spark, "k1_knn_bruteforce")
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan
    # the only Exchange allowed is the tiny post-scoring rank partitioning
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all("hashpartitioning" in e or "SinglePartition" in e for e in exchanges)


def test_sort_limit_plans_as_topk(spark):
    assert "TakeOrderedAndProject" in explain_str(_q(spark, "o3_topk_multi_sort"))


def test_aggregate_is_partial_then_final(spark):
    plan = explain_str(_q(spark, "a1_group_count"), "simple")
    assert re.search(r"partial_count", plan), "no map-side partial aggregate"
    # exactly one shuffle for a single group-by
    assert plan.count("Exchange hashpartitioning") == 1


def test_pct_share_window_runs_after_aggregation(spark):
    """W1's empty-frame window must consume the aggregated rows (O(groups)),
    not the raw rows (O(n) on one partition)."""
    plan = explain_str(_q(spark, "w1_pct_share"), "simple")
    win = plan.index("Window")
    agg = [m.start() for m in re.finditer(r"HashAggregate", plan)]
    # plans print top-down: Window above (= before) the aggregates
    assert win < min(agg)


def test_scalar_cross_join_is_single_row_broadcast(spark):
    plan = explain_str(_q(spark, "j1_scalar_cross_ratio"))
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "d3_minhash_lsh_pairs",
        "d4_ngram_jaccard_pairs",
        "d5_simhash_pairs",
        # r6 folds: the semdedup leg's cell-bounded pair search and the
        # sampling surface's mix/cap legs must stay equi-join shaped
        "k3_embedding_near_pairs",
        "s7_stratified_rates",
        # r7 folds: d7's overlap leg (probe grams vs the corpus gram set)
        # must equi-join on the gram, never all-pairs
        "d7_cross_corpus_decontam",
    ],
)
def test_dedup_never_plans_cartesian(spark, name):
    """LSH banding / inverted-index / simhash-chunk-blocking / semdedup
    cell joins must be equi-joins, never an all-pairs product."""
    assert "CartesianProduct" not in explain_str(_q(spark, name))


def test_d4_has_no_row_at_a_time_python(spark):
    """d4's six legs (r14: + spans/scrub/scrub_text/rep) may use the
    documented Arrow-batched winnow gram hash but never row-at-a-time
    Python; the span subtree itself is plan-pinned uncheckpointed in
    test_span_dedup (the entry's eager runs checkpoint hides it here)."""
    plan = explain_str(_q(spark, "d4_ngram_jaccard_pairs"))
    assert "BatchEvalPython" not in plan


def test_j5_multiway_legs_broadcast_dims(spark):
    """The r6 chain (region->nation->customer->orders) and star
    (lineitem + part/supplier) legs: every dim side is under the
    broadcast threshold at this sf, so the whole join family must plan
    broadcast-side -- a sort-merge here would mean a dim got shuffled."""
    plan = explain_str(_q(spark, "j5_join_surface"))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 5, plan[:1500]


def test_s7_mix_leg_broadcasts_domain_counts(spark):
    """mix_domains' per-domain count table must ride a broadcast join --
    shuffling the corpus to meet a 3-row aggregate would invert the
    operator's whole scale design (corpus never shuffles for the mix)."""
    plan = explain_str(_q(spark, "s7_stratified_rates"))
    assert "BroadcastHashJoin" in plan


def test_text_profile_scans_documents_once(spark):
    """The fused t1 entry must read the documents parquet ONCE (the whole
    point of fusing four featurisers); four separate scans would read the
    corpus 4x at 100 TB."""
    plan = explain_str(_q(spark, "t1_text_profile"))
    # formatted explain prints each node in the tree AND in the detail
    # listing -- count the numbered detail entries only
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan


def test_tv1_lm_probe_legs_stay_scale_safe(spark):
    """The r7 lm/probe legs: count-table and weight-row joins must be
    equi- or single-row-broadcast joins.  The ONLY nested-loop joins
    allowed are the broadcast one-row passes (vocab size, probe weights,
    tfidf's corpus count) -- a non-broadcast nested loop or cartesian
    would mean a count table got crossed with the corpus."""
    plan = explain_str(_q(spark, "tv1_text_stats"))
    assert "CartesianProduct" not in plan
    # BroadcastNestedLoopJoin may appear -- those are the 1-row broadcast
    # sides (vocab size / probe weights / tfidf corpus count), same class
    # as j1's scalar cross join
    assert "BatchEvalPython" not in plan  # all legs stay JVM-side


def test_ann_suite_has_no_cartesian_on_scale_paths(spark):
    """The merged LSH+IVF entry: candidate generation is equi-joins (LSH
    buckets / IVF list ids); the only allowed nested-loop joins are the
    broadcast centroid/query passes (tiny side broadcast)."""
    plan = explain_str(_q(spark, "k2_ann_lsh_ivf"))
    assert "CartesianProduct" not in plan


def test_no_python_udf_in_reference_surface(spark):
    """SURVEY §2.10: reference parity needs zero Python row crossings --
    every reference-derived query stays fully JVM-side."""
    reference_queries = [
        n
        for n in registry.QUERIES
        # 'p' catches the pipeline extension pl1 too: it is NOT reference
        # surface and (since r7) legitimately carries the two sanctioned
        # Arrow-batched stages (BPE encode, packing's applyInPandas), so
        # it is excluded here; its own plan gate is
        # test_pipeline_python_stages_are_arrow_batched below.
        if n[0] in "apswofju"
        and not n.startswith("m")
        and not n.startswith("pl")
    ]
    for name in reference_queries:
        plan = explain_str(_q(spark, name), "simple")
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_pipeline_python_stages_are_arrow_batched(spark):
    """pl1 is allowed Python stages (BPE encode, the packing fold) but
    ONLY Arrow-batched ones: ArrowEvalPython / FlatMapGroupsInPandas may
    appear, row-at-a-time BatchEvalPython must not."""
    plan = explain_str(_q(spark, "pl1_curation_funnel"), "simple")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the BPE encode pandas_udf
    assert "FlatMapGroupsInPandas" in plan  # the packing applyInPandas


def test_runtime_bloom_filter_semi_join_reduces_probe_side(spark):
    """Spark's runtime bloom-filter join (default-on in 4.x) builds a
    DISTRIBUTED bloom over a selectively-filtered creation side and
    injects ``might_contain`` into the probe side's scan filter -- the
    runtime semi-join reduction that makes "probe a huge fact with a
    filtered dim" (e.g. incremental.admit_batch against a filtered
    corpus slice) cheap at 100 TB.  With default thresholds it fires only
    when the probe side scans > 10 GB, so this test lowers the
    application-side threshold to prove injection at test scale, then
    proves the answer is bloom-invariant."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    def build():
        # fresh frame each time: queryExecution is memoized per DataFrame,
        # so conf changes only show in plans planned after them
        big = spark.read.parquet(f"{SF}/lineitem.parquet")
        dim = spark.read.parquet(f"{SF}/orders.parquet").filter(
            "o_totalprice > 400000"
        )
        return big.join(dim, big.l_orderkey == dim.o_orderkey)

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = build()
        plan = explain_str(joined, "simple")
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        n_bloom = joined.count()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    plain = build()
    assert "might_contain" not in explain_str(plain, "simple")
    assert plain.count() == n_bloom


def test_shuffle_shards_plans_one_exchange(spark):
    """The serve-order shard operator's whole cost model is 'one hash
    exchange, the one the sharded writer needs anyway': the row_number
    window must reuse the shard_id partitioning, adding a sort but never
    a second shuffle (a rangepartitioning or extra hashpartitioning here
    would double the 100-TB write cost)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sampling
    from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, SF, "documents").select("doc_id")
    plan = explain_str(sampling.shuffle_shards(docs))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1200]
    assert "rangepartitioning" not in plan
    assert "hashpartitioning(shard_id" in plan


def test_bm25_has_no_corpus_sized_join_side(spark):
    """bm25_scores must never put a per-document relation on a join
    side: document length rides the term-filtered posting rows and the
    df count is a window over the tiny tf relation, so the ONLY join is
    the 1-row broadcast stats and the corpus is scanned exactly twice
    (stats + postings) with zero sort-merge joins at ANY scale (r9
    verdict item: the old dl join broadcast the CORPUS side below
    threshold and would have shuffled it above; a separate
    tf.groupBy(token) branch re-scanned the corpus a third time)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import (
        dedup,
        textops,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    terms = list(textops.BM25_QUERY_TERMS)
    plan = explain_str(
        textops.bm25_scores(
            textops.bm25_term_scores(dedup.token_table(docs), terms), terms
        )
    )
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan[:1200]
    # the df window partitions by token -- never an empty PARTITION BY
    assert "windowspecdefinition(token" in plan


def test_collocation_scoring_joins_broadcast(spark):
    """The PMI scoring joins (bigram counts x unigram counts x the two
    1-row totals) must never shuffle: every join side is
    vocabulary-bounded or scalar, and the broadcasts are locked
    explicitly in collocation_scores (r16) so a flipped post-aggregate
    size estimate cannot turn tiny-table joins into SortMergeJoins at
    corpus scale."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, textops
    from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    plan = explain_str(textops.collocation_scores(dedup.token_table(docs)))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_anomaly_monitor_is_series_sized_after_one_aggregate(spark):
    """The monitor's only data-sized stage is the daily-count hash
    aggregate; the densify grid join and both scoring windows operate on
    the (keys x days) series with broadcast joins only.  On the raw
    operator path the series' multiple consumers each show a scan in the
    INITIAL plan (ReuseExchange dedups identical aggregates at runtime);
    the e1 ENTRY eagerly checkpoints the series, so the whole four-leg
    union plans exactly ONE parquet scan of events -- pinned here."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import anomaly
    from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table

    ev = load_table(spark, SF, "events")
    plan = explain_str(anomaly.rolling_zscores(anomaly.daily_counts(ev)))
    assert "SortMergeJoin" not in plan
    entry_plan = explain_str(_q(spark, "e1_tumbling_window_counts"))
    assert "SortMergeJoin" not in entry_plan
    # formatted explain prints each scan twice (tree node + detail
    # section); one numbered tree node = one actual scan (the tumbling
    # leg -- every anomaly leg reads the checkpointed series)
    assert len(re.findall(r"\(\d+\) Scan parquet", entry_plan)) == 1


def test_fuzzy_linkage_no_cartesian_on_registry_surface(spark):
    """The j5 fuzzy legs' blocked self-joins must plan as equi-joins
    (multi-pass blocking exists precisely to avoid the all-pairs
    product)."""
    df = _q(spark, "j5_join_surface")
    plan = explain_str(df)
    assert "CartesianProduct" not in plan

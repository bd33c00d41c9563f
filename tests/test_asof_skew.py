"""Unit tests for the as-of join (tie semantics, null handling) and the
skew-mitigation operators (result equivalence, HLL accuracy)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import (
    asof,
    similarity,
    skew,
)
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table

SF = "/root/testdata/sf0.01"


def _ts(s):
    return datetime.fromisoformat(s)


def _ts_epoch(sec: int) -> datetime:
    return datetime.fromtimestamp(sec, tz=timezone.utc).replace(tzinfo=None)


@pytest.fixture(scope="module")
def tiny(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "L1"),
            (1, _ts("2024-01-01T12:00:00"), "L2"),
            (2, _ts("2024-01-01T09:00:00"), "L3"),  # no preceding right row
        ],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 100.0),  # ties L1 exactly
            (1, _ts("2024-01-01T11:30:00"), 200.0),
            (2, _ts("2024-01-01T09:30:00"), 300.0),  # after L3
        ],
        "k long, ts timestamp, v double",
    )
    return left, right


def _result_map(df):
    return {r["tag"]: r["v_asof"] for r in df.collect()}


def test_asof_strict_excludes_equal_timestamps(tiny):
    left, right = tiny
    out = _result_map(
        asof.asof_join(left, right, "k", "ts", "ts", ["v"], strict=True)
    )
    assert out == {"L1": None, "L2": 200.0, "L3": None}


def test_asof_nonstrict_includes_equal_timestamps(tiny):
    left, right = tiny
    out = _result_map(
        asof.asof_join(left, right, "k", "ts", "ts", ["v"], strict=False)
    )
    assert out == {"L1": 100.0, "L2": 200.0, "L3": None}


def test_asof_no_pair_explosion(spark, tiny):
    """The plan must contain no join at all -- only the window carry-forward."""
    left, right = tiny
    plan = (
        asof.asof_join(left, right, "k", "ts", "ts", ["v"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


@pytest.fixture(scope="module")
def hot_key_frames(spark):
    """One key holds 90% of the left rows (the as-of hot-key failure mode);
    right side is a small state-change timeline per key."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    left_rows = [
        (1, base + datetime.timedelta(minutes=i), i) for i in range(900)
    ] + [
        (k, base + datetime.timedelta(minutes=7 * i), 1000 * k + i)
        for k in range(2, 12)
        for i in range(10)
    ]
    right_rows = [
        (k, base + datetime.timedelta(hours=h), float(100 * k + h))
        for k in range(1, 12)
        for h in range(8)
    ]
    left = spark.createDataFrame(left_rows, "k long, ts timestamp, row_id long")
    right = spark.createDataFrame(right_rows, "k long, ts timestamp, v double")
    return left, right


def test_asof_salted_equals_unsalted_on_hot_key(spark, hot_key_frames):
    """The n_salts fan-out must be invisible in the results -- bit-identical
    to the single-window plan, for both tie semantics."""
    left, right = hot_key_frames
    for strict in (True, False):
        plain = {
            r["row_id"]: r["v_asof"]
            for r in asof.asof_join(
                left, right, "k", "ts", "ts", ["v"], strict=strict
            ).collect()
        }
        salted = {
            r["row_id"]: r["v_asof"]
            for r in asof.asof_join(
                left, right, "k", "ts", "ts", ["v"], strict=strict, n_salts=8
            ).collect()
        }
        assert salted == plain and len(plain) == left.count()


def test_asof_salted_hot_key_fans_out(spark, hot_key_frames):
    """The hot key's left rows must actually spread over many salt buckets
    (same deterministic salt formula the operator applies), and the salted
    plan must window on the salt column."""
    left, right = hot_key_frames
    # the operator's OWN salt builder -- if skew._salt changes, this test
    # keeps measuring the real bucket assignment
    n_buckets = (
        left.filter(F.col("k") == 1)
        .select(skew._salt(F.col("ts"), 8).alias("s"))
        .distinct()
        .count()
    )
    assert n_buckets == 8  # 900 timestamps -> every bucket hit
    plan = (
        asof.asof_join(left, right, "k", "ts", "ts", ["v"], n_salts=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_asof_salt" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_asof_salted_rejects_bad_n_salts(spark, hot_key_frames):
    left, right = hot_key_frames
    with pytest.raises(ValueError, match="n_salts"):
        asof.asof_join(left, right, "k", "ts", "ts", ["v"], n_salts=0)


def test_salted_agg_equals_plain_agg(spark):
    ev = load_table(spark, SF, "events")
    salted = {
        r["event_type"]: (r["n_rows"], r["sum_value"])
        for r in skew.salted_group_count_sum(
            ev, "event_type", "value", "event_id", n_salts=8
        ).collect()
    }
    plain = {
        r["event_type"]: (r["n"], r["s"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert salted == plain


def test_salted_join_equals_plain_join(spark):
    ev = load_table(spark, SF, "events").select("event_id", "event_type")
    dim = ev.select("event_type").distinct().withColumn(
        "flag", F.lit(1)
    )
    salted = skew.salted_join(ev, dim, "event_type", "event_id", n_salts=4)
    assert salted.count() == ev.count()
    assert set(salted.columns) == {"event_id", "event_type", "flag"}


def test_aqe_skew_join_equals_salted_join(spark, hot_key_frames):
    """AQE's runtime skew split and the declarative salted join must agree
    bit-for-bit on the 90%-hot-key fixture, and AQE must actually SPLIT the
    hot partition (the plan marks the sort-merge join skew=true) -- proving
    plain joins can lean on AQE while salting stays for the cases AQE can't
    touch (aggregation fan-in, windows; see skew.py module docstring)."""
    left, _ = hot_key_frames
    # an INDEPENDENT dim table: deriving it from `left` (e.g. via distinct)
    # would put a HashAggregate between the join's Sort and its shuffle
    # stage, breaking the SMJ(Sort(Shuffle), Sort(Shuffle)) pattern
    # OptimizeSkewedJoin matches -- AQE would silently not split
    dim = left.sparkSession.createDataFrame(
        [(k, f"key-{k}") for k in range(1, 12)], "k long, k_name string"
    )
    confs = {
        # force a sort-merge join (no broadcast escape hatch) and make the
        # tiny fixture's hot partition cross AQE's skew thresholds
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        aqe_df = left.join(dim, "k")
        aqe = {(r["row_id"], r["k_name"]) for r in aqe_df.collect()}
        # the ADAPTIVE final plan (post-execution) records the skew split
        final_plan = aqe_df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:800]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    salted = {
        (r["row_id"], r["k_name"])
        for r in skew.salted_join(
            left, dim, on="k", salt_from="row_id", n_salts=8
        ).collect()
    }
    assert aqe == salted and len(aqe) == left.count()


def test_approx_distinct_within_rsd(spark):
    li = load_table(spark, SF, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_suppkey").alias("n"))
        .collect()
    }
    approx = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_suppkey", rsd=0.02).alias("n"))
        .collect()
    }
    for k, n_exact in exact.items():
        assert approx[k] == pytest.approx(n_exact, rel=0.06)  # 3 sigma


def test_ivf_recall_vs_bruteforce(spark):
    """IVF quality gate.  The synthetic embeddings are near-random (little
    cluster structure), where IVF recall is bounded by ~n_probe/n_centroids
    by construction -- so the honest properties are: recall beats the probed
    fraction, improves monotonically with more probes, and every returned
    cosine is exact (verified against the brute-force score)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings")
    exact = similarity.cosine_topk_bruteforce(emb, k=5, n_queries=8).collect()
    exact_sets: dict[int, set] = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    total = sum(len(s) for s in exact_sets.values())

    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.cosine_topk_bruteforce(emb, k=499, n_queries=8).collect()
    }

    recalls = {}
    for probe in (3, 8):
        rows = similarity.cosine_topk_ivf(
            emb,
            similarity.ivf_assign(emb, similarity.default_centroids(emb)),
            5,
            8,
            n_probe=probe,
        ).collect()
        ivf_sets: dict[int, set] = {}
        for r in rows:
            ivf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            # scored cosines are exact, never approximated
            assert r["cosine"] == exact_all[(r["query_id"], r["neighbor_id"])]
        recalls[probe] = (
            sum(len(exact_sets[q] & ivf_sets.get(q, set())) for q in exact_sets)
            / total
        )
    assert recalls[3] > 3 / 16  # beats the probed-fraction chance floor
    assert recalls[8] > recalls[3]  # probing more lists helps
    assert recalls[8] >= 0.6


def test_range_join_matches_naive_between(spark):
    """Binned range join == the naive BETWEEN theta-join, including
    intervals spanning multiple bins, boundary-inclusive matches, events
    matching several overlapping intervals, and degenerate intervals."""
    evs = [(i, _ts(f"2024-01-01T{h:02d}:{m:02d}:00"), i * 1.0)
           for i, (h, m) in enumerate([(0, 30), (1, 0), (2, 15), (5, 0), (9, 59)])]
    ivs = [
        (100, _ts("2024-01-01T00:00:00"), _ts("2024-01-01T02:15:00")),  # 3 bins
        (101, _ts("2024-01-01T01:00:00"), _ts("2024-01-01T01:00:00")),  # point
        (102, _ts("2024-01-01T04:00:00"), _ts("2024-01-01T03:00:00")),  # degenerate
        (103, _ts("2024-01-01T00:00:00"), _ts("2024-01-01T23:00:00")),  # wide
    ]
    events = spark.createDataFrame(evs, "event_id long, ts timestamp, value double")
    intervals = spark.createDataFrame(
        ivs, "interval_id long, start_ts timestamp, end_ts timestamp"
    )
    got = {
        (r["event_id"], r["interval_id"])
        for r in asof.range_join(
            events, intervals, "ts", "start_ts", "end_ts", bin_seconds=3600
        ).collect()
    }
    expected = {
        (e_id, i_id)
        for e_id, ts, _ in evs
        for i_id, s, t in ivs
        if s <= ts <= t
    }
    assert got == expected and got
    # the plan is an equi-join on the bin, never a cartesian/NL product
    from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import explain_str

    plan = explain_str(
        asof.range_join(events, intervals, "ts", "start_ts", "end_ts", 3600)
    )
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


@pytest.mark.parametrize("dur_s", [120, 30 * 86_400])
def test_range_join_autobin_bounds_replication(spark, dur_s):
    """bin_seconds=None derives the bin from the median interval length,
    so replication (sequence length = duration/bin + 1) stays O(1) per
    interval whether intervals span 2 minutes or a month -- the fixed
    3600 s default would replicate a month-long interval ~720x and give a
    2-minute workload 30x-too-coarse candidate bins."""
    base = 1_700_000_000
    ivs = [
        (i, _ts_epoch(base + i * 4 * dur_s), _ts_epoch(base + i * 4 * dur_s + dur_s))
        for i in range(40)
    ]
    evs = [
        (i, _ts_epoch(base + i * 4 * dur_s + off))
        for i in range(40)
        for off in (0, dur_s // 2, 2 * dur_s)  # in-window x2, gap x1
    ]
    events = spark.createDataFrame(evs, "event_id long, ts timestamp")
    intervals = spark.createDataFrame(
        ivs, "interval_id long, start_ts timestamp, end_ts timestamp"
    )
    derived = asof._derive_bin_seconds(intervals, "start_ts", "end_ts")
    # median-length bins: each interval covers at most 2-3 bins
    assert dur_s / 2 <= derived <= 2 * dur_s
    got = {
        (r["event_id"], r["interval_id"])
        for r in asof.range_join(
            events, intervals, "ts", "start_ts", "end_ts"
        ).collect()
    }
    expected = {
        (e_id, i_id)
        for e_id, ts in evs
        for i_id, s, t in ivs
        if s <= ts <= t
    }
    assert got == expected and got


def test_range_join_autobin_empty_intervals_falls_back(spark):
    intervals = spark.createDataFrame(
        [], "interval_id long, start_ts timestamp, end_ts timestamp"
    )
    assert asof._derive_bin_seconds(intervals, "start_ts", "end_ts") == 3600


def test_vector_mean_by_key_matches_python(spark):
    rows = [
        (1, [1.0, 2.0, 3.0]),
        (1, [3.0, 4.0, 5.0]),
        (2, [10.0, 0.0, -2.0]),
    ]
    df = spark.createDataFrame(rows, "k long, v array<double>")
    got = {
        r["k"]: r["centroid"]
        for r in similarity.vector_mean_by_key(df, "k", "v").collect()
    }
    assert got == {1: [2.0, 3.0, 4.0], 2: [10.0, 0.0, -2.0]}


def test_kmeans_train_separates_obvious_clusters(spark):
    """Two well-separated direction clusters: after a few Lloyd iterations
    the two centroids point into opposite clusters and every vector is
    nearest its own cluster's centroid."""
    import math

    rows = []
    for i in range(10):  # cluster A: around +x
        rows.append((i, [1.0, 0.01 * i, 0.0]))
    for i in range(10, 20):  # cluster B: around -y
        rows.append((i, [0.0, -1.0, 0.01 * (i - 10)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = {
        r["cent_id"]: r["cent_emb"]
        for r in similarity.kmeans_train(
            emb, n_centroids=2, n_iter=4
        ).collect()
    }
    assert len(cents) == 2

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    # one centroid aligned with +x, the other with -y
    aligned_x = [c for c in cents.values() if cos(c, [1, 0, 0]) > 0.95]
    aligned_y = [c for c in cents.values() if cos(c, [0, -1, 0]) > 0.95]
    assert len(aligned_x) == 1 and len(aligned_y) == 1


def test_ivf_with_trained_centroids_beats_seed_slice(spark):
    """kmeans-trained centroids plugged into cosine_topk_ivf keep (or beat)
    the fixed-seed index's recall at the same probe budget."""
    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk_bruteforce(emb, k=5, n_queries=8).collect()
    }

    def recall(ivf_df):
        got = {(r["query_id"], r["neighbor_id"]) for r in ivf_df.collect()}
        return len(exact & got) / len(exact)

    def ivf(cents):
        return similarity.cosine_topk_ivf(
            emb, similarity.ivf_assign(emb, cents), k=5, n_queries=8, n_probe=3
        )

    seed_recall = recall(ivf(similarity.default_centroids(emb)))
    trained = similarity.kmeans_train(emb, n_centroids=16, n_iter=3)
    trained_recall = recall(ivf(trained))
    assert trained_recall >= seed_recall - 0.05  # never meaningfully worse
    assert trained_recall > 3 / 16  # beats the probed-fraction floor


def test_lsh_recall_vs_bruteforce(spark):
    """Sign-LSH honesty gate (mirrors the IVF one): a single 4-bit table
    probes ~1/16 of the corpus, so its recall must beat that chance floor;
    widening the buckets (fewer bits) must raise recall, and 2-bit buckets
    reach useful recall on this corpus (measured 0.42-0.48)."""
    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk_bruteforce(emb, k=5, n_queries=8).collect()
    }
    recalls = {}
    for bits in (2, 4):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.cosine_topk_lsh(
                emb, k=5, n_queries=8, n_bits=bits
            ).collect()
        }
        recalls[bits] = len(exact & got) / len(exact)
    assert recalls[4] > 1 / 16  # beats the probed-fraction chance floor
    assert recalls[2] > recalls[4]  # wider buckets help
    assert recalls[2] >= 0.3


def test_connected_components_hand_graph(spark):
    """Two chains and an isolated pair: labels converge to the min id of
    each component even across multi-hop chains."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12), (20, 21), (30, 31), (31, 32)],
        "doc_a long, doc_b long",
    )
    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 5: 1, 9: 1, 12: 1, 20: 20, 21: 20, 30: 30, 31: 30, 32: 30}


@pytest.mark.scale
def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Three seeded random multigraphs (self-loops, duplicate and
    reversed edges included): the DataFrame loop and a pure-Python
    union-find agree on every component label."""
    import random

    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    rnd = random.Random(7)
    for trial in range(3):
        edges = [
            (rnd.randrange(40), rnd.randrange(40)) for _ in range(60)
        ]
        parent = list(range(40))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        touched = set()
        for a, b in edges:
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {v: find(v) for v in touched}

        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.connected_components(
                df, a_col="a", b_col="b"
            ).collect()
        }
        assert got == expected, f"trial {trial}"


def test_connected_components_nonconvergence_surfaced(spark):
    """A path graph of diameter > max_iter cannot converge: the partial
    labels are never returned silently -- raise by default, RuntimeWarning
    with partial labels under on_nonconvergence='warn', and correct once
    max_iter covers the diameter."""
    import pytest

    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    # 0-1-2-...-8: one component, diameter 8 -> needs ~log-free min-label
    # propagation of up to 8 rounds; max_iter=2 must fail loudly.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2).collect()

    with pytest.warns(RuntimeWarning, match="did not converge"):
        partial = dedup.connected_components(
            pairs, max_iter=2, on_nonconvergence="warn"
        ).collect()
    labels = {r["doc_id"]: r["cluster_id"] for r in partial}
    assert labels[8] != 0  # visibly partial: far end not yet merged to min

    # raising max_iter past the diameter fixes the clustering (and no
    # warning/raise fires)
    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(pairs, max_iter=10).collect()
    }
    assert comp == {i: 0 for i in range(9)}

    with pytest.raises(ValueError, match="on_nonconvergence"):
        dedup.connected_components(pairs, on_nonconvergence="ignore")


def test_asof_salt_from_without_n_salts_raises(spark):
    """salt_from alone must not silently run the unsalted plan."""
    import pytest

    from nyc_taxi_dataset_analysis_apache_hive_spark.operators.asof import asof_join

    df = spark.createDataFrame(
        [(1, 1.0)], "k long, ts double"
    )
    with pytest.raises(ValueError, match="salt_from requires n_salts"):
        asof_join(df, df, on="k", left_ts="ts", right_ts="ts",
                  right_cols=[], salt_from="ts")


def test_dedup_keep_list_covers_all_docs(spark):
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(2, 7), (7, 9)], "doc_a long, doc_b long")
    kl = dedup.dedup_keep_list(docs, pairs).collect()
    rows = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in kl}
    assert len(rows) == 10
    # the cluster {2,7,9} keeps only 2; singletons keep themselves
    assert rows[2] == (2, True)
    assert rows[7] == (2, False)
    assert rows[9] == (2, False)
    assert all(rows[i] == (i, True) for i in (0, 1, 3, 4, 5, 6, 8))


def test_hash_split_fractions_and_stability(spark):
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sampling

    docs = load_table(spark, SF, "documents").select("doc_id")
    s1 = {
        r["doc_id"]: r["split_id"]
        for r in sampling.hash_split(docs.repartition(3), "doc_id").collect()
    }
    s2 = {
        r["doc_id"]: r["split_id"]
        for r in sampling.hash_split(docs.repartition(11), "doc_id").collect()
    }
    assert s1 == s2  # partitioning-independent
    n = len(s1)
    fr = [sum(1 for v in s1.values() if v == i) / n for i in (0, 1, 2)]
    assert fr[0] == pytest.approx(0.8, abs=0.06)
    assert fr[1] == pytest.approx(0.1, abs=0.04)
    assert fr[2] == pytest.approx(0.1, abs=0.04)
    # appends never move existing rows: a subset gets identical assignments
    subset = {
        r["doc_id"]: r["split_id"]
        for r in sampling.hash_split(
            docs.filter(F.col("doc_id") < 100), "doc_id"
        ).collect()
    }
    assert all(s1[k] == v for k, v in subset.items())


def test_stratified_sample_rates(spark):
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sampling

    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    fractions = {"en": 0.5, "es": 0.25, "fr": 0.25, "de": 0.1}
    sampled = sampling.stratified_sample(docs, "lang", fractions, seed=42)
    totals = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    got = {r["lang"]: r["count"] for r in sampled.groupBy("lang").count().collect()}
    for lang, frac in fractions.items():
        if totals.get(lang, 0) >= 50:
            assert got.get(lang, 0) / totals[lang] == pytest.approx(
                frac, abs=0.15
            ), lang


def test_upsert_semantics(spark):
    """SCD-1 merge: update wins, insert lands, untouched carries forward."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators.etl import upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, tag string, v double",
    )
    updates = spark.createDataFrame(
        [(2, "B", 22.0), (9, "z", 90.0)], "id long, tag string, v double"
    )
    out = {r["id"]: (r["tag"], r["v"]) for r in upsert(base, updates, ["id"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 22.0), 3: ("c", 30.0), 9: ("z", 90.0)}


def test_percentile_approx_close_to_exact(spark):
    """A9 approx (the 100-TB path) must track the exact interpolated
    percentile within the sketch's accuracy on a 600k-value column."""
    li = load_table(spark, "/root/testdata/sf0.1", "lineitem")
    [exact] = li.select(
        F.expr(
            "percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D))"
        ).alias("p")
    ).collect()
    [approx] = li.select(
        F.expr(
            "percentile_approx(l_extendedprice, array(0.25D, 0.50D, 0.75D), 10000)"
        ).alias("p")
    ).collect()
    for e, a in zip(exact["p"], approx["p"]):
        assert a == pytest.approx(e, rel=0.01), (e, a)


def test_asof_composite_key(spark):
    """Multi-column `on` (the market-data (symbol, exchange) shape): matches
    must respect EVERY key, and the salted path stays bit-identical."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    td = datetime.timedelta
    left = spark.createDataFrame(
        [
            ("AAPL", "N", base + td(minutes=10), 10),
            ("AAPL", "N", base + td(minutes=40), 40),
            ("AAPL", "Q", base + td(minutes=30), 99),  # other exchange
            ("MSFT", "N", base + td(minutes=30), 77),  # no right rows at all
        ],
        "sym string, exch string, ts timestamp, row_id long",
    )
    right = spark.createDataFrame(
        [
            ("AAPL", "N", base + td(minutes=5), 1.0),
            ("AAPL", "N", base + td(minutes=35), 2.0),
            ("AAPL", "Q", base + td(minutes=25), 9.0),
        ],
        "sym string, exch string, ts timestamp, px double",
    )
    expected = {10: 1.0, 40: 2.0, 99: 9.0, 77: None}
    for kwargs in ({}, {"n_salts": 4}):
        out = {
            r["row_id"]: r["px_asof"]
            for r in asof.asof_join(
                left, right, ["sym", "exch"], "ts", "ts", ["px"], **kwargs
            ).collect()
        }
        assert out == expected, kwargs
    # output schema keeps all keys
    cols = asof.asof_join(left, right, ["sym", "exch"], "ts", "ts", ["px"]).columns
    assert cols == ["sym", "exch", "ts", "row_id", "px_asof"]


def test_cross_corpus_near_pairs_finds_planted_contamination(spark):
    """Embedding decontamination: planted duplicates of corpus vectors in
    the probe table must surface (identical vector -> same LSH bucket ->
    cosine 1.0), and the plan must stay an equi-join on the bucket."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import (
        explain_str,
    )

    emb = load_table(spark, SF, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    pairs = similarity.cross_corpus_near_pairs(emb, probes, threshold=0.999)
    got = {(r["corpus_id"], r["probe_id"]): r["cosine"] for r in pairs.collect()}
    for i in range(8):
        assert got.get((i, 1000 + i)) == 1.0, i  # the planted contamination
    assert all(c >= 0.999 for c in got.values())
    assert "CartesianProduct" not in explain_str(pairs)


def test_uniform_sample_seeded_and_bounded(spark):
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sampling

    docs = load_table(spark, SF, "documents").select("doc_id")
    n = docs.count()
    a = {r["doc_id"] for r in sampling.uniform_sample(docs, 0.2, seed=7).collect()}
    b = {r["doc_id"] for r in sampling.uniform_sample(docs, 0.2, seed=7).collect()}
    assert a == b  # pinned seed + unchanged partitioning -> reproducible
    assert 0.1 * n < len(a) < 0.3 * n  # Bernoulli rate in a generous band
    assert a <= {r["doc_id"] for r in docs.collect()}


def test_connected_components_shortcut_halves_rounds(spark):
    """Pointer doubling (shortcut=True): identical labels on every graph,
    and O(log diameter) convergence where plain propagation cannot finish
    -- a diameter-64 chain inside max_iter=10 rounds (propagation needs
    ~64).  Measured trade (BASELINE.md r8): a wash-to-slight-loss on
    clique-ish near-dup graphs, which is why propagate stays the
    default."""
    import pytest

    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    mixed = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12), (20, 21), (30, 31), (31, 32)],
        "doc_a long, doc_b long",
    )
    plain = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(mixed).collect()
    }
    quick = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(mixed, shortcut=True).collect()
    }
    assert plain == quick

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(
            chain, max_iter=10, shortcut=False
        ).collect()
    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(
            chain, max_iter=10, shortcut=True
        ).collect()
    }
    assert comp == {i: 0 for i in range(65)}


def test_connected_components_auto_shortcut_needs_no_flag(spark):
    """shortcut=None (the default) self-selects: a diameter-200 chain --
    plain propagation would need ~200 rounds, far beyond the default
    max_iter=25 -- converges with DEFAULT arguments because the stall
    probe flips pointer doubling on at round 6 (~6 + log2(200) rounds
    total), and the labels equal plain propagation's on a graph where
    both finish."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(chain).collect()  # all defaults
    }
    assert comp == {i: 0 for i in range(201)}

    mixed = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12), (20, 21), (30, 31), (31, 32)],
        "doc_a long, doc_b long",
    )
    auto = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(mixed).collect()
    }
    plain = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(mixed, shortcut=False).collect()
    }
    assert auto == plain

"""SemDeDup-style semantic dedup: DuckDB oracle parity + keep-list
semantics + plan shape (the pair search must stay cell-bounded, never
all-pairs)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, similarity
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table
from tests.parity import compare, duckdb_conn

_COS_VC = (
    "round(list_dot_product(v.emb, c.cent_emb) /"
    " nullif(sqrt(list_dot_product(v.emb, v.emb))"
    " * sqrt(list_dot_product(c.cent_emb, c.cent_emb)), 0), 6)"
)

# Same stages as _semantic_dedup below, replayed in DuckDB: fixed-slice
# centroids -> max-cosine assignment -> within-cell pairs -> recursive-CTE
# connected components -> keep-list.
_ORACLE = f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cent_id, emb AS cent_emb FROM e
      WHERE vec_id >= 100 AND vec_id < 116
    ),
    assigned AS (
      SELECT vec_id, cent_id FROM (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_COS_VC} DESC, c.cent_id ASC) AS crank
        FROM e v CROSS JOIN cents c
      ) WHERE crank = 1
    ),
    en AS (
      SELECT vec_id,
             list_transform(emb,
               x -> x / nullif(sqrt(list_dot_product(emb, emb)), 0)) AS emb_n
      FROM e
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a
      JOIN assigned b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      JOIN en ea ON ea.vec_id = a.vec_id
      JOIN en eb ON eb.vec_id = b.vec_id
      WHERE round(list_dot_product(ea.emb_n, eb.emb_n), 6) >= 0.35
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, r) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e2.a, reach.r FROM edges e2 JOIN reach ON reach.v = e2.b
    ),
    comp AS (SELECT v AS vec_id, min(r) AS cluster_id FROM reach GROUP BY v)
    SELECT e.vec_id,
           coalesce(comp.cluster_id, e.vec_id) AS sem_cluster,
           coalesce(comp.cluster_id, e.vec_id) = e.vec_id AS keep
    FROM e LEFT JOIN comp USING (vec_id)
"""


def _semantic_dedup(emb, threshold, cents=None):
    """The full SemDeDup pipeline: assign -> within-cell near pairs ->
    connected components -> keep-list election."""
    if cents is None:
        cents = similarity.default_centroids(emb)
    assigned = similarity.assign_to_centroids(emb, cents)
    comp = dedup.connected_components(
        similarity.semantic_near_pairs(assigned, threshold),
        a_col="id_a",
        b_col="id_b",
    )
    return similarity.semantic_dedup(emb, comp)


def test_semantic_dedup_oracle_parity(spark, sf0001_dir):
    emb = load_table(spark, sf0001_dir, "embeddings")
    got = _semantic_dedup(emb, 0.35)
    con = duckdb_conn(sf0001_dir)
    assert compare(got, con, _ORACLE, "semantic_dedup") == []


def test_semantic_dedup_covers_every_vector_and_finds_dups(spark, sf0001_dir):
    emb = load_table(spark, sf0001_dir, "embeddings")
    got = _semantic_dedup(emb, 0.35)
    rows = {r["vec_id"]: r for r in got.toLocalIterator()}
    assert len(rows) == emb.count()  # every vector classified
    dropped = [r for r in rows.values() if not r["keep"]]
    assert dropped, "threshold below max pairwise cosine must drop something"
    for r in dropped:  # every drop points at a surviving canonical
        assert rows[r["sem_cluster"]]["keep"]
        assert r["sem_cluster"] < r["vec_id"]  # min-id election


def test_semantic_dedup_planted_clique(spark):
    """Three exact copies + one orthogonal vector: copies collapse onto the
    min id, the orthogonal vector is a kept singleton."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [2.0, 0.0, 0.0, 0.0]),  # same direction, different norm
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "cent_id long, cent_emb array<double>",
    )
    got = {
        r["vec_id"]: (r["sem_cluster"], r["keep"])
        for r in _semantic_dedup(emb, 0.99, cents).collect()
    }
    assert got == {0: (0, True), 1: (0, False), 2: (0, False), 3: (3, True)}


def test_semantic_dedup_pair_join_is_equi_join(spark, sf0001_dir):
    """The only nested-loop allowed is the broadcast of the tiny centroid
    table; the within-cell pair search must compile to an equi-join on the
    cell key -- never a corpus-x-corpus cartesian."""
    emb = load_table(spark, sf0001_dir, "embeddings")
    plan = (
        _semantic_dedup(emb, 0.35)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_trained_centroids_balance_cells(spark, sf001_dir):
    """The r13 trained-index rationale, measured: kmeans_train centroids
    must spread the corpus across cells more evenly than the fixed
    corpus slice (max-cell/mean-cell size ratio strictly improves).  At
    100 TB an unbalanced fixed slice leaves one hot cell holding most of
    the corpus and the within-cell quadratic becomes the bottleneck --
    balance IS the scale property the trained index buys."""
    emb = load_table(spark, sf001_dir, "embeddings")

    def cell_ratio(cents):
        sizes = [
            r["n"]
            for r in similarity.assign_to_centroids(emb, cents)
            .groupBy("cent_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        return max(sizes) / (sum(sizes) / len(sizes))

    fixed = cell_ratio(similarity.default_centroids(emb))
    trained = cell_ratio(
        similarity.kmeans_train(emb, n_centroids=16, n_iter=5, quantize=6)
    )
    assert trained < fixed, (trained, fixed)


def test_kmeans_quantize_grid_and_determinism(spark, sf001_dir):
    """quantize=6 puts every trained centroid element on the 1e-6 grid
    (the cross-engine replay barrier) and two independent training runs
    produce identical centroids (deterministic init + tie-breaks)."""
    emb = load_table(spark, sf001_dir, "embeddings")
    a = {
        r["cent_id"]: list(r["cent_emb"])
        for r in similarity.kmeans_train(
            emb, n_centroids=8, n_iter=3, quantize=6
        ).collect()
    }
    b = {
        r["cent_id"]: list(r["cent_emb"])
        for r in similarity.kmeans_train(
            emb, n_centroids=8, n_iter=3, quantize=6
        ).collect()
    }
    assert a == b and len(a) == 8
    for cent in a.values():
        for x in cent:
            assert x == round(x, 6)


def test_partitioned_components_matches_generic_cc(spark, sf001_dir):
    """Per-cell union-find must produce EXACTLY the label-propagation
    loop's labels on a real cell-confined graph (the k3 fixed-slice
    near-pair graph): same (doc_id, cluster_id = min reachable id)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    emb = load_table(spark, sf001_dir, "embeddings")
    assigned = similarity.assign_to_centroids(
        emb, similarity.default_centroids(emb)
    ).localCheckpoint(eager=True)
    pairs = similarity.semantic_near_pairs(assigned, threshold=0.35)
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.connected_components(
            pairs, a_col="id_a", b_col="id_b"
        ).collect()
    }
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.partitioned_components(
            pairs, part_col="cell", a_col="id_a", b_col="id_b"
        ).collect()
    }
    assert got == want and want


def test_partitioned_components_long_chain_and_isolation(spark):
    """A long chain inside one cell collapses to min-id in the single
    pass (the case that costs the generic loop O(log d) rounds), and
    components never leak across cells."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    chain = [(1, i, i + 1) for i in range(100, 160)]  # 100-...-160 in cell 1
    other = [(2, 500, 501), (2, 501, 502)]            # separate cell
    pairs = spark.createDataFrame(
        chain + other, "cell long, id_a long, id_b long"
    )
    lbl = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.partitioned_components(pairs).collect()
    }
    assert all(lbl[i] == 100 for i in range(100, 161))
    assert lbl[500] == lbl[501] == lbl[502] == 500
    assert len(lbl) == 64


def test_partitioned_components_hot_group_raises(spark):
    """A partition hotter than max_group_edges must fail LOUDLY (one
    group = one task; a silent OOM is the alternative)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, i, i + 1) for i in range(50)], "cell long, id_a long, id_b long"
    )
    with pytest.raises(Exception, match="max_group_edges"):
        dedup.partitioned_components(pairs, max_group_edges=10).collect()
    # under the bound: fine
    assert dedup.partitioned_components(pairs, max_group_edges=50).count() == 51


def test_kmeans_init_skips_null_vectors(spark):
    """A NULL embedding inside the init prefix must not occupy a dead
    centroid slot: the init pool is the n smallest NON-NULL ids (the
    contract the k3 operator and its DuckDB oracle replay, r13)."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("embedding", ArrayType(FloatType()), True),
        ]
    )
    rows = [
        (i, None if i == 1 else [float(i), 1.0, float(i % 3)])
        for i in range(10)
    ]
    emb = spark.createDataFrame(rows, schema)
    cents = similarity.kmeans_train(emb, n_centroids=4, n_iter=1).collect()
    assert len(cents) == 4
    # slot 2 holds vec_id 2's vector (id 1 is NULL and skipped), not NULL
    by_id = {r["cent_id"]: r["cent_emb"] for r in cents}
    assert all(v is not None for v in by_id.values())


from hypothesis import given, settings
from hypothesis import strategies as st


@pytest.mark.scale
@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),    # cell
            st.integers(min_value=0, max_value=30),   # a
            st.integers(min_value=0, max_value=30),   # b
        ),
        min_size=1,
        max_size=40,
    )
)
def test_partitioned_components_matches_cc_randomized(spark, edges):
    """Randomized parity (the playbook discipline): on ANY cell-confined
    graph -- self-loops, duplicate edges, reversed duplicates included --
    per-cell union-find must equal the generic label loop exactly.
    Vertex ids are made cell-disjoint (cell * 100 + id) so the
    confinement precondition holds by construction."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    rows = [(c, c * 100 + a, c * 100 + b) for c, a, b in edges]
    pairs = spark.createDataFrame(rows, "cell long, id_a long, id_b long")
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.connected_components(
            pairs, a_col="id_a", b_col="id_b"
        ).collect()
    }
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.partitioned_components(pairs).collect()
    }
    assert got == want


def test_kmeans_train_unpersists_on_failure(spark):
    """The Lloyd loop persists its training table; a job failure
    mid-training (poisoned vector column) must still unpersist it
    (try/finally, r14) -- the leaked cache would otherwise pin the
    sample for the rest of the session.  The probe rebuilds the
    identical training plan and asks the cache manager (structural
    lookup via DataFrame.storageLevel) whether it is still cached."""
    base = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    # assert_true(vec_id < 0) raises on the FIRST evaluated row, i.e.
    # inside iteration 1's checkpoint job -- after the persist call.
    # No otherwise() branch: when(p, x).otherwise(x) would let
    # SimplifyConditionals fold the poison away
    poisoned = base.select(
        "vec_id",
        F.when(
            F.assert_true(F.col("vec_id") < 0).isNull(),
            F.col("embedding"),
        ).alias("embedding"),
    )
    with pytest.raises(Exception):
        similarity.kmeans_train(poisoned, n_centroids=2, n_iter=2)
    lvl = similarity._kmeans_training_table(
        poisoned, "embedding", "vec_id"
    ).storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "training table leaked"


def test_kmeans_dead_cell_report(spark):
    """return_report= visibility: a corpus whose two init vectors are
    IDENTICAL empties cluster 2 in every iteration (all assignments tie
    and break to the lowest cent_id), and the report must say so; a
    corpus with genuinely distinct directions reports zero dead cells.
    Carried-forward centroids keep the table at n_centroids rows either
    way (correct Lloyd behavior, now observable)."""
    clustered = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    cents_df, report = similarity.kmeans_train(
        clustered, n_centroids=2, n_iter=3, return_report=True
    )
    cents = cents_df.collect()
    assert report["dead_cells"] == [1, 1, 1]
    assert report["reseeds"] == [0, 0, 0]  # reseed off -> never fires
    assert len(cents) == 2  # the dead slot is carried, not dropped

    spread = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1]), (3, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    _, report2 = similarity.kmeans_train(
        spread, n_centroids=2, n_iter=2, return_report=True
    )
    assert report2["dead_cells"] == [0, 0]


def test_kmeans_reseed_dead_revives_cluster(spark):
    """reseed_dead=True (r14): a dead cluster (duplicate init vectors)
    is re-seeded IN-PLACE from the FURTHEST assigned point (lowest
    elected cosine).  Corpus: ids 0/1 duplicate [1,0] (init makes
    cluster 2 dead on the tie-to-lowest election), id 5 points at [0,1]
    -- the worst-served vector, which must become cluster 2's seed, so
    cluster 2 converges exactly onto the orthogonal direction while
    cluster 1 keeps the [1,0] family.  Contrast documented by the
    no-reseed run on the same corpus: plain Lloyd eventually heals too,
    but only by mean-DRIFT role swapping (cluster 1 drifts toward the
    orthogonal vector and cluster 2 recaptures the majority family) --
    re-seeding repairs in iteration 1 with stable roles instead."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),
            (3, [0.9, 0.1]),
            (5, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents_df, report = similarity.kmeans_train(
        emb, n_centroids=2, n_iter=3, reseed_dead=True, return_report=True
    )
    cents = {r["cent_id"]: list(r["cent_emb"]) for r in cents_df.collect()}
    # iteration 1 reports the pre-reseed dead slot, later rounds are
    # fully served (the reseeded cell captures id 5 immediately)
    assert report["dead_cells"] == [1, 0, 0]
    assert report["reseeds"] == [1, 0, 0]  # the repair fired exactly once
    assert len(cents) == 2
    # cluster 2 sits exactly on the furthest point's direction; cluster
    # 1 holds the majority family's mean
    assert cents[2] == [0.0, 1.0]
    assert [round(x, 6) for x in cents[1]] == [0.975, 0.025]
    # the no-reseed contrast: same corpus, roles SWAPPED by drift --
    # cluster 1 ends on the orthogonal singleton
    cents_off_df, report_off = similarity.kmeans_train(
        emb, n_centroids=2, n_iter=3, return_report=True
    )
    cents_off = {
        r["cent_id"]: list(r["cent_emb"]) for r in cents_off_df.collect()
    }
    assert report_off["dead_cells"] == [1, 0, 0]
    assert cents_off[1] == [0.0, 1.0]


def test_kmeans_reseed_cannot_manufacture_diversity(spark):
    """An all-identical corpus: the furthest point is the same vector,
    the reseeded slot ties back to the lowest cent_id every round, and
    the dead count honestly stays 1 per iteration -- re-seeding repairs
    coverage gaps, it cannot invent directions the data lacks."""
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    cents_df, report = similarity.kmeans_train(
        emb, n_centroids=2, n_iter=2, reseed_dead=True, return_report=True
    )
    cents = cents_df.collect()
    assert report["dead_cells"] == [1, 1]
    # the repair fires every round (a candidate always exists) -- it
    # just cannot invent a direction, so the slot dies again next round
    assert report["reseeds"] == [1, 1]
    assert len(cents) == 2


def test_kmeans_reseed_quantize_grid_and_determinism(spark, sf001_dir):
    """reseed_dead composes with the quantize grid (reseeded centroids
    land on the same 1e-6 grid) and stays run-to-run deterministic."""
    emb = load_table(spark, sf001_dir, "embeddings")

    def train():
        return {
            r["cent_id"]: list(r["cent_emb"])
            for r in similarity.kmeans_train(
                emb, n_centroids=8, n_iter=3, quantize=6, reseed_dead=True
            ).collect()
        }

    a, b = train(), train()
    assert a == b and len(a) == 8
    for cent in a.values():
        for x in cent:
            assert x == round(x, 6)


def test_lsh_band_is_not_a_confining_key(spark):
    """The r14 pl1 investigation's executable negative result: a
    MinHash BAND cannot confine partitioned_components.  Docs 1-2
    collide only in band 10, docs 2-3 only in band 20 -- one true
    component {1,2,3}, but band-keyed union-find labels doc 2 in BOTH
    groups with CONFLICTING labels (the vertex set is not partitioned
    by band: every doc sits in b bands).  LSH-derived graphs must keep
    the generic connected_components loop; see the rejection note in
    dedup.partitioned_components' docstring."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(10, 1, 2), (20, 2, 3)], "band long, id_a long, id_b long"
    )
    generic = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(
            pairs, a_col="id_a", b_col="id_b"
        ).collect()
    }
    assert generic == {1: 1, 2: 1, 3: 1}  # one chained component
    banded = dedup.partitioned_components(pairs, part_col="band").collect()
    labels_for_2 = {r["cluster_id"] for r in banded if r["doc_id"] == 2}
    assert labels_for_2 == {1, 2}, (
        "doc 2 must surface with conflicting per-band labels -- the "
        "confinement precondition is violated, which is the point"
    )


def test_k3_entry_plan_shape(spark, sf001_dir):
    """The k3 entry's executed plan: the only Python stage is the ONE
    grouped-map union-find (FlatMapGroupsInPandas), and no cartesian
    product anywhere (broadcast NLJs of the tiny centroid tables are the
    allowed nested loops)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark import registry

    df = registry.QUERIES["k3_embedding_near_pairs"](spark, sf001_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("FlatMapGroupsInPandas") <= 1

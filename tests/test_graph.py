"""Graph analytics (operators/graph.py): fixed-point PageRank and
degree-oriented triangle counting.

Cross-engine value parity for the d6 ``pagerank``/``triangles`` legs
rides the DuckDB oracle gates; these pin the operator
contract: hand-derived goldens on canonical graphs, the python-replay
parity discipline on randomized graphs, the hub-proof orientation
bound, and the no-cartesian plan shape.
"""

from __future__ import annotations

import itertools
import math
import random
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import graph


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def _edges(spark, pairs):
    return graph.symmetric_edges(_pairs_df(spark, pairs))


# ---------------------------------------------------------------------------
# symmetric_edges
# ---------------------------------------------------------------------------


def test_symmetric_edges_dedup_and_self_loop_drop(spark):
    # duplicate pair, reversed duplicate, and a self-loop
    e = _edges(spark, [(1, 2), (1, 2), (2, 1), (3, 3), (2, 4)])
    got = sorted(map(tuple, e.collect()))
    assert got == [(1, 2), (2, 1), (2, 4), (4, 2)]


# ---------------------------------------------------------------------------
# triangles
# ---------------------------------------------------------------------------


def test_triangle_counts_on_k3_k4_and_path(spark):
    # K3: one triangle, every vertex in it
    k3 = graph.triangle_counts(_edges(spark, [(0, 1), (0, 2), (1, 2)]))
    assert {r["v"]: r["n_tri"] for r in k3.collect()} == {0: 1, 1: 1, 2: 1}
    # K4: 4 triangles, each vertex in 3
    k4_pairs = list(itertools.combinations(range(4), 2))
    k4 = graph.triangle_counts(_edges(spark, k4_pairs))
    assert {r["v"]: r["n_tri"] for r in k4.collect()} == {
        0: 3, 1: 3, 2: 3, 3: 3
    }
    # path graph: no triangles, but every vertex still gets a 0 row
    path = graph.triangle_counts(_edges(spark, [(0, 1), (1, 2), (2, 3)]))
    assert {r["v"]: r["n_tri"] for r in path.collect()} == {
        0: 0, 1: 0, 2: 0, 3: 0
    }


def test_triangles_counted_exactly_once(spark):
    # two triangles sharing an edge: {0,1,2} and {1,2,3}
    tri = graph.triangles(_edges(spark, [(0, 1), (0, 2), (1, 2), (1, 3),
                                         (2, 3)]))
    got = sorted(tuple(sorted((r["x"], r["y"], r["z"])))
                 for r in tri.collect())
    assert got == [(0, 1, 2), (1, 2, 3)]


def test_orientation_bounds_hub_out_degree(spark):
    # star graph: the hub has degree n-1, every leaf degree 1 -> all
    # edges orient leaf -> hub and the hub's oriented OUT-degree is 0,
    # so no wedge join ever fans out of the hub (the scale guarantee)
    n = 30
    star = _edges(spark, [(0, i) for i in range(1, n)])
    o = graph.oriented_edges(star)
    hub_out = o.filter(F.col("u") == 0).count()
    assert hub_out == 0
    assert o.count() == n - 1
    assert graph.triangle_counts(star).filter(
        F.col("n_tri") != 0).count() == 0


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------


def test_pagerank_rejects_zero_iters(spark):
    with pytest.raises(ValueError):
        graph.pagerank(_edges(spark, [(0, 1)]), iters=0)


def test_pagerank_cycle_is_an_exact_fixed_point(spark):
    # cycle: deg=2 everywhere; share = floor(1e6/2) = 5e5; contrib =
    # 2*5e5 = 1e6; update = 150000 + floor(0.85e6) = 1e6 -- the initial
    # mass is EXACTLY stationary, every iteration, in exact integers
    n = 6
    cyc = _edges(spark, [(i, (i + 1) % n) for i in range(n)])
    pr = {r["v"]: r["pr"] for r in graph.pagerank(cyc, iters=3).collect()}
    assert pr == {i: graph.PAGERANK_SCALE for i in range(n)}


def test_pagerank_ranks_the_hub_highest(spark):
    star = _edges(spark, [(0, i) for i in range(1, 8)])
    pr = {r["v"]: r["pr"] for r in graph.pagerank(star).collect()}
    leaves = {v: p for v, p in pr.items() if v != 0}
    assert pr[0] > max(leaves.values())
    # leaves are symmetric -> identical integer scores
    assert len(set(leaves.values())) == 1


# ---------------------------------------------------------------------------
# python-replay parity on randomized graphs (the linkage discipline)
# ---------------------------------------------------------------------------


def _py_pagerank(sym, iters):
    deg = Counter(a for a, _ in sym)
    pr = {v: graph.PAGERANK_SCALE for v in deg}
    for _ in range(iters):
        contrib = Counter()
        for a, b in sym:
            contrib[b] += int(math.floor(pr[a] / deg[a]))
        pr = {
            v: int(graph.PAGERANK_BASE
                   + math.floor(graph.PAGERANK_DAMPING * c))
            for v, c in contrib.items()
        }
    return pr


def _py_triangles(sym):
    adj = defaultdict(set)
    for a, b in sym:
        adj[a].add(b)
    cnt = Counter({v: 0 for v in adj})
    for x, y, z in itertools.combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            cnt[x] += 1
            cnt[y] += 1
            cnt[z] += 1
    return dict(cnt)


@pytest.mark.scale
@pytest.mark.parametrize("n,p,seed", [(8, 0.5, 1), (20, 0.2, 2),
                                      (30, 0.12, 3)])
def test_randomized_graphs_match_python(spark, n, p, seed):
    rng = random.Random(seed)
    pairs = [(i, j) for i in range(n) for j in range(i + 1, n)
             if rng.random() < p]
    sym = sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    edges = _edges(spark, pairs)
    got_pr = {r["v"]: r["pr"] for r in graph.pagerank(edges).collect()}
    assert got_pr == _py_pagerank(sym, graph.PAGERANK_ITERS)
    got_tri = {r["v"]: r["n_tri"]
               for r in graph.triangle_counts(edges).collect()}
    assert got_tri == _py_triangles(sym)


def test_pagerank_mass_is_conserved_up_to_floor_loss(spark):
    # each iteration loses < deg(u) micro-units per vertex to the share
    # floor and < 1 to the damping floor -- total drift stays tiny
    rng = random.Random(11)
    pairs = [(i, j) for i in range(25) for j in range(i + 1, 25)
             if rng.random() < 0.2]
    edges = _edges(spark, pairs)
    n = graph.vertex_table(edges).count()
    total = graph.pagerank(edges).agg(F.sum("pr")).collect()[0][0]
    assert total <= n * graph.PAGERANK_SCALE
    assert total >= n * graph.PAGERANK_SCALE - graph.PAGERANK_ITERS * (
        2 * len(pairs) + 2 * n
    )


def test_pagerank_keepers_elect_max_pr_min_id(spark):
    # two clusters: a star {0..4} hub 0 (hub gets the highest pr) and
    # a triangle {10,11,12} (symmetric -> identical pr, tie -> min id)
    pairs = [(0, i) for i in range(1, 5)] + [(10, 11), (10, 12), (11, 12)]
    edges = _edges(spark, pairs)
    comps = spark.createDataFrame(
        [(v, 0) for v in range(5)] + [(v, 10) for v in (10, 11, 12)],
        "doc_id long, cluster_id long",
    )
    got = {
        r["cluster_id"]: r["keeper"]
        for r in graph.pagerank_keepers(graph.pagerank(edges), comps).collect()
    }
    assert got == {0: 0, 10: 10}


def test_pagerank_keepers_keep_unranked_singleton_clusters(spark):
    # a components map wider than the ranked graph: singleton cluster
    # {99} has no edges, so no pr row -- it must still elect its sole
    # member (min-id election as the degenerate case), never vanish
    edges = _edges(spark, [(1, 2)])
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (99, 99)], "doc_id long, cluster_id long"
    )
    rows = {
        r["cluster_id"]: (r["keeper"], r["pr"])
        for r in graph.pagerank_keepers(graph.pagerank(edges), comps).collect()
    }
    assert set(rows) == {1, 99}
    assert rows[99] == (99, None)
    assert rows[1][0] == 1 and rows[1][1] is not None


# ---------------------------------------------------------------------------
# degenerate graphs
# ---------------------------------------------------------------------------


def test_empty_pair_table_yields_empty_everything(spark):
    e = _edges(spark, [])
    assert e.count() == 0
    assert graph.pagerank(e).count() == 0
    assert graph.triangle_counts(e).count() == 0


def test_single_edge_graph(spark):
    # K2: deg=1 both sides; pr stays at SCALE (share=1e6, update =
    # 150000 + floor(0.85e6) = 1e6); no triangles but both get 0 rows
    e = _edges(spark, [(7, 9)])
    assert {r["v"]: r["pr"] for r in graph.pagerank(e).collect()} == {
        7: graph.PAGERANK_SCALE, 9: graph.PAGERANK_SCALE
    }
    assert {r["v"]: r["n_tri"] for r in graph.triangle_counts(e).collect()} \
        == {7: 0, 9: 0}


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------


def test_graph_plans_are_cartesian_free(spark):
    edges = _edges(spark, [(i, i + 1) for i in range(10)] + [(0, 5)])
    for df in (graph.pagerank(edges), graph.triangle_counts(edges)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

"""Graph analytics over derived similarity graphs: exact fixed-point
PageRank and degree-oriented triangle counting.

The reference workload (a HiveQL analytics script; REF:1-389) has no
graph surface -- this module is extension surface for the pipeline
stage that CONSUMES the dedup pair graphs the repo already builds:
near-dup pair tables (d4/d6), fuzzy-linkage match graphs, citation/link
graphs.  PageRank ranks cluster members for canonical-document election
(a principled alternative to min-id keeper election); per-vertex
triangle counts measure local clustering density, separating tight
near-dup cliques from chains of borderline matches (a chain of
threshold-grazing pairs has zero triangles; a true duplicate cluster is
triangle-dense).

Cross-engine exactness discipline (the repo's house rule -- every
number either exact integer arithmetic or ONE shared double expression
both engines evaluate verbatim):

* PageRank rides BIGINT micro-units (PAGERANK_SCALE = 1e6, the bm25
  micro-sum convention).  Each iteration's per-edge share and per-node
  update are the shared expressions PR_SHARE_EXPR / PR_UPDATE_EXPR --
  double division + floor + BIGINT cast, identical IEEE-754 ops on
  identical values in Spark and DuckDB, so the integers agree exactly.
  The floor(double) step is exact while pr < 2^53; pr is bounded by
  the total mass V * SCALE, so the bound holds to ~9e9 vertices --
  raise SCALE awareness before a larger graph, not a wider type.
* Triangle counts are plain exact integers.

Scale design (the 100-TB posture):

* PageRank is V-sized state + one E-sized join per iteration -- the
  irreducible PageRank shape.  The rank table never leaves the
  executors; iterations are bounded by ``iters`` (fixed, so the DuckDB
  oracle unrolls the same chain).  Callers materialize the edge list
  once (d6 checkpoints its pair table); the per-iteration lineage is
  ``iters`` joins deep, bounded and small.
* Triangle counting uses the degree-ordered orientation (order edges
  from the (deg, id)-smaller endpoint to the larger -- Chiba-Nishizeki;
  the standard distributed formulation is Suri & Vassilvitskii 2011's
  MR-node-iterator): every triangle is counted exactly once at its
  (deg, id)-minimal apex, and each vertex's oriented out-degree is
  O(sqrt(E)), so the wedge join never explodes on a high-degree hub --
  the same hot-key bound the d4 gram cap and the linkage max_block
  enforce by dropping; here the orientation provides it for free.

No RDDs, no UDFs, no collects: equi-joins + hash aggregates end to
end, all JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: PageRank fixed-point geometry: micro-unit scale (the bm25 micro-sum
#: convention), damping factor, and the per-node base mass
#: (1 - damping) * SCALE.  BASE is a literal, not a float product --
#: (1 - 0.85) * 1e6 evaluates to 150000.00000000003 in binary floats,
#: and the DataFrame operator and the DuckDB oracle must embed the same
#: exact integer.
PAGERANK_SCALE = 1_000_000
PAGERANK_DAMPING = 0.85
PAGERANK_BASE = 150_000
PAGERANK_ITERS = 5

#: per-edge share: the mass vertex ``pr`` pushes along one of its
#: ``deg`` edges.  ONE spelling, evaluated verbatim by the DataFrame
#: operator and the DuckDB oracle (identical IEEE double division +
#: floor on both engines -> identical BIGINT).
PR_SHARE_EXPR = "CAST(floor(CAST(pr AS DOUBLE) / deg) AS BIGINT)"

#: per-node update from the summed incoming shares (column ``contrib``).
PR_UPDATE_EXPR = (
    f"CAST({PAGERANK_BASE} + floor({PAGERANK_DAMPING!r} * contrib)"
    " AS BIGINT)"
)


def symmetric_edges(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Distinct symmetric edge list ``(a, b)`` from an undirected pair
    table (each pair emitted in both directions; self-loops dropped)."""
    fwd = pairs.select(F.col(a).alias("a"), F.col(b).alias("b"))
    rev = pairs.select(F.col(b).alias("a"), F.col(a).alias("b"))
    return fwd.unionByName(rev).filter(F.col("a") != F.col("b")).distinct()


def degree_table(edges: DataFrame) -> DataFrame:
    """Per-vertex degree ``(v, deg)`` over a symmetric edge list."""
    return edges.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )


def vertex_table(edges: DataFrame) -> DataFrame:
    """Distinct vertices ``(v)`` of a symmetric edge list."""
    return edges.select(F.col("a").alias("v")).distinct()


def pagerank(
    edges: DataFrame,
    iters: int = PAGERANK_ITERS,
) -> DataFrame:
    """Fixed-iteration PageRank in exact BIGINT micro-units:
    ``(v, pr)`` with pr summing to ~V * PAGERANK_SCALE (floor losses
    only).  ``edges`` must be a SYMMETRIC edge list (symmetric_edges),
    so every vertex has out-degree >= 1 and there is no dangling mass.

    Each iteration: pr'(v) = BASE + floor(damping * sum over in-edges
    (u, v) of floor(pr(u) / deg(u))) -- the power-iteration update
    (Page et al. 1999) with every fractional step pinned to the shared
    PR_SHARE_EXPR / PR_UPDATE_EXPR spellings, so the DuckDB oracle's
    unrolled chain reproduces the integers exactly.

    Scale: the rank table is V-sized; each iteration is one E-sized
    equi-join + hash aggregate (partial aggregation map-side).  The
    plan is ``iters`` joins deep -- bounded; callers materialize the
    edge list once upstream.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    deg = degree_table(edges)
    # state carries (v, deg, pr) so the per-iteration share join is a
    # single equi-join on the edge tail (deg rides along instead of
    # re-joining the degree table against its own lineage every round)
    state = deg.select(
        "v", "deg", F.lit(PAGERANK_SCALE).cast("long").alias("pr")
    )
    for _ in range(iters):
        # unqualified column references + a renamed join key throughout:
        # from iteration 2 on, ``edges`` is an ancestor of ``state``,
        # and dataset-qualified refs (edges["a"]) would trip the
        # ambiguous-self-join detector on that shared lineage
        src = state.select(
            F.col("v").alias("src"), F.col("deg").alias("deg"),
            F.col("pr").alias("pr"),
        )
        contrib = (
            edges.join(src, F.col("a") == F.col("src"))
            .select(
                F.col("b").alias("dst"),
                F.expr(PR_SHARE_EXPR).alias("share"),
            )
            .groupBy(F.col("dst"))
            .agg(F.sum("share").alias("contrib"))
        )
        state = deg.join(contrib, F.col("v") == F.col("dst")).select(
            "v", "deg", F.expr(PR_UPDATE_EXPR).alias("pr")
        )
    return state.select("v", "pr")


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Degree-ordered orientation ``(u, v, dv)`` of a symmetric edge
    list: each undirected edge kept once, directed from its
    (deg, id)-smaller endpoint to the larger; ``dv`` carries the head's
    degree so downstream wedge joins can re-apply the same total order
    without another degree join.  Max out-degree is O(sqrt(E)) -- the
    hub-proof bound triangle counting relies on."""
    deg = degree_table(edges)
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    return (
        edges.join(da, "a")
        .join(db, "b")
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("u"), F.col("b").alias("v"),
                F.col("db").alias("dv"))
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Distinct triangles ``(x, y, z)`` of a symmetric edge list, each
    emitted exactly once with x -> y -> z in (deg, id) order: wedges at
    the minimal apex (pairs of its oriented out-neighbors, ordered by
    the same total order) closed by the oriented (y, z) edge."""
    o = oriented_edges(edges)
    # every column re-aliased so the o1/o2 self-join carries fresh
    # attribute ids (the USING-join-on-shared-lineage trap)
    o1 = o.select(F.col("u").alias("u"), F.col("v").alias("y"),
                  F.col("dv").alias("dy"))
    o2 = o.select(F.col("u").alias("u"), F.col("v").alias("z"),
                  F.col("dv").alias("dz"))
    wedges = o1.join(o2, "u").filter(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    close = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    return wedges.join(close, ["y", "z"]).select(
        F.col("u").alias("x"), "y", "z"
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts ``(v, n_tri)`` over every vertex of
    the graph (vertices in no triangle carry 0) -- the local clustering
    signal: near-dup CLIQUES are triangle-dense, chains of borderline
    pairs are triangle-free."""
    tri = triangles(edges)
    members = (
        tri.select(F.col("x").alias("v"))
        .unionByName(tri.select(F.col("y").alias("v")))
        .unionByName(tri.select(F.col("z").alias("v")))
    )
    cnt = members.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("n_tri")
    )
    return (
        vertex_table(edges)
        .join(cnt, "v", "left")
        .select("v", F.coalesce("n_tri", F.lit(0).cast("long")).alias("n_tri"))
    )


def pagerank_keepers(
    ranks: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Elect each cluster's canonical member by PageRank: the
    user-facing verb of this module (the docstring's "principled
    alternative to min-id keeper election", made runnable).

    ``ranks`` = ``(v, pr)`` from :func:`pagerank`; ``components`` =
    the per-vertex cluster map (e.g. connected components over the
    same pair graph).  Output: ``(cluster_id, keeper, pr)`` -- the
    max-``pr`` member per cluster, ties broken by min id, so the
    election is deterministic in exact integers on every engine.

    The ranks join is LEFT (r17 review): a components map may cover
    members outside the ranked graph (singleton clusters; a full
    per-document map), and an inner join would silently elect nobody
    for those clusters -- exactly the keeper a keep-list pipeline must
    not lose.  Unranked members sort after ranked ones (NULLS LAST,
    spelled explicitly on both engines), so such a cluster elects its
    min-id member with ``pr`` NULL -- min-id election as the
    degenerate case, which is the status quo it replaces.

    Scale: one equi-join + one window partitioned by cluster --
    partitions are cluster-sized (bounded by the dup-cluster cap any
    sane pipeline enforces upstream), never a global sort.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("pr").desc_nulls_last(), F.col("keeper").asc()
    )
    return (
        components.select(
            F.col(id_col).alias("keeper"),
            F.col(cluster_col).alias("cluster_id"),
        )
        .join(ranks, F.col("keeper") == F.col("v"), "left")
        .select("cluster_id", "keeper", "pr")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", "keeper", "pr")
    )


# ---------------------------------------------------------------------------
# Oracle SQL: the same computation as CTE text, assuming
# CTEs/relations ``edges(a, b)`` (symmetric, distinct) and ``verts(v)``
# already exist.  The d6 DuckDB oracle embeds this text verbatim (the
# PMI_EXPR discipline).
# ---------------------------------------------------------------------------


def graph_sql_ctes(iters: int = PAGERANK_ITERS) -> str:
    """CTE chain: degree, orientation, triangles, per-vertex counts,
    and the unrolled pr0..pr{iters} PageRank chain (fixed iteration
    count is what makes the oracle single-statement-expressible)."""
    ctes = [
        """gdeg AS (
      SELECT a AS v, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a
    )""",
        """gornt AS (
      SELECT e.a AS u, e.b AS v, db.deg AS dv
      FROM edges e
      JOIN gdeg da ON da.v = e.a
      JOIN gdeg db ON db.v = e.b
      WHERE da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
    )""",
        """gtri AS (
      SELECT o1.u AS x, o1.v AS y, o2.v AS z
      FROM gornt o1
      JOIN gornt o2 ON o1.u = o2.u
        AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
      JOIN gornt o3 ON o3.u = o1.v AND o3.v = o2.v
    )""",
        """gtcnt AS (
      SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
        SELECT x AS v FROM gtri
        UNION ALL SELECT y AS v FROM gtri
        UNION ALL SELECT z AS v FROM gtri
      ) GROUP BY v
    )""",
        f"""gpr0 AS (
      SELECT v, CAST({PAGERANK_SCALE} AS BIGINT) AS pr FROM gdeg
    )""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""gpr{i} AS (
      SELECT v, {PR_UPDATE_EXPR} AS pr
      FROM (
        SELECT e0.b AS v, sum({PR_SHARE_EXPR}) AS contrib
        FROM edges e0
        JOIN gpr{i - 1} p ON e0.a = p.v
        JOIN gdeg d ON d.v = e0.a
        GROUP BY e0.b
      )
    )"""
        )
    return ",\n    ".join(ctes)


def pr_keeper_sql(iters: int = PAGERANK_ITERS) -> str:
    """The :func:`pagerank_keepers` election as SQL over a components
    relation ``comp(doc_id, cluster_id)`` and the ``gpr{iters}`` CTE
    from :func:`graph_sql_ctes`: one row per cluster, ``(doc_id,
    cluster_id)`` = the max-pr member (ties -> min id; LEFT join +
    explicit NULLS LAST so unranked members elect by min id, mirroring
    the DataFrame operator)."""
    return f"""SELECT doc_id, cluster_id FROM (
      SELECT comp.doc_id AS doc_id, comp.cluster_id AS cluster_id,
             row_number() OVER (PARTITION BY comp.cluster_id
                                ORDER BY p.pr DESC NULLS LAST,
                                         comp.doc_id) AS rn
      FROM comp LEFT JOIN gpr{iters} p ON p.v = comp.doc_id
    ) WHERE rn = 1"""

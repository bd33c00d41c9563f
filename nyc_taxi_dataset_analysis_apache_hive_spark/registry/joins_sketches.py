"""As-of join (x1), salted skew join (x2), the sketch surface (a10: HLL/theta/KLL/incremental/frequent/ks_drift), and the join evidence surface (j5: broadcast/bucket/zorder legs).

Split out of the monolithic registry.py in round 8 (registration
order preserved by the package __init__; see its docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import caching
from ..functions.text import (
    TOKEN_SPLIT_REGEX,
    ngrams_from_tokens,
    tokens,
)
from ..operators import (
    asof,
    incremental,
    linkage,
    sketches,
    skew,
)
from .base import (
    register,
    register_legs,
    _t,
)
from .events_dedup import _TOKS_SRC_CTE




# ---------------------------------------------------------------------------
# Time-series as-of join + skew-mitigation operators
# ---------------------------------------------------------------------------


@register(
    "x1_asof_join",
    """
    WITH clicks AS (
      SELECT user_id, ts, arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT user_id, ts, event_id, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.ts, p.event_id,
           round(p.value, 2) AS purchase_value,
           round(c.click_value, 2) AS click_value_asof
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts > c.ts
    """,
)
def x1_asof_join(spark, sf):
    """As-of join: each purchase gets the user's latest strictly-preceding
    click value.  Spark has no built-in ASOF; implemented as union +
    carry-forward window (operators/asof.py) -- one shuffle, no per-key
    pair explosion.  DuckDB's native ASOF JOIN is the oracle."""
    ev = _t(spark, sf, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof.asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_value"],
        strict=True,
    )
    return out.select(
        "user_id",
        "ts",
        "event_id",
        F.round("value", 2).alias("purchase_value"),
        F.round("click_value_asof", 2).alias("click_value_asof"),
    )


@register(
    "x2_salted_join_agg",
    """
    SELECT l.event_type, r.type_rank, count(*) AS n_rows,
           round(sum(l.value), 2) AS sum_value
    FROM events l JOIN (
      -- NULLS FIRST: Hive/Spark rank NULL keys first in ASC order,
      -- DuckDB defaults to NULLS LAST -- the oracle replicates the
      -- engine's semantics explicitly (r9 adversarial sweep)
      SELECT event_type,
             CAST(row_number() OVER (ORDER BY event_type NULLS FIRST)
               AS BIGINT) AS type_rank
      FROM (SELECT DISTINCT event_type FROM events)
    ) r USING (event_type)
    GROUP BY l.event_type, r.type_rank
    """,
)
def x2_salted_join_agg(spark, sf):
    """The skew-mitigation pipeline on the 5-hot-key event_type column:
    salted inner join (left salts via hash(event_id), right dim replicates
    8x) feeding a two-phase salted aggregation (hot keys fan out over 8
    salt reducers before the tiny final agg).  Bit-identical to the plain
    join + GROUP BY oracle -- the salt only reshapes the shuffle
    histogram.  Salted-vs-unsalted equality for each operator alone is
    pytest-gated (tests/test_asof_skew.py)."""
    ev = _t(spark, sf, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            # explicit NULLS FIRST (Spark's ASC default, but the NULL
            # placement is part of the cross-engine contract -- see the
            # oracle comment)
            F.row_number()
            .over(Window.orderBy(F.col("event_type").asc_nulls_first()))
            .cast("long")
            .alias("type_rank"),
        )
    )
    joined = skew.salted_join(
        ev.select("event_id", "event_type", "value"),
        dim,
        on="event_type",
        salt_from="event_id",
        n_salts=8,
    )
    return skew.salted_group_count_sum(
        joined,
        key=["event_type", "type_rank"],
        value="value",
        salt_from="event_id",
        n_salts=8,
    )


#: CMS geometry interpolated into the a10 oracle (one definition:
#: operators.sketches) -- plus the e literal both engines fold for the
#: in-plane bound.
_CMS_D = int(sketches.CMS_DEPTH)
_CMS_W = int(sketches.CMS_WIDTH)

@register(
    "a10_distinct_counts",
    f"""
    SELECT 'exact_by_flag' AS op, l_returnflag AS key,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_exact,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part,
           true AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'sketch_rollup' AS op,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS key,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           CAST(NULL AS BIGINT) AS n_part,
           true AS approx_ok
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'theta_overlap' AS op, k.key,
           CASE k.key WHEN 'src0' THEN s.n_a WHEN 'src1' THEN s.n_b
                      WHEN 'src0&src1' THEN s.n_inter
                      ELSE s.n_union END AS n_exact,
           CAST(NULL AS BIGINT) AS n_part, true AS approx_ok
    FROM (
      WITH {_TOKS_SRC_CTE},
      shx AS (SELECT DISTINCT source, unnest(sh) AS s FROM gsrc),
      flags AS (
        SELECT s, max(source = 'src0') AS in_a, max(source = 'src1') AS in_b
        FROM shx GROUP BY s
      )
      SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inter,
             CAST(count(*) AS BIGINT) AS n_union
      FROM flags
    ) s
    CROSS JOIN (VALUES ('src0'), ('src1'), ('src0&src1'), ('src0|src1'))
      AS k(key)
    UNION ALL
    SELECT 'kll_rank' AS op, k.key,
           CASE k.key WHEN 'n' THEN s.n ELSE s.n_le END AS n_exact,
           CAST(NULL AS BIGINT) AS n_part, true AS approx_ok
    FROM (
      SELECT CAST(count(value) AS BIGINT) AS n,
             CAST(count(*) FILTER (value <= 35.0) AS BIGINT) AS n_le
      FROM events
    ) s
    CROSS JOIN (VALUES ('n'), ('value<=35')) AS k(key)
    UNION ALL
    SELECT 'incremental' AS op,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS key,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           CAST(NULL AS BIGINT) AS n_part,
           true AS approx_ok
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'frequent' AS op,
           concat('etype:', CAST(event_type AS VARCHAR)) AS key,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM events WHERE event_type IS NOT NULL)
             AS BIGINT) AS n_part,
           true AS approx_ok
    FROM events WHERE event_type IS NOT NULL GROUP BY event_type
    HAVING count(*) > (SELECT count(*) FROM events
                       WHERE event_type IS NOT NULL) * 0.05
    UNION ALL
    SELECT 'frequent' AS op, concat('token:', t.key) AS key,
           CAST(t.cnt AS BIGINT) AS n_exact,
           CAST(t.n AS BIGINT) AS n_part, true AS approx_ok
    FROM (
      WITH w AS (
        SELECT unnest(list_filter(
                 string_split_regex(lower(text), '{TOKEN_SPLIT_REGEX}'),
                 x -> x <> '')) AS key
        FROM documents
      )
      SELECT key, count(*) AS cnt, (SELECT count(*) FROM w) AS n
      FROM w GROUP BY key HAVING count(*) > (SELECT count(*) FROM w) * 0.02
    ) t
    UNION ALL
    -- two-sample KS drift (r7): exact statistic in micro-units; the
    -- KLL-sketch statistic is engine-specific, so it is gated in-plane
    -- (approx_ok) like every other estimate leg
    SELECT 'ks_drift' AS op, g1 || '|' || g2 AS key,
           CAST(floor(ks * 1000000.0 + 1e-9) AS BIGINT) AS n_exact,
           n_grid AS n_part, true AS approx_ok
    FROM (
      WITH kcounts AS (
        SELECT l_returnflag AS g, l_quantity AS v, count(*) AS c
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        GROUP BY 1, 2
      ),
      kgrid AS (
        SELECT v, g FROM (SELECT DISTINCT v FROM kcounts)
        CROSS JOIN (SELECT DISTINCT g FROM kcounts)
      ),
      ktot AS (
        SELECT g, CAST(sum(c) AS DOUBLE) AS n FROM kcounts GROUP BY g
      ),
      kfr AS (
        SELECT kgrid.g, kgrid.v,
               sum(coalesce(c, 0)) OVER (PARTITION BY kgrid.g
                 ORDER BY kgrid.v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / n AS f
        FROM kgrid
        LEFT JOIN kcounts ON kgrid.g = kcounts.g AND kgrid.v = kcounts.v
        JOIN ktot ON kgrid.g = ktot.g
      )
      SELECT a.g AS g1, b.g AS g2, max(abs(a.f - b.f)) AS ks,
             CAST(count(*) AS BIGINT) AS n_grid
      FROM kfr a JOIN kfr b ON a.v = b.v AND a.g < b.g
      GROUP BY a.g, b.g
    )
    UNION ALL
    -- portable Count-Min (r15): both engines build the SAME md5-hashed
    -- counters, so the estimate value-hashes; the e*N/width guarantee
    -- is gated in-plane on the Spark side (oracle expects true)
    SELECT 'cms' AS op, concat('etype:', t.k) AS key,
           t.n_exact, t.est AS n_part, true AS approx_ok
    FROM (
      WITH ev AS (SELECT CAST(event_type AS VARCHAR) AS k FROM events
                  WHERE event_type IS NOT NULL),
      rr AS (SELECT unnest(range(0, {_CMS_D})) AS r),
      cms AS (
        SELECT r, CAST('0x' || substr(md5('cms' || CAST(r AS VARCHAR)
                    || ':' || k), 1, 15) AS BIGINT) % {_CMS_W} AS b,
               CAST(count(*) AS BIGINT) AS cnt
        FROM ev CROSS JOIN rr GROUP BY 1, 2
      ),
      hot AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_exact
        FROM ev GROUP BY k
        HAVING count(*) > (SELECT count(*) FROM ev) * 0.05
      ),
      probe AS (
        SELECT hot.k, rr.r,
               CAST('0x' || substr(md5('cms' || CAST(rr.r AS VARCHAR)
                    || ':' || hot.k), 1, 15) AS BIGINT) % {_CMS_W} AS b
        FROM hot CROSS JOIN rr
      ),
      est AS (
        SELECT probe.k, CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est
        FROM probe LEFT JOIN cms ON probe.r = cms.r AND probe.b = cms.b
        GROUP BY probe.k
      )
      SELECT hot.k, hot.n_exact, est.est FROM hot JOIN est USING (k)
    ) t
    UNION ALL
    SELECT 'cms' AS op, concat('token:', t.k) AS key,
           t.n_exact, t.est AS n_part, true AS approx_ok
    FROM (
      WITH w AS (
        SELECT unnest(list_filter(
                 string_split_regex(lower(text), '{TOKEN_SPLIT_REGEX}'),
                 x -> x <> '')) AS k
        FROM documents
      ),
      rr AS (SELECT unnest(range(0, {_CMS_D})) AS r),
      cms AS (
        SELECT r, CAST('0x' || substr(md5('cms' || CAST(r AS VARCHAR)
                    || ':' || k), 1, 15) AS BIGINT) % {_CMS_W} AS b,
               CAST(count(*) AS BIGINT) AS cnt
        FROM w CROSS JOIN rr GROUP BY 1, 2
      ),
      hot AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_exact
        FROM w GROUP BY k
        HAVING count(*) > (SELECT count(*) FROM w) * 0.02
      ),
      probe AS (
        SELECT hot.k, rr.r,
               CAST('0x' || substr(md5('cms' || CAST(rr.r AS VARCHAR)
                    || ':' || hot.k), 1, 15) AS BIGINT) % {_CMS_W} AS b
        FROM hot CROSS JOIN rr
      ),
      est AS (
        SELECT probe.k, CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est
        FROM probe LEFT JOIN cms ON probe.r = cms.r AND probe.b = cms.b
        GROUP BY probe.k
      )
      SELECT hot.k, hot.n_exact, est.est FROM hot JOIN est USING (k)
    ) t
    """,
)
def a10_distinct_counts(spark, sf):
    """Distinct-count / sketch surface, tagged union of the 100-TB
    strategies (operators/sketches.py):

    - ``op='exact_by_flag'``: exact multi-column COUNT(DISTINCT) by key
      (expand + two-phase agg -- Catalyst's RewriteDistinctAggregates)
      alongside approx_count_distinct (HyperLogLog++, single-pass).
    - ``op='sketch_rollup'``: the incremental-OLAP path -- persistable
      per-day DataSketches HLL sketches whose estimates answer
      distinct-counts without rescanning raw data; mergeable across
      arbitrary period ranges.
    - ``op='theta_overlap'``: theta-sketch set algebra -- per-source
      3-gram-shingle sketches answer |A|, |B|, |A∩B|, |A∪B| for the
      src0/src1 corpus pair with no join over the shingle universe (the
      corpus-contamination question at 100 TB).  ``n_exact`` is the exact
      relational answer (one shuffle on the shingle key); ``approx_ok``
      gates the theta estimate against it in-plane.
    - ``op='kll_rank'``: mergeable KLL quantile sketches -- per-day
      rollups merged to answer "how many values ≤ 35" and the exact item
      count; gated against the exact filter count in-plane.
    - ``op='incremental'``: the incremental-ingest maintenance property
      (operators/incremental.merge_hll_rollup) -- two disjoint
      half-batches rolled up independently then MERGED must estimate
      inside the exact count's band (the 100-TB never-rescan-history
      invariant: maintained state answers as accurately as a rebuild).
      The gate is deliberately NOT merged == rebuilt: once a sketch
      crosses out of exact/sparse mode the union may differ from a
      one-shot sketch by its normal error (both stay inside the band --
      observed at sf0.1's ~1.3k/day cardinality); exact-mode merge
      equality is pytest-gated at the cardinalities where it holds
      (tests/test_incremental.py).
    - ``op='frequent'`` (r7): frequent items -- EXACT phi-heavy hitters
      (event types at phi=0.05, document tokens at phi=0.02) computed by
      the per-partition weighted Misra-Gries candidate pass + broadcast
      exact recount (sketches.heavy_hitters).  Unlike the estimate legs
      these rows are exact by construction (the sketch prunes, it never
      approximates the answer), so they carry full value equality against
      the GROUP BY / HAVING oracle rather than an approx band.
    - ``op='ks_drift'`` (r7): two-sample Kolmogorov-Smirnov drift between
      return-flag cohorts on l_quantity (sketches.ks_drift) -- the
      distribution-shift monitor an ingest pipeline runs between
      cohorts/time slices.  The EXACT statistic (ratios of exact counts,
      so it value-hashes in micro-units) rides n_exact; the production
      path -- one mergeable KLL sketch per cohort, CDF probed at 50
      fixed grid literals -- is engine-specific and gated in-plane
      (|sketch - exact| <= 0.05 absolute).

    Estimates are engine-specific, so every sketch is validated IN-PLANE:
    ``approx_ok`` asserts each estimate lands within tolerance (5% HLL,
    2% theta/KLL) of the exact count and the oracle expects ``true`` --
    sketch accuracy is driver-gated, not just pytest-gated."""
    li = _t(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_exact"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("n_approx"),
    )
    ok = F.abs(F.col("n_approx") - F.col("n_exact")) <= F.greatest(
        0.05 * F.col("n_exact"), F.lit(2)
    )
    exact_leg = agg.select(
        F.lit("exact_by_flag").alias("op"),
        F.col("l_returnflag").alias("key"),
        "n_exact",
        "n_part",
        ok.alias("approx_ok"),
    )

    ev = _t(spark, sf, "events")
    # ONE events-by-day aggregate feeds the sketch_rollup leg (estimate
    # AND its exact gate -- previously a join of two separate day
    # shuffles), the KLL leg's per-day sketches and exact counts, and
    # the incremental leg's exact side (r18, guide §2.4 shared
    # exchange): events is scanned+shuffled once on the day key
    # instead of three times.  Sketch values are unchanged: HLL
    # registers max-merge (order-free), and the KLL column is the same
    # kll_sketch_agg_double over the same rows -- mixing in
    # countDistinct only adds Catalyst's Expand around the partial
    # aggregation (the exact_by_flag posture: one scan + Expand beats
    # N scans at 100 TB).  A LAZY localCheckpoint: an eager cut's
    # barrier job cost 0.7-1.3 s per call at sf0.1 (32- and 4-core
    # boxes), the lazy one measured flat against persist().  Not
    # persist(): AQE plans each of the six readers of a cached frame as
    # its own table-cache stage, and each submits a build job unless
    # the cache has already loaded, so the job count raced (70 or 65 at
    # sf0.001).  The lazy cut's readers are plain RDD scans: the same
    # jobs and stages on every call.
    day_agg = ev.groupBy(F.date_trunc("day", "ts").alias("period")).agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.hll_sketch_agg(F.col("user_id"), F.lit(12)).alias("sketch"),
        F.kll_sketch_agg_double(
            F.col("value").cast("double"), F.lit(200)
        ).alias("ksk"),
        F.count("value").alias("n_val"),
        F.count(F.when(F.col("value") <= 35.0, 1)).alias("n_le"),
    ).localCheckpoint(eager=False)
    exact_day = day_agg.select("period", "n_exact")
    ok_day = F.abs(F.col("n_distinct_est") - F.col("n_exact")) <= F.greatest(
        0.05 * F.col("n_exact"), F.lit(2)
    )
    # the NOT NULL filter preserves the old est-JOIN-exact_day
    # semantics exactly: a NULL-ts row's NULL period group never
    # matched itself across that join, so it never reached the leg
    rollup_leg = day_agg.filter(F.col("period").isNotNull()).select(
        "period",
        "n_exact",
        F.hll_sketch_estimate("sketch").alias("n_distinct_est"),
    ).select(
        F.lit("sketch_rollup").alias("op"),
        F.date_format("period", "yyyy-MM-dd").alias("key"),
        "n_exact",
        F.lit(None).cast("long").alias("n_part"),
        ok_day.alias("approx_ok"),
    )

    # theta set-algebra leg: per-source shingle sketches vs the exact
    # relational answer (one shuffle on the shingle key; both single-row
    # sides of the final combine are trivial broadcasts)
    docs = _t(spark, sf, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    # shx feeds BOTH the exact flags side and the theta rollup; their
    # aggregate keys differ (s vs (source, s)) so exchange reuse cannot
    # share the tokenize -> explode -> distinct subtree and it plans
    # twice.  Measured verdict: leave it -- the two subtrees are
    # independent stages of ONE job, so the scheduler runs them
    # concurrently on the underutilized local[32] and the redundancy
    # costs no wall-clock (an eager materialization measured SLOWER,
    # 4.1 vs 3.6 s single-shot, by serializing them + paying the write).
    # On a saturated 1000-executor cluster the duplicate pass is real
    # cost: persist() the subtree there (minhash_lsh_pairs measured the
    # same trade for its shingle sets: a wash locally).
    shx = (
        docs.select("source", tokens("text").alias("toks"))
        .select(
            "source",
            F.explode(ngrams_from_tokens(F.col("toks"), 3)).alias("s"),
        )
        .distinct()
    )
    flags = shx.groupBy("s").agg(
        F.max(F.col("source") == "src0").alias("in_a"),
        F.max(F.col("source") == "src1").alias("in_b"),
    )
    exact_sets = flags.agg(
        F.sum(F.col("in_a").cast("long")).alias("x_a"),
        F.sum(F.col("in_b").cast("long")).alias("x_b"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("long")).alias("x_inter"),
        F.count(F.lit(1)).alias("x_union"),
    )
    est_sets = sketches.set_overlap(
        sketches.theta_rollup(shx, "source", "s"), "src0", "src1"
    )
    # left join: with no shingles in either source the rollup has no
    # parts, est_sets no row, and the exact side's one row must survive.
    # The broadcast hint keeps the cross join's plan: unhinted, the left
    # join added 4 stages at sf0.001.
    both = exact_sets.join(F.broadcast(est_sets), how="left")
    theta_legs = []
    # Tolerance base: theta set-algebra error scales with the size of the
    # LARGEST sketch involved, not the result -- intersection error in
    # estimation mode is proportional to the UNION size (the sketches'
    # shared sampling universe), so gating |A∩B| at 2%*|A∩B| would go
    # flaky once either source passes ~2^lg_k distinct shingles.  Each
    # leg's band is therefore 2% of the union for the intersection, 2% of
    # the measured set itself elsewhere (where error IS proportional to
    # that set).
    for key, x_col, e_col, tol_col in (
        ("src0", "x_a", "n_a", "x_a"),
        ("src1", "x_b", "n_b", "x_b"),
        ("src0&src1", "x_inter", "n_intersection", "x_union"),
        ("src0|src1", "x_union", "n_union", "x_union"),
    ):
        # no estimate row: exact only when there is nothing to estimate
        ok_t = F.expr(
            f"coalesce(abs({e_col} - {x_col}) <= greatest(0.02D * {tol_col}, 2),"
            " x_union = 0)"
        )
        theta_legs.append(
            both.select(
                F.lit("theta_overlap").alias("op"),
                F.lit(key).alias("key"),
                F.col(x_col).cast("long").alias("n_exact"),
                F.lit(None).cast("long").alias("n_part"),
                ok_t.alias("approx_ok"),
            )
        )

    # KLL leg: per-day quantile sketches merged to answer an exact-count
    # question (n) and a rank question (#values <= 35) -- gated in-plane.
    # Sketches AND the exact side both read the shared day_agg (r18):
    # the per-day KLL column is quantile_rollup's sketch verbatim, and
    # the exact counts are sums of the per-day counts instead of a
    # second full events scan.
    kll = sketches.rank_over_range(
        day_agg.select("period", F.col("ksk").alias("sketch")), 35.0
    )
    # coalesce: over zero events the sums are NULL, the counts are 0
    ev_exact = day_agg.agg(
        F.expr("coalesce(sum(n_val), 0)").alias("x_n"),
        F.expr("coalesce(sum(n_le), 0)").alias("x_le"),
    )
    kboth = ev_exact.crossJoin(kll)
    kll_legs = [
        kboth.select(
            F.lit("kll_rank").alias("op"),
            F.lit("n").alias("key"),
            F.col("x_n").cast("long").alias("n_exact"),
            F.lit(None).cast("long").alias("n_part"),
            (F.col("n") == F.col("x_n")).alias("approx_ok"),
        ),
        kboth.select(
            F.lit("kll_rank").alias("op"),
            F.lit("value<=35").alias("key"),
            F.col("x_le").cast("long").alias("n_exact"),
            F.lit(None).cast("long").alias("n_part"),
            (
                F.abs(F.col("n_le_est") - F.col("x_le"))
                <= F.greatest(0.02 * F.col("n"), F.lit(5))
            ).alias("approx_ok"),
        ),
    ]

    # incremental-ingest leg: the events table rolled up as two disjoint
    # half-batches, folded via merge_hll_rollup (operators/incremental.py)
    # -- the MERGED estimate gated in-plane against the exact count's 5%
    # band.  NOT merged == rebuilt: past exact/sparse mode a union can
    # differ from a one-shot sketch by its normal error (both in-band;
    # the equality holds and is pytest-gated at exact-mode cardinality).
    # The oracle expects true, so incremental state maintenance is
    # driver-gated, not just pytest-gated.
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    merged = incremental.merge_hll_rollup(
        sketches.sketch_rollup(b0, "ts", "user_id", grain="day"),
        sketches.sketch_rollup(b1, "ts", "user_id", grain="day"),
    )
    inc = sketches.distinct_by_period(merged).select(
        "period", F.col("n_distinct_est").alias("n_inc")
    )
    ok_inc = (
        F.abs(F.col("n_inc") - F.col("n_exact"))
        <= F.greatest(0.05 * F.col("n_exact"), F.lit(2))
    )
    inc_leg = (
        inc.join(exact_day, "period")
        .select(
            F.lit("incremental").alias("op"),
            F.date_format("period", "yyyy-MM-dd").alias("key"),
            "n_exact",
            F.lit(None).cast("long").alias("n_part"),
            ok_inc.alias("approx_ok"),
        )
    )

    # frequent-items legs (r7): EXACT phi-heavy hitters via the weighted
    # Misra-Gries candidate prune (Arrow-batched mapInPandas, O(1/phi)
    # memory per partition) + broadcast exact recount
    # (sketches.heavy_hitters).  Because the sketch only PRUNES
    # (candidate-superset guarantee) and the recount is exact, these rows
    # carry FULL value equality against the plain GROUP BY / HAVING
    # oracle -- approx_ok is structurally true; the MG eviction machinery
    # is exercised against adversarial skew (counter budget << key
    # cardinality) in tests/test_heavy_hitters.py.
    docs_all = _t(spark, sf, "documents")
    hh_legs = []
    cms_legs = []
    for tag, src_df, col, phi in (
        ("etype", ev, "event_type", 0.05),
        (
            "token",
            docs_all.select(F.explode(tokens("text")).alias("tok")),
            "tok",
            0.02,
        ),
    ):
        # ONE heavy-hitter definition feeds BOTH the frequent leg and
        # the cms leg's hot-key/exact/total frame (r15 review: the cms
        # leg was rebuilding exact_k/total/hot with two extra full
        # aggregations -- the code-sharing half of the d4 token_table
        # discipline).  Deliberately NOT checkpointed: MEASURED at
        # sf0.1, an eager cut serialized the two MG Arrow passes at
        # build and cost the entry 7.5 s vs 5.3-6.1 s lazy (the two
        # consumers' recomputed subtrees run as concurrent stages of
        # one job on the underutilized local[32] -- the same verdict as
        # the theta shx subtree above, and minhash_lsh_pairs'
        # shingle-recompute posture).  On a saturated cluster the
        # duplicate MG pass is real cost: persist() there.
        hh = sketches.heavy_hitters(src_df, col, phi=phi)
        hh_legs.append(
            hh.select(
                F.lit("frequent").alias("op"),
                F.concat(F.lit(tag + ":"), F.col("key")).alias("key"),
                F.col("cnt").alias("n_exact"),
                F.col("n_total").alias("n_part"),
                F.lit(True).alias("approx_ok"),
            )
        )
        # cms leg (r15): portable Count-Min frequency estimates
        # (sketches.cms_build/cms_estimate) probed at the SAME heavy
        # keys -- the natural pairing: Misra-Gries finds the heavy keys
        # exactly, the CMS answers "how often does ANY key occur" from
        # depth x width counters that never re-scan the corpus.  Both
        # engines hash with the md5 family, so the counters -- and
        # therefore the ESTIMATE ITSELF -- are bit-identical and n_part
        # value-hashes (the bloom-filter portability argument applied
        # to counting; the DataSketches legs above can only gate
        # in-plane).  approx_ok gates the textbook guarantee in-plane:
        # exact <= est <= exact + e*N/width (Cormode-Muthukrishnan).
        # PROBABILISTIC, not absolute (r16, ADVICE): the upper bound
        # holds per key with probability ~1 - e^-depth (~98% at depth
        # 4) -- on a collision-heavy corpus a key can LEGITIMATELY
        # exceed it while the sketch is in-spec.  That flips approx_ok
        # to false IDENTICALLY on both engines (both replay the same
        # comparison on the same md5 counters), so the driver's
        # value-hash still passes -- the flag is data, not an assert.
        # A deployment monitor alerting on this column should gate on
        # the violation FRACTION <= e^-depth, never on any single key;
        # size the width first (sketches.cms_geometry).
        # MEASURED: the synthetic corpus has a 31-token vocabulary and
        # 5 event types, so at width 256 neither stream collides and
        # est == exact at every sf -- the collision path (est > exact,
        # never <) is exercised where it can actually fire, at width=2
        # in tests/test_cms.py.  The counter build is the one remaining
        # stream scan here (unavoidable: the sketch summarizes the
        # whole stream, not just the hot keys).
        sk = sketches.cms_build(src_df, col)
        est = sketches.cms_estimate(
            sk, hh.select(F.col("key").alias(col)), col
        )
        bound = F.ceil(
            F.lit(2.718281828459045) * F.col("n_total")
            / F.lit(float(sketches.CMS_WIDTH))
        ).cast("long")
        cms_legs.append(
            hh.join(est, hh["key"] == est[col]).select(
                F.lit("cms").alias("op"),
                F.concat(F.lit(tag + ":"), hh["key"]).alias("key"),
                F.col("cnt").cast("long").alias("n_exact"),
                F.col("est").cast("long").alias("n_part"),
                (
                    (F.col("est") >= F.col("cnt"))
                    & (F.col("est") <= F.col("cnt") + bound)
                ).alias("approx_ok"),
            )
        )

    ks_leg = sketches.ks_drift(
        li,
        "l_returnflag",
        "l_quantity",
        grid=[float(v) for v in range(1, 51)],
        tolerance=0.05,
    ).select(
        F.lit("ks_drift").alias("op"),
        F.concat_ws("|", "g1", "g2").alias("key"),
        F.floor(F.col("ks") * 1000000.0 + 1e-9).cast("long").alias("n_exact"),
        F.col("n_grid").alias("n_part"),
        "approx_ok",
    )
    out = exact_leg.unionByName(rollup_leg)
    for leg in theta_legs + kll_legs + [inc_leg, ks_leg] + hh_legs + cms_legs:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# Fuzzy entity resolution (x3): dictionary-level blocked edit-distance
# linkage over part names -- see operators/linkage.py for the design.
# ---------------------------------------------------------------------------

#: one definition of the linkage gate constants, embedded into every
#: surface (the _SPLIT_BOUNDS precedent)
_X3_MAX_DIST = 3

#: the x3 DuckDB oracle's CTE block (split_part with -1, levenshtein,
#: windowed row_number)
_X3_CTES = f"""
    dict AS (
      SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_records
      FROM part WHERE p_name IS NOT NULL AND p_name <> ''
      GROUP BY p_name
    ),
    cand AS (
      SELECT a.name AS name_a, b.name AS name_b,
             a.n_records AS cnt_a, b.n_records AS cnt_b
      FROM dict a JOIN dict b
        ON split_part(a.name, ' ', 1) = split_part(b.name, ' ', 1)
       AND a.name < b.name
      UNION
      SELECT a.name, b.name, a.n_records, b.n_records
      FROM dict a JOIN dict b
        ON split_part(a.name, ' ', -1) = split_part(b.name, ' ', -1)
       AND a.name < b.name
    ),
    pairs AS (
      SELECT name_a, name_b,
             CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev,
             CAST(cnt_a * cnt_b AS BIGINT) AS pair_mass
      FROM cand WHERE levenshtein(name_a, name_b) <= {_X3_MAX_DIST}
    ),
    sym AS (
      SELECT name_a AS name, name_b AS other, lev FROM pairs
      UNION ALL
      SELECT name_b AS name, name_a AS other, lev FROM pairs
    ),
    best AS (
      SELECT name, other, lev FROM (
        SELECT name, other, lev,
               row_number() OVER (
                 PARTITION BY name ORDER BY lev ASC, other ASC) AS rn
        FROM sym
      ) ranked WHERE rn = 1
    ),
    symc AS (
      SELECT name, other, lev FROM sym
      UNION ALL
      SELECT name AS name, name AS other, CAST(0 AS BIGINT) AS lev
      FROM dict
    ),
    canon AS (
      SELECT name, other AS canon, other_records FROM (
        SELECT s.name, s.other, d.n_records AS other_records,
               row_number() OVER (
                 PARTITION BY s.name
                 ORDER BY d.n_records DESC, s.other ASC) AS rn
        FROM symc s JOIN dict d ON d.name = s.other
      ) ranked WHERE rn = 1
    )
"""

#: the three fuzzy legs in j5's (op, key, name, val) schema -- the pair
#: rides as 'left>right' in the name column, the edit distance in key,
#: the record mass in val, interpolated into the j5 oracle; the j5
#: DataFrame builds the same rows from operators/linkage.py.
X3_LEG_SELECTS = """
    SELECT 'fuzzy_pairs' AS op, lev AS key,
           name_a || '>' || name_b AS name, pair_mass AS val
    FROM pairs
    UNION ALL
    SELECT 'fuzzy_best' AS op, lev AS key,
           name || '>' || other AS name, CAST(NULL AS BIGINT) AS val
    FROM best
    UNION ALL
    SELECT 'fuzzy_canon' AS op, CAST(NULL AS BIGINT) AS key,
           name || '>' || canon AS name,
           CAST(other_records AS BIGINT) AS val
    FROM canon
"""


def _j5_fuzzy_legs(spark, sf) -> DataFrame:
    """Fuzzy entity resolution over the part-name column (the blocked
    similarity-join member of the join surface): ``fuzzy_pairs`` =
    dictionary-level near-variant pairs from two-pass blocking (shared
    first token OR shared last token) + levenshtein <= 3, weighted by
    the record-pair mass they stand for; ``fuzzy_best`` = each name's
    single best fuzzy neighbor (min lev, name tiebreak);
    ``fuzzy_canon`` = merge-into-the-heaviest-variant canonicalization.
    The fuzzy stage runs over the DISTINCT-name dictionary (SF-invariant
    64 names here; sublinear vs records in any real entity column),
    never over records -- see operators/linkage.py's 100 TB note.  Both
    engines score with their built-in integer-exact levenshtein, so all
    three legs value-hash."""
    part = _t(spark, sf, "part")
    d = linkage.name_dictionary(part, "p_name", "p_partkey")
    p = linkage.blocked_pairs(d, max_dist=_X3_MAX_DIST)
    b = linkage.best_match(p)
    c = linkage.canonical_map(p, d)
    nullv = F.lit(None).cast("long")
    arrow = F.lit(">")
    pairs_leg = p.select(
        F.lit("fuzzy_pairs").alias("op"),
        F.col("lev").alias("key"),
        F.concat("name_a", arrow, "name_b").alias("name"),
        F.col("pair_mass").alias("val"),
    )
    best_leg = b.select(
        F.lit("fuzzy_best").alias("op"),
        F.col("lev").alias("key"),
        F.concat("name", arrow, "match").alias("name"),
        nullv.alias("val"),
    )
    canon_leg = c.select(
        F.lit("fuzzy_canon").alias("op"),
        nullv.alias("key"),
        F.concat("name", arrow, "canon").alias("name"),
        F.col("canon_records").alias("val"),
    )
    return pairs_leg.unionByName(best_leg).unionByName(canon_leg)



# ---------------------------------------------------------------------------
# Join-family breadth (Spark exposes the full family; J1 was the only
# reference-mandated join -- these are the free extensions SURVEY §2.3 notes)
# ---------------------------------------------------------------------------


@register(
    "j5_join_surface",
    f"""
    WITH {_X3_CTES}
    SELECT 'semi_big_order' AS op, CAST(c_custkey AS BIGINT) AS key,
           c_name AS name, CAST(NULL AS BIGINT) AS val
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    UNION ALL
    SELECT 'anti_no_orders' AS op, CAST(c_custkey AS BIGINT) AS key,
           c_name AS name, CAST(NULL AS BIGINT) AS val
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'outer_nation_counts' AS op, CAST(n_nationkey AS BIGINT) AS key,
           n_name AS name, CAST(coalesce(n_customers, 0) AS BIGINT) AS val
    FROM nation n LEFT JOIN (
      SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY c_nationkey
    ) c ON n.n_nationkey = c.c_nationkey
    UNION ALL
    SELECT 'chain_region_orders' AS op, CAST(r.r_regionkey AS BIGINT) AS key,
           r.r_name AS name, CAST(count(*) AS BIGINT) AS val
    FROM region r
    JOIN nation n ON r.r_regionkey = n.n_regionkey
    JOIN customer c ON n.n_nationkey = c.c_nationkey
    JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY r.r_regionkey, r.r_name
    UNION ALL
    SELECT 'brand_nation_counts' AS op, CAST(s.s_nationkey AS BIGINT) AS key,
           p.p_brand AS name, CAST(count(*) AS BIGINT) AS val
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey, p.p_brand
    UNION ALL
    SELECT 'bucket_join_counts' AS op, CAST(NULL AS BIGINT) AS key,
           o_orderpriority AS name, CAST(count(*) AS BIGINT) AS val
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'bucket_join_noshuffle' AS op, CAST(NULL AS BIGINT) AS key,
           'zero_exchange' AS name, CAST(1 AS BIGINT) AS val
    UNION ALL
    SELECT 'zorder_skip' AS op, CAST(NULL AS BIGINT) AS key,
           'skip_and_match' AS name, CAST(1 AS BIGINT) AS val
    UNION ALL
    {X3_LEG_SELECTS}
    """,
)
def j5_join_surface(spark, sf):
    """The non-inner join family + multi-way inner shapes, tagged and
    stacked (u1/r1 precedent, one driver slot): ``semi_big_order`` =
    left-semi against large orders (build-side-deduped hash join -- no
    row multiplication, no second scan); ``anti_no_orders`` = left-anti
    (the orphan check every ETL pipeline needs); ``outer_nation_counts``
    = left-outer with NULL-fill where aggregate-then-join keeps the
    outer side's multiplicity 1; ``chain_region_orders`` (r6) = the
    4-table snowflake chain region -> nation -> customer -> orders with
    every dim under the broadcast threshold -- Catalyst orders the
    chain, no shuffle joins; ``brand_nation_counts`` (r6) = the star
    shape (lineitem fact + part/supplier dims) feeding a two-key
    aggregate -- the TPC-H altitude every warehouse join reorderer is
    judged on.  Each branch plans independently; the union adds no
    shuffle.

    ``bucket_join_counts`` / ``bucket_join_noshuffle`` (r7) make the S2
    bucketing claim driver-visible: orders and lineitem are written as
    co-bucketed catalog tables (bucketBy the join key, sortBy, external
    location under the system temp dir), merge-join-hinted so the tiny
    SF cannot broadcast away the evidence, and the JOIN subplan is
    asserted Exchange-free with bucket reads
    (``SelectedBucketsCount``) -- the boolean rides in-plane as the
    ``bucket_join_noshuffle`` row the oracle expects val=1, while the
    join's VALUES oracle against the raw tables.  This is exactly the
    co-located-join layout a 100-TB fact-fact join relies on: both
    sides pre-shuffled once at write time, every subsequent join free
    of exchanges.

    ``zorder_skip`` (r7) does the same for the Z-ORDER layout claim: a
    lineitem slice is Z-order-written on (l_partkey, l_suppkey), parquet
    footers are pruned against a mid-range 2-D box, and the in-plane
    boolean asserts BOTH that files were actually skipped and that the
    pruned read returns exactly the full scan's answer on the box (see
    _zorder_skip_leg) -- the oracle expects val=1, so a layout
    regression (no skipping) or a pruning bug (wrong rows) turns the
    driver row red.

    ``fuzzy_pairs`` / ``fuzzy_best`` / ``fuzzy_canon`` (r16) add the
    blocked SIMILARITY join to the surface: dictionary-level fuzzy
    entity resolution over part names (see _j5_fuzzy_legs and
    operators/linkage.py)."""
    c = _t(spark, sf, "customer")
    big = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 100000)
    o = _t(spark, sf, "orders")
    nullv = F.lit(None).cast("long").alias("val")
    semi = c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        F.lit("semi_big_order").alias("op"),
        F.col("c_custkey").cast("long").alias("key"),
        F.col("c_name").alias("name"),
        nullv,
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("anti_no_orders").alias("op"),
        F.col("c_custkey").cast("long").alias("key"),
        F.col("c_name").alias("name"),
        nullv,
    )
    n = _t(spark, sf, "nation")
    cagg = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_customers"))
    outer = n.join(cagg, n.n_nationkey == cagg.c_nationkey, "left").select(
        F.lit("outer_nation_counts").alias("op"),
        F.col("n_nationkey").cast("long").alias("key"),
        F.col("n_name").alias("name"),
        F.coalesce("n_customers", F.lit(0)).alias("val"),
    )
    r = _t(spark, sf, "region")
    chain = (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .join(c, n.n_nationkey == c.c_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .groupBy("r_regionkey", "r_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.lit("chain_region_orders").alias("op"),
            F.col("r_regionkey").cast("long").alias("key"),
            F.col("r_name").alias("name"),
            F.col("n_orders").cast("long").alias("val"),
        )
    )
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    sup = _t(spark, sf, "supplier")
    star = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "p_brand")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .select(
            F.lit("brand_nation_counts").alias("op"),
            F.col("s_nationkey").cast("long").alias("key"),
            F.col("p_brand").alias("name"),
            F.col("n_items").cast("long").alias("val"),
        )
    )
    # the three eager physical-layout/linkage legs are independent of
    # each other (distinct catalog tables / temp dirs / dictionary
    # checkpoints): build them overlapped (r17, guide §2.6) instead of
    # serializing two table writes and a checkpoint chain
    (bucket_counts, bucket_ok), zorder_ok, fuzzy = caching.run_overlapped(
        lambda: _bucketed_join_leg(spark, sf),
        lambda: _zorder_skip_leg(spark, sf),
        lambda: _j5_fuzzy_legs(spark, sf),
    )
    return (
        semi.unionByName(anti)
        .unionByName(outer)
        .unionByName(chain)
        .unionByName(star)
        .unionByName(bucket_counts)
        .unionByName(bucket_ok)
        .unionByName(zorder_ok)
        .unionByName(fuzzy)
    )


def _bucketed_join_leg(spark, sf) -> tuple[DataFrame, DataFrame]:
    """The S2 co-located-join evidence for j5: write orders/lineitem
    co-bucketed on the join key, merge-join them, and return (per-priority
    count rows, the in-plane zero-Exchange boolean row).

    The bucketed tables are (re)written per call -- idempotent overwrite
    into an sf-keyed external location + catalog name, so concurrent
    sf_dirs never collide and a repeated driver call just rewrites the
    same files.  They are NOT deleted on return: the returned counts
    frame reads them lazily, so they must outlive the call (one pair per
    distinct sf_dir).  Projection keeps the write tiny (2 columns a
    side).  The plan probe inspects the JOIN subtree only (the aggregate
    above it legitimately exchanges on its own grouping key)."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    base = f"{tempfile.gettempdir()}/spark_graft_j5_buckets_{tag}"
    o_name, l_name = f"j5b_orders_{tag}", f"j5b_items_{tag}"
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf, "lineitem").select("l_orderkey")
    for df, name, key in ((o, o_name, "o_orderkey"), (li, l_name, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{base}/{name}")
            .format("parquet")
            .saveAsTable(name)
        )
    ob, lb = spark.table(o_name), spark.table(l_name)
    joined = ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    no_shuffle = ("Exchange" not in plan) and ("SelectedBucketsCount" in plan)
    nullk = F.lit(None).cast("long").alias("key")
    counts = (
        joined.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("bucket_join_counts").alias("op"),
            nullk,
            F.col("o_orderpriority").alias("name"),
            F.col("n").cast("long").alias("val"),
        )
    )
    ok = spark.range(1).select(
        F.lit("bucket_join_noshuffle").alias("op"),
        nullk,
        F.lit("zero_exchange").alias("name"),
        F.lit(1 if no_shuffle else 0).cast("long").alias("val"),
    )
    return counts, ok


def _zorder_skip_leg(spark, sf) -> DataFrame:
    """The Z-order/file-skipping evidence for j5 (sources/layout.py made
    driver-visible): Z-order-write a projected lineitem slice on
    (l_partkey, l_suppkey), prune parquet footers against a mid-range
    2-D box, and verify in-plane that (a) the clustered layout ACTUALLY
    skips files for the box and (b) reading ONLY the surviving files
    returns exactly the full scan's answer on the box -- row count AND a
    content checksum, so a pruner that drops a matching file cannot pass
    by luck of equal counts.

    Same idempotent-overwrite conventions as the bucket leg (sf-keyed
    temp location, tiny projection, eager per call), but the written
    dir is deleted before returning: the output is a literal row, so
    nothing reads the files later.  The box bounds
    derive from the FOOTER global min/max (driver-side metadata, no
    extra Spark scans).  footer decoding is pyarrow (local paths) --
    matching the bench/driver environment; the production listing path
    (partition_file_report) stays on the Hadoop FS API."""
    import hashlib
    import os
    import tempfile

    from ..sources import fs, layout

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/spark_graft_j5_zorder_{tag}"
    try:
        cols = ["l_partkey", "l_suppkey"]
        li = _t(spark, sf, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
        )
        # slice keeps the write tiny; bits_per_col=4 (16 buckets/col) is
        # plenty of resolution for 8 files and cuts the approxQuantile work
        # that dominates the leg (256 cuts/col at the default 8 bits)
        sub = li.filter(F.col("l_orderkey") % 20 == 0)
        layout.write_zordered(sub, path, cols, n_files=8, bits_per_col=4)
        stats = layout.file_stats(spark, path, cols)
        import math

        box = {}
        for c in cols:
            los = [rec[c][0] for rec in stats if rec[c][0] is not None]
            his = [rec[c][1] for rec in stats if rec[c][1] is not None]
            if not los:
                # no footer stats: an empty slice has no file to skip and no
                # row to miss, so the claim holds vacuously; stats missing on
                # written rows fail it
                return _zorder_skip_row(
                    spark, spark.read.parquet(path).isEmpty()
                )
            lo, hi = min(los), max(his)
            # floor/ceil the mid-range box outward: on a narrow integer
            # domain (suppkey 0..9 at sf0.001) the raw 45-55% box can land
            # strictly BETWEEN integers and match zero rows, making the
            # full-scan side vacuous
            box[c] = (
                math.floor(lo + 0.45 * (hi - lo)),
                math.ceil(lo + 0.55 * (hi - lo)),
            )
        hits = layout.candidate_files(stats, box)
        skipped = len(stats) - len(hits)
        pred = None
        for c, (blo, bhi) in box.items():
            term = (F.col(c) >= blo) & (F.col(c) <= bhi)
            pred = term if pred is None else pred & term
        chk = [
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.crc32(
                    F.concat_ws(
                        "|", "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
                    )
                )
            ).alias("s"),
        ]
        full = spark.read.parquet(path).filter(pred).agg(*chk).first()
        ok = False
        if hits:
            pruned = (
                spark.read.parquet(*[os.path.join(path, h) for h in hits])
                .filter(pred)
                .agg(*chk)
                .first()
            )
            ok = (
                skipped > 0
                and pruned["n"] == full["n"]
                and pruned["s"] == full["s"]
                and full["n"] > 0
            )
        return _zorder_skip_row(spark, ok)
    finally:
        fs.delete_recursive(spark, path)


def _zorder_skip_row(spark, ok: bool) -> DataFrame:
    return spark.range(1).select(
        F.lit("zorder_skip").alias("op"),
        F.lit(None).cast("long").alias("key"),
        F.lit("skip_and_match").alias("name"),
        F.lit(1 if ok else 0).cast("long").alias("val"),
    )


# ---------------------------------------------------------------------------
# Leg declarations (r15): tagged-union entries, for bench.py's per-leg
# timing breakdown (pinned by tests/test_bench_legs.py).
register_legs(
    "a10_distinct_counts",
    "op",
    (
        "cms",
        "exact_by_flag",
        "frequent",
        "incremental",
        "kll_rank",
        "ks_drift",
        "sketch_rollup",
        "theta_overlap",
    ),
)
register_legs(
    "j5_join_surface",
    "op",
    (
        "brand_nation_counts",
        "bucket_join_counts",
        "bucket_join_noshuffle",
        "chain_region_orders",
        "fuzzy_best",
        "fuzzy_canon",
        "fuzzy_pairs",
        "outer_nation_counts",
        "semi_big_order",
        "zorder_skip",
    ),
)

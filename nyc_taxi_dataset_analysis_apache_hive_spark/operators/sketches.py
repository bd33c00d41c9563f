"""Mergeable-sketch pre-aggregation (the incremental-OLAP scale pattern).

``a10_distinct_counts`` answers approx-distinct in one pass; at 100 TB the
winning pattern is to never re-scan raw data at query time at all:
materialize a tiny (period, sketch) table once per ingest, then answer ANY
period-range distinct-count by merging sketches -- seconds over kilobytes
instead of a full scan.  Spark 4 ships Apache DataSketches natively, so the
whole pattern stays JVM-side and every sketch column is a plain BINARY that
parquet round-trips.  Three sketch families, one persisted-rollup pattern:

* **HLL** (``hll_sketch_agg`` / ``hll_union_agg``): distinct counts.
  Union-only -- can answer "how many distinct over any period range" but
  not intersections.
* **Theta** (``theta_sketch_agg`` / ``theta_union`` / ``theta_intersection``
  / ``theta_difference``): full set algebra.  The 100-TB win: corpus-overlap
  questions ("how many shingles/users/urls appear in BOTH corpus A and B")
  answered from two kilobyte sketches with NO join and NO co-shuffle of the
  raw keys -- the only scan is the one that built the per-partition rollup.
  Below the sketch's nominal entry count (2^lg_k) a theta sketch is in
  exact mode, so small-set estimates are not estimates at all.
* **KLL** (``kll_sketch_agg_double`` / ``kll_merge_agg_double``): quantiles
  and ranks.  Mergeable across periods, so "p99 of value over weeks 3-7"
  never re-scans raw events; normalized rank error ~1.65% at k=200.

Set union is associative, so daily sketches compose into weekly/monthly/
arbitrary ranges losslessly -- union-then-estimate equals
estimate-of-union by construction (asserted in tests, not assumed).
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sketch_rollup(
    df: DataFrame,
    time_col: str,
    key_col: str,
    grain: str = "day",
    lg_k: int = 12,
) -> DataFrame:
    """(period, n_rows, sketch): one HLL sketch of ``key_col`` per time
    grain -- the table you persist.  One shuffle on the period key; the
    sketch state is bounded (~2^lg_k bytes) regardless of row count, so
    reducers never spill on cardinality.
    """
    return (
        df.groupBy(F.date_trunc(grain, F.col(time_col)).alias("period"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("sketch"),
        )
    )


def distinct_by_period(sketches: DataFrame) -> DataFrame:
    """Per-period distinct estimates from the persisted rollup: narrow map
    over kilobytes, no raw-data scan."""
    return sketches.select(
        "period",
        "n_rows",
        F.hll_sketch_estimate("sketch").alias("n_distinct_est"),
    )


def distinct_over_range(
    sketches: DataFrame, start=None, end=None
) -> DataFrame:
    """One-row distinct estimate for [start, end): merge the range's
    sketches with ``hll_union_agg`` and estimate -- the arbitrary-range
    query that never touches raw events.  ``allowDifferentLgConfigK``
    stays False: every sketch came from :func:`sketch_rollup` at one
    lg_k, and a silent downgrade-on-merge would loosen accuracy."""
    s = sketches
    if start is not None:
        s = s.filter(F.col("period") >= start)
    if end is not None:
        s = s.filter(F.col("period") < end)
    return s.agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("sketch"), F.lit(False))
        ).alias("n_distinct_est")
    )


# ---------------------------------------------------------------------------
# Theta: set algebra over persisted sketches (overlap without a join)
# ---------------------------------------------------------------------------


def theta_rollup(
    df: DataFrame, part_col: str, key_col: str, lg_k: int = 12
) -> DataFrame:
    """(part, n_rows, sketch): one theta sketch of ``key_col`` per value of
    ``part_col`` (a corpus/source/day/shard label) -- the persisted table
    that answers every pairwise set question later.  One shuffle on the
    part key; sketch state is bounded (~2^lg_k entries) regardless of row
    count."""
    return df.groupBy(F.col(part_col).alias("part")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.theta_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("sketch"),
    )


def _overlap_exprs():
    # built lazily: Column construction needs an active SparkSession
    return [
        F.theta_sketch_estimate("sk_a").alias("n_a"),
        F.theta_sketch_estimate("sk_b").alias("n_b"),
        F.theta_sketch_estimate(F.theta_intersection("sk_a", "sk_b")).alias(
            "n_intersection"
        ),
        F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b")).alias(
            "n_union"
        ),
        F.theta_sketch_estimate(F.theta_difference("sk_a", "sk_b")).alias(
            "n_a_only"
        ),
        F.theta_sketch_estimate(F.theta_difference("sk_b", "sk_a")).alias(
            "n_b_only"
        ),
    ]


def set_overlap(sketches: DataFrame, part_a, part_b) -> DataFrame:
    """One-row |A|, |B|, |A∩B|, |A∪B|, |A\\B|, |B\\A|, Jaccard estimates for
    two parts of a :func:`theta_rollup` table.  Both sides are single rows,
    so the cross join is a trivial broadcast -- the raw keys are never
    touched, joined, or shuffled."""
    a = sketches.filter(F.col("part") == part_a).select(
        F.col("sketch").alias("sk_a")
    )
    b = sketches.filter(F.col("part") == part_b).select(
        F.col("sketch").alias("sk_b")
    )
    return a.crossJoin(b).select(
        F.lit(str(part_a)).alias("part_a"),
        F.lit(str(part_b)).alias("part_b"),
        *_overlap_exprs(),
        (
            F.theta_sketch_estimate(F.theta_intersection("sk_a", "sk_b"))
            / F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b"))
        ).alias("jaccard_est"),
    )


def overlap_matrix(sketches: DataFrame) -> DataFrame:
    """All-pairs overlap estimates (part_a < part_b) from a theta rollup:
    the M×M corpus-contamination matrix from M kilobyte sketches.  The
    self-join is over the tiny rollup table (M rows), never the raw data;
    for M corpora that is M²/2 sketch intersections -- milliseconds, where
    the exact answer would be M²/2 distinct-joins over the full corpus."""
    a = sketches.select(
        F.col("part").alias("part_a"), F.col("sketch").alias("sk_a")
    )
    b = sketches.select(
        F.col("part").alias("part_b"), F.col("sketch").alias("sk_b")
    )
    return (
        a.join(F.broadcast(b), F.col("part_a") < F.col("part_b"))
        .select("part_a", "part_b", *_overlap_exprs())
    )


# ---------------------------------------------------------------------------
# KLL: mergeable quantiles/ranks (percentiles over any range, no rescan)
# ---------------------------------------------------------------------------


def quantile_rollup(
    df: DataFrame,
    time_col: str,
    value_col: str,
    grain: str = "day",
    k: int = 200,
) -> DataFrame:
    """(period, n_rows, sketch): one KLL(double) sketch of ``value_col``
    per time grain.  Same persistence contract as :func:`sketch_rollup`:
    BINARY column, parquet round-trips, merges losslessly."""
    return (
        df.groupBy(F.date_trunc(grain, F.col(time_col)).alias("period"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.kll_sketch_agg_double(
                F.col(value_col).cast("double"), F.lit(k)
            ).alias("sketch"),
        )
    )


def _merged_kll(sketches: DataFrame, start, end):
    s = sketches
    if start is not None:
        s = s.filter(F.col("period") >= start)
    if end is not None:
        s = s.filter(F.col("period") < end)
    return s.agg(F.kll_merge_agg_double("sketch").alias("merged"))


def quantiles_over_range(
    sketches: DataFrame,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
    start=None,
    end=None,
) -> DataFrame:
    """(prob, value_est) rows for [start, end): merge the range's KLL
    sketches and read all requested quantiles from the single merged
    sketch -- kilobytes scanned, raw events untouched."""
    merged = _merged_kll(sketches, start, end)
    qs = merged.select(
        F.kll_sketch_get_quantile_double(
            "merged", F.array(*[F.lit(float(p)) for p in probs])
        ).alias("q")
    )
    return qs.select(
        F.posexplode("q").alias("i", "value_est")
    ).select(
        F.element_at(
            F.array(*[F.lit(float(p)) for p in probs]), F.col("i") + 1
        ).alias("prob"),
        "value_est",
    )


def rank_over_range(
    sketches: DataFrame, value: float, start=None, end=None
) -> DataFrame:
    """One row (n, rank_est, n_le_est) for [start, end): the estimated
    fraction (and count) of values ≤ ``value``.  ``n`` is exact -- KLL
    tracks the true item count -- so ``n_le_est = round(rank*n)`` is
    directly comparable to an exact filter-count.

    An empty range merges to an empty sketch, whose rank Spark refuses
    (``KLL_INVALID_INPUT_SKETCH_BUFFER``): there ``rank_est`` is NULL
    (no fraction of nothing) and ``n_le_est`` is 0.  CASE WHEN evaluates
    the rank only on the branch that takes it."""
    merged = _merged_kll(sketches, start, end)
    n = F.kll_sketch_get_n_double("merged")
    rank = F.kll_sketch_get_rank_double("merged", F.lit(float(value)))
    return merged.select(
        n.alias("n"),
        F.when(n > 0, rank).alias("rank_est"),
        F.when(n > 0, F.round(rank * n).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("n_le_est"),
    )


# ---------------------------------------------------------------------------
# Frequent items (phi-heavy hitters): Misra-Gries prune + exact recount
# ---------------------------------------------------------------------------


def _mg_update(counters: dict, key, w: int, k: int) -> None:
    """One weighted Misra-Gries update against a k-counter summary.

    Classic decrement generalized to weights (Berinde et al., PODS'09):
    absorbing weight ``w`` either increments an existing counter, claims a
    free slot, or cancels ``min(w, min_counter)`` mass from EVERY counter
    (evicting zeros) and recurses on the remainder.  O(k) per eviction,
    O(1) amortized otherwise."""
    while True:
        if key in counters:
            counters[key] += w
            return
        if len(counters) < k:
            counters[key] = w
            return
        d = min(w, min(counters.values()))
        for c in list(counters):
            counters[c] -= d
            if counters[c] <= 0:
                del counters[c]
        w -= d
        if w <= 0:
            return


def heavy_hitters(
    df: DataFrame, key_col: str, phi: float = 0.01
) -> DataFrame:
    """EXACT phi-heavy hitters -- ``(key, cnt, n_total, share)`` for every key with
    frequency > ``phi * count(*)`` -- at bounded memory, via the standard
    two-pass sketch-prune-then-recount plan:

    1. **Candidate pass** (mapInPandas, Arrow-batched): each partition
       folds its rows through a weighted Misra-Gries summary with
       ``k = ceil(1/phi) + 1`` counters (per-batch ``value_counts``
       first, so the python loop runs per DISTINCT key per batch, not
       per row) and emits its surviving keys.  Guarantee: a key with
       global freq > phi*n has freq > phi*n_p in at least one partition
       (pigeonhole), and MG with k >= 1/phi counters never evicts a key
       whose partition frequency exceeds n_p/k -- so the candidate union
       is a SUPERSET of the true heavy hitters.  Memory is O(k) counters
       per partition regardless of key cardinality -- the whole point vs
       a per-partition hash aggregate whose distinct-key state at 100 TB
       (urls, user ids) can exceed executor memory.
    2. **Recount pass**: candidates (<= k per partition -- tiny) dedupe
       and BROADCAST; one semi-join + hash aggregate recounts exactly the
       candidate keys; the total arrives as a broadcast 1-row cross join
       (never a driver collect).  False candidates die on the final
       ``cnt > phi*n`` filter, so the output is EXACTLY the true heavy
       hitter set with EXACT counts -- which is why the driver entry can
       carry a full value oracle (GROUP BY / HAVING) rather than an
       approx band: the sketch prunes, it never approximates the answer.

    The one-pass alternative (emit (key, lower_bound) from the summaries
    and merge) answers with error n_p/k but no second scan; this operator
    deliberately spends the second (candidates-only, semi-joined) pass to
    return exact counts, matching how production top-k jobs use MG."""
    import math

    k = int(math.ceil(1.0 / phi)) + 1
    # NULL keys are excluded EXPLICITLY on the Spark side because pandas
    # value_counts silently drops NaN in the candidate pass -- without
    # this filter a null-heavy column would lose its null group here
    # while a GROUP BY oracle kept it, a silent divergence; the a10
    # oracle applies the same IS NOT NULL
    src = df.select(F.col(key_col).cast("string").alias("key")).filter(
        F.col("key").isNotNull()
    )

    def _candidates(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for key, w in pdf["key"].value_counts().items():
                _mg_update(counters, key, int(w), k)
        yield pd.DataFrame({"key": list(counters.keys())})

    cand = src.mapInPandas(_candidates, "key string").distinct()
    # ONE recount pass yields the candidate counts AND the grand total:
    # the broadcast left join tags candidate rows, non-candidates
    # collapse into a single NULL bucket map-side, and the total is an
    # unpartitioned window-sum over the tiny grouped relation
    # (<= candidates + 1 rows, one partition by construction) -- two
    # passes over the source in all (candidates, recount) instead of
    # three (a separate count(*) scan previously paid a full pass for
    # one BIGINT)
    from pyspark.sql.window import Window

    grouped = (
        src.join(
            F.broadcast(cand.withColumn("_is", F.lit(1))), "key", "left"
        )
        .groupBy(
            F.when(F.col("_is") == 1, F.col("key")).alias("key")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    with_total = grouped.withColumn(
        "_n", F.sum("cnt").over(Window.partitionBy())
    )
    return (
        with_total.filter(F.col("key").isNotNull())
        .filter(F.col("cnt") > F.col("_n") * F.lit(phi))
        .select(
            "key",
            "cnt",
            F.col("_n").alias("n_total"),
            F.round(F.col("cnt") / F.col("_n").cast("double"), 6).alias(
                "share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample KS drift: distribution-shift monitoring between cohorts
# ---------------------------------------------------------------------------


def exact_ks_pairs(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic for every unordered
    group pair: (g1, g2, ks, n_grid) -- the data-drift test a pipeline
    runs between ingest cohorts / time slices / sources before a
    distribution shift silently changes training data.

    ``ks = max over observed values v of |F_g1(v) - F_g2(v)|`` with the
    empirical CDFs evaluated INCLUSIVELY (fraction <= v) on the shared
    grid of every observed value; a step function only changes at sample
    points, so the shared grid finds each pair's supremum exactly.

    Distributed shape: one hash-aggregate to (group, value) counts --
    the only pass over the data, shuffle carries distinct pairs -- then
    everything runs on the TINY grid (distinct values x groups): a
    cumulative window per group, one grid self-join per pair, one max.
    Determinism: CDF values are ratios of exact counts, so every engine
    computes identical doubles; ks is a max of their absolute
    differences (order-free).  NULL groups/values are EXCLUDED
    explicitly (heavy-hitters convention): a NULL grid value would sort
    NULLS FIRST in Spark's cumulative window but NULLS LAST in DuckDB's,
    silently shifting every CDF step -- the same divergence class the
    r7 NULL-key fix closed for frequent items.
    """
    counts = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    grid = (
        counts.select(value_col)
        .distinct()
        .crossJoin(counts.select(group_col).distinct())
    )
    from pyspark.sql.window import Window

    filled = grid.join(counts, on=[group_col, value_col], how="left").select(
        group_col,
        value_col,
        F.coalesce(F.col("_c"), F.lit(0)).alias("_c"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # totals over the SAME filtered universe as the counts, so every
    # group's CDF still reaches exactly 1.0 at the top of the grid
    totals = counts.groupBy(group_col).agg(F.sum("_c").alias("_n"))
    fr = (
        filled.withColumn("_cum", F.sum("_c").over(w))
        .join(F.broadcast(totals), on=group_col)
        .select(
            group_col,
            value_col,
            (F.col("_cum").cast("double") / F.col("_n").cast("double")).alias(
                "_f"
            ),
        )
    )
    # broadcast the tiny grid explicitly: left to AQE, this self-join of
    # one reused exchange turned sort-merge or broadcast depending on
    # which side's stats landed first, so its job count moved per call
    a, b = fr.alias("a"), fr.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col(f"a.{value_col}") == F.col(f"b.{value_col}"))
            & (F.col(f"a.{group_col}") < F.col(f"b.{group_col}")),
        )
        .groupBy(
            F.col(f"a.{group_col}").alias("g1"),
            F.col(f"b.{group_col}").alias("g2"),
        )
        .agg(
            F.max(F.abs(F.col("a._f") - F.col("b._f"))).alias("ks"),
            F.count(F.lit(1)).cast("long").alias("n_grid"),
        )
    )


def ks_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    grid: Sequence[float],
    tolerance: float = 0.05,
) -> DataFrame:
    """KS drift with the sketch-sized production path gated in-plane:
    (g1, g2, ks, n_grid, ks_sketch, approx_ok).

    The exact statistic (:func:`exact_ks_pairs`) needs the full
    (group, value) count table; at 100 TB the production path keeps ONE
    KLL sketch per cohort (kilobytes, mergeable across ingest batches --
    the same state the quantile rollups persist) and evaluates the CDF
    difference from sketch RANKS on ``grid``, a fixed list of literal
    breakpoints (``kll_sketch_get_rank_double`` requires foldable
    quantile arguments -- which matches production reality: drift
    monitors probe the CDF at fixed checkpoints).  ``approx_ok`` asserts
    the sketch statistic lands within ``tolerance`` (absolute) of the
    exact one -- KLL's normalized rank error is ~1.65% at k=200, so 0.05
    covers two rank reads plus the shared inclusive-rank convention;
    when ``grid`` is coarser than the observed values the sketch max is
    additionally a grid-restricted lower bound of the exact supremum.
    """
    exact = exact_ks_pairs(df, group_col, value_col)
    sk = df.groupBy(group_col).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double")).alias("_sk")
    )
    # the grid array is built as ONE parsed SQL expression instead of
    # per-literal Column calls (r18, guide §7 driver altitude): a
    # 50-point grid cost ~2.4k py4j round-trips (~1.2 s on a 500 µs/RTT
    # gateway) as F.struct/F.lit chains; one expr() string is a single
    # round-trip and folds to the identical literals (CAST(repr AS
    # DOUBLE) == F.lit(float), both the nearest double)
    grid_items = ", ".join(
        f"named_struct('v', CAST({float(v)!r} AS DOUBLE), 'r', "
        f"kll_sketch_get_rank_double(_sk, CAST({float(v)!r} AS DOUBLE)))"
        for v in grid
    )
    ranks = sk.select(
        group_col,
        F.explode(F.expr(f"array({grid_items})")).alias("x"),
    ).select(group_col, F.col("x.v").alias("v"), F.col("x.r").alias("_r"))
    # grid points x groups rows, and one row per group pair below:
    # broadcast both, as in exact_ks_pairs
    a, b = ranks.alias("a"), ranks.alias("b")
    sketch_ks = (
        a.join(
            F.broadcast(b),
            (F.col("a.v") == F.col("b.v"))
            & (F.col(f"a.{group_col}") < F.col(f"b.{group_col}")),
        )
        .groupBy(
            F.col(f"a.{group_col}").alias("g1"),
            F.col(f"b.{group_col}").alias("g2"),
        )
        .agg(F.max(F.abs(F.col("a._r") - F.col("b._r"))).alias("ks_sketch"))
    )
    return exact.join(F.broadcast(sketch_ks), on=["g1", "g2"]).select(
        "g1",
        "g2",
        "ks",
        "n_grid",
        "ks_sketch",
        (F.abs(F.col("ks_sketch") - F.col("ks")) <= F.lit(tolerance)).alias(
            "approx_ok"
        ),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (r15): mergeable FREQUENCY estimates -- the counter
# counterpart of the HLL/theta/KLL cardinality-and-rank family above.
# Cormode & Muthukrishnan 2005 ("An improved data stream summary: the
# count-min sketch and its applications", J. Algorithms 55).  Unlike the
# estimate-only DataSketches columns, these counters hash with the
# repo's portable md5 family, so TWO ENGINES BUILD THE SAME SKETCH
# bit-for-bit -- the estimate itself value-hashes against the DuckDB
# oracle (the bloom-filter portability argument applied to counting).
# ---------------------------------------------------------------------------

#: gate-sized CMS geometry: depth 4 rows x width 256 counters = <= 1024
#: longs.  Error bound: est <= true + e*N/width with prob 1-e^-depth
#: (~98%).  These DEFAULTS are gate-sized; beyond the gate, size the
#: sketch to the target error with :func:`cms_geometry` (width =
#: ceil(e/eps), depth = ceil(ln(1/delta))) -- at 100-TB event counts a
#: width-256 estimate is off by millions (additive e*N/256), while the
#: sized table STAYS kilobytes-to-megabytes at any corpus size, which
#: is the whole point.  The bloom_geometry lesson applied to the second
#: sketch family.
CMS_DEPTH = 4
CMS_WIDTH = 256


def cms_geometry(
    target_eps: float, target_delta: float = 0.02
) -> tuple[int, int]:
    """(depth, width) sized so every point estimate satisfies
    est <= true + ``target_eps``*N with probability >= 1 -
    ``target_delta`` (Cormode & Muthukrishnan 2005, Theorem 1): width =
    ceil(e/eps), depth = ceil(ln(1/delta)), both clamped >= 1.

    The deployment sizing step -- the gate-width default silently
    degrades exactly the way an unsized Bloom filter does (the
    :func:`..dedup.bloom_geometry` class): at eps = 1e-6 the table is
    ~2.7M counters per row x 7 rows at delta = 1e-3 -- ~150 MiB of
    longs, still a broadcastable artifact summarizing ANY corpus size.
    Feed the result to :func:`cms_build`; the artifact carries its
    geometry, so merge and the maintained ledger validate against it."""
    import math

    if not (0.0 < target_eps < 1.0):
        raise ValueError("target_eps must be in (0, 1)")
    if not (0.0 < target_delta < 1.0):
        raise ValueError("target_delta must be in (0, 1)")
    width = max(1, math.ceil(math.e / target_eps))
    depth = max(1, math.ceil(math.log(1.0 / target_delta)))
    return depth, width


class CMSketch(NamedTuple):
    """Geometry-carrying CMS artifact (the IVFIndex/PQEncoding/bloom
    convention: the build parameters ride the artifact so no consumer
    can probe with a mismatched hash family).  ``counters`` is the
    SPARSE (r, b, cnt) table -- absent cells are zero -- bounded at
    depth x width rows regardless of input size, so it broadcasts
    everywhere and parquet-persists as the maintained rollup state."""

    depth: int
    width: int
    counters: DataFrame


def _cms_bucket(key, r: int, width: int):
    """Row ``r``'s bucket for a key: 60-bit md5 prefix of 'cms{r}:key'
    mod width -- the one portable hash family (sampling._md5_uniform's
    construction), a different salt per row."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cms{r}:"), key.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> CMSketch:
    """One pass, one hash-aggregate: every row contributes +1 to its
    bucket in each of ``depth`` rows.  The explode emits depth
    candidates per input row, but map-side partial aggregation collapses
    each task's contribution to <= depth*width rows before the exchange
    -- the shuffle carries sketch-sized data no matter how many events
    scanned (the sketch_rollup scale argument).

    NULL keys have no draw and are EXCLUDED (the shuffle_shards NULL
    policy): a NULL contributes to no counter and estimates nothing,
    rather than silently colliding on a 'null' string bucket.

    The default geometry is GATE-sized; a deployment sketch should be
    sized with :func:`cms_geometry` for its target additive error
    (pytest-gated at deployment width in tests/test_cms.py) -- the
    bloom_fingerprint_admission sizing rule applied to counting."""
    if depth < 1 or width < 1:
        raise ValueError(f"cms geometry must be >= 1, got ({depth}, {width})")
    key = F.col(key_col)
    cells = (
        df.filter(key.isNotNull())
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _cms_bucket(key, r, width).alias("b"),
                        )
                        for r in range(depth)
                    ]
                )
            ).alias("x")
        )
        .groupBy(F.col("x.r").alias("r"), F.col("x.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return CMSketch(depth, width, cells)


def cms_merge(a: CMSketch, b: CMSketch) -> CMSketch:
    """Counter addition -- the never-rescan-history maintenance step
    (merge(build(X), build(Y)) == build(X+Y) EXACTLY, counter for
    counter, since counts are linear; pytest-gated like the HLL
    incremental leg's in-band law, but here with full equality).
    Geometry must match: adding counters hashed by different families
    is silent garbage, so a mismatch raises (the bloom rule)."""
    if (a.depth, a.width) != (b.depth, b.width):
        raise ValueError(
            f"cms geometry mismatch: ({a.depth}, {a.width}) vs "
            f"({b.depth}, {b.width}) -- merging differently-hashed "
            "counters is meaningless; rebuild at one geometry"
        )
    merged = (
        a.counters.unionByName(b.counters)
        .groupBy("r", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return CMSketch(a.depth, a.width, merged)


def cms_estimate(sketch: CMSketch, keys: DataFrame, key_col: str) -> DataFrame:
    """(key_col, est): the classic point estimate -- min over rows of
    the key's counter, an OVERESTIMATE by construction (collisions only
    add; est >= true always, pytest-gated) with additive error
    e*N/width at confidence 1-e^-depth.

    Plan shape: the probe explodes depth cells per key and LEFT-joins
    the broadcast counter table (absent cell = 0 -- a never-seen key
    estimates 0, it does not vanish); one min-aggregate back to keys.
    The corpus never re-scans -- at 100 TB the question "how often does
    this token/URL/fingerprint occur" is answered from kilobytes.

    The sketch's internal columns are re-aliased with a reserved
    ``__cms_`` prefix before the probe join, so a caller whose key
    column happens to be named ``r``/``b``/``cnt`` (token tables love
    one-letter names) cannot collide with them; only a ``__cms_*`` key
    column is rejected outright."""
    if key_col.startswith("__cms_"):
        raise ValueError(
            f"key column {key_col!r} collides with the sketch's reserved "
            "__cms_ internal prefix; rename the probe column"
        )
    key = F.col(key_col)
    probe = keys.filter(key.isNotNull()).select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("__cms_r"),
                        _cms_bucket(key, r, sketch.width).alias("__cms_b"),
                    )
                    for r in range(sketch.depth)
                ]
            )
        ).alias("__cms_x"),
    )
    counters = sketch.counters.select(
        F.col("r").alias("__cms_r"),
        F.col("b").alias("__cms_b"),
        F.col("cnt").alias("__cms_cnt"),
    )
    return (
        probe.select(key_col, "__cms_x.__cms_r", "__cms_x.__cms_b")
        .join(F.broadcast(counters), ["__cms_r", "__cms_b"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("__cms_cnt"), F.lit(0))).alias("est"))
    )

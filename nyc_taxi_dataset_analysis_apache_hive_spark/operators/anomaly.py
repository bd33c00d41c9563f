"""Time-series anomaly detection over an event stream: rolling,
global, same-weekday, and robust (median/MAD) scores on per-key daily
counts.

The data-quality monitor a 100 TB ingest pipeline runs continuously:
collapse the stream to a per-(key, day) count series (one hash
aggregate -- the only data-sized shuffle), then score each day against
its trailing window and against the key's full history.  Everything
after the first aggregate operates on the tiny (keys x days) series, so
the scoring windows cost nothing at any corpus scale.

Cross-engine exactness: the mean/stddev are NOT the engines' stddev
aggregates (whose internal algorithms -- Welford vs two-pass -- can
differ in the last ulp); they are re-derived from the two exact integer
window sums (sum n, sum n^2) through ONE shared double expression
(``z_expr``) that Spark and DuckDB evaluate verbatim, so the score is
bit-identical before its 6-dp round.  The zero-variance guard is an
integer identity (c * sum_sq == sum_n^2  <=>  variance == 0), decided
in exact arithmetic rather than on a float epsilon.  The square and
both guard multiplies run in DECIMAL(38,0) (r16): Spark's non-ANSI
BIGINT multiply wraps silently past 2^63 while DuckDB promotes to
HUGEINT, so pure-BIGINT arithmetic would diverge (and corrupt the
guard) once daily counts reach ~4e8 per key -- DECIMAL(38,0) keeps
both engines exact to ~1e18-row days.

Zero-count days (r16): a count aggregate produces NO row for a day
with zero events -- and a silent ingest outage is the canonical
anomaly this monitor exists to catch.  ``densify_daily`` fills each
key's [first day, last day] calendar with explicit zero rows, so an
outage day gets a row (and a z-score), and the ROWS-based trailing
window really is the trailing 7 CALENDAR days rather than the last 7
observed days silently spanning the gap.  The scorers densify by
default.

Reference parity note: the reference
(Surabhi_Srinath_NYC_Taxi_Assignment_FInal.txt) is a batch HiveQL
script with no monitoring surface -- this module is part of the
beyond-the-reference training-data-pipeline extensions, like
dedup/similarity/packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: |z| above this flags the day (the classic 2-sigma alert line)
Z_FLAG_THRESHOLD = 2.0

#: trailing window length (days) for the rolling score
ROLLING_DAYS = 7


def z_expr(n: str = "n", sum_n: str = "sum_n", sum_sq: str = "sum_sq",
           c: str = "c") -> str:
    """The shared z-score SQL expression over exact integer sums.

    ``(n - sum_n/c) / sqrt((sum_sq - sum_n^2/c) / (c - 1))`` with a
    NULL result when the window variance is exactly zero (exact
    identity test).  Sample (n-1) variance.  Valid SQL in both Spark
    and DuckDB -- embed verbatim in both surfaces.  The guard multiplies
    run in DECIMAL(38,0): BIGINT would silently wrap in Spark (and
    promote in DuckDB) once sum_n^2 passes 2^63 -- see the module
    docstring.  ``sum_sq`` is expected in DECIMAL(38,0) already
    (SUM_SQ_EXPR); the double math loses nothing observable (counts are
    exact in a double far past any daily volume).
    """
    mean = f"CAST({sum_n} AS DOUBLE) / {c}"
    var = (
        f"(CAST({sum_sq} AS DOUBLE) - CAST({sum_n} AS DOUBLE)"
        f" * CAST({sum_n} AS DOUBLE) / {c}) / ({c} - 1)"
    )
    return (
        f"CASE WHEN CAST({c} AS DECIMAL(38,0)) * {sum_sq}"
        f" = CAST({sum_n} AS DECIMAL(38,0)) * {sum_n}"
        f" THEN CAST(NULL AS DOUBLE)"
        f" ELSE (CAST({n} AS DOUBLE) - {mean}) / sqrt({var}) END"
    )


#: the overflow-safe square for the window sum -- ONE spelling for the
#: DataFrame scorers and the e1 DuckDB oracle
SUM_SQ_EXPR = "CAST(n AS DECIMAL(38,0)) * n"


def densify_daily(daily: DataFrame) -> DataFrame:
    """Fill each key's [first day, last day] calendar with explicit
    zero-count rows.

    A count aggregate emits no row for a zero-event day, so without
    this the monitor can never flag an outage (no row to score) and the
    trailing ROWS window silently spans the gap.  The grid is
    (keys x days)-sized -- nothing here touches raw events.
    """
    spans = daily.groupBy("key").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "key",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    # null-safe key equality: a NULL key is a legitimate series (the
    # adversarial corpus carries NULL event_type), and a plain equi-join
    # would zero-fill its every day while dropping its real counts --
    # consistently on both engines, so only semantics (not the value
    # hash) would catch it
    joined = grid.alias("g").join(
        daily.alias("d"),
        F.col("g.key").eqNullSafe(F.col("d.key"))
        & (F.col("g.day") == F.col("d.day")),
        "left",
    )
    return joined.select(
        F.col("g.key").alias("key"),
        F.col("g.day").alias("day"),
        F.coalesce("d.n", F.lit(0)).cast("long").alias("n"),
    )


#: flag from the ROUNDED score so both engines decide the threshold on
#: the identical 6-dp double
FLAG_EXPR = (
    f"CASE WHEN score IS NULL THEN CAST(NULL AS BIGINT)"
    f" WHEN abs(score) > {Z_FLAG_THRESHOLD!r} THEN CAST(1 AS BIGINT)"
    f" ELSE CAST(0 AS BIGINT) END"
)


def daily_counts(
    events: DataFrame, key_col: str = "event_type", ts_col: str = "ts"
) -> DataFrame:
    """Per-(key, day) event counts: ``(key, day, n)``.

    The one data-sized aggregate; everything downstream is
    (keys x days)-sized.
    """
    return (
        events.groupBy(
            F.col(key_col).alias("key"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def rolling_zscores(
    daily: DataFrame, window_days: int = ROLLING_DAYS, densify: bool = True
) -> DataFrame:
    """Score each day against its TRAILING ``window_days`` CALENDAR days
    (the current day excluded -- an anomalous day must not dilute its
    own baseline).  Only full windows score: the first ``window_days``
    days per key are warmup and are absent from the output.

    ``densify`` (default on) zero-fills missing days first
    (:func:`densify_daily`) so an outage day is scored -- and flagged --
    rather than invisible; pass False only when the input series is
    already dense by construction.

    Output: ``(key, day, n, score, flag)`` with score = round(z, 6) and
    flag decided on the rounded score (|z| > 2).
    """
    if densify:
        daily = densify_daily(daily)
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(-window_days, -1)
    )
    sums = daily.select(
        "key",
        "day",
        "n",
        F.sum("n").over(w).alias("sum_n"),
        F.sum(F.expr(SUM_SQ_EXPR)).over(w).alias("sum_sq"),
        F.count(F.lit(1)).over(w).alias("c"),
    ).filter(F.col("c") == window_days)
    return (
        sums.withColumn("score", F.round(F.expr(z_expr()), 6))
        .withColumn("flag", F.expr(FLAG_EXPR))
        .select("key", "day", "n", "score", "flag")
    )


def global_zscores(daily: DataFrame, densify: bool = True) -> DataFrame:
    """Score each day against the key's FULL history (the day itself
    included -- the retrospective outlier view, vs the rolling monitor's
    leave-self-out trailing view).  Keys with one day (or zero variance)
    yield NULL scores via the exact guard.  ``densify`` as in
    :func:`rolling_zscores`.

    Output: ``(key, day, n, score, flag)``.
    """
    if densify:
        daily = densify_daily(daily)
    w = Window.partitionBy("key")
    sums = daily.select(
        "key",
        "day",
        "n",
        F.sum("n").over(w).alias("sum_n"),
        F.sum(F.expr(SUM_SQ_EXPR)).over(w).alias("sum_sq"),
        F.count(F.lit(1)).over(w).alias("c"),
    )
    return (
        sums.withColumn("score", F.round(F.expr(z_expr()), 6))
        .withColumn("flag", F.expr(FLAG_EXPR))
        .select("key", "day", "n", "score", "flag")
    )


# ---------------------------------------------------------------------------
# Robust (median/MAD) scoring (r17): the z-score's fatal weakness is
# that one huge spike inflates the very sigma the next day is scored
# against, so a spike-then-outage sequence leaves the outage UNDER the
# 2-sigma line (pytest-gated miss in tests/test_anomaly.py).  The
# median and the median absolute deviation have a 50% breakdown point:
# no minority of spikes moves them.  Scored as the Iglewicz-Hoaglin
# modified z-score M = 0.6745 * (n - median) / MAD, flagged at the
# conventional |M| > 3.5 (Iglewicz & Hoaglin, "How to Detect and
# Handle Outliers", ASQC 1993).
#
# Cross-engine exactness (the z_expr discipline, rank-based instead of
# sum-based): engine median()/percentile aggregates interpolate in
# engine-specific float paths, so the medians here are derived from
# EXACT INTEGER rank picks instead -- row_number the values, pick the
# two middle ranks lo = floor((c+1)/2) and hi = floor((c+2)/2), and
# carry their SUM (m2 = n_lo + n_hi = 2*median; odd c picks the same
# row twice).  Deviations stay integral on the doubled scale
# (dev2 = |2n - m2| = 2*|n - median|), and their median-of-two-ranks
# sum md4 = 4*MAD is again an exact integer.  The only float op is the
# final shared expression both engines evaluate verbatim.  The
# zero-MAD guard (md4 = 0 -> NULL) is an exact integer identity.  All
# intermediates are <= 4x a daily count (no squares, unlike the z
# path), so BIGINT holds to ~2e18-row days without the DECIMAL(38,0)
# escalation SUM_SQ_EXPR needs.
# ---------------------------------------------------------------------------

#: the MAD-to-sigma consistency constant for the modified z-score
#: (1/Phi^-1(0.75); Iglewicz & Hoaglin 1993)
MAD_CONSISTENCY = 0.6745

#: |M| above this flags the day (the conventional modified-z cutoff)
ROBUST_FLAG_THRESHOLD = 3.5

#: the two middle ranks of a c-sized partition (equal when c is odd);
#: / 2.0 yields DOUBLE in both engines, floor+CAST is exact for any
#: day count
_RANK_LO = "CAST(floor((c + 1) / 2.0) AS BIGINT)"
_RANK_HI = "CAST(floor((c + 2) / 2.0) AS BIGINT)"

#: absolute deviation on the doubled-integer scale
DEV2_EXPR = "abs(2 * n - m2)"


def med2_pick(val: str, rn: str = "rn") -> str:
    """Doubled-median window expression: the sum of ``val`` at the two
    middle ranks of the key's partition (``= 2 * median(val)``).
    Requires ``rn`` (row_number ordered by ``val``) and ``c``
    (partition count) as plain columns -- window functions cannot nest,
    so the ranking is a separate layer.  Valid verbatim in Spark SQL
    and DuckDB.
    """
    return (
        f"sum(CASE WHEN {rn} = {_RANK_LO} THEN {val} ELSE 0 END)"
        f" OVER (PARTITION BY key)"
        f" + sum(CASE WHEN {rn} = {_RANK_HI} THEN {val} ELSE 0 END)"
        f" OVER (PARTITION BY key)"
    )


#: the shared modified-z expression over the exact integer medians:
#: M = 0.6745 * (n - m2/2) / (md4/4) = 0.6745 * (4n - 2*m2) / md4.
#: Both engines evaluate this text verbatim; the double conversion is
#: exact for counts below 2^53 (the z_expr argument).
ROBUST_SCORE_EXPR = (
    f"CASE WHEN md4 = 0 THEN CAST(NULL AS DOUBLE)"
    f" ELSE round({MAD_CONSISTENCY!r} *"
    f" (4.0 * CAST(n AS DOUBLE) - 2.0 * CAST(m2 AS DOUBLE))"
    f" / CAST(md4 AS DOUBLE), 6) END"
)

#: flag from the ROUNDED modified z (the FLAG_EXPR convention)
ROBUST_FLAG_EXPR = (
    f"CASE WHEN score IS NULL THEN CAST(NULL AS BIGINT)"
    f" WHEN abs(score) > {ROBUST_FLAG_THRESHOLD!r} THEN CAST(1 AS BIGINT)"
    f" ELSE CAST(0 AS BIGINT) END"
)


def robust_zscores(daily: DataFrame, densify: bool = True) -> DataFrame:
    """Score each day against the key's FULL history with the
    median/MAD modified z-score (self included, the global_zscores
    convention) -- the spike-immune retrospective view: a handful of
    extreme days cannot inflate the baseline they and their neighbors
    are judged against, so a spike-then-outage sequence flags BOTH
    (the classic z misses the outage; pytest-gated).  Keys whose MAD is
    exactly zero (at least half the days share the median count --
    including any single-day key) yield NULL via the exact integer
    guard.  ``densify`` as in :func:`rolling_zscores`.

    Output: ``(key, day, n, score, flag)`` with score = round(M, 6)
    and flag = |M| > 3.5 decided on the rounded score.
    """
    if densify:
        daily = densify_daily(daily)
    ranked = daily.selectExpr(
        "key",
        "day",
        "n",
        "row_number() OVER (PARTITION BY key ORDER BY n, day) AS rn",
        "count(*) OVER (PARTITION BY key) AS c",
    )
    med = ranked.selectExpr(
        "key", "day", "n", "c", f"{med2_pick('n')} AS m2"
    )
    dev = med.selectExpr(
        "key",
        "day",
        "n",
        "c",
        "m2",
        f"{DEV2_EXPR} AS dev2",
        f"row_number() OVER (PARTITION BY key ORDER BY {DEV2_EXPR}, day)"
        " AS rn2",
    )
    mad = dev.selectExpr(
        "key", "day", "n", "m2", f"{med2_pick('dev2', 'rn2')} AS md4"
    )
    return (
        mad.withColumn("score", F.expr(ROBUST_SCORE_EXPR))
        .withColumn("flag", F.expr(ROBUST_FLAG_EXPR))
        .select("key", "day", "n", "score", "flag")
    )


#: engine-portable day-of-week from a UTC-midnight day timestamp: whole
#: days since the (Thursday) Unix epoch, mod 7 -- 0=Thursday.  Pure
#: integer arithmetic, so no cross-engine weekday-numbering convention
#: (Spark dayofweek is 1=Sunday, DuckDB dayofweek 0=Sunday) can leak
#: into the value hash.  The e1 DuckDB oracle spells the same integer
#: division with ``//``; epoch seconds are positive for any modern
#: dataset, so plain ``%`` is safe in both.
DOW_EXPR_SPARK = (
    "CAST((CAST(unix_timestamp(day) AS BIGINT) div 86400) % 7 AS INT)"
)


def weekday_zscores(daily: DataFrame, densify: bool = True) -> DataFrame:
    """Seasonality-aware retrospective view: score each day against the
    key's FULL history OF THE SAME WEEKDAY (self included, the
    global_zscores convention) -- the monitor that does not page anyone
    because Sunday is always quiet.  Keys with one sample of a weekday
    (or zero variance across them) yield NULL via the exact guard.
    ``densify`` as in :func:`rolling_zscores`.

    Output: ``(key, day, n, score, flag)``.
    """
    if densify:
        daily = densify_daily(daily)
    daily = daily.withColumn("dow", F.expr(DOW_EXPR_SPARK))
    w = Window.partitionBy("key", "dow")
    sums = daily.select(
        "key",
        "day",
        "n",
        F.sum("n").over(w).alias("sum_n"),
        F.sum(F.expr(SUM_SQ_EXPR)).over(w).alias("sum_sq"),
        F.count(F.lit(1)).over(w).alias("c"),
    )
    return (
        sums.withColumn("score", F.round(F.expr(z_expr()), 6))
        .withColumn("flag", F.expr(FLAG_EXPR))
        .select("key", "day", "n", "score", "flag")
    )

"""Streaming batch analogs (e1-e3) and the dedup family's driver entries (d1 exact/fingerprint, d3 MinHash LSH, d4 n-gram Jaccard + winnow, d5 SimHash).

Split out of the monolithic registry.py in round 8 (registration
order preserved by the package __init__; see its docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import caching
from ..functions.text import TOKEN_SPLIT_REGEX
from ..operators import (
    anomaly,
    dedup,
    incremental,
)
from ..streaming.events import tumbling_counts_batch
from .base import (
    register,
    register_legs,
    _t,
)


# ---------------------------------------------------------------------------
# Streaming batch analogs (§2.9 extension) + event-table ops
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Windowed event stats + time-series anomaly monitor (e1, r16): the
# tumbling-window agg plus rolling/global z-scores on per-type daily
# counts -- see operators/anomaly.py for the cross-engine exactness
# design (integer window sums -> one shared double expression).
# ---------------------------------------------------------------------------

#: the two window shapes of the e1 oracle; the z expression itself comes
#: from anomaly.z_expr()
_E1_ROLL_W = (
    "(PARTITION BY key ORDER BY day "
    "ROWS BETWEEN {d} PRECEDING AND 1 PRECEDING)"
).format(d=anomaly.ROLLING_DAYS)
_E1_GLOB_W = "(PARTITION BY key)"

#: the anomaly CTE block of the e1 oracle.  ``daily0`` is the OBSERVED
#: count series (the daily leg); ``daily`` zero-fills each key's
#: [first, last] calendar so an outage day gets a row and a score
#: (operators/anomaly.densify_daily); the weekday is the integer-division
#: day-of-week of anomaly.DOW_EXPR_SPARK in DuckDB spelling; the window
#: squares run in DECIMAL(38,0) (anomaly.SUM_SQ_EXPR) so nothing wraps
#: at deployment volumes.
_E1_CTES = f"""
    daily0 AS (
      -- CAST: DuckDB date_trunc('day') yields DATE, Spark TIMESTAMP;
      -- the cast makes both engines emit TIMESTAMP (no-op in Spark)
      SELECT event_type AS key,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    dspan AS (SELECT key, min(day) AS d0, max(day) AS d1
              FROM daily0 GROUP BY key),
    dgrid AS (SELECT key, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM dspan),
    daily AS (
      -- IS NOT DISTINCT FROM: a NULL key is a legitimate series; plain
      -- equality would zero-fill it while dropping its real counts
      SELECT g.key, g.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n
      FROM dgrid g LEFT JOIN daily0 d
        ON d.key IS NOT DISTINCT FROM g.key AND d.day = g.day
    ),
    rsums AS (
      SELECT key, day, n,
             sum(n) OVER {_E1_ROLL_W} AS sum_n,
             sum({anomaly.SUM_SQ_EXPR}) OVER {_E1_ROLL_W} AS sum_sq,
             count(*) OVER {_E1_ROLL_W} AS c
      FROM daily
    ),
    rolling AS (
      SELECT key, day, n, round({anomaly.z_expr()}, 6) AS score
      FROM rsums WHERE c = {anomaly.ROLLING_DAYS}
    ),
    gsums AS (
      SELECT key, day, n,
             sum(n) OVER {_E1_GLOB_W} AS sum_n,
             sum({anomaly.SUM_SQ_EXPR}) OVER {_E1_GLOB_W} AS sum_sq,
             count(*) OVER {_E1_GLOB_W} AS c
      FROM daily
    ),
    ghist AS (
      SELECT key, day, n, round({anomaly.z_expr()}, 6) AS score
      FROM gsums
    ),
    wsums AS (
      SELECT key, day, n,
             sum(n) OVER (PARTITION BY key, dow) AS sum_n,
             sum({anomaly.SUM_SQ_EXPR}) OVER (PARTITION BY key, dow)
               AS sum_sq,
             count(*) OVER (PARTITION BY key, dow) AS c
      FROM (SELECT key, day, n, CAST((CAST(epoch(day) AS BIGINT) // 86400) % 7 AS INT) AS dow FROM daily) dowd
    ),
    whist AS (
      SELECT key, day, n, round({anomaly.z_expr()}, 6) AS score
      FROM wsums
    ),
    rrank AS (
      SELECT key, day, n,
             row_number() OVER (PARTITION BY key ORDER BY n, day) AS rn,
             count(*) OVER (PARTITION BY key) AS c
      FROM daily
    ),
    rmed AS (
      SELECT key, day, n, c, {anomaly.med2_pick("n")} AS m2 FROM rrank
    ),
    rdev AS (
      SELECT key, day, n, c, m2, {anomaly.DEV2_EXPR} AS dev2,
             row_number() OVER (
               PARTITION BY key ORDER BY {anomaly.DEV2_EXPR}, day) AS rn2
      FROM rmed
    ),
    rmad AS (
      SELECT key, day, n, m2,
             {anomaly.med2_pick("dev2", "rn2")} AS md4
      FROM rdev
    ),
    robust AS (
      SELECT key, day, n, {anomaly.ROBUST_SCORE_EXPR} AS score FROM rmad
    )
"""


#: the five anomaly legs (daily/zscore/global/weekday/robust) in e1's
#: column names
_E1_ANOMALY_SELECTS = f"""
    SELECT 'daily' AS op, day AS window_start, key AS event_type,
           n AS n_events, CAST(NULL AS DOUBLE) AS sum_value,
           CAST(NULL AS BIGINT) AS flag
    FROM daily0
    UNION ALL
    SELECT 'zscore' AS op, day AS window_start, key AS event_type,
           n AS n_events, score AS sum_value, {anomaly.FLAG_EXPR} AS flag
    FROM rolling
    UNION ALL
    SELECT 'global' AS op, day AS window_start, key AS event_type,
           n AS n_events, score AS sum_value, {anomaly.FLAG_EXPR} AS flag
    FROM ghist
    UNION ALL
    SELECT 'weekday' AS op, day AS window_start, key AS event_type,
           n AS n_events, score AS sum_value, {anomaly.FLAG_EXPR} AS flag
    FROM whist
    UNION ALL
    SELECT 'robust' AS op, day AS window_start, key AS event_type,
           n AS n_events, score AS sum_value,
           {anomaly.ROBUST_FLAG_EXPR} AS flag
    FROM robust
"""


@register(
    "e1_tumbling_window_counts",
    f"""
    WITH {_E1_CTES}
    SELECT 'tumbling' AS op, date_trunc('hour', ts) AS window_start,
           event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value, CAST(NULL AS BIGINT) AS flag
    FROM events GROUP BY window_start, event_type
    UNION ALL
    {_E1_ANOMALY_SELECTS}
    """,
)
def e1_tumbling_window_counts(spark, sf):
    """Windowed event stats, tagged and stacked (u1/r1 precedent, one
    driver slot).  ``tumbling`` = the hourly tumbling-window agg, batch
    analog of the streaming operator (the stream variant with watermark
    runs in tests/test_streaming.py).  The r16 anomaly legs put the
    data-quality monitor a continuous ingest runs on the same surface:
    ``daily`` = the per-(event_type, day) count series (the one
    data-sized aggregate; everything downstream is keys x days sized);
    ``zscore`` = each day scored against its trailing 7-day window
    (self excluded, full windows only -- the continuous-monitor view);
    ``global`` = each day against the type's whole history (the
    retrospective-outlier view); ``weekday`` (r16) = each day against
    the type's full SAME-WEEKDAY history (integer-arithmetic dow, so no
    cross-engine weekday-numbering convention leaks into the hash) --
    the seasonality-aware view; ``robust`` (r17) = each day against the
    type's full history by the median/MAD modified z-score (exact
    rank-picked integer medians; flag = |M| > 3.5) -- the spike-immune
    view that still flags an outage after a spike has inflated the
    classic sigma (pytest-gated miss in tests/test_anomaly.py).
    flag = |z| > 2 on the 6-dp-rounded score for the z legs (sum_value
    carries the score for all anomaly legs).  Mean/std re-derived from
    exact integer window sums through one shared expression so both
    engines produce bit-identical doubles (operators/anomaly.py)."""
    ev = _t(spark, sf, "events")
    nulld = F.lit(None).cast("double")
    nulll = F.lit(None).cast("long")
    tumb = tumbling_counts_batch(ev, "1 hour").select(
        F.lit("tumbling").alias("op"),
        "window_start",
        "event_type",
        "n_events",
        "sum_value",
        nulll.alias("flag"),
    )
    # ONE events scan for the whole anomaly family: the daily series
    # feeds every scorer leg (each densifies it through span/grid/join
    # sides) and is keys x days tiny, so an eager localCheckpoint (the
    # d4 token_table discipline) collapses what would otherwise plan as
    # four parquet scans of events into one -- recompute-on-loss is
    # irrelevant at this size (the kmeans centroid-frame argument).
    daily = anomaly.daily_counts(ev).localCheckpoint(eager=True)
    daily_leg = daily.select(
        F.lit("daily").alias("op"),
        F.col("day").alias("window_start"),
        F.col("key").alias("event_type"),
        F.col("n").alias("n_events"),
        nulld.alias("sum_value"),
        nulll.alias("flag"),
    )
    roll_leg = anomaly.rolling_zscores(daily).select(
        F.lit("zscore").alias("op"),
        F.col("day").alias("window_start"),
        F.col("key").alias("event_type"),
        F.col("n").alias("n_events"),
        F.col("score").alias("sum_value"),
        "flag",
    )
    glob_leg = anomaly.global_zscores(daily).select(
        F.lit("global").alias("op"),
        F.col("day").alias("window_start"),
        F.col("key").alias("event_type"),
        F.col("n").alias("n_events"),
        F.col("score").alias("sum_value"),
        "flag",
    )
    week_leg = anomaly.weekday_zscores(daily).select(
        F.lit("weekday").alias("op"),
        F.col("day").alias("window_start"),
        F.col("key").alias("event_type"),
        F.col("n").alias("n_events"),
        F.col("score").alias("sum_value"),
        "flag",
    )
    robust_leg = anomaly.robust_zscores(daily).select(
        F.lit("robust").alias("op"),
        F.col("day").alias("window_start"),
        F.col("key").alias("event_type"),
        F.col("n").alias("n_events"),
        F.col("score").alias("sum_value"),
        "flag",
    )
    return (
        tumb.unionByName(daily_leg)
        .unionByName(roll_leg)
        .unionByName(glob_leg)
        .unionByName(week_leg)
        .unionByName(robust_leg)
    )


@register(
    "e2_sessionize",
    """
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM (
      SELECT user_id, ts,
             -- CAST: DuckDB window SUM over ints yields HUGEINT (int128);
             -- Spark emits BIGINT, and the driver hash is type-sensitive
             CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) > 300000000
                 OR lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    )
    GROUP BY user_id, session_id
    """,
)
def e2_sessionize(spark, sf):
    """Batch sessionization (5-min gap) via lag + running sum -- the batch
    analog of session_window streaming (tests/test_streaming.py)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_us = F.lag(F.unix_micros("ts")).over(w)
    is_new = F.when(
        ((F.unix_micros("ts") - lag_us) > 300_000_000) | lag_us.isNull(), 1
    ).otherwise(0)
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@register(
    "e3_dedup_latest_per_key",
    """
    SELECT user_id, event_id, ts FROM (
      SELECT user_id, event_id, ts,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def e3_dedup_latest_per_key(spark, sf):
    """Keep-latest-per-key dedup (the batch analog of streaming
    dropDuplicates): deterministic keeper via (ts, event_id) DESC."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        _t(spark, sf, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts")
    )


# ---------------------------------------------------------------------------
# Dedup extensions over documents
# ---------------------------------------------------------------------------

#: Same tokenizer/shingler, scoped to the src0/src1 pair with the source
#: label kept (the a10 theta-overlap oracle).
_TOKS_SRC_CTE = f"""
      toksrc AS (
        SELECT source,
               list_filter(string_split_regex(lower(text),
                                              '{TOKEN_SPLIT_REGEX}'),
                           x -> x <> '') AS t
        FROM documents WHERE source IN ('src0', 'src1')
      ),
      gsrc AS (
        SELECT source,
               CASE WHEN len(t) >= 3 THEN
                 list_transform(range(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               ELSE [] END AS sh
        FROM toksrc
      )
"""

_TOKS_CTE = f"""
  toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_REGEX}'),
                       x -> x <> '') AS t
    FROM documents
  ),
  grams AS (
    SELECT doc_id,
           CASE WHEN len(t) >= 3 THEN
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
           ELSE [] END AS sh
    FROM toks
  )
"""


def _bloom_pos_sql(fp_expr: str) -> str:
    """DuckDB spelling of dedup.bloom_bit_positions (same md5 prefixes)."""
    from ..operators.dedup import BLOOM_K, BLOOM_M

    exprs = ", ".join(
        f"CAST('0x' || substr(md5('bloom{i}:' || {fp_expr}), 1, 15) "
        f"AS BIGINT) % {BLOOM_M}"
        for i in range(BLOOM_K)
    )
    return f"[{exprs}]"


_BLOOM_LEG_SQL = rf"""
    WITH bf AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(coalesce(text, '')),
                                     '\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    bhist AS (SELECT DISTINCT fp FROM bf WHERE doc_id % 4 != 1),
    bhpos AS (
      SELECT DISTINCT p
      FROM (SELECT unnest({_bloom_pos_sql('fp')}) AS p FROM bhist)
    ),
    bbatch AS (
      SELECT doc_id, fp FROM bf WHERE doc_id % 4 = 1
      UNION ALL
      SELECT doc_id + 1000000, fp FROM bf WHERE doc_id % 4 = 2
    ),
    bprobe AS (
      SELECT doc_id, unnest({_bloom_pos_sql('fp')}) AS p FROM bbatch
    ),
    bhits AS (
      SELECT b.doc_id, count(h.p) AS nhit
      FROM bprobe b LEFT JOIN bhpos h ON b.p = h.p
      GROUP BY b.doc_id
    ),
    brep AS (
      SELECT bb.doc_id,
             CASE WHEN bb.fp IN (SELECT fp FROM bhist) THEN 'dup'
                  WHEN bh.nhit = {dedup.BLOOM_K} THEN 'fp'
                  ELSE 'clean' END AS cls
      FROM bbatch bb JOIN bhits bh ON bb.doc_id = bh.doc_id
    )
    SELECT cls AS grp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM brep GROUP BY cls
"""


@register(
    "d1_dedup_groups",
    rf"""
    SELECT 'exact' AS method, text AS grp,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY text
    UNION ALL
    SELECT 'fp' AS method,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS grp,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY grp
    UNION ALL
    SELECT 'bloom' AS method, grp, keep_id, n_copies
    FROM ({_BLOOM_LEG_SQL})
    """,
)
def d1_dedup_groups(spark, sf):
    """Exact dedup (hash-aggregate on the full text) and fingerprint dedup
    (md5 of normalized text -- constant-width shuffle key, the 100-TB
    variant) tagged and stacked in one slot.  Both group structures are
    value-verified: group key, deterministic keeper (min doc_id), and copy
    count.

    ``method='bloom'`` (r14): dedup.bloom_fingerprint_admission's class
    partition of a batch admitted against a history through the PORTABLE
    md5 bloom pre-screen -- history = doc_id % 4 != 1; batch = the % 4
    == 1 slice plus the % 4 == 2 slice re-keyed (+1e6), planting exact
    duplicates the synthetic corpus lacks at gate scale (the
    planted-contamination precedent).  grp = the admission class
    ('dup' / 'fp' / 'clean'), keep_id / n_copies = min id and size of
    the class.  Every value is oracle-exact because the bloom is plain
    md5 arithmetic, not an engine bitset."""
    docs = _t(spark, sf, "documents")
    exact = dedup.exact_dedup_groups(docs).select(
        F.lit("exact").alias("method"),
        F.col("text").alias("grp"),
        "keep_id",
        "n_copies",
    )
    fp = dedup.fingerprint_dedup_groups(docs).select(
        F.lit("fp").alias("method"), F.col("fp").alias("grp"), "keep_id", "n_copies"
    )
    hist = docs.filter(F.col("doc_id") % 4 != 1)
    batch = docs.filter(F.col("doc_id") % 4 == 1).unionByName(
        docs.filter(F.col("doc_id") % 4 == 2).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )
    bloom = (
        dedup.bloom_fingerprint_admission(hist, batch)
        .select(
            "doc_id",
            F.when(F.col("duplicate_exact"), F.lit("dup"))
            .when(F.col("bloom_candidate"), F.lit("fp"))
            .otherwise(F.lit("clean"))
            .alias("grp"),
        )
        .groupBy("grp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(F.lit("bloom").alias("method"), "grp", "keep_id", "n_copies")
    )
    return exact.unionByName(fp).unionByName(bloom)


def _minhash_sql_parts() -> tuple[str, str]:
    from ..operators.dedup import MINHASH_P, minhash_params

    params = minhash_params(16)
    sig_cols = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS sig_{i}"
        for i, (a, b) in enumerate(params)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, "
        "concat({cols}) AS bucket FROM sigs".format(
            b=b,
            cols=", '|', ".join(
                f"CAST(sig_{j} AS VARCHAR)" for j in range(b * 4, b * 4 + 4)
            ),
        )
        for b in range(4)
    )
    return sig_cols, band_rows


_SIG_COLS, _BAND_ROWS = _minhash_sql_parts()


@register(
    "d3_minhash_lsh_pairs",
    f"""
    WITH {_TOKS_CTE},
    exploded AS (
      -- duplicates are harmless under min(); no DISTINCT needed
      SELECT doc_id, unnest(sh) AS shingle FROM grams
    ),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h
      FROM exploded
    ),
    sigs AS (
      SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {_BAND_ROWS}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list_distinct(sh) AS s FROM grams)
    SELECT 'pairs' AS op, doc_a, doc_b,
           round(CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
                 / (len(sa.s) + len(sb.s)
                    - len(list_filter(sa.s, x -> list_contains(sb.s, x)))), 6)
             AS jaccard
    FROM cands
    JOIN sets sa ON cands.doc_a = sa.doc_id
    JOIN sets sb ON cands.doc_b = sb.doc_id
    WHERE round(CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
                 / (len(sa.s) + len(sb.s)
                    - len(list_filter(sa.s, x -> list_contains(sb.s, x)))), 6) >= 0.5
    UNION ALL
    -- near-dup ADMISSION (r7): batch = doc_id % 4 = 1 probes the
    -- history's (sketch-sized) signature store via band collisions;
    -- the signature-agreement fraction k/16 is the unbiased MinHash
    -- Jaccard estimator and an exact rational, so it value-hashes
    SELECT 'inc_admit' AS op, doc_a, doc_b, jaccard
    FROM (
      WITH acands AS (
        SELECT DISTINCT b.doc_id AS doc_id, h.doc_id AS match_id
        FROM bands b JOIN bands h
          ON b.band = h.band AND b.bucket = h.bucket
         AND b.doc_id % 4 = 1 AND h.doc_id % 4 <> 1
      ),
      ascored AS (
        SELECT acands.doc_id, acands.match_id,
               round(({" + ".join(f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END" for i in range(16))})
                     / 16.0, 6) AS agreement
        FROM acands
        JOIN sigs sa ON acands.doc_id = sa.doc_id
        JOIN sigs sb ON acands.match_id = sb.doc_id
      ),
      abest AS (
        SELECT doc_id, match_id, agreement FROM (
          SELECT doc_id, match_id, agreement,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY agreement DESC, match_id ASC) AS rn
          FROM ascored
        ) WHERE rn = 1
      )
      SELECT d.doc_id AS doc_a, abest.match_id AS doc_b,
             abest.agreement AS jaccard
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 1) d
      LEFT JOIN abest ON d.doc_id = abest.doc_id
    )
    """,
)
def d3_minhash_lsh_pairs(spark, sf):
    """The MinHash surface, tagged and stacked.  ``pairs`` =
    MinHash(16)+LSH(4 bands) near-dup pairs, exact-Jaccard verified at
    >= 0.5; md5-string minhash makes the signature engine-portable.
    ``inc_admit`` (r7) = NEAR-dup admission of an incoming batch
    (doc_id % 4 == 1) against the rest of the corpus as history
    (incremental.admit_batch_neardup): history state is each document's
    signature only (~128 B/doc -- never text or shingle sets), probed by
    a cross-corpus band-bucket equi-join; per batch doc the best match's
    signature-agreement fraction (the unbiased MinHash Jaccard
    estimator, an exact rational k/16) is reported, NULL when no band
    collided.  The admitted verdict is agreement < 0.5 and is derivable
    from the gated columns (semantics pytest-gated in
    test_incremental)."""
    docs = _t(spark, sf, "documents")
    # ONE signature pass feeds both legs (measured 2.2-2.4 -> 1.85-2.0 s
    # at sf0.1): the checkpointed N x 16-long table replaces the pairs
    # leg's internal derivation AND both admission sides, so the
    # tokenize+shingle+md5 pass over text runs once for signatures (the
    # Jaccard-verify shingle pass remains, necessarily, separate)
    sigs = dedup.minhash_signatures(docs, 16, 3).localCheckpoint(eager=True)
    pairs = dedup.minhash_lsh_pairs(
        docs,
        n_hashes=16,
        n_bands=4,
        shingle_n=3,
        jaccard_threshold=0.5,
        signatures=sigs,
    ).select(F.lit("pairs").alias("op"), "doc_a", "doc_b", "jaccard")
    adm = incremental.admit_batch_neardup(
        None,
        batch=docs.filter(F.col("doc_id") % 4 == 1),
        n_hashes=16,
        n_bands=4,
        shingle_n=3,
        agreement_threshold=0.5,
        history_sigs=sigs.filter(F.col("doc_id") % 4 != 1),
        batch_sigs=sigs.filter(F.col("doc_id") % 4 == 1),
    ).select(
        F.lit("inc_admit").alias("op"),
        F.col("doc_id").alias("doc_a"),
        F.col("match_id").alias("doc_b"),
        F.col("sig_agreement").alias("jaccard"),
    )
    return pairs.unionByName(adm)


#: the ngram-only d4 statement, shared verbatim by d6's oracle (whose
#: Spark side clusters ngram pairs, not the winnow leg)
_D4_NGRAM_SQL = f"""
    WITH {_TOKS_CTE},
    sets AS (SELECT doc_id, list_distinct(sh) AS s FROM grams),
    sizes AS (SELECT doc_id, len(s) AS n_sh FROM sets),
    inv AS (
      -- full 60-bit md5-prefix key (no mod-p reduction): collisions on the
      -- join key would merge two shingles' posting lists, so the key space
      -- stays as wide as both engines can represent
      SELECT doc_id,
             CAST('0x' || substr(md5(sh_str), 1, 15) AS BIGINT) AS shingle
      FROM (SELECT doc_id, unnest(s) AS sh_str FROM sets)
    ),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM inv a JOIN inv b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(common AS DOUBLE) / (za.n_sh + zb.n_sh - common), 6) AS jaccard
    FROM common
    JOIN sizes za ON common.doc_a = za.doc_id
    JOIN sizes zb ON common.doc_b = zb.doc_id
    WHERE round(CAST(common AS DOUBLE) / (za.n_sh + zb.n_sh - common), 6) >= 0.2
"""

#: winnowed rolling-hash fingerprint pairs (Schleimer et al. 2003) --
#: k=8-char gram md5-prefix hashes, window-4 minima, prints in > 50 docs
#: dropped before the metric (rare-print jaccard), inverted-index join
_D4_WINNOW_SQL = """
    WITH wdocs AS (
      SELECT doc_id, lower(coalesce(text, '')) AS s FROM documents
    ),
    wgh AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(s) - 7, 0) + 1),
               i -> CAST('0x' || substr(md5(substr(s, i, 8)), 1, 15)
                    AS BIGINT)) AS hs
      FROM wdocs
    ),
    wp AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(hs) - 3, 0) + 1),
               j -> list_aggregate(hs[j:j+3], 'min'))) AS prints
      FROM wgh
    ),
    winv0 AS (SELECT doc_id, unnest(prints) AS p FROM wp),
    whot AS (SELECT p FROM winv0 GROUP BY p HAVING count(*) > 50),
    winv AS (
      SELECT doc_id, p FROM winv0
      WHERE p NOT IN (SELECT p FROM whot)
    ),
    wsizes AS (SELECT doc_id, count(*) AS n_p FROM winv GROUP BY doc_id),
    wcommon AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM winv a JOIN winv b ON a.p = b.p AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(common AS DOUBLE) / (za.n_p + zb.n_p - common), 6)
             AS jaccard
    FROM wcommon
    JOIN wsizes za ON wcommon.doc_a = za.doc_id
    JOIN wsizes zb ON wcommon.doc_b = zb.doc_id
    WHERE round(CAST(common AS DOUBLE) / (za.n_p + zb.n_p - common), 6)
          >= 0.35
"""


#: exact substring spans (r14, Lee et al. 2021 shape): positional w-gram
#: inverted index -> diagonal gaps-and-islands -> maximal shared spans.
#: The CTE chain mirrors dedup.span_runs 1:1 (same tokenizer, same
#: df cap, same island arithmetic -- all exact integers).
#: grams half of the chain (ptoks .. pcold), shared with d7's
#: cross-corpus spans leg (which swaps the self-join for a parity-split
#: cross join)
_SPAN_GRAMS_CTE = f"""
    ptoks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')),
                                            '{TOKEN_SPLIT_REGEX}'),
                         x -> x <> '') AS t
      FROM documents
    ),
    pgrams AS (
      SELECT doc_id, u.pos AS pos, u.g AS g
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(t) - {dedup.SPAN_WINDOW} + 1, 0) + 1),
                 j -> {{'pos': j,
                        'g': array_to_string(t[j:j+{dedup.SPAN_WINDOW}-1], ' ')}}))
                 AS u
        FROM ptoks
      )
    ),
    phot AS (
      SELECT g FROM pgrams
      GROUP BY g HAVING count(DISTINCT doc_id) > {dedup.SPAN_MAX_GRAM_DOCS}
    ),
    pcold AS (
      SELECT doc_id, pos, g FROM pgrams
      WHERE g NOT IN (SELECT g FROM phot)
    )
"""

_D4_SPAN_RUNS_CTE = f"""
    {_SPAN_GRAMS_CTE},
    phits AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM pcold a JOIN pcold b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    pruns AS (
      SELECT doc_a, doc_b, min(pa) AS pa0, min(pb) AS pb0,
             CAST(count(*) + {dedup.SPAN_WINDOW} - 1 AS BIGINT) AS span_tokens
      FROM (
        SELECT doc_a, doc_b, pa, pb,
               pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                       ORDER BY pa) AS isl
        FROM phits
      )
      GROUP BY doc_a, doc_b, pa - pb, isl
    )
"""

_D4_SPANS_SQL = f"""
    WITH {_D4_SPAN_RUNS_CTE}
    SELECT doc_a, doc_b,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(span_tokens) AS BIGINT) AS m
    FROM pruns WHERE span_tokens >= {dedup.SPAN_MIN_TOKENS}
    GROUP BY doc_a, doc_b
"""

#: merged keep-first cut intervals (doc_id, s, e) -- shared by the
#: scrub stats leg and the scrub_text rebuild leg
_D4_MERGED_CTE = f""",
    pcuts AS (
      SELECT doc_b AS doc_id, pb0 AS s, pb0 + span_tokens - 1 AS e
      FROM pruns WHERE span_tokens >= {dedup.SPAN_MIN_TOKENS}
    ),
    {dedup._merge_intervals_sql("pcuts", "pmerged")}
"""

_D4_SCRUB_SQL = f"""
    WITH {_D4_SPAN_RUNS_CTE}{_D4_MERGED_CTE}
    SELECT pm.doc_id,
           CAST(sum(pm.e - pm.s + 1) AS BIGINT) AS n,
           CAST(any_value(len(pt.t)) - sum(pm.e - pm.s + 1) AS BIGINT) AS m
    FROM pmerged pm JOIN ptoks pt ON pm.doc_id = pt.doc_id
    GROUP BY pm.doc_id
"""

#: the rebuild: indexed list_filter against the doc's merged-interval
#: array (DuckDB lambda index i and the interval space are both 1-based
#: here; Spark's are both 0-based -- each engine is self-consistent and
#: the KEPT TOKEN SEQUENCE is position-base-invariant, so the md5 of the
#: rejoined text compares across engines)
_D4_SCRUB_TEXT_SQL = f"""
    WITH {_D4_SPAN_RUNS_CTE}{_D4_MERGED_CTE},
    pivs AS (
      SELECT doc_id, list(struct_pack(s := s, e := e)) AS ivs
      FROM pmerged GROUP BY doc_id
    )
    SELECT doc_id,
           -- coalesce: DuckDB's array_to_string([]) is NULL where
           -- Spark's array_join([]) is '' -- a fully-scrubbed document
           -- must fingerprint as the empty string on both engines
           CAST('0x' || substr(md5(coalesce(array_to_string(kept, ' '),
                                            '')), 1, 15)
                AS BIGINT) AS n,
           CAST(len(kept) AS BIGINT) AS m
    FROM (
      SELECT pt.doc_id,
             list_filter(pt.t, (x, i) ->
               len(list_filter(pivs.ivs,
                               v -> i >= v.s AND i <= v.e)) = 0) AS kept
      FROM ptoks pt JOIN pivs USING (doc_id)
    )
"""


#: Gopher duplicated-n-gram coverage (r14): repeated-gram positions ->
#: merged extents -> covered fraction of the token stream.  Mirrors
#: dedup.intradoc_repetition (no pair join -- coverage, not pairs).
_D4_REP_SQL = f"""
    WITH {_SPAN_GRAMS_CTE},
    rrep AS (
      SELECT doc_id, pos AS s, pos + {dedup.SPAN_WINDOW} - 1 AS e
      FROM (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY doc_id, g) AS occ
        FROM pgrams
      )
      WHERE occ >= 2
    ),
    {dedup._merge_intervals_sql("rrep", "rmerged")},
    rcov AS (
      SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS dup
      FROM rmerged GROUP BY doc_id
    )
    SELECT pt.doc_id,
           coalesce(rcov.dup, CAST(0 AS BIGINT)) AS n,
           CAST(len(pt.t) AS BIGINT) AS m
    FROM ptoks pt LEFT JOIN rcov USING (doc_id)
"""


@register(
    "d4_ngram_jaccard_pairs",
    f"""
    SELECT 'ngram' AS op, doc_a, doc_b, jaccard,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS m
    FROM ({_D4_NGRAM_SQL})
    UNION ALL
    SELECT 'winnow' AS op, doc_a, doc_b, jaccard,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS m
    FROM ({_D4_WINNOW_SQL})
    UNION ALL
    SELECT 'spans' AS op, doc_a, doc_b, CAST(NULL AS DOUBLE) AS jaccard, n, m
    FROM ({_D4_SPANS_SQL})
    UNION ALL
    SELECT 'scrub' AS op, doc_id AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
           CAST(NULL AS DOUBLE) AS jaccard, n, m
    FROM ({_D4_SCRUB_SQL})
    UNION ALL
    SELECT 'scrub_text' AS op, doc_id AS doc_a,
           CAST(NULL AS BIGINT) AS doc_b,
           CAST(NULL AS DOUBLE) AS jaccard, n, m
    FROM ({_D4_SCRUB_TEXT_SQL})
    UNION ALL
    SELECT 'rep' AS op, doc_id AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
           CAST(NULL AS DOUBLE) AS jaccard, n, m
    FROM ({_D4_REP_SQL})
    """,
)
def d4_ngram_jaccard_pairs(spark, sf):
    """The exact near-dup pair surface, tagged and stacked (generic
    ``n``/``m`` BIGINT payload columns per the d7 precedent; each leg's
    docstring line names what they hold):

    - ``op='ngram'``: exact word-3-gram-Jaccard pairs (inverted-index
      join, no all-pairs product); threshold 0.2; n/m NULL.
    - ``op='winnow'`` (r6): rolling-hash winnowing fingerprints
      (Schleimer/Wilkerson/Aiken SIGMOD'03 -- the brief's "document
      fingerprinting (rolling hash)" item): 8-char-gram hashes,
      window-4 minima, same inverted-index shape; threshold 0.35.
      Character-level, so it is robust to tokenization differences and
      guarantees a shared print for any common substring of length >=
      k + w - 1 = 11 -- the local-sampling property shingle MinHash
      lacks; n/m NULL.
    - ``op='spans'`` (r14): exact substring spans (Lee et al. 2021) --
      dedup.shared_span_pairs' maximal VERBATIM token spans >= 12 from
      the gram-diagonal islands; n = n_spans, m = max_span_tokens,
      jaccard NULL.  The position-aware complement of the set metrics:
      a pair here shares contiguous text, not just vocabulary.
    - ``op='scrub'`` (r14): dedup.span_scrub_stats' keep-first removal
      report -- doc_a = the document that loses text (doc_b NULL),
      n = tokens_removed after interval merge, m = n_tokens_after.
    - ``op='scrub_text'`` (r14): the REWRITE itself value-hashed --
      dedup.span_scrub_text's rebuilt token stream fingerprinted with
      the portable md5-prefix BIGINT (shingle_base_hash's spelling), so
      the driver gate compares the actual scrubbed text across engines,
      not just its length; n = text fingerprint, m = n_tokens_after
      (must agree with the scrub leg's m -- two derivations, one truth).
    - ``op='rep'`` (r14): Gopher duplicated-n-gram coverage
      (dedup.intradoc_repetition) -- n = tokens covered by 6-grams
      occurring >= 2x WITHIN the document (merged extents), m =
      n_tokens; one row per document, zero for the clean ones.
      Coverage, not pairs: no self-join, so a pathologically repetitive
      document costs linear work.

    The spans/scrub/scrub_text legs share ONE runs table (eagerly
    checkpointed: three consumers, same posture as d3's shared
    signature table), and the word-token consumers (ngram index, span
    grams, rep, the two scrub legs) share ONE checkpointed token_table
    (measured 9.5-10.9 s vs 10.0-11.9 s independent at sf0.1 over 5
    interleaved reps -- the two-consumer recompute-wins result flips at
    four consumers; dedup.token_table's docstring carries both
    numbers).
    winnow stays independent: its grams are character-level."""
    docs = _t(spark, sf, "documents")
    nulll = F.lit(None).cast("long")
    nulld = F.lit(None).cast("double")

    # two INDEPENDENT eager build chains (r17, guide §2.6): the word-token
    # chain (token_table checkpoint -> positional-gram runs checkpoint)
    # and winnow's own chain (character-gram prints checkpoint ->
    # df-capped inverted-index checkpoint, inside winnow_near_pairs) used
    # to run as four sequential jobs; overlapping the chains halves the
    # entry's build wall-clock without touching any plan
    def _tok_chain():
        tt = dedup.token_table(docs).localCheckpoint(eager=True)
        rr = dedup.span_runs(dedup.positional_ngrams(tt)).localCheckpoint(
            eager=True
        )
        return tt, rr

    (tokt, runs), winnow_pairs = caching.run_overlapped(
        _tok_chain, lambda: dedup.winnow_near_pairs(docs, threshold=0.35)
    )
    ngram = dedup.ngram_jaccard_pairs(tokt, shingle_n=3, threshold=0.2).select(
        F.lit("ngram").alias("op"),
        "doc_a",
        "doc_b",
        "jaccard",
        nulll.alias("n"),
        nulll.alias("m"),
    )
    winnow = winnow_pairs.select(
        F.lit("winnow").alias("op"),
        "doc_a",
        "doc_b",
        "jaccard",
        nulll.alias("n"),
        nulll.alias("m"),
    )
    spans = dedup.shared_span_pairs(runs).select(
        F.lit("spans").alias("op"),
        "doc_a",
        "doc_b",
        nulld.alias("jaccard"),
        F.col("n_spans").alias("n"),
        F.col("max_span_tokens").alias("m"),
    )
    scrub = dedup.span_scrub_stats(tokt, runs).select(
        F.lit("scrub").alias("op"),
        F.col("doc_id").alias("doc_a"),
        nulll.alias("doc_b"),
        nulld.alias("jaccard"),
        F.col("tokens_removed").alias("n"),
        F.col("n_tokens_after").alias("m"),
    )
    stext = dedup.span_scrub_text(tokt, runs).select(
        F.lit("scrub_text").alias("op"),
        F.col("doc_id").alias("doc_a"),
        nulll.alias("doc_b"),
        nulld.alias("jaccard"),
        F.conv(F.substring(F.md5("text_scrubbed"), 1, 15), 16, 10)
        .cast("long")
        .alias("n"),
        F.col("n_tokens_after").alias("m"),
    )
    rep = dedup.intradoc_repetition(tokt).select(
        F.lit("rep").alias("op"),
        F.col("doc_id").alias("doc_a"),
        nulll.alias("doc_b"),
        nulld.alias("jaccard"),
        F.col("dup_span_tokens").alias("n"),
        F.col("n_tokens").alias("m"),
    )
    return (
        ngram.unionByName(winnow)
        .unionByName(spans)
        .unionByName(scrub)
        .unionByName(stext)
        .unionByName(rep)
    )


def _simhash_sql_parts() -> tuple[str, str, str]:
    from ..operators.dedup import SIMHASH_BITS, SIMHASH_CHUNKS

    bit_sums = ", ".join(
        f"sum((h >> {i}) & 1) AS s{i}" for i in range(SIMHASH_BITS)
    )
    pack = " + ".join(
        f"CASE WHEN 2 * s{i} > n THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    chunk_mask = (1 << chunk_bits) - 1
    chunks = (
        f"SELECT doc_id, simhash, c AS chunk, "
        f"(simhash >> ({chunk_bits} * c)) & {chunk_mask} AS val "
        f"FROM sh, (SELECT unnest(range(0, {SIMHASH_CHUNKS})) AS c)"
    )
    return bit_sums, f"CAST({pack} AS BIGINT)", chunks


_SIMHASH_BIT_SUMS, _SIMHASH_PACK, _SIMHASH_CHUNKS_SQL = _simhash_sql_parts()


@register(
    "d5_simhash_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(text), '{TOKEN_SPLIT_REGEX}'),
               x -> x <> '')) AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id, CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(t) AS tk FROM toks)
    ),
    sums AS (
      SELECT doc_id, count(*) AS n, {_SIMHASH_BIT_SUMS}
      FROM h GROUP BY doc_id
    ),
    sh AS (SELECT doc_id, {_SIMHASH_PACK} AS simhash FROM sums),
    chunks AS ({_SIMHASH_CHUNKS_SQL}),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS ha, b.simhash AS hb
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cands WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def d5_simhash_pairs(spark, sf):
    """SimHash near-dup pairs (Hamming <= 3, 15-bit-chunk pigeonhole
    blocking).  The signature is a portable 60-bit md5-prefix SimHash, so
    the DuckDB oracle reproduces it bit-for-bit (round 1 used xxhash64 and
    was rows-only).  Quality gates beyond the oracle: Hamming-distance
    property tests in tests/test_text_properties.py (near-identical docs ->
    small distance, unrelated -> large, exact dup -> 0) and the no-cartesian
    plan assertion in tests/test_plans.py."""
    return dedup.simhash_near_pairs(_t(spark, sf, "documents"), max_hamming=3)
# ---------------------------------------------------------------------------
# Leg declarations (r15): tagged-union entries, for bench.py's per-leg
# timing breakdown (pinned by tests/test_bench_legs.py).
register_legs(
    "e1_tumbling_window_counts",
    "op",
    ("daily", "global", "robust", "tumbling", "weekday", "zscore"),
)
register_legs("d1_dedup_groups", "method", ("bloom", "exact", "fp"))
register_legs("d3_minhash_lsh_pairs", "op", ("inc_admit", "pairs"))
register_legs(
    "d4_ngram_jaccard_pairs",
    "op",
    ("ngram", "rep", "scrub", "scrub_text", "spans", "winnow"),
)

"""ETL operators (SURVEY.md §3 entry point 3, REF:245-283).

``clean_trips`` is the pure transform behind the reference's INSERT OVERWRITE
(REF:261-269); the writers in ``sources.writers`` are its sinks.  Keeping the
transform side-effect-free makes it unit-testable and lets the same plan feed
either the path-based or the bucketed-table sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..schema import CLEAN_COLUMN_ORDER

#: REF:89 -- trip duration in fractional hours (long difference / int ->
#: DOUBLE, as in Hive), shared by the keep-filter and the taxi statements.
HOUR_DIFF = (
    "(unix_timestamp(tpep_dropoff_datetime)"
    " - unix_timestamp(tpep_pickup_datetime)) / 3600"
)

#: REF:268-269 -- the conjunctive keep-filter of the INSERT OVERWRITE.
#: Written as its own conjunction, not as the negated dirty OR-predicate:
#: under 3-valued logic a NULL-bearing row fails both, and the reference
#: keeps only rows that positively satisfy this form (SURVEY §7.4).
CLEAN_WHERE = f"""
    fare_amount >= 0 AND tip_amount >= 0
    AND extra IN (0.0D, 0.5D, 1.0D)
    AND passenger_count > 0
    AND tolls_amount >= 0 AND improvement_surcharge >= 0
    AND mta_tax >= 0 AND total_amount >= 0
    AND ratecodeid != '99'
    AND year(tpep_pickup_datetime) = 2017
    AND month(tpep_pickup_datetime) IN (11, 12)
    AND {HOUR_DIFF} >= 0 AND {HOUR_DIFF} <= 24
"""


def clean_trips(trips: DataFrame) -> DataFrame:
    """S3 transform: keep-filter + partition-column derivation (REF:261-269).

    Applies :data:`CLEAN_WHERE` and appends ``yr = year(pickup)``,
    ``mnth = month(pickup)`` (REF:263), in the cleaned DDL's column order
    (REF:252-254).

    Scale note: this is a single narrow Project+Filter over the scan -- no
    shuffle.  The date-part derivations are Catalyst expressions, so ORC/
    parquet readers still get column pruning and the filter's sargable
    conjuncts (fare_amount >= 0 etc.) are pushed to the scan.
    """
    return trips.where(CLEAN_WHERE).selectExpr(
        *CLEAN_COLUMN_ORDER,
        "year(tpep_pickup_datetime) AS yr",
        "month(tpep_pickup_datetime) AS mnth",
    )


__all__ = ["CLEAN_WHERE", "HOUR_DIFF", "clean_trips", "upsert"]


def upsert(base: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """SCD-1 merge: updates win on key collision, unmatched updates insert,
    unmatched base rows carry forward (MERGE INTO semantics on plain
    DataFrames).

    Full-outer join on the keys + per-column coalesce(update, base).  At
    scale: join shuffles both sides once on the keys; pair with the
    dynamic-partition writer so only partitions containing touched keys
    rewrite.  Null-safe key equality so NULL keys merge rather than
    duplicate.
    """
    cols = base.columns
    b, u = base.alias("b"), updates.alias("u")
    cond = None
    for k in keys:
        term = F.col(f"b.{k}").eqNullSafe(F.col(f"u.{k}"))
        cond = term if cond is None else (cond & term)
    joined = b.join(u, on=cond, how="full_outer")
    return joined.select(
        *[F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c) for c in cols]
    )


def scd2_upsert(
    dim: DataFrame,
    updates: DataFrame,
    keys: list[str],
    effective_col: str = "effective_ts",
    compare_cols: list[str] | None = None,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """SCD type-2 merge: attribute changes CLOSE the current version and
    append a new one, preserving full history (the companion of the
    type-1 :func:`upsert`, which overwrites in place).

    ``dim`` is the history table -- key + attribute columns plus
    (``valid_from``, ``valid_to`` NULL-for-open, ``is_current``).
    ``updates`` carries key + attribute columns plus ``effective_col``.
    Per batch the LATEST update per key wins (earlier ones are
    intra-batch churn; feed batches in order for multi-step history).

    Semantics per key:
    * attrs differ from the current version (null-safe) -> current row
      gets ``valid_to = effective``, ``is_current = false``; a new open
      version is appended;
    * brand-new key -> new open version;
    * update identical to current -> no-op (idempotent re-feeds);
    * keys with no update carry forward untouched.

    Scale: one window over the updates (latest-per-key), ONE full-outer
    shuffle of current-vs-updates on the keys (closed rows already
    co-partitioned), and the closed-history side streams through
    untouched via union -- the same single-shuffle budget as the type-1
    merge.  Pair with the dynamic-partition writer so only partitions
    holding touched keys rewrite.
    """
    attr_cols = [
        c
        for c in dim.columns
        if c not in (*keys, valid_from, valid_to, is_current)
    ]
    compare_cols = compare_cols or attr_cols

    w = Window.partitionBy(*keys).orderBy(F.col(effective_col).desc())
    latest = (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    current = dim.filter(F.col(is_current))
    history = dim.filter(~F.col(is_current))

    cond = None
    for k in keys:
        term = F.col(f"c.{k}").eqNullSafe(F.col(f"u.{k}"))
        cond = term if cond is None else (cond & term)
    j = current.alias("c").join(latest.alias("u"), on=cond, how="full_outer")

    has_update = F.col(f"u.{effective_col}").isNotNull()
    has_current = F.col(f"c.{valid_from}").isNotNull()
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"c.{c}").eqNullSafe(F.col(f"u.{c}"))
    changed = has_update & has_current & differs
    inserted = has_update & ~has_current

    dim_cols = dim.columns

    def _version(side: str, vf, vt, cur) -> list:
        key_side = "c" if side == "c" else "u"
        out = []
        for col in dim_cols:
            if col == valid_from:
                out.append(vf.alias(col))
            elif col == valid_to:
                out.append(vt.alias(col))
            elif col == is_current:
                out.append(cur.alias(col))
            else:
                out.append(F.col(f"{key_side}.{col}").alias(col))
        return out

    eff = F.col(f"u.{effective_col}")
    # ONE pass over the joined rows: each emits its surviving current
    # version (closed when changed, carried forward otherwise) and/or a
    # new open version (changed + brand-new keys) as a conditional
    # struct array -> explode.  Selecting the two outputs as separate
    # union branches would instead reference the join twice and plan the
    # full-outer merge twice (ReusedExchange can share the shuffles, but
    # the join + comparison work itself still runs per branch).
    current_out = F.when(
        has_current,
        F.struct(
            *_version(
                "c",
                F.col(f"c.{valid_from}"),
                F.when(changed, eff).otherwise(F.col(f"c.{valid_to}")),
                ~changed,
            )
        ),
    )
    new_out = F.when(
        changed | inserted,
        F.struct(
            *_version(
                "u",
                eff,
                F.lit(None).cast(dim.schema[valid_to].dataType),
                F.lit(True),
            )
        ),
    )
    merged = j.select(
        F.explode(F.array_compact(F.array(current_out, new_out))).alias("_v")
    ).select("_v.*")
    return history.unionByName(merged)

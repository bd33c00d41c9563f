"""Generic row-level data-quality gate (the dead-letter-queue pattern).

The reference audits its taxi table with ~15 standalone DQ SELECTs
(``taxi_sql.TAXI_SQL_RAW`` spells those one-for-one, REF:74-224); a
production pipeline runs the same idea the other way around: ONE pass
tags every row with the rules it violates, the clean rows flow on, the
violating rows land in a quarantine sink with their reasons attached.

All rules evaluate in a single projection over a single scan -- N rules
cost one pass, not N (the reference's N-SELECT audit re-scans per rule).
Expressions stay JVM-side; NULL rule results count as violations (a rule
that cannot prove a row clean quarantines it -- ANSI-vs-Hive NULL
semantics can't silently pass rows differently).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def apply_expectations(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Tag every row: ``violations`` (array of failed rule names, sorted)
    and ``passed`` (no violations).

    Each rule is a boolean Column that is True when the row is GOOD.
    False *or NULL* marks the rule violated -- strict-null semantics, so
    e.g. ``col("x") > 0`` quarantines NULL x instead of passing it.
    """
    tags = [
        F.when(~rule.eqNullSafe(F.lit(True)), F.lit(name))
        for name, rule in rules.items()
    ]
    return df.withColumn(
        "violations", F.array_sort(F.array_compact(F.array(*tags)))
    ).withColumn("passed", F.size("violations") == 0)


def quarantine_split(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined): clean rows with the audit columns dropped,
    quarantined rows keeping ``violations`` for the dead-letter sink.

    Both sides derive from the same tagged plan; with the input cached or
    checkpointed upstream this is one scan feeding two filters.
    """
    tagged = apply_expectations(df, rules)
    clean = tagged.filter("passed").drop("violations", "passed")
    quarantined = tagged.filter(~F.col("passed")).drop("passed")
    return clean, quarantined


def expectation_report(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Per-rule violation counts + total/clean rows, in ONE aggregate over
    the single tagged scan: (rule, n_violations, n_rows, violation_rate).

    The reference's whole DQ audit (REF:74-224) as one job: each rule's
    count is a conditional sum over the tag array, so adding a rule adds
    a column to the aggregate, never a scan.
    """
    tagged = apply_expectations(df, rules)
    aggs = [
        F.sum(
            F.array_contains("violations", name).cast("long")
        ).alias(name)
        for name in rules
    ] + [F.count(F.lit(1)).alias("_n_rows")]
    row = tagged.agg(*aggs)
    per_rule = [
        F.struct(
            F.lit(name).alias("rule"), F.col(name).alias("n_violations")
        )
        for name in rules
    ]
    return (
        row.select(
            F.explode(F.array(*per_rule)).alias("r"),
            F.col("_n_rows").alias("n_rows"),
        )
        .select(
            F.col("r.rule").alias("rule"),
            F.col("r.n_violations").alias("n_violations"),
            "n_rows",
            F.round(F.col("r.n_violations") / F.col("n_rows"), 6).alias(
                "violation_rate"
            ),
        )
    )

"""Shared ``Column`` builders (SURVEY.md §2.2).

Pure Catalyst expressions -- constant folding, pushdown and codegen see
through them; nothing here crosses into Python at row level.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_bin(ts: str | Column, width_seconds: int) -> Column:
    """Epoch-aligned bin start (seconds) for a timestamp column: the ONE
    definition of fixed-width time binning shared by the range join and
    cohort operators.

    TRUE FLOOR semantics via ``sec - pmod(sec, width)``: every bin is
    exactly ``width_seconds`` wide, including across epoch 0 (a
    truncate-toward-zero cast would produce one double-width bin straddling
    1970 and misplace every pre-1970 bin start).  All-integer arithmetic --
    no double division, so no precision cliff at large epochs.  The DuckDB
    oracles mirror it with the portable BIGINT identity
    ``e - ((e % w) + w) % w`` (DuckDB's ``//`` truncates toward zero on
    BIGINT and is NOT floor division -- verified: ``-5 // 2 = -2``; see
    tests/test_cohorts.py)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    sec = F.unix_timestamp(c)
    return sec - F.pmod(sec, F.lit(width_seconds).cast("long"))

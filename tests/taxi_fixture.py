"""Deterministic synthetic taxi fixture (FIXTURES.md fixture 1).

Mirrors the raw `ss.ss_nyc` table (REF:32-55): clean Nov-Dec 2017 rows plus
per-category dirty injections with *known per-vendor counts*, so every DQ
check from the reference (REF:60-243) has a hand-derivable golden value on
this fixture -- the synthetic analog of the reference's golden-value comments
(SURVEY.md §5).

Each dirty row carries exactly ONE defect, so per-check counts equal the
category counts below.  NULL-bearing rows are dirty to the conjunctive clean
filter (REF:268-269) but invisible to the OR dirty-predicate (REF:240-241) --
3-valued logic, SURVEY §7.4 -- which is exactly the distinction the
``removed_row_counts`` vs ``dirty_row_counts`` statements of ``taxi_sql``
encode.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SEED = 20171101

#: clean rows per vendor (~45/55 like REF:69-70)
N_CLEAN = {"1": 1350, "2": 1650}

#: dirty-category -> vendor -> row count.  Single defect per row.
DIRTY = {
    "neg_duration": {"1": 5, "2": 2},  # dropoff < pickup        (REF:93-98)
    "long_duration": {"1": 3, "2": 1},  # hour_diff > 24          (REF:93-98)
    "neg_tip": {"2": 4},  # tip_amount < 0          (REF:100-104)
    "neg_fare": {"1": 2, "2": 6},  # fare_amount < 0         (REF:106-116)
    "bad_extra": {"1": 7, "2": 9},  # extra not in {0,.5,1}   (REF:121-135)
    "zero_passenger": {"1": 8, "2": 2},  # passenger_count <= 0    (REF:138-151)
    "neg_tolls": {"2": 3},  # tolls_amount < 0        (REF:154-158)
    "neg_surcharge": {"2": 5},  # improvement_surcharge<0 (REF:161-165)
    "neg_mta": {"1": 1, "2": 4},  # mta_tax < 0             (REF:168-181)
    "neg_total": {"2": 7},  # total_amount < 0        (REF:183-195)
    "ratecode_99": {"1": 3, "2": 1},  # ratecodeid = '99'       (REF:212-217)
    "wrong_year": {"1": 2, "2": 2},  # pickup year != 2017     (REF:241)
    "wrong_month": {"1": 2, "2": 1},  # pickup month not 11/12  (REF:241)
}

#: NULL injections: clean-filter-dropped but NOT dirty-predicate-matched.
NULLS = {
    "null_fare": {"1": 2, "2": 2},
    "null_tolls": {"1": 1},
    "null_surcharge": {"2": 1},
}

#: nonstandard extra values cycled into bad_extra rows (REF:121-122 set).
BAD_EXTRA_VALUES = [-0.5, 1.5, 2.0, 4.8, -1.0, 0.3]


def dirty_count(vendor: str) -> int:
    """Rows matching the OR dirty-predicate, per vendor."""
    return sum(cat.get(vendor, 0) for cat in DIRTY.values())


def null_count(vendor: str) -> int:
    return sum(cat.get(vendor, 0) for cat in NULLS.values())


def removed_count(vendor: str) -> int:
    """Rows the conjunctive ETL clean filter drops, per vendor."""
    return dirty_count(vendor) + null_count(vendor)


def total_count(vendor: str) -> int:
    return N_CLEAN[vendor] + removed_count(vendor)


def _clean_block(rng: np.random.Generator, vendor: str, n: int) -> pd.DataFrame:
    """n clean rows for one vendor, FIXTURES.md domains."""
    start = pd.Timestamp("2017-11-01").value // 1000  # epoch micros
    end = pd.Timestamp("2017-12-31 22:00:00").value // 1000
    pickup_s = rng.integers(start // 1_000_000, end // 1_000_000, n)
    dur_s = rng.integers(60, 7200, n)
    dist = np.round(rng.uniform(0.1, 30.0, n), 2)
    fare = np.round(2.5 + dist * 2.5, 2)
    extra = rng.choice([0.0, 0.5, 1.0], n, p=[0.54, 0.30, 0.16])
    mta = rng.choice([0.0, 0.5], n, p=[0.10, 0.90])
    tip_raw = np.round(rng.exponential(2.0, n), 2)
    tip = np.where(rng.uniform(size=n) < 0.25, 0.0, np.minimum(tip_raw, 40.0))
    tolls = rng.choice([0.0, 5.76], n, p=[0.90, 0.10])
    surcharge = np.full(n, 0.3)
    total = np.round(fare + extra + mta + tip + tolls + surcharge, 2)
    return pd.DataFrame(
        {
            "vendorid": vendor,
            "tpep_pickup_datetime": pd.to_datetime(pickup_s, unit="s"),
            "tpep_dropoff_datetime": pd.to_datetime(pickup_s + dur_s, unit="s"),
            "passenger_count": rng.choice(
                [1, 2, 3, 4, 5, 6], n, p=[0.71, 0.15, 0.06, 0.03, 0.03, 0.02]
            ).astype("int32"),
            "trip_distance": dist,
            "ratecodeid": rng.choice(["1", "2", "3", "4", "5", "6"], n),
            "store_and_fwd_flag": rng.choice(["N", "Y"], n, p=[0.96, 0.04]),
            "pulocationid": rng.integers(1, 266, n).astype(str),
            "dolocationid": rng.integers(1, 266, n).astype(str),
            "payment_type": rng.choice(
                ["1", "2", "3", "4"], n, p=[0.67, 0.28, 0.03, 0.02]
            ),
            "fare_amount": fare,
            "extra": extra,
            "mta_tax": mta,
            "tip_amount": np.round(tip, 2),
            "tolls_amount": tolls,
            "improvement_surcharge": surcharge,
            "total_amount": total,
        }
    )


def _inject(block: pd.DataFrame, category: str) -> pd.DataFrame:
    """Apply exactly one defect category to every row of ``block``."""
    b = block.copy()
    n = len(b)
    if category == "neg_duration":
        b["tpep_dropoff_datetime"] = b["tpep_pickup_datetime"] - pd.Timedelta(
            minutes=10
        )
    elif category == "long_duration":
        b["tpep_dropoff_datetime"] = b["tpep_pickup_datetime"] + pd.Timedelta(
            hours=30
        )
    elif category == "neg_tip":
        b["tip_amount"] = [-1.16 - i for i in range(n)]
        b["payment_type"] = "4"  # mirrors REF:101's observation
    elif category == "neg_fare":
        b["fare_amount"] = [-4.5 - i for i in range(n)]
    elif category == "bad_extra":
        b["extra"] = [BAD_EXTRA_VALUES[i % len(BAD_EXTRA_VALUES)] for i in range(n)]
    elif category == "zero_passenger":
        b["passenger_count"] = np.int32(0)
    elif category == "neg_tolls":
        b["tolls_amount"] = -5.76
    elif category == "neg_surcharge":
        b["improvement_surcharge"] = -0.3
    elif category == "neg_mta":
        b["mta_tax"] = -0.5
    elif category == "neg_total":
        b["total_amount"] = [-7.3 - i for i in range(n)]
    elif category == "ratecode_99":
        b["ratecodeid"] = "99"
    elif category == "wrong_year":
        b["tpep_pickup_datetime"] = b["tpep_pickup_datetime"] - pd.DateOffset(
            years=9
        )
        b["tpep_dropoff_datetime"] = b["tpep_pickup_datetime"] + pd.Timedelta(
            minutes=20
        )
    elif category == "wrong_month":
        b["tpep_pickup_datetime"] = b["tpep_pickup_datetime"] - pd.DateOffset(
            months=6
        )
        b["tpep_dropoff_datetime"] = b["tpep_pickup_datetime"] + pd.Timedelta(
            minutes=20
        )
    elif category == "null_fare":
        b["fare_amount"] = np.nan
    elif category == "null_tolls":
        b["tolls_amount"] = np.nan
    elif category == "null_surcharge":
        b["improvement_surcharge"] = np.nan
    else:  # pragma: no cover
        raise ValueError(category)
    return b


def build_trips_pdf() -> pd.DataFrame:
    """The full fixture as one pandas DataFrame (deterministic)."""
    rng = np.random.default_rng(SEED)
    blocks = [_clean_block(rng, v, n) for v, n in N_CLEAN.items()]
    for source, cats in (("dirty", DIRTY), ("null", NULLS)):
        del source
        for category, per_vendor in cats.items():
            for vendor, n in per_vendor.items():
                blocks.append(_inject(_clean_block(rng, vendor, n), category))
    pdf = pd.concat(blocks, ignore_index=True)
    # micro precision: what Spark TimestampType and DuckDB TIMESTAMP share
    for c in ("tpep_pickup_datetime", "tpep_dropoff_datetime"):
        pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf


def write_fixture(dir_path: str) -> dict[str, str]:
    """Write parquet + header CSV; returns {'parquet': ..., 'csv': ...}."""
    import os

    pdf = build_trips_pdf()
    os.makedirs(dir_path, exist_ok=True)
    pq = os.path.join(dir_path, "trips.parquet")
    pdf.to_parquet(pq, index=False)
    csv = os.path.join(dir_path, "trips.csv")
    pdf.to_csv(csv, index=False, date_format="%Y-%m-%d %H:%M:%S")
    return {"parquet": pq, "csv": csv}

"""Deterministic raw-trips generator for the taxi workloads.

Produces the raw ``trips`` table of FIXTURES.md fixture 1 (the reference's
``ss.ss_nyc`` CSV, REF:32-55): clean Nov-Dec 2017 rows plus per-category
dirty rows, each carrying exactly one defect, with per-vendor counts scaled
from the fixture's base counts to the requested size.  Because every count
is known up front, the data-quality statements have exact expected answers
(:func:`expected_answers`).

The same ``(seed, rows)`` always yields byte-identical CSV; the file is
cached under the work directory so only the first run of a seed pays for it.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

#: fixture-1 base: clean rows per vendor (~45/55 split, REF:69-70)
BASE_CLEAN = {"1": 1350, "2": 1650}

#: fixture-1 base: dirty category -> vendor -> rows; one defect per row
BASE_DIRTY = {
    "neg_duration": {"1": 5, "2": 2},
    "long_duration": {"1": 3, "2": 1},
    "neg_tip": {"2": 4},
    "neg_fare": {"1": 2, "2": 6},
    "bad_extra": {"1": 7, "2": 9},
    "zero_passenger": {"1": 8, "2": 2},
    "neg_tolls": {"2": 3},
    "neg_surcharge": {"2": 5},
    "neg_mta": {"1": 1, "2": 4},
    "neg_total": {"2": 7},
    "ratecode_99": {"1": 3, "2": 1},
    "wrong_year": {"1": 2, "2": 2},
    "wrong_month": {"1": 2, "2": 1},
}

#: NULL injections: dropped by the clean filter, invisible to the dirty OR
BASE_NULLS = {
    "null_fare": {"1": 2, "2": 2},
    "null_tolls": {"1": 1},
    "null_surcharge": {"2": 1},
}

#: exactly representable nonstandard ``extra`` values (REF:121-122)
BAD_EXTRA_VALUES = [-0.5, 1.5, 2.0, 4.8, -1.0, 0.3]

COLUMNS = [
    "vendorid", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "ratecodeid", "store_and_fwd_flag",
    "pulocationid", "dolocationid", "payment_type", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount",
]


class TripCounts:
    """Per-vendor row counts of one generated table, scaled to ``rows``
    clean rows (the dirty and NULL counts keep the fixture's proportions,
    and every category keeps at least one row)."""

    def __init__(self, rows: int):
        scale = rows / sum(BASE_CLEAN.values())
        self.clean = {v: max(1, round(n * scale)) for v, n in BASE_CLEAN.items()}
        self.dirty = {
            cat: {v: max(1, round(n * scale)) for v, n in per.items()}
            for cat, per in BASE_DIRTY.items()
        }
        self.nulls = {
            cat: {v: max(1, round(n * scale)) for v, n in per.items()}
            for cat, per in BASE_NULLS.items()
        }

    def category(self, cat: str) -> dict[str, int]:
        return self.dirty.get(cat) or self.nulls[cat]

    def dirty_rows(self, vendor: str) -> int:
        return sum(per.get(vendor, 0) for per in self.dirty.values())

    def removed_rows(self, vendor: str) -> int:
        return self.dirty_rows(vendor) + sum(
            per.get(vendor, 0) for per in self.nulls.values()
        )

    def total_rows(self, vendor: str) -> int:
        return self.clean[vendor] + self.removed_rows(vendor)

    @property
    def clean_total(self) -> int:
        return sum(self.clean.values())


def _clean_block(rng: np.random.Generator, vendor: str, n: int) -> pd.DataFrame:
    """``n`` clean rows for one vendor, in the FIXTURES.md domains."""
    start = int(pd.Timestamp("2017-11-01").timestamp())
    end = int(pd.Timestamp("2017-12-31 22:00:00").timestamp())
    pickup_s = rng.integers(start, end, n)
    dur_s = rng.integers(60, 7200, n)
    dist = np.round(rng.uniform(0.1, 30.0, n), 2)
    fare = np.round(2.5 + dist * 2.5, 2)
    extra = rng.choice([0.0, 0.5, 1.0], n, p=[0.54, 0.30, 0.16])
    mta = rng.choice([0.0, 0.5], n, p=[0.10, 0.90])
    tip_raw = np.minimum(np.round(rng.exponential(2.0, n), 2), 40.0)
    tip = np.where(rng.uniform(size=n) < 0.25, 0.0, tip_raw)
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
            ),
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
        },
        columns=COLUMNS,
    )


def _inject(b: pd.DataFrame, category: str) -> pd.DataFrame:
    """Give every row of ``b`` exactly the one defect ``category``."""
    n = len(b)
    steps = np.arange(n)
    if category == "neg_duration":
        b["tpep_dropoff_datetime"] = b["tpep_pickup_datetime"] - pd.Timedelta(minutes=10)
    elif category == "long_duration":
        b["tpep_dropoff_datetime"] = b["tpep_pickup_datetime"] + pd.Timedelta(hours=30)
    elif category == "neg_tip":
        b["tip_amount"] = -1.16 - steps
        b["payment_type"] = "4"
    elif category == "neg_fare":
        b["fare_amount"] = -4.5 - steps
    elif category == "bad_extra":
        b["extra"] = [BAD_EXTRA_VALUES[i % len(BAD_EXTRA_VALUES)] for i in range(n)]
    elif category == "zero_passenger":
        b["passenger_count"] = 0
    elif category == "neg_tolls":
        b["tolls_amount"] = -5.76
    elif category == "neg_surcharge":
        b["improvement_surcharge"] = -0.3
    elif category == "neg_mta":
        b["mta_tax"] = -0.5
    elif category == "neg_total":
        b["total_amount"] = -7.3 - steps
    elif category == "ratecode_99":
        b["ratecodeid"] = "99"
    elif category in ("wrong_year", "wrong_month"):
        shift = pd.DateOffset(years=9) if category == "wrong_year" else pd.DateOffset(months=6)
        b["tpep_pickup_datetime"] = b["tpep_pickup_datetime"] - shift
        b["tpep_dropoff_datetime"] = b["tpep_pickup_datetime"] + pd.Timedelta(minutes=20)
    elif category == "null_fare":
        b["fare_amount"] = np.nan
    elif category == "null_tolls":
        b["tolls_amount"] = np.nan
    elif category == "null_surcharge":
        b["improvement_surcharge"] = np.nan
    else:
        raise ValueError(f"unknown defect category {category!r}")
    return b


def build_trips(seed: int, counts: TripCounts) -> pd.DataFrame:
    """The whole raw table, shuffled so dirty rows are spread over the file."""
    rng = np.random.default_rng(seed)
    blocks = [_clean_block(rng, v, n) for v, n in counts.clean.items()]
    for cats in (counts.dirty, counts.nulls):
        for cat, per_vendor in cats.items():
            for vendor, n in per_vendor.items():
                blocks.append(_inject(_clean_block(rng, vendor, n), cat))
    pdf = pd.concat(blocks, ignore_index=True)
    return pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)


def clean_tip_band(seed: int, counts: TripCounts, q: float,
                   accuracy: int = 10000) -> tuple[float, float]:
    """The values ``percentile_approx(tip_amount, q)`` may return over the
    clean rows: those within its rank error (``n / accuracy``, plus one
    for rank rounding) of the exact q-quantile.  The clean rows are the
    table's first blocks, regenerated here without the dirty ones."""
    rng = np.random.default_rng(seed)
    tips = np.sort(np.concatenate([
        _clean_block(rng, v, n)["tip_amount"].to_numpy()
        for v, n in counts.clean.items()
    ]))
    n = len(tips)
    slack = -(-n // accuracy) + 1
    rank = q * n
    lo = tips[max(0, int(np.floor(rank)) - slack)]
    hi = tips[min(n - 1, int(np.ceil(rank)) + slack)]
    return float(lo), float(hi)


def trips_csv_dir(work_dir: str, seed: int, rows: int) -> str:
    """Path of the cached CSV directory for ``(seed, rows)``, generating it
    on first use.  The file is written under a temporary name and renamed,
    so a cut run never leaves a partial cache entry behind."""
    out = os.path.join(work_dir, "trips", f"seed{seed}-rows{rows}")
    csv = os.path.join(out, "trips.csv")
    if not os.path.exists(csv):
        os.makedirs(out, exist_ok=True)
        tmp = csv + ".tmp"
        build_trips(seed, TripCounts(rows)).to_csv(
            tmp, index=False, date_format="%Y-%m-%d %H:%M:%S"
        )
        os.replace(tmp, csv)
    return out


def expected_answers(counts: TripCounts) -> dict[str, list[tuple]]:
    """Exact answers of the reference's data-quality statements on the
    generated table, from the generator's own counts.  Each value is the
    sorted list of result rows (statement's column order), or for the
    row-listing statements a ``[("rows", n)]`` row count."""
    vendors = sorted(BASE_CLEAN)

    def per_vendor(cat: str) -> list[tuple]:
        return sorted(counts.category(cat).items())

    def n_rows(*cats: str) -> list[tuple]:
        return [("rows", sum(sum(counts.category(c).values()) for c in cats))]

    return {
        "vendor_counts": [(v, counts.total_rows(v)) for v in vendors],
        "dirty_row_counts": [(v, counts.dirty_rows(v)) for v in vendors],
        "removed_row_counts": [(v, counts.removed_rows(v)) for v in vendors],
        "clean_vendor_counts": [(v, counts.clean[v]) for v in vendors],
        "negative_fare_counts": per_vendor("neg_fare"),
        "nonstandard_extra_counts": per_vendor("bad_extra"),
        "zero_passenger_counts": [
            (v, 0, n) for v, n in per_vendor("zero_passenger")
        ],
        "negative_toll_counts": per_vendor("neg_tolls"),
        "negative_surcharge_counts": per_vendor("neg_surcharge"),
        "negative_mta_counts": per_vendor("neg_mta"),
        "negative_total_counts": per_vendor("neg_total"),
        "invalid_duration_trips": n_rows("neg_duration", "long_duration"),
        "negative_tips": n_rows("neg_tip"),
        "negative_fares": n_rows("neg_fare"),
        "nonpositive_passengers": n_rows("zero_passenger"),
        "negative_distances": [("rows", 0)],
        "validate_clean": [("rows", 0)],
    }

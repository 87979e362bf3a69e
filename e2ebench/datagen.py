"""Seeded input generator for the ``etl_batch`` workload.

``write_sales_csvs`` is a pure function of the seed (same seed, same bytes).
It writes the ETL source pair, shaped like Kaggle's "100000 Sales Records"
(FIXTURES.md §1): a local extract and a smaller API
extract that shares ``API_OVERLAP`` of its ``order_id``s with the local one.
The FIXTURES.md §1 defect kinds are planted at the fixed rates in ``RATES``:

====================  =======================================================
defect                how it is planted
====================  =======================================================
``exact_dup``         a row copied verbatim within its own source
``null_region``       ``region`` empty (API source only; smart-fill target)
``dirty_channel``     ``sales_channel`` upper-cased and padded with spaces
``bad_date``          ``order_date`` malformed (``13/45/2020``, ISO, empty)
``null_units``        ``units_sold`` empty (median-impute target)
``bad_revenue``       ``total_revenue`` off by +10% (recompute-check target)
``neg_cost``          ``total_cost`` negated (range-check target)
``null_profit``       ``total_profit`` empty
``profit_outlier``    ``total_profit`` ×50 (IQR-clip target)
null ``order_id``     exactly one row per source
====================  =======================================================

Duplicates within a source are verbatim copies and the local source holds
exactly one NULL-key row, so keep-first dedup has one right answer even
though the engine breaks ties inside a source arbitrarily.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

#: rows in the local and API sales extracts
N_LOCAL = 20_000
N_API = 2_000
#: share of API order_ids that also occur in the local extract
API_OVERLAP = 0.05
#: planted-defect rates (share of rows per source, before duplication)
RATES = {
    "exact_dup": 0.01,
    "null_region": 0.02,
    "dirty_channel": 0.05,
    "bad_date": 0.005,
    "null_units": 0.01,
    "bad_revenue": 0.005,
    "neg_cost": 0.005,
    "null_profit": 0.01,
    "profit_outlier": 0.005,
}

SALES_HEADER = (
    "Region,Country,Item Type,Sales Channel,Order Priority,Order Date,Order ID,"
    "Ship Date,Units Sold,Unit Price,Unit Cost,Total Revenue,Total Cost,Total Profit"
)
_COUNTRIES = {
    "Europe": ("France", "Germany", "Spain", "Italy", "Poland", "Norway"),
    "Asia": ("Japan", "China", "India", "Vietnam", "Mongolia"),
    "Sub-Saharan Africa": ("Kenya", "Ghana", "Niger", "Rwanda", "Zambia"),
    "Middle East and North Africa": ("Egypt", "Morocco", "Oman", "Jordan"),
    "Central America and the Caribbean": ("Mexico", "Cuba", "Panama", "Haiti"),
    "Australia and Oceania": ("Australia", "Fiji", "Samoa", "Tonga"),
    "North America": ("Canada", "United States of America", "Greenland"),
}
_ITEMS = {  # item type -> (unit price, unit cost), the Kaggle file's fixed pairs
    "Baby Food": (255.28, 159.42),
    "Beverages": (47.45, 31.79),
    "Cereal": (205.70, 117.11),
    "Clothes": (109.28, 35.84),
    "Cosmetics": (437.20, 263.33),
    "Fruits": (9.33, 6.92),
    "Household": (668.27, 502.54),
    "Meat": (421.89, 364.69),
    "Office Supplies": (651.21, 524.96),
    "Personal Care": (81.73, 56.67),
    "Snacks": (152.58, 97.44),
    "Vegetables": (154.06, 90.93),
}
_PRIORITIES = ("H", "M", "L", "C")
_BAD_DATES = ("13/45/2020", "2015-03-07", "")


def _fmt_money(cents: int) -> str:
    sign = "-" if cents < 0 else ""
    cents = abs(cents)
    return f"{sign}{cents // 100}.{cents % 100:02d}"


def _fmt_date(d: dt.date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


def _sales_rows(rng: np.random.Generator, ids: np.ndarray, null_region_ok: bool) -> list[list[str]]:
    """One source's rows (before verbatim duplicates) as CSV string fields."""
    n = len(ids)
    regions = list(_COUNTRIES)
    items = list(_ITEMS)
    region_idx = rng.integers(0, len(regions), n)
    country_pick = rng.integers(0, 1_000, n)
    item_idx = rng.integers(0, len(items), n)
    online = rng.random(n) < 0.5
    prio_idx = rng.integers(0, len(_PRIORITIES), n)
    day0 = dt.date(2010, 1, 1)
    order_off = rng.integers(0, 8 * 365, n)
    ship_lag = rng.integers(0, 61, n)
    units = rng.integers(1, 401, n)
    units[rng.random(n) < 0.02] = 50
    units[rng.random(n) < 0.02] = 200
    flags = {k: rng.random(n) < r for k, r in RATES.items() if k != "exact_dup"}
    bad_date_kind = rng.integers(0, len(_BAD_DATES), n)

    rows = []
    for i in range(n):
        region = regions[region_idx[i]]
        countries = _COUNTRIES[region]
        country = countries[country_pick[i] % len(countries)]
        item = items[item_idx[i]]
        price, cost = _ITEMS[item]
        p_cents, c_cents = round(price * 100), round(cost * 100)
        u = int(units[i])
        rev = u * p_cents
        tcost = u * c_cents
        profit = rev - tcost
        if flags["bad_revenue"][i]:
            rev = rev * 11 // 10
        if flags["neg_cost"][i]:
            tcost = -tcost
        if flags["profit_outlier"][i]:
            profit *= 50
        channel = "Online" if online[i] else "Offline"
        if flags["dirty_channel"][i]:
            channel = f" {channel.upper()}  "
        order_d = day0 + dt.timedelta(days=int(order_off[i]))
        order_s = _BAD_DATES[bad_date_kind[i]] if flags["bad_date"][i] else _fmt_date(order_d)
        rows.append(
            [
                "" if (null_region_ok and flags["null_region"][i]) else region,
                country,
                item,
                channel,
                _PRIORITIES[prio_idx[i]],
                order_s,
                "" if ids[i] < 0 else str(int(ids[i])),
                _fmt_date(order_d + dt.timedelta(days=int(ship_lag[i]))),
                "" if flags["null_units"][i] else str(u),
                _fmt_money(p_cents),
                _fmt_money(c_cents),
                _fmt_money(rev),
                _fmt_money(tcost),
                "" if flags["null_profit"][i] else _fmt_money(profit),
            ]
        )
    # verbatim within-source duplicates, each right after its original
    dup = rng.random(n) < RATES["exact_dup"]
    out = []
    for i, row in enumerate(rows):
        out.append(row)
        if dup[i]:
            out.append(list(row))
    return out


def _write_csv(path: str, rows: list[list[str]]) -> None:
    # Kaggle's region names contain no commas or quotes; fields are bare.
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(SALES_HEADER + "\n")
        for row in rows:
            fh.write(",".join(row) + "\n")


def write_sales_csvs(
    seed: int, out_dir: str, n_local: int = N_LOCAL, n_api: int = N_API
) -> tuple[str, str]:
    """Write ``sales_local.csv`` and ``sales_api.csv``; return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    local_ids = rng.permutation(np.arange(1, n_local + 1, dtype=np.int64)) + 100_000_000
    local_ids[rng.integers(0, n_local)] = -1  # the single NULL key
    n_overlap = int(round(n_api * API_OVERLAP))
    api_ids = np.concatenate(
        [
            rng.choice(local_ids[local_ids > 0], n_overlap, replace=False),
            np.arange(n_api - n_overlap, dtype=np.int64) + 200_000_000,
        ]
    )
    api_ids = rng.permutation(api_ids)
    api_ids[rng.integers(0, n_api)] = -1
    paths = (os.path.join(out_dir, "sales_local.csv"), os.path.join(out_dir, "sales_api.csv"))
    _write_csv(paths[0], _sales_rows(rng, local_ids, null_region_ok=False))
    _write_csv(paths[1], _sales_rows(rng, api_ids, null_region_ok=True))
    return paths

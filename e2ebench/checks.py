"""Output checks. Every check runs outside the timed region.

- Registry queries are compared with their DuckDB oracle
  (``REGISTRY[name].oracle``) on the same lake, evaluated once before timing.
- Dashboard calls are compared with a DuckDB evaluation of the same filter
  on ``orders.parquet``.
- The ETL run is compared with a pandas evaluation of the generated CSVs:
  the quality report, the fact row count and the fact revenue fixed-point sum.

Values are compared after the normalization of the repo's oracle gate
(``tests/oracle_harness.py``): columns sorted by name, rows sorted, doubles
to 9 significant digits.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb
import pandas as pd

from tests.oracle_harness import _norm_value as _scalar_norm
from tests.oracle_harness import duck_connection


def _norm_value(v):
    # registry results can hold arrays, whose doubles the harness's scalar
    # normalization would pass through unrounded
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    return _scalar_norm(v)


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Order-insensitive canonical form of a result set: the oracle gate's
    ``_norm_rows``, with arrays normalized element by element."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_value(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in idx], out


def digest(cols: list[str], rows: list[tuple]) -> str:
    return hashlib.sha256(repr(normalize(cols, rows)).encode()).hexdigest()


def duck_lake(lake_dir: str) -> duckdb.DuckDBPyConnection:
    """The oracle gate's DuckDB connection over ``lake_dir``."""
    con = duck_connection(lake_dir)
    con.execute("SET threads TO 1")
    return con


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [c[0] for c in cur.description], cur.fetchall()


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

_XS = "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0"


def dashboard_expected(
    con: duckdb.DuckDBPyConnection, start: dt.date, end: dt.date, priorities: list[str], bins: int
) -> dict[str, list[tuple]]:
    """DuckDB evaluation of the five dashboard calls under one filter."""
    plist = ", ".join(f"'{p}'" for p in priorities)
    where = (
        f"CAST(o_orderdate AS DATE) BETWEEN DATE '{start}' AND DATE '{end}' "
        f"AND o_orderpriority IN ({plist})"
    )
    f = f"(SELECT * FROM orders WHERE {where})"
    n, total = con.execute(f"SELECT COUNT(*), {_XS} FROM {f}").fetchone()
    out = {"kpis": [(n, total)]}
    out["monthly_trend"] = con.execute(
        f"SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month, {_XS} "
        f"FROM {f} GROUP BY month ORDER BY month"
    ).fetchall()
    lo, hi = con.execute(f"SELECT MIN(o_totalprice), MAX(o_totalprice) FROM {f}").fetchone()
    if lo is None or lo == hi:
        out["histogram"] = [(0, lo, n)]
    else:
        width = (hi - lo) / bins
        out["histogram"] = [
            (b, lo + b * width, c)
            for b, c in con.execute(
                f"SELECT CAST(LEAST(FLOOR((o_totalprice - CAST({lo!r} AS DOUBLE))"
                f" / CAST({width!r} AS DOUBLE)), {bins - 1}) AS INTEGER) AS b,"
                f" COUNT(*) FROM {f} GROUP BY b ORDER BY b"
            ).fetchall()
        ]
    for dim in ("o_orderstatus", "o_orderpriority"):
        out[f"by_dimension:{dim}"] = con.execute(
            f"SELECT {dim}, {_XS} AS total FROM {f} GROUP BY {dim} ORDER BY total DESC, {dim}"
        ).fetchall()
    return out


def _close(a, b, rel: float = 1e-9, abs_: float = 0.0) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def dashboard_matches(expected: dict[str, list[tuple]], got: dict[str, list[tuple]]) -> bool:
    """Compare the five calls' rows (``got`` as collected from Spark)."""
    (n, total), = expected["kpis"]
    (gn, gtotal, gavg), = got["kpis"]
    if gn != n or not _close(gtotal, total):
        return False
    # avg_per_row is rounded to cents by the engine; it must be that rounding
    if n and not _close(gavg, total / n, abs_=0.005 + 1e-9):
        return False
    for key in ("monthly_trend", "by_dimension:o_orderstatus", "by_dimension:o_orderpriority"):
        exp, g = expected[key], got[key]
        if len(exp) != len(g) or any(
            a[0] != b[0] or not _close(a[1], b[1]) for a, b in zip(exp, g)
        ):
            return False
    exp, g = expected["histogram"], got["histogram"]
    # bin_start is rounded to 6 decimals by the engine
    return len(exp) == len(g) and all(
        a[0] == b[0] and a[2] == b[2] and _close(a[1], b[1], abs_=1e-6 + 1e-9)
        for a, b in zip(exp, g)
    )


# ---------------------------------------------------------------------------
# ETL
# ---------------------------------------------------------------------------

_SALES_COLS = (
    "region", "country", "item_type", "sales_channel", "order_priority", "order_date",
    "order_id", "ship_date", "units_sold", "unit_price", "unit_cost", "total_revenue",
    "total_cost", "total_profit",
)


def etl_expected(local_csv: str, api_csv: str) -> dict:
    """What one full-refresh run must produce from the generated CSV pair:
    keep-first dedup on ``order_id`` (local before API), then rows whose
    ``order_date`` is not ``M/d/yyyy`` are dropped."""
    frames = []
    for rank, path in enumerate((local_csv, api_csv)):
        df = pd.read_csv(path, header=0, names=list(_SALES_COLS), dtype=str, keep_default_na=False)
        df["source_rank"] = rank
        frames.append(df)
    df = pd.concat(frames, ignore_index=True)
    df["order_id"] = pd.to_numeric(df["order_id"].replace("", None))
    df = df.sort_values(["order_id", "source_rank"], kind="stable", na_position="last")
    df = df.drop_duplicates(subset="order_id", keep="first")
    dates = pd.to_datetime(df["order_date"], format="%m/%d/%Y", errors="coerce")
    df = df[dates.notna()]
    cents = (pd.to_numeric(df["total_revenue"]) * 100).round().astype("int64")
    cost = pd.to_numeric(df["total_cost"])
    return {
        "n_rows": len(df),
        "pk_nulls": int(df["order_id"].isna().sum()),
        "pk_duplicates": len(df) - int(df["order_id"].nunique()),
        "neg_total_cost": int((cost < 0).sum()),
        "revenue_cents": int(cents.sum()),
    }


def etl_report_matches(expected: dict, report) -> bool:
    """The pipeline's QualityReport against the pandas evaluation."""
    return (
        report.n_rows == expected["n_rows"]
        and report.pk_nulls == expected["pk_nulls"]
        and report.pk_duplicates == expected["pk_duplicates"]
        and report.negative_counts.get("total_cost") == expected["neg_total_cost"]
        and report.null_counts.get("units_sold") == 0
        and report.passed == (
            expected["pk_nulls"] == 0
            and expected["pk_duplicates"] == 0
            and expected["neg_total_cost"] == 0
        )
    )


def etl_fact_summary(warehouse: str) -> dict:
    """Row count and revenue fixed-point sum of the written fact table."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    n, cents = con.execute(
        "SELECT COUNT(*), SUM(CAST(ROUND(total_revenue * 100) AS BIGINT)) "
        f"FROM read_parquet('{warehouse}/fact_sales/**/*.parquet')"
    ).fetchone()
    con.close()
    return {"n_rows": int(n), "revenue_cents": int(cents or 0)}


def etl_fact_matches(expected: dict, fact: dict) -> bool:
    return fact["n_rows"] == expected["n_rows"] and fact["revenue_cents"] == expected["revenue_cents"]

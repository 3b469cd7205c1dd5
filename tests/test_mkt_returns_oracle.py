"""The reference's flagship views on a synthesized market-data frame,
checked row for row against DuckDB running the notebook SQL
(reference: mkt_returns/sql_test_mkt_returns.ipynb:671-705, :772-800).

Unlike test_mkt_returns_golden.py this needs no reference checkout: the
frame follows the FIXTURES.md §1 invariants (4 funds x 2 types x 59
calendar days, 2025-01-01..02-28; DAILY_RETURN NULL on exactly the
non-working days)."""

from __future__ import annotations

import datetime as dt
import math
import random

import duckdb
import pandas as pd
import pytest

from aws_etl_global_footprint_network_spark.operators.mkt_returns import (
    daily_compound_evolution,
    weekly_returns,
)
from aws_etl_global_footprint_network_spark.sources.calendar import build_calendar

START = dt.date(2025, 1, 1)
DAYS = [START + dt.timedelta(days=i) for i in range(59)]

# The notebook's CTE, with the calendar dimension as DuckDB builds it:
# Monday-Friday working days.
DAILY_RETURNS = """
daily_returns AS (
  SELECT mkt.FUND_CODE, mkt.RETURN_TYPE, mkt.MARKET_DATE, mkt.DAILY_RETURN,
         strftime(mkt.MARKET_DATE, '%Y-%W') AS YEAR_WEEK
  FROM tb_market_data mkt
  JOIN (SELECT CAST(d AS DATE) AS DATE, isodow(d) <= 5 AS IS_WORKING_DAY
        FROM generate_series(DATE '2024-12-01', DATE '2025-03-31',
                             INTERVAL 1 DAY) t(d)) cal
    ON mkt.MARKET_DATE = cal.DATE
  WHERE cal.IS_WORKING_DAY)
"""

VW_MKT_RETURNS = f"""
WITH {DAILY_RETURNS},
weekly_returns AS (
  SELECT FUND_CODE, RETURN_TYPE, YEAR_WEEK,
         EXP(SUM(LN(1 + DAILY_RETURN))) - 1 AS WEEKLY_RETURN
  FROM daily_returns
  GROUP BY FUND_CODE, RETURN_TYPE, YEAR_WEEK)
SELECT d.FUND_CODE, d.RETURN_TYPE, d.MARKET_DATE, d.DAILY_RETURN,
       d.YEAR_WEEK, w.WEEKLY_RETURN
FROM daily_returns d
JOIN weekly_returns w
  ON d.FUND_CODE = w.FUND_CODE AND d.RETURN_TYPE = w.RETURN_TYPE
 AND d.YEAR_WEEK = w.YEAR_WEEK
"""

VW_COMPOUND_EVOLUTION = f"""
WITH {DAILY_RETURNS}
SELECT FUND_CODE, RETURN_TYPE, MARKET_DATE, DAILY_RETURN, YEAR_WEEK,
       EXP(SUM(LN(1 + DAILY_RETURN)) OVER (
           PARTITION BY FUND_CODE, RETURN_TYPE, YEAR_WEEK
           ORDER BY MARKET_DATE)) - 1 AS DAILY_COMPOUND_EVOLUTION
FROM daily_returns
"""


def _market_rows(seed: int = 20250101) -> list[tuple]:
    rnd = random.Random(seed)
    rows = []
    for fund in range(1, 5):
        for typ in ("TYPE_A", "TYPE_B"):
            for d in DAYS:
                value = round(rnd.uniform(0.0005, 0.4988), 10)
                rows.append(
                    (f"FUND_{fund:02d}", d, typ, value if d.weekday() < 5 else None)
                )
    return rows


@pytest.fixture(scope="module")
def frames(spark):
    rows = _market_rows()
    market = spark.createDataFrame(
        rows,
        "FUND_CODE string, MARKET_DATE date, RETURN_TYPE string, DAILY_RETURN double",
    )
    con = duckdb.connect()
    tb_market_data = pd.DataFrame(
        rows, columns=["FUND_CODE", "MARKET_DATE", "RETURN_TYPE", "DAILY_RETURN"]
    )
    con.register("tb_market_data", tb_market_data)
    calendar = build_calendar(spark, "2024-12-01", "2025-03-31")
    return market, calendar, con


def test_fixture_invariants():
    rows = _market_rows()
    assert len(rows) == 4 * 2 * 59
    assert len({(r[0], r[1], r[2]) for r in rows}) == len(rows)
    assert len({(r[0], r[1]) for r in rows}) == len(rows) // 2
    nulls = [r for r in rows if r[3] is None]
    assert len(nulls) == 128 and all(r[1].weekday() >= 5 for r in nulls)


def _assert_same_rows(spark_df, con, sql: str, value_col: str) -> None:
    key = ["FUND_CODE", "RETURN_TYPE", "MARKET_DATE"]
    cols = key + ["DAILY_RETURN", "YEAR_WEEK", value_col]
    assert sorted(spark_df.columns) == sorted(cols)
    got = sorted(tuple(r[c] for c in cols) for r in spark_df.collect())
    rel = con.sql(sql)
    want = sorted(
        tuple(dict(zip(rel.columns, r))[c] for c in cols) for r in rel.fetchall()
    )
    # 8 series x 43 working days.
    assert len(got) == len(want) == 344
    for g, w in zip(got, want):
        assert g[:5] == w[:5], (g, w)
        # The JVM's StrictMath exp/ln and DuckDB's libm may differ in
        # the last ulp.
        assert math.isclose(g[5], w[5], rel_tol=1e-12), (g, w)


def test_weekly_returns_matches_notebook_sql(frames):
    market, calendar, con = frames
    _assert_same_rows(
        weekly_returns(market, calendar), con, VW_MKT_RETURNS, "WEEKLY_RETURN"
    )


def test_daily_compound_evolution_matches_notebook_sql(frames):
    market, calendar, con = frames
    _assert_same_rows(
        daily_compound_evolution(market, calendar),
        con,
        VW_COMPOUND_EVOLUTION,
        "DAILY_COMPOUND_EVOLUTION",
    )

"""Pipeline orchestration — the Airflow DAGs as function composition.

Each function is one reference DAG's task graph collapsed into plain
call order (SURVEY.md §3: "the DAG edges become call order"). XComs are
local variables; sensors are file listings; branches are ``if``.

A reference user maps their DAGs here:

| reference DAG | engine entry point |
|---|---|
| brz_kr_etf_daily | :func:`daily_market_ingest` |
| slv_industry_code_daily | :func:`silver_industry_code_daily` |
| slv_generate_calendar_yearly | :func:`refresh_calendar` |
| brz_* (any bronze fetch) | :func:`bronze_ingest` |
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capital import quality
from capital.io import Lake, stamp_ymd, write_partitioned
from capital.operators.asof import previous_working_day
from capital.operators.calendar import build_calendar
from capital.transforms.industry_code import silver_industry_code


def refresh_calendar(
    spark: SparkSession, lake: Lake, year: int
) -> DataFrame:
    """slv_generate_calendar_yearly: build year+2 and overwrite that
    year partition (the reference's DELETE WHERE year + insert loop,
    sql.py:36-79, as one dynamic partition overwrite)."""
    target = year + 2
    cal = build_calendar(spark, f"{target}-01-01", f"{target}-12-31")
    out = cal.withColumn("year_part", F.col("year"))
    write_partitioned(out, lake.path("silver", "dim_calendar"), "year_part")
    return cal


def market_open_anchor(
    calendar: DataFrame, logical_date: str
) -> tuple[bool, _dt.date | None]:
    """brz_kr_etf_daily steps 1–2: is the market open on
    ``logical_date``, and what is the previous working day?

    The reference does this with a Redshift correlated subquery + XCom
    + ShortCircuitOperator (brz_kr_etf_daily.py:21-33, tasks.py:13-27);
    here it is one filtered window lookup returning a plain tuple.
    """
    row = (
        previous_working_day(calendar)
        .filter(F.col("date") == F.lit(logical_date).cast("date"))
        .select("is_market_holiday", "previous_working_day")
        .collect()
    )
    if not row:
        return False, None
    return (not row[0].is_market_holiday), row[0].previous_working_day


def bronze_ingest(
    spark: SparkSession,
    lake: Lake,
    table: str,
    fetch: Callable[[], DataFrame],
    date_col: str,
) -> DataFrame:
    """Generic bronze step: fetch → non-empty guard → ymd-partitioned
    idempotent write (every brz_* DAG's tail)."""
    df = quality.assert_non_empty(fetch(), table)
    out = stamp_ymd(df, date_col)
    write_partitioned(out, lake.path("bronze", table))
    return out


def daily_market_ingest(
    spark: SparkSession,
    lake: Lake,
    logical_date: str,
    fetch: Callable[[_dt.date], DataFrame],
    calendar: DataFrame | None = None,
    table: str = "kr_etf",
) -> DataFrame | None:
    """brz_kr_etf_daily end to end: holiday gate → re-anchor to the
    previous working day → fetch → partitioned write. Returns None when
    short-circuited (P10)."""
    year = int(logical_date[:4])
    cal = calendar if calendar is not None else build_calendar(
        spark, f"{year - 1}-01-01", f"{year + 1}-12-31"
    )
    is_open, prev_day = market_open_anchor(cal, logical_date)
    if not is_open or prev_day is None:
        return None  # ShortCircuitOperator semantics
    df = fetch(prev_day)
    quality.assert_non_empty(df, table)
    out = df.withColumn("ymd", F.lit(prev_day))
    write_partitioned(out, lake.path("bronze", table))
    return out


def silver_industry_code_daily(
    spark: SparkSession, lake: Lake
) -> DataFrame:
    """slv_industry_code_daily: the 5-task sensor/branch/crawler/Glue
    DAG as three lines (SURVEY.md §3.2 engine translation)."""
    bronze = spark.read.json(lake.path("bronze", "industry_code"))
    silver = silver_industry_code(bronze)
    write_partitioned(
        silver.withColumn("ymd", F.col("issue_date")),
        lake.path("silver", "dim_industry_code"),
    )
    return silver

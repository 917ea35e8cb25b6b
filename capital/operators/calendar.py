"""Calendar dimension generator — the de-proceduralized showcase.

The reference builds ``dim_calendar`` with a Redshift stored procedure
that loops one INSERT per day (reference: dags/slv_generate_calendar_
yearly/sql.py:26-82). Here the whole loop is one vectorized expression
pipeline: ``sequence() → explode()`` plus derived columns.

Semantics preserved exactly (SURVEY.md §2.8 F1/F2/F6/F7):

- ``day_of_week`` uses the **Redshift convention 0=Sunday**
  (sql.py:64-70); Spark's ``dayofweek`` is 1=Sunday, so we normalize
  with ``-1``.
- ``day_name`` is Korean 일요일…토요일 (sql.py:64-70).
- ``is_market_holiday`` is true iff the day is a weekend (sql.py:72-75)
  — the reference's documented simplification; real exchange holidays
  live in a separate table (see SURVEY.md §7 risk register).

Scale note: a calendar is a dimension (≤ tens of thousands of rows for
decades); it is generated on one partition and is the canonical
broadcast-join candidate. Never shuffle a fact table against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Korean day names indexed by Spark dayofweek (1=Sunday … 7=Saturday),
#: mirroring the reference's CASE ladder (sql.py:64-70).
KOREAN_DAY_NAMES = ("일요일", "월요일", "화요일", "수요일", "목요일", "금요일", "토요일")


def build_calendar(
    spark: SparkSession,
    start: str,
    end: str,
    with_audit_cols: bool = False,
) -> DataFrame:
    """Generate the ``dim_calendar`` rows for ``[start, end]`` inclusive.

    One row per day with the reference's 11 columns. ``with_audit_cols``
    adds the ``created_at``/``updated_at`` timestamps (sql.py:21-22);
    they default off because they are nondeterministic and the oracle
    comparison excludes them.
    """
    days = spark.sql(
        "SELECT explode(sequence(to_date(:start), to_date(:end), "
        "interval 1 day)) AS date",
        args={"start": start, "end": end},
    )
    dow0 = F.dayofweek("date") - F.lit(1)  # normalize to 0=Sunday
    day_name = F.element_at(
        F.array(*[F.lit(n) for n in KOREAN_DAY_NAMES]), F.dayofweek("date")
    )
    cal = days.select(
        F.col("date"),
        F.year("date").alias("year"),
        F.quarter("date").alias("quarter"),
        F.month("date").alias("month_num"),
        F.dayofmonth("date").alias("day_of_month"),
        dow0.alias("day_of_week"),
        F.concat(
            F.date_format("date", "yyyy"), F.lit("Q"), F.quarter("date")
        ).alias("quarter_id"),
        F.date_format("date", "yyyyMM").alias("month_id"),
        F.date_format("date", "MMM").alias("month_name"),
        day_name.alias("day_name"),
        dow0.isin(0, 6).alias("is_market_holiday"),
    )
    if with_audit_cols:
        cal = cal.withColumn("created_at", F.current_timestamp()).withColumn(
            "updated_at", F.current_timestamp()
        )
    return cal


def merge_holidays(
    cal: DataFrame,
    holidays: DataFrame,
    date_col: str = "calnd_dd_dy",
    name_col: str = "holdy_nm",
) -> DataFrame:
    """OR real exchange holidays into ``is_market_holiday``.

    The reference keeps two models that disagree: ``dim_calendar``'s
    weekend-only flag (sql.py:72-75) and the separately-ingested KRX
    holiday table (dags/brz_kr_market_holiday_daily/tasks.py:8-37) —
    the SURVEY §7 risk the engine models *both* sides of. This variant
    produces the merged truth: a day is a market holiday iff it is a
    weekend OR appears in the fetched table. ``holiday_name`` carries
    the (min-deduped — a date can hold multiple observances) name for
    lineage. The holiday side is dimension-sized and broadcasts; the
    calendar never shuffles.

    The merged dimension is returned persisted, lazily: building it
    runs no job and the first consumer fills the cache. This pays off
    for a caller that holds one calendar across micro-batches (each
    :func:`~capital.transforms.market_data.gate_on_open_market` batch
    then broadcasts the cached rows in 1 job instead of re-running the
    holiday aggregate and its broadcast in 3); ``perfbench``'s
    ``daily_ingest`` stream is the one such caller today. A one-shot
    consumer (the registered calendar queries) pays one extra
    cache-fill job under AQE, and its cache entry stays until the
    frame is unpersisted. Snapshot semantics:
    ``holidays`` is read once, at first use; a holiday table that
    changes afterwards is not seen until the caller ``unpersist()``s
    the returned frame and builds the calendar again.
    """
    h = (
        holidays.select(
            F.to_date(F.col(date_col)).alias("date"),
            F.col(name_col).alias("holiday_name"),
        )
        .groupBy("date")
        .agg(F.min("holiday_name").alias("holiday_name"))
    )
    merged = cal.join(F.broadcast(h), "date", "left").withColumn(
        "is_market_holiday",
        F.col("is_market_holiday") | F.col("holiday_name").isNotNull(),
    )
    return merged.persist()

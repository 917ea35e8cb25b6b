"""Time-series regularization: per-key dense daily spine + LOCF.

The reference's domain is daily market data with holiday gaps
(`dags/brz_*_daily`, the prev-working-day as-of patterns); every
consumer of such a lake eventually needs the *resample* step —
"give me one row per (ticker, calendar day), carrying the last
observation forward" — so it is a first-class operator rather than a
per-query window idiom. Complements :mod:`capital.operators.asof`
(as-of joins BETWEEN two frames) and ``f14``'s zero-fill (which
fills with a constant, not the last observation).

Semantics: for each key, a dense daily spine spans the key's own
[min(date), max(date)]; observed values forward-fill (last
observation carried forward); ``gap_days`` reports the distance to
the carried observation and ``is_observed`` marks real rows.
``max_gap_days`` bounds the carry (a price quote from two years ago
is not a price) — beyond it the fill nulls out, the
monitoring-friendly behavior.

Shape at scale: ONE hash exchange of the raw rows by key up front,
ONE scan. ``HashPartitioning(key)`` satisfies the clustering of the
(key, date) aggregate and of the per-key window, so neither
re-exchanges. The window runs over the *observations*, not the dense
spine: each observed day carries the running ``last`` value, the
date of that value and ``lead(date)``, and a narrow per-observation
``sequence`` explode fills the days up to the next observation. The
explode IS the spine — no bounds aggregate, no spine↔obs join (an
equi-join on (key, date) cannot reuse ``hash(key)`` under Spark's
default ``requireAllClusterKeysForCoPartition``: both of its sides
and the window after it would re-shuffle, and the input would be
scanned twice). Output is keys × days rows — the OUTPUT size,
nothing quadratic. No driver work, no global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def regularize_daily(
    df: DataFrame,
    key_col: str,
    date_col: str,
    value_col: str,
    max_gap_days: int | None = None,
) -> DataFrame:
    """Per-key dense daily series with last-observation-carried-forward.

    Multiple observations on one (key, day) reduce with ``max`` (a
    deterministic, order-free tie-break; pre-aggregate upstream for a
    different policy). Returns one row per (key, date) in the key's
    observed span: ``(key, date, value, is_observed, gap_days)`` —
    ``value`` is the carried observation (null before the first
    observation, and beyond ``max_gap_days`` when set), ``gap_days``
    the age of the carried value (0 on observed days). Rows with a
    NULL date drop; a NULL key keeps its span but carries no value;
    a NULL value is neither observed nor carried.
    """
    key = F.col(key_col)
    obs = (
        df.select(key.alias("key"), F.col(date_col).cast("date").alias("d"),
                  F.col(value_col).alias("__v"))
        .filter(F.col("d").isNotNull())
        .repartition(F.col("key"))
        .groupBy("key", "d")
        .agg(F.max("__v").alias("__v"))
        # A NULL key keeps its span but never carries a value: NULL
        # equals no key.
        .withColumn("__v", F.when(F.col("key").isNotNull(), F.col("__v")))
    )
    by_key = Window.partitionBy("key").orderBy(F.asc("d"))
    running = by_key.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled = obs.select(
        "key",
        "d",
        F.last("__v", ignorenulls=True).over(running).alias("__carried"),
        F.last(F.when(F.col("__v").isNotNull(), F.col("d")), ignorenulls=True)
        .over(running)
        .alias("__d_obs"),
        F.lead("d").over(by_key).alias("__d_next"),
    ).withColumn(
        "date",
        F.explode(
            F.sequence(
                F.col("d"),
                F.coalesce(F.date_sub(F.col("__d_next"), 1), F.col("d")),
                F.expr("interval 1 day"),
            )
        ),
    )
    gap = F.datediff(F.col("date"), F.col("__d_obs"))
    value: Column = F.col("__carried")
    if max_gap_days is not None:
        value = F.when(gap <= int(max_gap_days), value)
    return filled.select(
        F.col("key").alias(key_col),
        "date",
        value.alias(value_col),
        # Observed exactly where the carried value is 0 days old.
        gap.eqNullSafe(0).alias("is_observed"),
        gap.alias("gap_days"),
    )


def ohlc_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Daily OHLC candles from tick-level observations — the other
    half of the resample family (:func:`regularize_daily` densifies a
    daily series; this reduces ticks TO the daily series). The
    reference ingests pre-built OHLCV panels (yfinance/Binance
    klines); this builds the same panel from raw ticks.

    Determinism: open/close are ``min_by``/``max_by`` over the
    composite ordering ``(ts, id)`` — the id breaks same-timestamp
    ties, so simultaneous ticks cannot make open/close
    partition-order-dependent (the a4 first-wins discipline; the SQL
    twin orders by ``[epoch_us(ts), id]``, the same lexicographic
    order). Open/high/low/close are PICKED raw values, never
    arithmetic — float-parity safe by construction; ``turnover``
    accumulates as DECIMAL.

    One map-side-combined aggregate per (key, day): no window, no
    sort, no shuffle beyond the grouped partials.
    """
    day = F.col(ts_col).cast("date")
    order = F.struct(F.col(ts_col), F.col(id_col))
    v = F.col(value_col)
    return (
        df.select(
            F.col(key_col).alias("key"),
            day.alias("date"),
            F.col(ts_col),
            F.col(id_col),
            v.alias("__v"),
        )
        .groupBy("key", "date")
        .agg(
            F.min_by("__v", order).alias("open"),
            F.max("__v").alias("high"),
            F.min("__v").alias("low"),
            F.max_by("__v", order).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum(F.col("__v").cast("decimal(28,6)"))
            .cast("double")
            .alias("turnover"),
        )
        .withColumnRenamed("key", key_col)
    )

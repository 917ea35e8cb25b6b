#!/usr/bin/env python
"""Time-series regularize+LOCF (regularize_daily) at 1x-30x the sf0.1
lineitem observations.

Replication under SHIFTED KEYS (suppkey*N + rep): each replica is an
independent key group whose daily series is identical to its
original's, so the output must be exactly N of every 1x row — row
count exactly N-fold, and the exact-integer summaries (micro-unit
value sum over filled days, observed-day count, gap-day sum) exactly
N-fold. This pins the single-exchange shape (one upfront hash(key)
repartition serving the (key,date) aggregate AND the per-key window
over the observations; the dense spine is a narrow per-observation
explode, with no join) at key cardinalities 1x-30x the toy corpus.

Usage: python tools/resample_scale.py  (SPARK_GRAFT_SF_DIR selects
the input, default sf0.1). Results recorded in DESIGN_SCALE.md.
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = (1, 10, 30)
MAX_GAP = 30


def main() -> None:
    from pyspark.sql import functions as F

    from capital.io import clear_engine_cache, load_table
    from capital.operators.resample import regularize_daily
    from capital.session import get_spark

    spark = get_spark(app_name="resample-scale")
    spark.sparkContext.setLogLevel("ERROR")
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_extendedprice"
    )
    base = None
    for n in SCALES:
        obs = li
        if n > 1:
            rep = spark.range(n).withColumnRenamed("id", "__rep")
            obs = li.crossJoin(rep).select(
                (F.col("l_suppkey") * n + F.col("__rep")).alias(
                    "l_suppkey"
                ),
                "l_shipdate",
                "l_extendedprice",
            )
        t0 = time.perf_counter()
        agg = regularize_daily(
            obs,
            key_col="l_suppkey",
            date_col="l_shipdate",
            value_col="l_extendedprice",
            max_gap_days=MAX_GAP,
        ).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.round(F.col("l_extendedprice") * 1e6).cast("long")
            ).alias("v_micro"),
            F.sum(F.col("is_observed").cast("long")).alias("obs_days"),
            F.sum("gap_days").alias("gap_sum"),
        ).collect()[0]
        dt = time.perf_counter() - t0
        got = (
            int(agg["rows"]),
            int(agg["v_micro"]),
            int(agg["obs_days"]),
            int(agg["gap_sum"]),
        )
        print(f"{n:3d}x: rows/v_micro/obs_days/gap_sum = {got}, {dt:6.2f}s")
        if n == 1:
            base = got
        else:
            assert got == tuple(v * n for v in base), (n, got, base)
            print(f"{n}x: every summary exactly {n}x the 1x values — linear")
        clear_engine_cache(spark)


if __name__ == "__main__":
    main()

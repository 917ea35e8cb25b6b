#!/usr/bin/env python
"""Count Spark JOBS a query launches (plan build + full
materialization) — noise-free structural evidence for job-floor
optimizations (round 16): wall-clock on this host drifts 2-4x
between windows, but the number of jobs a query schedules is a
property of the code alone.

Usage: python tools/jobcount.py [--sf DIR] name [name ...]

Each query runs once warm (after a throwaway run of the same query,
caches cleared between) inside its own job group; the job count is
read from the status tracker, and the number of classes Janino
compiled during the measured run from Spark's CodegenMetrics.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from capital.io import clear_engine_cache
    from capital.queries import all_queries
    from capital.queries.registry import clear_plan_cache
    from capital.session import get_spark

    spark = get_spark(app_name="capital-jobcount")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    queries = all_queries()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001

    for name in args.names:
        fn = queries[name]
        # throwaway pass: JIT/class loading warm, then clear. Codegen
        # is warm only while the query's compiled classes fit the
        # JVM-wide codegen cache (spark.sql.codegen.cache.maxEntries,
        # see capital.session.ENGINE_CONF); the compile count below
        # shows what the measured run still compiled.
        fn(spark, args.sf).toArrow()
        clear_engine_cache(spark)
        clear_plan_cache()
        group = f"jobcount-{name}"
        sc.setJobGroup(group, name)
        c0 = codegen.METRIC_COMPILATION_TIME().getCount()
        t0 = time.perf_counter()
        n_rows = fn(spark, args.sf).toArrow().num_rows
        dt = time.perf_counter() - t0
        compiles = codegen.METRIC_COMPILATION_TIME().getCount() - c0
        sc.setJobGroup(None, None)
        # brief settle: lazy-checkpoint fill-in jobs finish with the
        # action, but give the tracker a beat to register the tail.
        time.sleep(0.3)
        jobs = sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        print(
            f"{name}: {len(jobs)} jobs  {compiles} compiles  {dt:.3f}s  "
            f"({n_rows} rows)"
        )
        clear_engine_cache(spark)
        clear_plan_cache()
    spark.stop()


if __name__ == "__main__":
    main()

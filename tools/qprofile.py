#!/usr/bin/env python
"""Profile registered queries: build and ``toArrow()`` each one warm,
inside a traced :class:`perfbench.trace.Tracer` operation, and report
what Spark ran for it.

Usage: python tools/qprofile.py --sf DIR [--runs N] [--conf k=v ...] [name ...]

With no names, profiles the ``bench.headline_names`` set. Each run is
one warm pass of the query, then a fresh build (caches cleared) and
``toArrow()`` under a Tracer of its own. Jobs are read back from the
Spark UI's REST API: those in the run's job group plus those submitted
inside the run's wall interval from threads that carry no group
(``overlapped_job`` workers, broadcast futures).

Prints one row per query: its fastest run's jobs, stages, tasks, build
and execute seconds, driver gap (wall not covered by any job), overlap
credit (summed job wall minus the union of job intervals: >0 when
concurrent jobs back-fill), Janino compiles (``CodegenMetrics``; a
warm query whose classes fit the codegen cache compiles ~0) and the
driver JVM's own layer over the run: HotSpot JIT compile time
(``jvm.jit_s``, summed over compiler threads, so it can exceed the
wall), collector time (``jvm.gc_s``, all collectors) and classes
loaded (``jvm.classes_loaded``). On a local master the executors run
in the driver JVM, so these cover task work too. With
exactly one name it also prints that run's job timeline: each job's
gap since the previous job ended, wall, stage count, module and call
site.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import uuid

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bench import headline_names  # noqa: E402
from capital.io import clear_engine_cache  # noqa: E402
from capital.queries import all_queries  # noqa: E402
from capital.queries.registry import clear_plan_cache  # noqa: E402
from capital.session import get_spark  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def _clear(spark) -> None:
    # A memoized plan re-executed reuses its shuffle files and skips
    # whole stages: every measured run builds fresh.
    clear_engine_cache(spark)
    clear_plan_cache()


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative driver-JVM counters from its management beans:
    JIT compile seconds, GC seconds over every collector, classes
    loaded. ``measure`` records their deltas over a run."""
    mf = spark._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    return {
        "jvm.jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "jvm.gc_s": sum(
            max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()
        ) / 1e3,
        "jvm.classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
    }


def measure(spark, name: str, sf_dir: str) -> dict:
    """One traced run of a registered query, caches cleared first.

    Returns the Tracer rollup (``exec.*``, ``jobs.<module>``,
    ``job_s.<module>``, ``transfer.tail_s``) plus ``build_s``,
    ``exec_s``, ``wall_s``, ``result_rows``, ``compiles``,
    ``overlap_s``, the ``jvm.*`` deltas of :func:`jvm_counters` and
    ``timeline`` (the run's jobs in submission order)."""
    fn = all_queries()[name]
    _clear(spark)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    tracer = Tracer(spark, f"qprofile-{uuid.uuid4().hex[:12]}", enabled=True)
    c0 = codegen.METRIC_COMPILATION_TIME().getCount()
    jvm0 = jvm_counters(spark)
    try:
        with tracer.op(name) as op:
            with tracer.span("queries.build", "queries.build_s"):
                df = fn(spark, sf_dir)
            with tracer.span("action", "exec_s", module="result"):
                rows = df.toArrow().num_rows
            op.layer["_result_returned"] = time.time()
    finally:
        _clear(spark)
    compiles = codegen.METRIC_COMPILATION_TIME().getCount() - c0
    jvm = {k: v - jvm0[k] for k, v in jvm_counters(spark).items()}
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    tracer.attach_jobs()
    rec = tracer.rollup()
    rec.update(
        build_s=op.layer["queries.build_s"], exec_s=op.layer["exec_s"], wall_s=op.wall,
        result_rows=rows, compiles=compiles,
        overlap_s=sum(v for k, v in rec.items() if k.startswith("job_s."))
        - rec["exec.job_busy_s"],
        **jvm,
    )
    prev_end = op.start
    rec["timeline"] = []
    for j in sorted((j for j in op.jobs if j["_end"] is not None), key=lambda j: j["jobId"]):
        rec["timeline"].append({
            "job": j["jobId"], "gap_s": max(0.0, j["_start"] - prev_end),
            "wall_s": j["_end"] - j["_start"], "stages": len(j["stageIds"]),
            "module": j["_module"], "call_site": j["name"],
        })
        prev_end = max(prev_end, j["_end"])
    return rec


def profile(spark, name: str, sf_dir: str) -> dict:
    """One warm pass of ``name`` (JIT, class loading, codegen, page
    cache), then :func:`measure`."""
    all_queries()[name](spark, sf_dir).toArrow()
    return measure(spark, name, sf_dir)


def _kv(s: str) -> tuple[str, str]:
    k, sep, v = s.partition("=")
    if not sep or not k:
        raise argparse.ArgumentTypeError(f"expected k=v, got {s!r}")
    return k, v


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="registered queries (default: bench headline set)")
    ap.add_argument("--sf", required=True, metavar="DIR", help="scale-factor data directory")
    ap.add_argument("--runs", type=int, default=1, help="runs per query; the fastest is shown")
    ap.add_argument("--conf", type=_kv, action="append", default=[], metavar="k=v",
                    help="extra Spark conf for the session")
    args = ap.parse_args(argv)
    if args.runs < 1:
        ap.error("--runs must be >= 1")
    queries = all_queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    names = args.names or headline_names(queries)

    spark = get_spark(app_name="capital-qprofile", extra_conf=dict(args.conf))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(f"{'query':36s} {'jobs':>4s} {'stages':>6s} {'tasks':>6s} {'build_s':>7s} "
              f"{'exec_s':>7s} {'gap_s':>6s} {'overlap_s':>9s} {'compiles':>8s} "
              f"{'jit_s':>6s} {'gc_s':>5s} {'classes':>7s} {'rows':>8s}")
        for name in names:
            recs = [profile(spark, name, args.sf) for _ in range(args.runs)]
            r = min(recs, key=lambda r: r["wall_s"])
            print(f"{name:36s} {r['exec.jobs']:4.0f} {r['exec.stages']:6.0f} "
                  f"{r['exec.tasks']:6.0f} {r['build_s']:7.3f} {r['exec_s']:7.3f} "
                  f"{r['exec.driver_gap_s']:6.3f} {r['overlap_s']:9.3f} "
                  f"{r['compiles']:8d} {r['jvm.jit_s']:6.2f} {r['jvm.gc_s']:5.2f} "
                  f"{r['jvm.classes_loaded']:7d} {r['result_rows']:8d}")
        if len(names) == 1:
            print(f"\n{'job':>6s} {'gap_ms':>7s} {'wall_ms':>7s} {'stg':>4s}  "
                  f"{'module':16s} call site")
            for j in r["timeline"]:
                print(f"{j['job']:6d} {1e3 * j['gap_s']:7.0f} {1e3 * j['wall_s']:7.0f} "
                      f"{j['stages']:4d}  {j['module']:16s} {j['call_site'][:90]}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

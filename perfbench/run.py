#!/usr/bin/env python3
"""Benchmark of the capital engine: two closed-loop workloads.

    python3 perfbench/run.py --workload market_query --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.perfbench_tmp/`` (deleted on exit), starts a
pinned local session, times operations for ``--seconds``, checks every
kept output against its oracle, and prints one JSON object as the last
line of stdout::

    {"correct": true, "attempted": 16, "failed": 0,
     "metrics": {"setup_s": {"value": 0.61, "unit": "s"}, ...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see ``perfbench/README.md``). Exit code 1 when a check
fails, 2 when the engine source is not beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Sessions built per run; ``setup_s`` is their median.
SETUPS = 3
#: Local-mode driver heap: the whole engine runs in it.
DRIVER_MEM = "3g"

E2E = [("setup_s", "s"), ("op_geomean_s", "s"), ("items_per_s", "1/s")]


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def _host(tag: str, nproc: int, since: tuple[int, int] | None = None):
    from perfbench.workloads import log

    with open("/proc/loadavg") as fh:
        load = " ".join(fh.read().split()[:3])
    ticks = _cpu_ticks()
    steal = ""
    if since is not None:
        total = max(1, ticks[0] - since[0])
        steal = f" steal={100.0 * (ticks[1] - since[1]) / total:.2f}%"
    log(f"host {tag}: nproc={nproc} load={load}{steal}")
    return ticks


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def stop_jvm() -> None:
    """End the driver JVM and wait for it: it exits when its stdin
    closes (``spark.stop()`` alone leaves it running until this
    process exits)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def pin_environment(tmp: str, nproc: int) -> dict[str, str]:
    """Process env and Spark conf every run uses: one task thread per
    core, a heap that fits beside other work, the repo importable by
    Python workers, and every scratch file under ``tmp``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def measure(workload, conf: dict[str, str], seconds: float, trace: bool, out_dir: str):
    from capital.session import get_spark
    from perfbench.trace import PER_LAYER, Tracer, layer_means
    from perfbench.workloads import log

    log(f"{workload.name}: generating inputs")
    workload.generate()
    spark = None
    setups, get_spark_s = [], []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload.name}", extra_conf=conf)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        workload.register(spark)
        setups.append(time.perf_counter() - t0)
        get_spark_s.append(t1 - t0)
    log(f"{workload.name}: setups {[round(s, 3) for s in setups]}")
    try:
        t0 = time.perf_counter()
        workload.warmup(spark)
        log(f"{workload.name}: warm-up {time.perf_counter() - t0:.2f}s")
        run_id = uuid.uuid4().hex[:12]
        tracer = Tracer(spark, run_id, enabled=trace)
        workload.run(spark, tracer, seconds)
        op_geo, items_per_s = workload.e2e(tracer.ops)
        ok = [o for o in tracer.ops if o.ok]
        log(f"{workload.name}: {len(tracer.ops)} ops in {workload.timed_wall:.2f}s, "
            f"op_geomean={op_geo:.4f}s items/s={items_per_s:.2f}")
        log("op walls: " + " ".join(f"{o.name}={o.wall:.3f}" for o in tracer.ops))
        if trace:
            tracer.attach_jobs()
            values = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
            values.update(layer_means(ok))
            values.update(tracer.rollup())
            values.update(workload.layers())
            values["session.get_spark_s"] = statistics.median(get_spark_s)
            values["mem.peak_rss_mb"] = _peak_rss_mb(
                [os.getpid(), spark.sparkContext._gateway.proc.pid])  # noqa: SLF001
            values["trace.op_geomean_s"] = op_geo
            values["trace.items_per_s"] = items_per_s
            values["trace.self_s"] = tracer.self_s / max(1, len(tracer.ops))
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(
                out_dir, f"spans-{workload.name}-{workload.seed}.json"))
            metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}
        else:
            values = {"setup_s": statistics.median(setups), "op_geomean_s": op_geo,
                      "items_per_s": items_per_s}
            metrics = {n: {"value": values[n], "unit": u} for n, u in E2E}
        t0 = time.perf_counter()
        problems = workload.check(spark)
        log(f"{workload.name}: checks {time.perf_counter() - t0:.2f}s, "
            f"{len(problems)} problem(s)")
        for p in problems[:20]:
            log(f"CHECK FAILED {p}")
        failed = len(tracer.ops) - len(ok)
        return {
            "correct": not problems and failed == 0,
            "attempted": len(tracer.ops),
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            spark.stop()


def main(argv: list[str] | None = None) -> int:
    for p in (ROOT, os.path.join(ROOT, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)
    from perfbench.workloads import WORKLOADS, log

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs (self-test); not a measurement")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "capital", "session.py")):
        log(f"no engine source at {ROOT}/capital: run from a full checkout")
        return 2
    # SIGTERM unwinds like an exception, so the session and the
    # scratch tree are still cleaned up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        conf = pin_environment(tmp, nproc)
        workload = WORKLOADS[args.workload](args.seed, os.path.join(tmp, "data"), args.tiny)
        before = _host("before", nproc)
        result = measure(workload, conf, args.seconds, bool(args.trace),
                         os.path.join(ROOT, ".perfbench_out"))
        _host("after", nproc, since=before)
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

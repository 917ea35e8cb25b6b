"""Operation timing, traced-mode spans and the per-layer rollup.

Every workload times its operations through :class:`Tracer`. With
tracing off it only records each operation's start and end. With
tracing on it also

- sets a Spark job group per operation (``<run id>:<op index>``),
- records child spans around the benchmark's calls into engine
  modules (build, plan, action, stream start, ...), kept in memory and
  written out once when the run ends, and
- after the run reads Spark's own job and stage records from the
  local UI's REST API and attributes each job to an operation (job
  group, or submission time for jobs launched on engine worker
  threads) and to the ``capital`` module named in its call site.

Nothing here patches or wraps engine code: spans are taken from
outside, around public calls.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import statistics
import time
import urllib.request
from collections import defaultdict

#: Engine modules that get their own ``jobs.<module>``/``job_s.<module>``
#: pair. Jobs from any other ``capital`` module fall into
#: ``<package>.other``; the benchmark's own actions are ``result``;
#: JVM call sites (AQE stage futures, broadcast threads, py4j writer
#: calls) are ``unattributed`` unless a benchmark span naming a module
#: encloses them.
MODULES = (
    "llm.assemble", "llm.c4", "llm.clusters", "llm.dedup", "llm.nbayes",
    "llm.pipeline_v2", "llm.other", "operators.skew", "operators.other",
    "io", "streaming", "other", "result", "unattributed",
)

#: Every per-layer metric a traced run reports, with its unit; a
#: metric a workload does not exercise reads 0.
PER_LAYER = (
    [("session.get_spark_s", "s"), ("queries.build_s", "s"), ("queries.plan_s", "s"),
     ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.exchanges", "count"), ("exec.job_busy_s", "s"), ("exec.driver_gap_s", "s"),
     ("exec.executor_cpu_s", "s"), ("exec.gc_s", "s"),
     ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
     ("exec.shuffle_fetch_wait_s", "s"), ("exec.spill_bytes", "bytes"),
     ("transfer.tail_s", "s"), ("transfer.result_rows", "count"),
     ("llm.build_s", "s"), ("llm.kept_ratio", "ratio"),
     ("streaming.batches", "count"), ("streaming.start_s", "s"),
     ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
     ("streaming.query_planning_s", "s"), ("streaming.latest_offset_s", "s"),
     ("streaming.wal_commit_s", "s"),
     ("io.bytes_written", "bytes"), ("io.files_written", "count"),
     ("io.checkpoint_bytes", "bytes"), ("io.write_amp", "ratio"),
     ("gold.read_s", "s")]
    + [(f"jobs.{m}", "count") for m in MODULES]
    + [(f"job_s.{m}", "s") for m in MODULES]
    + [("mem.peak_rss_mb", "MB"),
       ("trace.op_geomean_s", "s"), ("trace.items_per_s", "1/s"), ("trace.self_s", "s")]
)

_SITE = re.compile(r" at (?P<path>\S+?):\d+$")


def module_of(job_name: str) -> str:
    """Map a job's call site (``collect at /x/capital/llm/nbayes.py:144``)
    to its bucket in :data:`MODULES`."""
    m = _SITE.search(job_name or "")
    path = m.group("path") if m else ""
    if "/perfbench/" in path:
        return "result"
    if "/capital/" not in path:
        return "unattributed"
    parts = path.rsplit("/capital/", 1)[1].removesuffix(".py").split("/")
    if parts[0] == "io":
        return "io"
    if parts[0] == "streaming":
        return "streaming"
    if parts[0] in ("llm", "operators"):
        name = ".".join(parts[:2])
        return name if name in MODULES else f"{parts[0]}.other"
    return "other"


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(
        s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    busy, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            busy += b - max(a, end)
            end = b
    return busy


class Op:
    """One timed operation: its wall interval, items of work, and the
    per-layer numbers the workload recorded for it."""

    def __init__(self, name: str, idx: int):
        self.name, self.idx = name, idx
        self.start = self.end = 0.0
        self.items = 0
        self.ok = False
        self.layer: dict[str, float] = defaultdict(float)
        self.jobs: list[dict] = []

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark, self.run_id, self.enabled = spark, run_id, enabled
        self.ops: list[Op] = []
        self.spans: list[dict] = []
        self.self_s = 0.0
        self._cur: Op | None = None

    @contextlib.contextmanager
    def op(self, name: str):
        """Time one operation. Exceptions propagate after the op is
        recorded as failed."""
        op = Op(name, len(self.ops))
        self.ops.append(op)
        sc = self.spark.sparkContext
        t = time.perf_counter()
        if self.enabled:
            sc.setJobGroup(self._group(op), name, interruptOnCancel=False)
        self._cur = op
        self.self_s += time.perf_counter() - t
        op.start = time.time()
        try:
            yield op
            op.ok = True
        finally:
            op.end = time.time()
            t = time.perf_counter()
            self._cur = None
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._span(name, op.start, op.end, op)
            self.self_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str, layer_key: str | None = None, module: str | None = None):
        """A child span of the current op; its duration also adds to
        ``op.layer[layer_key]`` (in both modes, so workloads can read
        their own timings). ``module`` names the engine module the
        span calls into: jobs launched inside it without a Python call
        site (a writer's AQE stages, a stream's micro-batch) are
        attributed to that module instead of ``unattributed``."""
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            op = self._cur
            if op is not None and layer_key:
                op.layer[layer_key] += t1 - t0
            if self.enabled:
                self._span(name, t0, t1, op, module)

    def _group(self, op: Op) -> str:
        return f"{self.run_id}:{op.idx}"

    def _span(self, name, t0, t1, op, module=None):
        self.spans.append({
            "name": name, "start": t0, "end": t1, "parent": self.run_id,
            "op": op.name if op else None,
            "job_group": self._group(op) if op else None,
            "module": module,
        })

    def write(self, path: str) -> None:
        """Spans, plus each attributed job, as one JSON document."""
        jobs = [
            {"job": j["jobId"], "name": j["name"], "group": j.get("jobGroup"),
             "op": op.idx, "module": j["_module"], "start": j["_start"], "end": j["_end"]}
            for op in self.ops for j in op.jobs
        ]
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, "jobs": jobs}, fh)

    def _module(self, job: dict) -> str:
        m = module_of(job["name"])
        if m == "unattributed":
            inner = [s for s in self.spans if s["module"]
                     and s["start"] - 0.002 <= job["_start"] <= s["end"] + 0.002]
            if inner:
                return min(inner, key=lambda s: s["end"] - s["start"])["module"]
        return m

    # --- Spark job/stage records -------------------------------------

    def attach_jobs(self, timeout_s: float = 10.0) -> None:
        """Fetch every job and stage of the application from the UI's
        REST API and hang each job (with its stages) on its op."""
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        # The status store is fed asynchronously by the listener bus;
        # poll until every job has completed.
        deadline = time.time() + timeout_s
        while True:
            jobs = _get(base + "/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in _get(base + "/stages")}
        by_group = {self._group(op): op for op in self.ops}
        for j in jobs:
            j["_start"], j["_end"] = _ts(j["submissionTime"]), _ts(j.get("completionTime"))
            j["_stages"] = [stages[s] for s in j["stageIds"] if s in stages]
            op = by_group.get(j.get("jobGroup"))
            if op is None:
                # Jobs from engine worker threads carry no job group.
                op = next((o for o in self.ops
                           if o.start - 0.002 <= j["_start"] <= o.end + 0.002), None)
            if op is not None:
                j["_module"] = self._module(j)
                op.jobs.append(j)

    def rollup(self) -> dict[str, float]:
        """Per-operation means of the Spark-side layer metrics over the
        ops that succeeded."""
        ops = [o for o in self.ops if o.ok]
        acc: dict[str, float] = defaultdict(float)
        for op in ops:
            jobs = [j for j in op.jobs if j["_end"] is not None]
            busy = _union_s([(j["_start"], j["_end"]) for j in jobs])
            seen: dict[int, dict] = {}
            for j in jobs:
                for s in j["_stages"]:
                    if s["status"] == "COMPLETE":
                        seen[s["stageId"]] = s
                m = j["_module"]
                acc[f"jobs.{m}"] += 1
                acc[f"job_s.{m}"] += j["_end"] - j["_start"]
            acc["exec.jobs"] += len(jobs)
            acc["exec.stages"] += len(seen)
            acc["exec.tasks"] += sum(s["numCompleteTasks"] for s in seen.values())
            acc["exec.job_busy_s"] += busy
            acc["exec.driver_gap_s"] += max(0.0, op.wall - busy)
            acc["exec.executor_cpu_s"] += sum(s["executorCpuTime"] for s in seen.values()) / 1e9
            acc["exec.gc_s"] += sum(s["jvmGcTime"] for s in seen.values()) / 1e3
            acc["exec.shuffle_read_bytes"] += sum(s["shuffleReadBytes"] for s in seen.values())
            acc["exec.shuffle_write_bytes"] += sum(s["shuffleWriteBytes"] for s in seen.values())
            acc["exec.shuffle_fetch_wait_s"] += sum(s["shuffleFetchWaitTime"] for s in seen.values()) / 1e3
            acc["exec.spill_bytes"] += sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in seen.values()
            )
            returned = op.layer.get("_result_returned")
            if returned is not None and jobs:
                acc["transfer.tail_s"] += max(0.0, returned - max(j["_end"] for j in jobs))
        n = max(1, len(ops))
        return {k: v / n for k, v in acc.items()}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def layer_means(ops: list[Op]) -> dict[str, float]:
    """Means of the numbers workloads recorded on ``op.layer`` (private
    ``_`` keys excluded), each over the succeeded ops that recorded it."""
    ok = [o for o in ops if o.ok]
    keys = {k for o in ok for k in o.layer if not k.startswith("_")}
    return {k: statistics.fmean(o.layer[k] for o in ok if k in o.layer) for k in keys}

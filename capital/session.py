"""SparkSession factory with 100 TB-ready defaults.

The reference platform got its performance behavior from manual choices
(Hive-style ``ymd=`` partition pruning, date-ranged API pushdown, task
fan-out — SURVEY.md §4). Catalyst subsumes all of it *if* the session is
configured for scale; this module is the single place that conf lives.

Design notes for cluster scale (tested on local[N], designed for 1000
executors):

- **AQE on** (coalesce post-shuffle partitions, skew-join splitting,
  dynamic join-strategy demotion to broadcast). At 100 TB the static
  ``shuffle.partitions`` is only an upper bound; AQE right-sizes it.
- **Dynamic partition overwrite** — the reference's idempotent
  per-partition ``replace=True`` S3 writes (dags/common/s3_utils.py:13)
  become ``INSERT OVERWRITE`` of only the touched ``ymd=`` partitions.
- **Arrow enabled** — every pandas_udf / applyInPandas boundary is
  Arrow-batched; row-at-a-time Python is banned in hot paths.
- **UTC session timezone** — the reference juggles UTC Airflow dates vs
  KST market data vs epoch-millis (SURVEY.md §7 risk register); we pin
  UTC at the engine boundary and convert at the edges.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every session the engine creates. Values are
#: strings because that is what SparkConf stores.
ENGINE_CONF: dict[str, str] = {
    # --- correctness-critical ---
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Parquet TIMESTAMP(NANOS) (e.g. the driver's events.ts) is illegal
    # for Spark's reader; surface it as LongType nanos and let
    # capital.io.load_table convert to a microsecond timestamp.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- scale posture ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Demote sort-merge to broadcast at runtime when a side turns out small.
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # Partition input so one task reads ~128MB — right for both local
    # test files and cluster parquet.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # --- python boundary ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # PySpark 4's DataFrame-debugging hook wraps EVERY Column/DataFrame
    # API call with a Python stack walk plus TWO extra py4j round trips
    # (a conf.get + PySparkCurrentOrigin.set) purely to enrich error
    # messages with user call sites. Measured round 16: disabling cuts
    # the py4j commands issued to BUILD expression-heavy plans 2-3x
    # (dedup_simhash 3658 -> 1288, dedup_minhash_lsh 2340 -> 1100) and
    # the build-phase wall direction-consistently (~0.1-0.4 s on
    # build-bound rows; full-run deltas sit inside the host band).
    # Scales with every query's construction cost on the driver —
    # cluster-relevant, not a local[32] tune. Diagnostics-only conf:
    # plans, results and executed bytecode are identical (all 72
    # headline plans diffed clean modulo ids / call-site strings).
    # NOTE (r16 ADVICE): PySpark caches this flag PROCESS-WIDE on the
    # first DataFrame API call (pyspark/errors/utils.py
    # _enable_debugging_cache), so whichever session initializes first
    # pins it for the interpreter — any re-measurement needs
    # separate-process sweeps, the methodology OPTIMIZATION_r16 used.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Engine-driven filter pushdown into Python DataSources (Spark
    # 4.1 pushFilters — the page_json source prunes page partitions
    # from query predicates). Off by default upstream; runtime-safe.
    "spark.sql.python.filterPushdown.enabled": "true",
    # --- driver floors ---
    # Janino-compiled classes live in ONE JVM-wide LRU cache of
    # maxEntries classes (Spark's default: 100). One round of the 16
    # headline market rows plus pipe_curation_v2 at sf0.01 compiles
    # ~410-490 distinct classes (pipe_curation_v2 alone 150-210), so
    # under the default every repeated round recompiled all of them:
    # 451-480 compiles per steady-state round, 0-11 with 4096.
    # Running each of the 215 registered queries once at sf0.01 in
    # one session compiles 2,719 distinct classes; 4096 holds that
    # with 1.5x headroom (Guava splits the bound over 4 segments of
    # ~1024). Metaspace after two such full-surface rounds: 243 MB
    # committed, against 220 MB under the default. Plans, jobs and
    # results are unchanged — only the per-job compile cost goes; the
    # cache fills lazily, so session start does not move. Static and
    # JVM-wide: Spark sizes the cache once, at the JVM's first
    # compile (see tune_existing).
    "spark.sql.codegen.cache.maxEntries": "4096",
    # --- noise reduction ---
    "spark.ui.showConsoleProgress": "false",
}

#: The additional conf a 1000-executor / 100 TB deployment applies on
#: top of ENGINE_CONF (via ``get_spark(extra_conf=CLUSTER_CONF)`` or
#: spark-submit --conf). Not applied locally: these values assume
#: cluster-scale parallelism and would only add overhead on local[32].
CLUSTER_CONF: dict[str, str] = {
    # AQE coalesces *down* from the initial shuffle partition count —
    # it never splits up — so the pre-AQE number must be sized for the
    # largest shuffle: ~100 TB / ~128 MB-per-partition target. The
    # local default (shuffle.partitions = cpus) would cap every big
    # shuffle at 32 reducers on a cluster.
    "spark.sql.shuffle.partitions": "8000",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "8000",
    # Post-shuffle partition target AQE coalesces toward.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    # Skewed-partition split threshold (AQE skew join): split when a
    # partition exceeds 2x advisory and 256 MB.
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    # Broadcast ceiling: dimension tables (calendar, part, nation,
    # config registries) are MBs; 64 MB leaves headroom for the
    # benchmark-shingle and query-embedding broadcasts without letting
    # a mis-estimated fact side broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Executors die at 100 TB (spot loss, OOM edge): decommission
    # gracefully and migrate shuffle blocks instead of recomputing.
    "spark.decommission.enabled": "true",
    "spark.storage.decommission.shuffleBlocks.enabled": "true",
}


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: Directory holding the ``capital`` package.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def builder_conf(
    master: str | None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf :func:`get_spark` hands its session builder."""
    conf: dict[str, str] = {}
    if master and master.startswith("local"):
        # In local mode the driver JVM *is* every executor: N task
        # threads share one heap, and Spark's 1 GB default tips into
        # heap OOM once a few corpus-sized frames are persisted
        # (found by the 30× dedup scaling study). Static conf — takes
        # effect only when this builder launches the JVM; on a real
        # cluster spark-submit owns executor/driver sizing.
        conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        # Python workers import from the JVM's working directory and
        # the PYTHONPATH it inherited, not the driver's sys.path: a
        # script started outside the package root fails on every
        # Python UDF/mapInPandas with "No module named 'capital'".
        # Spark merges this conf with the inherited PYTHONPATH, so it is
        # set only when that path lacks the package root. On a cluster
        # the package ships as pyFiles or an installed wheel instead.
        inherited = os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if PACKAGE_ROOT not in {os.path.abspath(p) for p in inherited if p}:
            conf["spark.executorEnv.PYTHONPATH"] = PACKAGE_ROOT
    conf.update(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else _cpus()
    )
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    app_name: str = "capital",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same entry points run under the driver harness and on a real
    cluster (where ``master`` is supplied by spark-submit and must be
    left unset).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER_OVERRIDE_EXTERNAL"):
        master = f"local[{_cpus()}]"
    if master:
        builder = builder.master(master)
    for k, v in builder_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_cache_key(spark: SparkSession) -> tuple[str, str]:
    """(applicationId, per-session id) for keying driver-side caches.

    ``applicationId`` alone is not enough: sibling sessions from
    ``SparkSession.newSession()`` share an applicationId but carry
    independent runtime SQL conf, and a plan analyzed under one
    session's conf (e.g. its timezone) must not be served to another.
    The JVM session's ``sessionUUID`` is unique per SparkSession; fall
    back to the Python wrapper's identity where the JVM handle is
    unavailable (e.g. Spark Connect).
    """
    app = spark.sparkContext.applicationId
    try:
        sess = spark._jsparkSession.sessionUUID()  # noqa: SLF001
    except Exception:  # pragma: no cover - connect/mock sessions
        sess = str(id(spark))
    return app, sess


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to a session we did not create.

    The driver harness passes us its own SparkSession; static conf
    (master, memory) is fixed, but SQL conf is per-query and safe to set.
    """
    for key in (
        "spark.sql.session.timeZone",
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.python.filterPushdown.enabled",
        # (spark.python.sql.dataFrameDebugging.enabled is STATIC conf —
        # settable only at session build, so get_spark applies it and
        # driver-owned sessions keep their default; that path is the
        # correctness gate, not the timed one.
        # spark.sql.codegen.cache.maxEntries is static AND JVM-wide:
        # Spark builds the codegen cache once, at the JVM's first
        # compile, so driver-owned sessions keep Spark's 100 and
        # recompile repeated query shapes — slower, never wrong.)
    ):
        spark.conf.set(key, ENGINE_CONF[key])
    return spark

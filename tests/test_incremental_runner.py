"""The shared AvailableNow runner of ``capital.streaming.incremental``:
one place starts every ``foreachBatch`` state machine, one writer does
every dynamic partition overwrite, a failing step fails its query
without committing the batch, and the ``daily_ingest`` path's Spark
jobs are pinned."""

from __future__ import annotations

import ast
import glob
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from capital.io import load_table
from capital.schemas import EVENTS
from capital.streaming.incremental import (
    incremental_partition_overwrite,
    run_available_now,
)

CAPITAL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "capital"
)


def _call_sites(match) -> set[tuple[str, str]]:
    """(module path, top-level function) of every call in ``capital/``
    for which ``match(call)`` holds; module-level calls report
    ``<module>``. Parsed, so docstring mentions do not count."""
    sites = set()
    for path in glob.glob(os.path.join(CAPITAL, "**", "*.py"), recursive=True):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        rel = os.path.relpath(path, CAPITAL)
        for top in tree.body:
            name = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else "<module>"
            sites.update(
                (rel, name)
                for node in ast.walk(top)
                if isinstance(node, ast.Call) and match(node)
            )
    return sites


def _method(node: ast.Call, name: str) -> bool:
    return isinstance(node.func, ast.Attribute) and node.func.attr == name


def test_one_runner_and_one_dynamic_overwrite_in_engine():
    """AvailableNow queries start in ``run_available_now`` (and in
    ``incremental_run``, whose file sink keeps its own ``_spark_metadata``
    exactly-once log); dynamic partition overwrites go through
    ``io.write_partitioned``."""
    available_now = _call_sites(
        lambda c: _method(c, "trigger")
        and any(k.arg == "availableNow" for k in c.keywords)
    )
    assert available_now == {
        ("streaming/incremental.py", "run_available_now"),
        ("streaming/incremental.py", "incremental_run"),
    }
    assert _call_sites(lambda c: _method(c, "foreachBatch")) == {
        ("streaming/incremental.py", "run_available_now"),
    }
    dynamic = _call_sites(
        lambda c: (
            _method(c, "option")
            and [getattr(a, "value", None) for a in c.args]
            == ["partitionOverwriteMode", "dynamic"]
        )
        or (
            _method(c, "options")
            and any(k.arg == "partitionOverwriteMode" for k in c.keywords)
        )
    )
    assert dynamic == {("io.py", "write_partitioned")}


def test_failed_step_fails_query_and_leaves_batch_uncommitted(spark, tmp_path):
    """A step that raises on the second micro-batch fails the query;
    a rerun with a fixed step on the same checkpoint processes that
    batch (and the rest) exactly once."""
    schema = StructType([StructField("k", LongType())])
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    for k in range(3):
        spark.createDataFrame([(k,)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    seen: list[tuple[int, list[int]]] = []

    def record(batch_df, batch_id):
        seen.append((batch_id, [r.k for r in batch_df.collect()]))

    def failing(batch_df, batch_id):
        if batch_id == 1:
            raise ValueError("step failed on purpose")
        record(batch_df, batch_id)

    q = run_available_now(
        spark, src, schema, failing, ckpt, max_files_per_trigger=1
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert q.exception() is not None
    assert "step failed on purpose" in str(q.exception())
    assert [b for b, _ in seen] == [0]

    q = run_available_now(
        spark, src, schema, record, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert [b for b, _ in seen] == [0, 1, 2]
    assert sorted(k for _, ks in seen for k in ks) == [0, 1, 2]


#: Spark jobs of one two-file ``incremental_partition_overwrite`` run
#: (the ``daily_ingest`` landing path), counted from the status tracker
#: under the query's run id: the one micro-batch's partitioned write.
#: Measured before the shared runner existed; stable across runs.
PARTITION_OVERWRITE_JOBS = 1


def test_partition_overwrite_run_job_count(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    ev = load_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    q = incremental_partition_overwrite(
        spark, src, EVENTS, lambda df: df.withColumn("ymd", F.to_date("ts")),
        str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    jobs = list(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert len(jobs) == PARTITION_OVERWRITE_JOBS, jobs

"""Tests: custom stateful streaming operator, quality checks, sinks,
warehouse surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from capital import quality
from capital.io import (
    load_table,
    save_warehouse_table,
    write_csv,
    write_json,
    write_partitioned,
)
from capital.schemas import EVENTS
from capital.streaming.stateful import running_totals_per_user


def test_stateful_running_totals_across_batches(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    ev = load_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(EVENTS).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        running_totals_per_user(stream)
        .writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # Latest state per user must equal the batch ground truth.
    latest = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) rn
          FROM running_totals) WHERE rn = 1
        """
    )
    truth = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("total_value"),
    )
    lt = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in latest.collect()}
    tr = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in truth.collect()}
    assert set(lt) == set(tr)
    for u in tr:
        assert lt[u][0] == tr[u][0], u
        assert abs(lt[u][1] - tr[u][1]) < 1e-6, u


def test_quality_checks(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    quality.assert_non_empty(ev, "events")
    quality.assert_values_in(
        ev, "event_type",
        ["signup", "click", "error", "view", "purchase"], "events",
    )
    quality.assert_no_nulls(ev, ["event_id", "user_id", "ts"], "events")
    quality.assert_count_equals(ev, ev.count(), "events")

    with pytest.raises(quality.QualityError, match="outside allowed"):
        quality.assert_values_in(ev, "event_type", ["signup"], "events")
    with pytest.raises(quality.QualityError, match="non-empty"):
        quality.assert_non_empty(ev.filter(F.lit(False)), "events")
    with pytest.raises(quality.QualityError, match="count"):
        quality.assert_count_equals(ev, 1, "events")

    from capital.schemas import EVENTS

    quality.assert_schema_conforms(ev, EVENTS, "events")
    with pytest.raises(quality.QualityError, match="missing column"):
        quality.assert_schema_conforms(ev.drop("props"), EVENTS, "events")

    req = spark.createDataFrame([("A",), ("B",), ("C",)], "k string")
    got = spark.createDataFrame([("A",)], "k string")
    assert {r.k for r in quality.missing_keys(req, got, "k").collect()} == {"B", "C"}


def test_sinks_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    write_json(nation, str(tmp_path / "j"))
    assert spark.read.json(str(tmp_path / "j")).count() == 25
    write_csv(nation, str(tmp_path / "c"))
    back = spark.read.option("header", "true").csv(str(tmp_path / "c"))
    assert back.count() == 25 and "n_name" in back.columns


@pytest.fixture(params=["dynamic", "static"])
def session_overwrite_mode(spark, request):
    """The session's ``partitionOverwriteMode`` for one test, restored
    afterwards: ``static`` is Spark's default, a session that skipped
    ``tune_existing``."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, before)


def test_partitioned_dynamic_overwrite(
    spark, sf_dir, tmp_path, session_overwrite_mode
):
    """K3/K5: overwriting one ymd partition must not truncate others,
    whatever the session's partitionOverwriteMode."""
    path = str(tmp_path / "lake")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ymd", F.to_date("ts")
    )
    write_partitioned(ev, path)
    total = spark.read.parquet(path).count()

    one_day = ev.filter(F.col("ymd") == "2024-01-03").withColumn(
        "value", F.lit(0.0)
    )
    n_day = one_day.count()
    assert n_day > 0
    write_partitioned(one_day, path)  # dynamic overwrite of 1 partition

    after = spark.read.parquet(path)
    assert after.count() == total  # other days untouched
    assert (
        after.filter(F.col("ymd") == "2024-01-03")
        .agg(F.sum(F.abs("value")))
        .collect()[0][0]
        == 0.0
    )


def test_warehouse_table_drop_create(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    save_warehouse_table(nation, "dim_nation")
    assert spark.table("dim_nation").count() == 25
    # Second overwrite = DROP/CREATE preaction semantics.
    save_warehouse_table(nation.limit(5), "dim_nation")
    assert spark.table("dim_nation").count() == 5
    spark.sql("DROP TABLE dim_nation")


def test_compact_partition_merges_small_files(spark, sf_dir, tmp_path):
    from pathlib import Path

    from capital.io import compact_partition, load_table

    path = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events")
    # Fragment: 40 small files, the streaming-sink accumulation shape.
    ev.repartition(40).write.parquet(path)
    before_files = len(list(Path(path).rglob("*.parquet")))
    assert before_files >= 40
    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))

    n = compact_partition(spark, path, target_bytes=256 * 1024 * 1024)
    after = list(Path(path).rglob("*.parquet"))
    assert len(after) == n < before_files
    # No staging/backup debris and the data survives bit-for-bit.
    assert not list(tmp_path.glob("*__compacting__*"))
    assert not list(tmp_path.glob("*__old__*"))
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before_rows


def test_compaction_staging_invisible_to_table_readers(spark, sf_dir, tmp_path):
    """Working dirs are dot-prefixed: a reader of the parent
    partitioned table must never discover staged/backup files as bogus
    partitions, even with compaction debris present."""
    from capital.io import _COMPACT_OLD, _COMPACT_TMP, compact_partition, load_table

    root = tmp_path / "tbl"
    ev = load_table(spark, sf_dir, "events").limit(1000)
    ev.withColumn("ymd", F.lit("2024-01-01")).write.partitionBy("ymd").parquet(str(root))
    part = str(root / "ymd=2024-01-01")
    baseline = spark.read.parquet(str(root)).count()

    # Simulate a crashed run: leave debris in both hidden dirs.
    (root / _COMPACT_TMP / "ymd=2024-01-01").mkdir(parents=True)
    (root / _COMPACT_OLD / "ymd=2024-09-09").mkdir(parents=True)
    ev.limit(10).write.mode("overwrite").parquet(
        str(root / _COMPACT_OLD / "ymd=2024-09-09")
    )
    assert spark.read.parquet(str(root)).count() == baseline  # debris unseen

    compact_partition(spark, part)
    assert spark.read.parquet(str(root)).count() == baseline


def test_recover_compaction_restores_lost_partition(spark, sf_dir, tmp_path):
    import shutil
    from pathlib import Path

    from capital.io import _COMPACT_OLD, load_table, recover_compaction

    root = tmp_path / "tbl"
    part = root / "ymd=2024-01-01"
    ev = load_table(spark, sf_dir, "events").limit(500)
    ev.write.parquet(str(part))
    rows = sorted(map(tuple, spark.read.parquet(str(part)).collect()))

    # Simulate the crash window: partition moved to backup, swap lost.
    backup = root / _COMPACT_OLD / "ymd=2024-01-01"
    backup.parent.mkdir(parents=True, exist_ok=True)
    shutil.move(str(part), str(backup))
    assert not Path(part).exists()

    assert recover_compaction(str(part)) is True
    assert sorted(map(tuple, spark.read.parquet(str(part)).collect())) == rows
    assert recover_compaction(str(part)) is False  # idempotent no-op


def test_upsert_identifier_validation(spark):
    import pytest as _pytest

    from capital.io import upsert_jdbc

    df = spark.range(3).select(F.col("id"), F.lit("x").alias("v"))
    for bad in ("t; DROP TABLE x", 'a"b', "t--", "sch.t.extra"):
        with _pytest.raises(ValueError, match="unsafe SQL identifier"):
            upsert_jdbc(df, "jdbc:derby:memory:nope", bad, keys=["id"])
    with _pytest.raises(ValueError, match="unsafe SQL identifier"):
        upsert_jdbc(df, "jdbc:derby:memory:nope", "t", keys=["id; --"])

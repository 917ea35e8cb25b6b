"""``io.read_parquet`` resolves a parquet schema from the footer on the
driver instead of Spark's one-job inference: the resolved schema must
equal what ``spark.read.parquet(path)`` infers (nullability included),
and every case it cannot resolve exactly must fall back (``None``)."""

from __future__ import annotations

import datetime
import decimal
import glob
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from capital.io import load_all, parquet_schema, read_parquet


def _assert_matches_inference(spark, path):
    assert parquet_schema(spark, path) is not None, path
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, path


def test_every_test_table_matches_inference(spark, sf_dir):
    paths = sorted(glob.glob(os.path.join(sf_dir, "**", "*.parquet"), recursive=True))
    assert len(paths) >= 10
    for path in paths:
        _assert_matches_inference(spark, path)


def test_whitelisted_arrow_types_match_inference(spark, tmp_path):
    utc = datetime.datetime(2024, 1, 2, 3, 4, 5, 6, tzinfo=datetime.timezone.utc)
    table = pa.table(
        {
            "i8": pa.array([1, None], pa.int8()),
            "i16": pa.array([1, 2], pa.int16()),
            "i32": pa.array([1, 2], pa.int32()),
            "f32": pa.array([1.5, None], pa.float32()),
            "b": pa.array([True, None]),
            "s": pa.array(["a", None]),
            "d": pa.array([datetime.date(2024, 1, 2), None]),
            "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(12, 2)),
            "ts_tz": pa.array([utc, None], pa.timestamp("us", tz="UTC")),
            "ts_ntz": pa.array([utc.replace(tzinfo=None), None], pa.timestamp("us")),
            "li": pa.array([[1, None], None], pa.list_(pa.int64())),
            "ls": pa.array([["x"], []], pa.list_(pa.string())),
        }
    )
    path = str(tmp_path / "types.parquet")
    pq.write_table(table, path)
    _assert_matches_inference(spark, path)
    # Required columns and elements too: Spark's relation is all-nullable.
    element = pa.field("element", pa.int64(), nullable=False)
    required = pa.table(
        {"i": pa.array([1, 2]), "li": pa.array([[1], []], pa.list_(element))},
        schema=pa.schema(
            [pa.field("i", pa.int64(), False), pa.field("li", pa.list_(element), False)]
        ),
    )
    req_path = str(tmp_path / "required.parquet")
    pq.write_table(required, req_path)
    _assert_matches_inference(spark, req_path)


def test_nanosecond_timestamps_follow_nanos_as_long(spark, tmp_path):
    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_700_000_000_123_456_789, None], pa.int64()).cast(pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "v": [1, 2]}), path)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    _assert_matches_inference(spark, path)
    assert read_parquet(spark, path).schema["ts"].dataType.typeName() == "long"
    # Without the legacy conf Spark's reader rejects TIMESTAMP(NANOS).
    strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert parquet_schema(strict, path) is None


def test_spark_written_dirs_match_inference(spark, tmp_path):
    df = spark.range(6).select(
        F.col("id"),
        F.col("id").cast("string").alias("s"),
        (F.col("id") / 3).alias("x"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
        F.to_date(F.lit("2024-01-02")).alias("d"),
        F.lit("2024-01-02 03:04:05").cast("timestamp").alias("ts"),
        F.col("id").cast("decimal(20,4)").alias("dec"),
        (F.col("id") % 2).cast("string").alias("part"),
    )
    flat = str(tmp_path / "flat")
    df.write.parquet(flat)
    _assert_matches_inference(spark, flat)
    _assert_matches_inference(spark, "file://" + flat)
    parted = str(tmp_path / "parted")
    df.write.partitionBy("part").parquet(parted)
    _assert_matches_inference(spark, parted)
    assert read_parquet(spark, parted).schema.fieldNames()[-1] == "part"
    assert sorted(read_parquet(spark, parted).collect()) == sorted(
        spark.read.parquet(parted).collect()
    )


def test_unresolvable_paths_fall_back(spark, sf_dir, tmp_path):
    # A non-local scheme returns before any IO.
    assert parquet_schema(spark, "s3a://bucket/lake/silver") is None
    assert parquet_schema(spark, str(tmp_path / "*.parquet")) is None
    assert parquet_schema(spark, str(tmp_path / "missing")) is None
    relative = os.path.relpath(os.path.join(sf_dir, "region.parquet"))
    assert parquet_schema(spark, relative) is None
    assert read_parquet(spark, relative).schema == spark.read.parquet(relative).schema

    sink = tmp_path / "sink"
    spark.range(3).write.parquet(str(sink))
    (sink / "_spark_metadata").mkdir()
    assert parquet_schema(spark, str(sink)) is None

    # A data column that is also a partition key: Spark keeps it at its
    # data position, a user schema would move it to the end.
    (tmp_path / "overlap" / "k=1").mkdir(parents=True)
    pq.write_table(
        pa.table({"k": pa.array([5], pa.int32()), "v": [1.0]}),
        str(tmp_path / "overlap" / "k=1" / "x.parquet"),
    )
    assert parquet_schema(spark, str(tmp_path / "overlap")) is None
    assert read_parquet(spark, str(tmp_path / "overlap")).schema.fieldNames() == ["k", "v"]

    # Row metadata PySpark re-serializes differently (collation names).
    collated = str(tmp_path / "collated")
    spark.sql("SELECT 'x' COLLATE UTF8_LCASE AS s").write.parquet(collated)
    assert parquet_schema(spark, collated) is None
    assert read_parquet(spark, collated).schema == spark.read.parquet(collated).schema

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    assert parquet_schema(spark, str(empty)) is None
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        read_parquet(spark, str(empty))


@pytest.mark.parametrize(
    "column",
    [
        pa.array([1, 2], pa.uint64()),
        pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
        pa.array([{"a": 1}, None], pa.struct([("a", pa.int64())])),
        pa.array([b"x", None], pa.binary()),
        pa.array([1, 2], pa.int64()).cast(pa.timestamp("ms")),
    ],
    ids=["uint64", "map", "struct", "binary", "timestamp_ms"],
)
def test_unmapped_types_fall_back(spark, tmp_path, column):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"c": column}), path)
    assert parquet_schema(spark, path) is None
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_int96_timestamps_fall_back(spark, tmp_path):
    """pyarrow surfaces INT96 as timestamp[ns]; Spark reads it as a
    timestamp, so the ns → bigint rule must not apply."""
    path = str(tmp_path / "int96.parquet")
    ts = pa.array([1_700_000_000_000_000_000], pa.int64()).cast(pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, use_deprecated_int96_timestamps=True)
    assert parquet_schema(spark, path) is None
    assert read_parquet(spark, path).schema["ts"].dataType.typeName() == "timestamp"


def test_registration_runs_no_spark_job(spark, sf_dir):
    """Registering the driver tables reads footers on the driver: a
    fresh sibling session (empty table cache) runs zero Spark jobs."""
    sibling = spark.newSession()
    sc = sibling.sparkContext
    group = "read-parquet-registration"
    sc.setJobGroup(group, "load_all")
    try:
        frames = load_all(sibling, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert len(frames) == 10
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_no_schema_inferring_parquet_read_in_engine():
    """Engine reads go through ``read_parquet``; its fallback is the
    one schema-inferring ``.read.parquet(`` call left in ``capital/``
    (docstring mentions in double backticks do not count)."""
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "capital")
    bare = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        with open(path) as fh:
            bare += [
                f"{os.path.relpath(path, root)}:{n}"
                for n, line in enumerate(fh, 1)
                if re.search(r"(?<!`)\b\w+\.read\.parquet\(", line)
            ]
    assert len(bare) == 1 and bare[0].startswith("io.py:"), bare

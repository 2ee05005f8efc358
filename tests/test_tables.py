"""The table catalog: each table's schema comes from its parquet footer on
the driver, equals what Spark's own inference gives, and loading the
catalog runs no Spark job."""

from __future__ import annotations

import datetime
import decimal
import glob
import shutil

import pytest

from sol_spark.tables import _footer_schema, _read, load_tables


def _assert_parity(spark, path: str) -> None:
    schema, _ = _footer_schema(path)
    assert spark.read.schema(schema).parquet(path).schema == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_inference_on_fixtures(spark, sf):
    paths = sorted(glob.glob(f"/root/testdata/{sf}/*.parquet"))
    assert paths
    for path in paths:
        _assert_parity(spark, path)


def test_footer_schema_matches_inference_on_arrow_types(spark, tmp_path):
    """Every type the mapping handles, from a pyarrow-written file: naive and
    UTC micros, nanos (read as long), a duration (a plain INT64 to Spark), a
    list, a decimal and a non-nullable column; INT96 goes in a file of its
    own because pyarrow writes every timestamp as INT96 once asked to."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [datetime.datetime(2020, 1, 2, 3, 4, 5, 6), None]
    table = pa.table(
        {
            "i32": pa.array([1, None], pa.int32()),
            "i64": pa.array([1, None], pa.int64()),
            "s": pa.array(["a", None], pa.string()),
            "b": pa.array([b"x", None], pa.binary()),
            "flag": pa.array([True, None], pa.bool_()),
            "d": pa.array([datetime.date(2020, 1, 2), None], pa.date32()),
            "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2)),
            "fl": pa.array([[1.5, None], None], pa.list_(pa.float32())),
            "ts_us": pa.array(ts, pa.timestamp("us")),
            "ts_utc": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "ts_ns": pa.array(ts, pa.timestamp("ns")),
            "dur": pa.array([1, None], pa.duration("us")),
            "req": pa.array([7, 8], pa.int64()),
        }
    )
    table = table.cast(table.schema.set(table.schema.get_field_index("req"), pa.field("req", pa.int64(), nullable=False)))
    plain = str(tmp_path / "plain.parquet")
    pq.write_table(table, plain)
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"t96": pa.array(ts, pa.timestamp("us")), "x": pa.array([1, 2], pa.int64())}),
        int96,
        use_deprecated_int96_timestamps=True,
    )
    assert _footer_schema(plain)[1] and not _footer_schema(int96)[1]
    for path in (plain, int96):
        _assert_parity(spark, path)

    # nanosAsLong is set only by a footer that holds a nanos column.
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert _read(spark, int96).count() == 2
        assert spark.conf.get(key) == "false"
        assert [r.ts_ns for r in _read(spark, plain).collect()] == [1577934245000006000, None]
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, old)


def _spark_written(spark):
    from pyspark.sql.types import (
        ArrayType,
        DecimalType,
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("id", LongType(), nullable=False),
            StructField("ts", TimestampType()),
            StructField("ts_ntz", TimestampNTZType()),
            StructField("amount", DecimalType(12, 3)),
            StructField("xs", ArrayType(DoubleType(), containsNull=False), nullable=False),
        ]
    )
    t = datetime.datetime(2021, 5, 6, 7, 8, 9)
    rows = [(i, t, t, decimal.Decimal(i) / 8, [float(i)]) for i in range(12)]
    return spark.createDataFrame(rows, schema)


def test_footer_schema_matches_inference_on_spark_written_dir(spark, tmp_path):
    """A Spark-written directory of part files: the footer's Spark schema
    JSON, non-nullable fields included, reads back equal to inference."""
    path = str(tmp_path / "spark_dir")
    _spark_written(spark).repartition(3).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*.parquet")) == 3
    _assert_parity(spark, path)


def test_footer_schema_on_partitioned_dir(spark, tmp_path):
    """A hive-partitioned tree takes the same path: the footer lacks the
    partition column, and Spark appends it from the ``k=v`` names."""
    path = str(tmp_path / "partitioned")
    _spark_written(spark).selectExpr("*", "id % 3 AS k").write.partitionBy("k").parquet(path)
    schema, _ = _footer_schema(path)
    assert "k" not in schema.fieldNames()
    df = spark.read.schema(schema).parquet(path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.schema.fieldNames()[-1] == "k"
    assert df.filter("k = 1").count() == 4


def test_footer_schema_on_empty_dir_raises(tmp_path):
    (tmp_path / "_SUCCESS").touch()
    with pytest.raises(ValueError, match=str(tmp_path)):
        _footer_schema(str(tmp_path))


def test_load_tables_runs_no_job(spark, sf_dir, tmp_path):
    """Loading the catalog reads ten footers on the driver and launches no
    Spark job (schema inference would launch one per table)."""
    fixture = tmp_path / "sf"
    shutil.copytree("/root/testdata/sf0.001", fixture)
    sc = spark.sparkContext
    group = "test_load_tables_runs_no_job"
    sc.setJobGroup(group, group)
    try:
        tables = load_tables(spark, str(fixture))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        load_tables(spark, sf_dir)
    assert len(tables) == 10
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

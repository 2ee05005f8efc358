"""Table catalog over the driver-generated parquet fixtures (TESTDATA.md).

Mirrors the reference's ``HadoopFsRelation`` scan path
(/root/reference/sql/core/.../DataSourceScanExec.scala:157): vectorized
parquet scan with predicate pushdown and column pruning — all free via
``spark.read.parquet``. Each table's schema comes from one parquet footer
read on the driver, so loading the catalog runs no Spark job. The same
read takes a single file, a directory of part files or a hive-partitioned
directory tree: Spark appends the partition columns it discovers in the
``k=v`` directory names to the footer schema, and partition pruning
happens in Catalyst.
"""

from __future__ import annotations

import json
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampType,
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor we target.
BROADCAST_DIMS = ("region", "nation", "supplier", "part", "customer")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Spark's own footer key for the schema of a Spark-written parquet file
# (ParquetReadSupport.SPARK_METADATA_KEY).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_file(path: str) -> str:
    """The file whose footer Spark's schema inference reads: ``path``
    itself, or a directory tree's first data file in name order, files
    before subdirectories (hidden ``_``/``.`` names such as ``_SUCCESS``
    and ``.crc`` files skipped). In a hive-partitioned tree that is a file
    under the first ``k=v`` directory."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        data = sorted(f for f in files if not f.startswith(("_", ".")))
        if data:
            return os.path.join(root, data[0])
    raise ValueError(f"no parquet data file under {path}")


def _footer_schema(path: str) -> tuple[StructType, bool]:
    """The schema Spark's parquet inference would give ``path``, built on
    the driver from one footer (``ParquetFileFormat.readSchemaFromFooter``),
    and whether any column is a parquet ``TIMESTAMP(NANOS)`` read as long.

    A footer that holds Spark's schema JSON (a Spark-written file) is that
    schema. Otherwise the Arrow schema is mapped leaf by leaf, with the
    parquet physical type of each leaf alongside (the leaves of both
    schemas are in the same depth-first order): ``INT96`` is a
    ``TimestampType``, a ``TIMESTAMP(NANOS)`` is a ``LongType``
    (Spark's ``nanosAsLong`` rule), an Arrow ``duration`` is the plain
    ``INT64`` Spark sees, a ``LongType``, and every other type is
    ``from_arrow_type`` with naive timestamps as ``TimestampNTZType``.
    Nullability is left as written: Spark makes a file schema nullable
    on read either way."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    meta = pq.read_metadata(_footer_file(path))
    spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return StructType.fromJson(json.loads(spark_json)), False
    physical = (meta.schema.column(i).physical_type for i in range(meta.num_columns))
    nanos = False

    def convert(t: pa.DataType) -> DataType:
        nonlocal nanos
        if pa.types.is_struct(t):
            return StructType([StructField(f.name, convert(f.type)) for f in t])
        if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
            return ArrayType(convert(t.value_type))
        if pa.types.is_map(t):
            return MapType(convert(t.key_type), convert(t.item_type))
        if next(physical) == "INT96":
            return TimestampType()
        if pa.types.is_timestamp(t) and t.unit == "ns":
            nanos = True
            return LongType()
        if pa.types.is_duration(t):
            # A plain INT64 in parquet: only the footer's Arrow schema
            # knows it is a duration, and Spark does not read that.
            return LongType()
        return from_arrow_type(t, prefer_timestamp_ntz=True)

    schema = StructType([StructField(f.name, convert(f.type)) for f in meta.schema.to_arrow_schema()])
    return schema, nanos


def _read(spark: SparkSession, path: str) -> DataFrame:
    """Read one fixture parquet with the schema taken from its footer on
    the driver (:func:`_footer_schema`). Letting Spark infer it instead
    launches a one-task job per table to read that same footer — ten
    jobs, ~1 s, before the first query of every session.

    The driver-generated ``events`` table has carried a nanosecond
    timestamp column in some fixture generations, which Spark's parquet
    reader rejects (micros at most). Such a column reads as long
    (``spark.sql.legacy.parquet.nanosAsLong``, set only when the footer
    holds one; runtime-settable and session-sticky) and ``ts`` is rebuilt
    at microsecond precision — lossless here (fixture values are
    micro-aligned) and a narrow projection, so scan pushdown for all
    other columns is unaffected."""
    from pyspark.sql import functions as F

    schema, nanos = _footer_schema(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    if "ts" in schema.fieldNames() and isinstance(schema["ts"].dataType, LongType):
        # Integer division: epoch-nanos exceeds double's exact range.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    return df


# Per-(session, sf_dir) catalog cache: every registered query calls
# load_tables, and re-building 10 DataFrames + temp views per query is pure
# driver overhead — ten footer reads and the py4j calls for each frame and
# view; no Spark job since the schemas come from the footers (inference
# ran one job per table, ~1 s per build). DataFrames are immutable
# lazy plans, so sharing them across queries is safe. Temp views are
# session-global, so track which sf_dir's views a session currently holds
# and re-register when it switches (SQL-text queries resolve via views).
# WeakKeyDictionary keyed on the session OBJECT, not id(): id() values are
# reused after GC, which could hand a new session DataFrames bound to a dead
# JVM (r1 ADVICE). Entries die with their session.
_CATALOG_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict[str, DataFrame]]]" = (
    weakref.WeakKeyDictionary()
)
_VIEWS_FOR_SESSION: "weakref.WeakKeyDictionary[SparkSession, str]" = weakref.WeakKeyDictionary()


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load every fixture table from ``sf_dir`` and (optionally) register
    each as a temp view so both the DataFrame and SQL surfaces see them."""
    sf_abs = os.path.abspath(sf_dir)
    per_session = _CATALOG_CACHE.setdefault(spark, {})
    cached = per_session.get(sf_abs)
    if cached is not None and not register_views:
        return dict(cached)
    if cached is not None and _VIEWS_FOR_SESSION.get(spark) == sf_abs:
        return dict(cached)
    tables: dict[str, DataFrame] = cached or {}
    if not tables:
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            tables[name] = _read(spark, path)
        per_session[sf_abs] = dict(tables)
    if register_views:
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
        _VIEWS_FOR_SESSION[spark] = sf_abs
    return dict(tables)

"""Table catalog: loads the driver's parquet tables and registers views.

The reference stores every relation as a fjall LSM keyspace
(``core/src/keyspaces.rs:1-104`` in the reference); here each relation is a
columnar parquet/Delta table read through ``spark.read.parquet`` so filters
and projections push down to the scan. At 100 TB the same code reads a
partitioned table directory — nothing below materializes on the driver.

Every table read goes through :func:`read_parquet`, which infers a
file's schema once per process and pins it on later reads: schema
inference starts a Spark job (~70 ms on a 4-core host) that a point
query would otherwise pay on every table it touches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized.

    The memo is keyed by the path's ``(absolute path, st_mtime_ns,
    st_size)``; a hit reads with ``spark.read.schema(...)``, which
    starts no schema-inference job. A file rewritten in place, or a
    directory overwritten as a whole, gets a new key and is inferred
    again. A directory's own stat does not see files rewritten inside
    its existing subdirectories, so a directory path must be written
    once and never modified in place: a table file, or an immutable
    layout such as a store ``_ensure`` directory. Schemas are inferred
    under the session factory's parquet confs
    (``spark.sql.legacy.parquet.nanosAsLong``), which nothing changes
    mid-process. A path the local filesystem cannot stat (missing, or a
    remote URI) is read unpinned, so Spark reports its own errors."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table. Parquet scan → full pushdown support.

    Side effect (deliberate, unconditional): pins the session timezone
    to UTC. Every oracle comparison assumes UTC wall-clock semantics
    (DuckDB reads naive timestamps as-if-UTC), and pinning only when an
    NTZ column happened to be loaded left bigint-nanos paths (events)
    zone-dependent while silently flipping the zone for other queries
    mid-session (ADVICE r3)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # ts is TIMESTAMP(NANOS) in parquet, which Spark rejects by default.
        # The conf is runtime-settable, so set it here rather than relying on
        # the session factory — the caller may supply any SparkSession
        # (the driver's correctness harness does).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F

    if name == "events":
        # With nanosAsLong the column arrives as long nanos; truncate to
        # micros with *integer* division (double division rounds ±1 µs on
        # ~12.5% of epoch-scale values, diverging from DuckDB's truncation).
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet written with isAdjustedToUTC=false infers TIMESTAMP_NTZ, which
    # functions like unix_micros reject. DuckDB reads the same column as a
    # naive TIMESTAMP and extracts epochs as-if-UTC; with the session zone
    # pinned UTC above, casting NTZ -> LTZ keeps identical wall-clock
    # values and becomes epoch-compatible. The schema is walked
    # recursively (ADVICE r4 low #2): NTZ fields nested inside
    # struct/array/map are rewritten via a struct-compatible cast, not
    # just top-level columns.
    casts = {}
    for field in df.schema.fields:
        new_type, changed = _swap_ntz(field.dataType)
        if changed:
            casts[field.name] = F.col(field.name).cast(new_type)
    if casts:
        df = df.withColumns(casts)
    return df


def _swap_ntz(dt):
    """(type with every TIMESTAMP_NTZ replaced by TIMESTAMP, changed?)
    — recursive over struct/array/map so nested naive timestamps get
    the same as-if-UTC treatment as flat columns."""
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType(), True
    if isinstance(dt, T.StructType):
        fields, changed = [], False
        for f in dt.fields:
            nd, ch = _swap_ntz(f.dataType)
            changed = changed or ch
            fields.append(T.StructField(f.name, nd, f.nullable, f.metadata))
        return T.StructType(fields), changed
    if isinstance(dt, T.ArrayType):
        nd, ch = _swap_ntz(dt.elementType)
        return T.ArrayType(nd, dt.containsNull), ch
    if isinstance(dt, T.MapType):
        kd, ck = _swap_ntz(dt.keyType)
        vd, cv = _swap_ntz(dt.valueType)
        return T.MapType(kd, vd, dt.valueContainsNull), ck or cv
    return dt, False


def load_catalog(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every table present under ``sf_dir`` keyed by name."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load and register each table as a temp view for spark.sql use."""
    tables = load_catalog(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables

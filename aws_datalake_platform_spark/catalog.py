"""Catalog: authoritative schemas + table registration.

Mirrors the reference's Glue Data Catalog role (reference:
terraform/modules/glue/main.tf:37-290 declares 4 tables with fixed
schemas; the Spark job then schema-infers on read, transform.py:144,203).
Here the StructTypes below are the source of truth; raw JSON readers may
still infer when asked (``infer=True``).

Also registers the driver's TPC-H-ish testdata parquet tables
(TESTDATA.md) as temp views so the full Spark SQL surface — the Athena
role in the reference (README.md:128-132) — works against them.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ── Reference table schemas (terraform/modules/glue/main.tf:37-290) ──────────
# The catalog stores timestamps as ISO-8601 *strings* end-to-end
# (glue/main.tf:70-72); we preserve that for parity and derive typed
# timestamp columns at the query layer.

RAW_WEATHER = T.StructType(
    [
        T.StructField("ingestion_id", T.StringType(), False),
        T.StructField("city", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("temperature_c", T.DoubleType(), True),
        T.StructField("humidity_pct", T.DoubleType(), True),
        T.StructField("windspeed_kmh", T.DoubleType(), True),
        T.StructField("precipitation_mm", T.DoubleType(), True),
        T.StructField("ingested_at", T.StringType(), True),
    ]
)

RAW_IOT_SENSORS = T.StructType(
    [
        T.StructField("sensor_id", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("temperature_c", T.DoubleType(), True),
        T.StructField("humidity_pct", T.DoubleType(), True),
        T.StructField("aqi", T.DoubleType(), True),
        T.StructField("battery_level", T.DoubleType(), True),
    ]
)

# curated = raw + derived columns (FIXTURES.md §3)
CURATED_WEATHER = T.StructType(
    RAW_WEATHER.fields
    + [
        T.StructField("temperature_f", T.DoubleType(), True),
        T.StructField("date", T.StringType(), True),
    ]
)

CURATED_SENSOR_READINGS = T.StructType(
    [f for f in RAW_IOT_SENSORS.fields if f.name != "sensor_id"]
    + [
        T.StructField("sensor_id_hash", T.StringType(), True),
        T.StructField("quality_score", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
    ]
)

REFERENCE_TABLES = {
    "raw_weather": RAW_WEATHER,
    "raw_iot_sensors": RAW_IOT_SENSORS,
    "curated_weather": CURATED_WEATHER,
    "curated_sensor_readings": CURATED_SENSOR_READINGS,
}

# ── Testdata tables (TESTDATA.md) ────────────────────────────────────────────

TESTDATA_TABLES = (
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


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """session.get_spark sets spark.sql.legacy.parquet.nanosAsLong at build
    time, but the entry-point contract hands us a DRIVER-owned session we
    didn't build — ensure the flag here, guarded so query functions never
    re-mutate an already-correct session."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# ── Parquet schema memo ──────────────────────────────────────────────────────
# spark.read.parquet(path) runs a one-task schema-inference job (a footer
# read) on every call. Lake tables are rewritten rarely and read often, so
# the inferred schema is memoized per absolute path and validated on each
# use against a stat-only file signature plus the session confs that
# change inferred types. A rewrite changes the signature and overwrites
# that path's entry: the memo grows with distinct paths, not versions.

# session confs that change the schema parquet inference produces
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# abspath -> (file signature, inference confs, schema). Unlocked: each
# entry is one tuple validated on every read, so racing threads cost at
# most a repeated inference, never a stale schema.
_SCHEMA_MEMO: dict[str, tuple[tuple, tuple, T.StructType]] = {}


def _visible(name: str) -> bool:
    """Whether Spark's file index treats a file or directory name as part
    of the table: hidden names start with ``.`` or ``_`` (``_SUCCESS``,
    ``.crc``, ``_temporary``, ``.spark-staging-*``), except ``_`` names
    holding ``=`` (partition directories)."""
    return not (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def visible_files(path: str):
    """Yield (relpath, os.stat_result) of every visible file under the
    local directory ``path``, pruning hidden directories."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if _visible(d)]
        for f in files:
            if _visible(f):
                full = os.path.join(root, f)
                yield os.path.relpath(full, path), os.stat(full)


def file_signature(path: str) -> tuple | None:
    """Stat-only identity of a local parquet table, or None when ``path``
    does not exist locally. A file: (size, mtime_ns, inode). A directory:
    the sorted (relpath, size, mtime_ns) of its visible files — partition
    directory names are part of the relpaths, so partition-column type
    inference is covered too."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    return tuple(sorted((rel, s.st_size, s.st_mtime_ns) for rel, s in visible_files(path)))


def read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, T.StructType]:
    """``spark.read.parquet(path)`` and its schema, without the per-call
    schema-inference job once the schema is memoized. Every call returns
    a NEW relation (fresh attribute ids, so self-joins stay unambiguous);
    no DataFrame or data is cached. A path that does not exist locally
    bypasses the memo, so Spark raises its own error as before."""
    key = os.path.abspath(path)
    sig = file_signature(key)
    if sig is None:
        df = spark.read.parquet(path)
        return df, df.schema
    confs = tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS)
    hit = _SCHEMA_MEMO.get(key)
    if hit is not None and hit[0] == sig and hit[1] == confs:
        return spark.read.schema(hit[2]).parquet(path), hit[2]
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = (sig, confs, df.schema)
    return df, df.schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan; Catalyst handles column pruning + predicate
    pushdown, so callers should filter/select on the returned DataFrame
    rather than materializing it.

    The events table's ``ts`` has shipped in three parquet flavors across
    driver testdata generations: TIMESTAMP(NANOS) (read as bigint nanos
    under nanosAsLong), naive microseconds (read as TIMESTAMP_NTZ), and
    UTC-adjusted micros (TIMESTAMP_LTZ). Normalize all three to
    TIMESTAMP_LTZ — event-time streaming (watermarks) requires LTZ, and
    with the session timezone pinned to UTC the NTZ→LTZ cast is an
    identity on the wall-clock values the oracle compares.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        ensure_nanos_as_long(spark)
    df, schema = read_parquet(spark, path)
    if name == "events" and "ts" in schema.names:
        dt = schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Lake-contract primary keys (the reference's Glue DDL treats these id
# columns as keys). Queries whose semantics are undefined on duplicate
# ids load through load_table_pk; validate-lake checks the whole map.
TABLE_PRIMARY_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    # lineitem has no entry: TPC-H declares (l_orderkey, l_linenumber)
    # composite, but the driver-generated testdata does not honor it
    # (sf0.001: 1401 duplicate pairs) and no registered query depends on
    # it — validate-lake reports it as info only.
}

# (abspath(sf_dir), table, key, file signature) tokens already verified
# this process. One loud one-aggregate check per table version amortizes
# to zero across the bench's warm passes and repeated query invocations;
# rewriting the table at the same path changes its signature, so the
# new contents are checked again.
_PK_VERIFIED: set[tuple[str, str, str, tuple | None]] = set()


def load_table_pk(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` plus a LOUD primary-key uniqueness guard.

    The constant-lake probe (scripts/degenerate_probe.py) documented six
    queries (q64 q107 q118 q203 q238 q332) whose oracles carry per-id
    ROW_NUMBER/GROUP BY steps that silently dedup duplicate ids while
    the engine processes every physical row — undefined semantics on
    PK-violating input. Those queries load their keyed table through
    this wrapper so such input raises ``DuplicateKeyError`` instead of
    silently returning different numbers. One extra count/count-distinct
    aggregate per table version per process (cached on the table's file
    signature; column-pruned scan of just the key column).
    """
    from .validation import require_unique_key

    # signature first: a rewrite racing the check yields a newer
    # signature on the next call, never a stale "verified" token
    sig = file_signature(os.path.join(sf_dir, f"{name}.parquet"))
    df = load_table(spark, sf_dir, name)
    key = TABLE_PRIMARY_KEYS[name]
    token = (os.path.abspath(sf_dir), name, key, sig)
    if token not in _PK_VERIFIED:
        require_unique_key(df.select(key), key, name)
        _PK_VERIFIED.add(token)
    return df


def register_testdata(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every testdata table as a temp view for spark.sql().

    Routed through load_table so the events view exposes ``ts`` as a real
    timestamp (not bigint nanos) — the same shape every query expects."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def create_reference_tables(spark: SparkSession, lake_root: str) -> None:
    """Create the 4 reference tables as external partitioned tables over a
    local 'lake' directory — the Spark analogue of the Glue catalog DDL
    (glue/main.tf:37-290) + Athena serving surface.

    Partition layout parity: curated tables partition by ``date``
    (glue/main.tf:227-231,285-289); raw iot by year/month/day
    (kinesis/main.tf:38).
    """
    spark.sql("CREATE DATABASE IF NOT EXISTS datalake")
    layouts = {
        "raw_weather": ("raw/weather", ["date"], "json"),
        "raw_iot_sensors": ("raw/iot-sensors", ["year", "month", "day"], "json"),
        "curated_weather": ("curated/weather", ["date"], "parquet"),
        "curated_sensor_readings": ("curated/sensor-readings", ["date"], "parquet"),
    }
    for table, (prefix, parts, fmt) in layouts.items():
        schema = REFERENCE_TABLES[table]
        data_cols = [f for f in schema.fields if f.name not in parts]
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in data_cols)
        extra = {"date": "string", "year": "string", "month": "string", "day": "string"}
        part_cols = ", ".join(f"`{p}` {extra[p]}" for p in parts)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS datalake.{table} ({cols}) USING {fmt} "
            f"PARTITIONED BY ({part_cols}) LOCATION '{lake_root}/{prefix}'"
        )


def recover_partitions(spark: SparkSession, table: str) -> None:
    """Partition sync after writes — the reference runs MSCK REPAIR TABLE
    after every curated write (transform.py:188,268)."""
    spark.sql(f"MSCK REPAIR TABLE {table}")

"""Loaders for the driver's star-schema parquet tables.

The reference's unit of input is "a directory of files" enumerated via
``ls_files`` (mj_master.cpp:337-342, mock_sdfs_client.cpp:485-504); the
Spark analog is a parquet dataset directory read declaratively so that
Catalyst gets pushdown/pruning for free.

``events`` needs special handling: the engine's contract is a
``ts_ns`` bigint (epoch nanoseconds — timezone-proof for arithmetic
and oracle comparison) plus a ``ts`` microsecond TIMESTAMP for
window/watermark operators. Driver testdata generations have shipped
``ts`` both as parquet TIMESTAMP(NANOS) (arrives as int64 under
``spark.sql.legacy.parquet.nanosAsLong``) and as TIMESTAMP(MICROS)
(arrives as timestamp_ntz); :func:`canonical_event_time` normalizes
either shape to the same two columns.

Reading a parquet file without a schema launches a Spark job that
infers it from the footer: a median read took 107 ms that way
against 20 ms given the schema (sf0.01 lineitem, local[4], 4 cores).
:func:`read_parquet` runs that job once per session for an unchanged
local file and hands the result to later reads.
"""

from __future__ import annotations

import os
import weakref

import pyspark.sql.functions as F
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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Break-even floors for widen_if_narrow, in input bytes per task slot.
# A round-robin exchange costs a fixed ~0.2-0.5 s of latency plus one
# rewrite of the input, so a slot's worth of map work must be worth
# more than that.  Both values are measured at sf0.1/sf1:
# - DENSE (md5-per-shingle fingerprints, 64-dim numpy vector math,
#   per-line Python pipes): widening 19 KB/slot already paid 6x
#   (text_fingerprint 4.2 s -> 0.64 s), so the floor is low.
# - the 128 KB default (tokenize + 8-seed minhash, bigram counting):
#   at 19 KB/slot widening LOST (dedup_minhash_ctrl 1.6 -> 2.2 s,
#   text_lm_bigram_nll 1.5 -> 3.1 s) while at 187 KB/slot it paid 2.2x
#   (11.4 -> 5.1 s), bracketing the break-even.
WIDEN_SLOT_BYTES_DEFAULT = 128 << 10
WIDEN_SLOT_BYTES_DENSE = 4 << 10


def _local_path(uri: str) -> str | None:
    """The local filesystem path of a plain path or ``file:`` URI;
    None for any other scheme."""
    if uri.startswith("file:"):
        path = uri[len("file:"):]
        while path.startswith("//"):
            path = path[1:]
        return path
    return None if "://" in uri else uri


# Confs that change the types Spark infers for a parquet file's
# columns; a remembered schema is reused only under the same values.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# session -> {path: ((st_mtime_ns, st_size, conf values), schema)}
_schemas: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, minus the schema-inference job
    when this session has already read the same local regular file,
    unchanged (same mtime and size), under the same type-mapping
    confs.  Directories and non-``file`` URIs always infer."""
    local = _local_path(path)
    if local is None or not os.path.isfile(local):
        return spark.read.parquet(path)
    st = os.stat(local)
    stamp = (
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS),
    )
    seen = _schemas.setdefault(spark, {})
    hit = seen.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    seen[path] = (stamp, df.schema)
    return df


def _input_bytes(df: DataFrame) -> int | None:
    """Total size of the files feeding ``df``, or None if unknowable
    (non-file source, remote FS we can't stat)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    total = 0
    for uri in files:
        path = _local_path(uri)
        if path is None:
            return None
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def widen_if_narrow(
    df: DataFrame,
    parallelism: int | None = None,
    min_slot_bytes: int = WIDEN_SLOT_BYTES_DEFAULT,
) -> DataFrame:
    """Repair a pathologically narrow input layout ahead of a
    CPU-dense map stage.

    Parquet cannot split inside a row group, so a single-row-group
    file scans as ONE task no matter what ``maxPartitionBytes`` or
    ``minPartitionNum`` say — and every driver-shipped test table is
    a single-row-group file, which serializes an md5/minhash/numpy
    map stage onto one core while the other 31 idle (measured:
    text_fingerprint 4.2 s narrow vs 0.64 s widened at sf0.1).

    Fires only when BOTH hold:
    - the frame has fewer partitions than cores (never true on a
      realistic large-scale layout — a 100 TB table has thousands of
      row groups — so at scale this is an exact no-op: the plan is
      unchanged and nothing shuffles); and
    - the input carries at least ``min_slot_bytes`` per task slot, the
      measured break-even below which the exchange costs more than the
      single-threaded map stage it parallelizes (see the two floor
      constants above; pass WIDEN_SLOT_BYTES_DENSE for md5-/numpy-/
      Python-dense stages, 0 to force).  Unknown input size (non-file
      source) widens: the narrow-layout test alone says one core
      would otherwise do all the work.

    Call it AFTER scan-level filters so predicate pushdown is
    preserved, and only ahead of compute-per-byte-heavy stages; plain
    scans and aggregations don't need it (their first hash exchange
    re-widens on its own).  Streaming frames pass through untouched
    (micro-batch sources control their own splits).
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    par = parallelism or spark.sparkContext.defaultParallelism
    # Byte floor first: inputFiles costs ~14 ms, while df.rdd plans a
    # fresh frame (~60 ms).  Widening needs both, so the order never
    # changes the decision.
    size = _input_bytes(df)
    if size is not None and size < par * min_slot_bytes:
        return df
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def canonical_event_time(raw: DataFrame) -> DataFrame:
    """Normalize an events frame's ``ts`` to the engine contract:
    columns ``ts_ns`` (bigint epoch nanos, in ``ts``'s original
    position) and ``ts`` (microsecond TIMESTAMP, appended last).

    Handles every ``ts`` physical type the driver has shipped:
    bigint (TIMESTAMP(NANOS) via nanosAsLong) and timestamp /
    timestamp_ntz (TIMESTAMP(MICROS)). The ntz→ltz cast is exact
    because the session timezone is pinned to UTC (session.py).
    Works on batch and streaming frames alike.
    """
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":
        return raw.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        )
    out = raw.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "ts_ns", F.unix_micros("ts") * F.lit(1000)
    )
    return out.select(
        *[("ts_ns" if c == "ts" else c) for c in raw.columns], "ts"
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = read_parquet(spark, table_path(sf_dir, "events"))
    return canonical_event_time(raw)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

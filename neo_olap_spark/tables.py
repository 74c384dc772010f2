"""Table loaders for the driver-generated star schema (TESTDATA.md).

All reads go through ``spark.read.parquet`` so Catalyst gets column
pruning + predicate pushdown for free — the Spark-native equivalent of
the reference's light-record pre-projection before full materialization
(RelationshipPreloader.java:18-21).
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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _enable_nanos_as_long(spark: SparkSession) -> None:
    """Make TIMESTAMP(NANOS) parquet columns readable on ANY session.

    ``events.parquet`` stores nanosecond timestamps, which Spark rejects
    outright (PARQUET_TYPE_ILLEGAL) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set. Our own session
    factory sets it at build time (session.py), but callers (the driver
    harness, notebooks) may hand us a bare SparkSession — the conf is
    runtime-settable, so set it here at read time.

    Also pins the session time zone to UTC (``_pin_utc``): every caller
    that needs the nanos guard is about to read events.ts, whose
    NTZ→timestamp normalization is wall-preserving only under a UTC
    session. Folding the pin here means streaming readers
    (streaming.stream_events) that bypass ``load`` still get it.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _pin_utc(spark)


def _pin_utc(spark: SparkSession) -> None:
    """Pin the session time zone to UTC before any table read.

    Every operator (and its DuckDB oracle twin) treats stored
    wall-clock values as UTC; date-epoch projections like
    ``o_orderdate.cast("timestamp").cast("long")`` go through the
    session zone, so on a bare non-UTC driver session they would drift
    by the zone offset. Pinning here — at read time, for all tables,
    not only events — makes the engine session-portable."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Canonicalize events.ts to TimestampType (micros, UTC wall).

    Depending on Spark version and how the parquet was written, the
    nanos column surfaces as LongType (nanosAsLong pre-4.1 behavior) or
    TIMESTAMP_NTZ (Spark 4.1 reads NANOS/isAdjustedToUTC=false natively,
    truncated to micros). Every downstream operator assumes one type;
    normalize here so they never see the difference. The NTZ→timestamp
    cast is wall-preserving because the session TZ is pinned to UTC by
    ``_pin_utc`` — invoked both from ``load`` and from
    ``_enable_nanos_as_long``, so every batch and streaming events read
    is covered before this cast runs.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # integer division: double division loses precision at 1e18 nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session confs that change how Spark maps a parquet footer to a
# StructType; a memoized schema is only valid under the values it was
# inferred with.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# path -> (stamp, schema): one entry per path, replaced on a rewrite
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_stamps(path: str) -> tuple | None:
    """(relative name, size, mtime_ns, inode) of every file under
    ``path`` (a single parquet file or a directory of part files),
    sorted — a rewrite of any file, in place or by rename, changes it.
    None when ``path`` is not on the local filesystem (a remote URI, or
    missing): such reads skip the memo and keep Spark's own errors."""
    if not os.path.exists(path):
        return None
    if os.path.isdir(path):
        files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs]
    else:
        files = [path]
    stamps = []
    for f in files:
        st = os.stat(f)
        stamps.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sorted(stamps))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from a scale-factor directory.

    ``spark.read.parquet(path)`` runs one schema-inference Spark job on
    every call. The schema Spark inferred on the first read is memoized
    per path with the file stamps and schema-relevant session confs it
    was inferred under, and handed back through ``spark.read.schema``:
    later loads of an unchanged file run no job, while a rewritten file
    or a changed conf is inferred afresh."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _pin_utc(spark)
    if name == "events":
        _enable_nanos_as_long(spark)
    path = f"{sf_dir}/{name}.parquet"
    stamps = _file_stamps(path)
    stamp = (stamps, tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    memo = _SCHEMAS.get(path)
    if memo is not None and memo[0] == stamp:
        df = spark.read.schema(memo[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if stamps is not None:
            _SCHEMAS[path] = (stamp, df.schema)
    if name == "events":
        df = _normalize_events_ts(df)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def _footers(sf_dir: str, name: str):
    """Parquet footer metadata of every file of one table (a single
    .parquet file or a directory of part files)."""
    import pyarrow.parquet as pq

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        files = [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
    else:
        files = [path]
    return [pq.ParquetFile(f).metadata for f in files]


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Row count of one table straight from parquet FOOTER metadata —
    a driver-side file read (~1 ms), no Spark job. Volume gates
    (q_agg_spearman-class) read this instead of launching a count()
    aggregate inside the timed query (ADVICE r13 #2: the old gate's
    load(...).count() was a real per-invocation job, and the comment
    claiming otherwise was wrong). The footers are re-read per call —
    no cross-run memoization."""
    return sum(md.num_rows for md in _footers(sf_dir, name))


def parquet_key_range(sf_dir: str, name: str, column: str):
    """(rows, min, max) of one column from the parquet footers'
    row-group statistics — no Spark job. min and max are None when any
    non-empty row group lacks statistics for the column (or the table
    is empty), so a missing statistic never passes for a range."""
    metas = _footers(sf_dir, name)
    rows = sum(md.num_rows for md in metas)
    mn = mx = None
    for md in metas:
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows == 0:
                continue
            st = next(
                (rg.column(j).statistics for j in range(rg.num_columns)
                 if rg.column(j).path_in_schema == column),
                None,
            )
            if st is None or not st.has_min_max:
                return rows, None, None
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
    return rows, mn, mx


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register tables as temp views so SQL-path queries work.

    Pass ``names`` to register only what a query references — the
    default registers all tables (the general SQL entry point)."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)

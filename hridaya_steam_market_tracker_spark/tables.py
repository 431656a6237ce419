"""Fixture-table access for the driver testdata (TESTDATA.md).

Ten parquet tables per scale factor. Loaded lazily and returned as a
dict so query definitions read declaratively. Session timezone is
re-pinned to UTC on every load — the driver may hand us a session with
different defaults, and timestamp/string parity with the DuckDB oracle
requires UTC (reference pins UTC too: api/databasePool.py:60).
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def pin_session(spark: SparkSession) -> SparkSession:
    """Runtime-settable confs the engine depends on, idempotent."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # At 100 TB the banded/tiled self-joins (LSH buckets, SimHash chunks,
    # winnowing grams) inherit whatever key skew the corpus has — a viral
    # boilerplate chunk or hot shingle lands one huge bucket on one task.
    # AQE skew-join splits that partition at runtime into
    # advisoryPartitionSizeInBytes slices without changing results; it is
    # free insurance local[32] never exercises but a 1000-executor cluster
    # will. (The DF-cutoff guards bound fan-out; this bounds per-task size.)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # The driver testdata stores some timestamps as TIMESTAMP(NANOS), which
    # Spark's parquet reader rejects. Read them as long and convert below
    # (DuckDB truncates ns -> us the same way).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


@lru_cache(maxsize=None)
def _timestamp_cols_cached(
    path: str, mtime_ns: int, size: int
) -> tuple[tuple[str, str], ...]:
    del mtime_ns, size  # cache-key components only
    schema = pq.read_schema(path)
    return tuple(
        (f.name, f.type.unit) for f in schema if pa.types.is_timestamp(f.type)
    )


def _timestamp_cols(path: str) -> tuple[tuple[str, str], ...]:
    """(name, unit) for every timestamp column; unit 'ns' needs the
    long-read conversion, anything else may arrive as TIMESTAMP_NTZ.
    Cache keys include (mtime, size) so a file regenerated at the same
    path within one process lifetime doesn't serve a stale schema.
    A table may be a single parquet FILE (the driver fixtures) or a
    Spark-written DIRECTORY of part files (any real deployment) — for a
    directory, the first part file carries the schema."""
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            return ()
        path = os.path.join(path, parts[0])
    st = os.stat(path)
    return _timestamp_cols_cached(path, st.st_mtime_ns, st.st_size)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}")
    pin_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for c, unit in _timestamp_cols(path):
        if unit == "ns":
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
        else:
            # tz-naive parquet timestamps surface as TIMESTAMP_NTZ under
            # Spark 4's inferTimestampNTZ default; normalize to session-tz
            # TIMESTAMP (identity instant under the pinned UTC session) so
            # epoch functions (unix_micros & co.) keep working uniformly.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


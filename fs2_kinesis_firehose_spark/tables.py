"""Fixture-table loaders (TESTDATA.md / FIXTURES.md).

Every query receives an explicit ``sf_dir`` so the same code runs at any scale
factor; at cluster scale the directory would simply be an object-store prefix.
Loaders use plain ``spark.read.parquet`` so Catalyst owns column pruning and
predicate pushdown — do NOT pre-select columns here.

``scratch_dir`` is the one owner of the per-``sf_dir`` scratch directories
that eager queries write under the temporary directory.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from pathlib import Path

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
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def scratch_dir(family: str, leaf: str, sf_dir: str) -> Path:
    """``<tmp>/<family>/<leaf>``, removed first if it exists; the caller
    creates what it needs inside.  ``leaf`` is formatted with ``h``, the
    first 12 hex digits of ``sha256(sf_dir)``, and ``pid``, this process's
    id.  The path is deterministic per ``sf_dir`` (and process, where the
    leaf names it), so repeated runs reuse one directory instead of leaking
    a fresh mkdtemp each."""
    h = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    path = Path(tempfile.gettempdir()) / family / leaf.format(h=h, pid=os.getpid())
    if path.exists():
        shutil.rmtree(path)
    return path


def ensure_session_confs(spark: SparkSession) -> None:
    """Make ANY session (e.g. the driver harness's own) able to run the
    catalog: events.parquet needs nanosAsLong, and query outputs assume UTC
    session time (both are runtime-settable SQL confs; idempotent)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLE_NAMES}")
    ensure_session_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark versions surface
        # differently: ≤4.0 honours nanosAsLong (long epoch-nanos); 4.1 reads
        # TIMESTAMP_NTZ directly.  Normalize both to microsecond TimestampType
        # so downstream code (unix_micros, windows, watermarks) sees ONE type.
        # Integer DIV, not `/` — epoch-nanos (~1.7e18) overflow double mantissa.
        # NTZ→LTZ cast is instant-preserving under the pinned UTC session tz,
        # matching how the DuckDB oracle reads the same naive timestamps.
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}

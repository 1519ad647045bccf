"""SparkSession factory and Python-worker import setup.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32) in one JVM; the
configuration below is chosen so the *same logical plans* scale to a
1000-executor cluster reading ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting, dynamic
  broadcast conversion) — the single most important knob at scale.
- ``spark.sql.shuffle.partitions`` sized for the local box; on a real cluster
  AQE re-coalesces from a deliberately high initial number, so queries must not
  depend on an exact partition count.
- Arrow enabled for every pandas UDF / toPandas hop.
- Session timezone pinned to UTC so event-time semantics are
  deployment-independent (and match the DuckDB oracle, which reads the naive
  parquet timestamps as-is).

Every package function unpickled on an executor imports the package root and
with it this module, so process setup for Spark's Python workers lives here
too (``_reread_zips_only_when_changed``).
"""

from __future__ import annotations

import math
import os
import sys
import weakref
from typing import Callable

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "fs2-kinesis-firehose-spark"


def _reread_zips_only_when_changed() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive changed on disk.

    Spark's Python workers call ``importlib.invalidate_caches()`` before every
    task (``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13 each
    zip importer then re-reads its archive's whole central directory, and a
    worker holds one importer per imported sub-package of ``pyspark.zip``,
    ``py4j-*.zip`` and the spark-core jar: 0.15-0.28 s per task (4 cores)
    before any data is touched.  The wrapper keeps, per importer, the
    archive's ``(st_mtime_ns, st_size)`` as of that importer's last read and
    calls the eager original only when the key is missing or differs, or
    ``os.stat`` fails.  The key of every zip importer already in
    ``sys.path_importer_cache`` is recorded at install: this module is first
    imported while a task unpickles its function, after that task's own
    invalidation read every archive, so the next task skips the reads too.
    An archive rewritten between that read and the install would be missed
    until it changes again.  A rewritten archive is re-read, an importer
    created later reads on its first invalidation as before, and
    ``FileFinder`` invalidation is untouched.

    Acts only where ``pyspark.worker_util`` is loaded, which only Spark's
    Python worker entry points import (a driver is never patched), and only
    on Python < 3.13.  From 3.13 on the stdlib invalidation is lazy; remove
    this function once the package requires 3.13.
    """
    if sys.version_info >= (3, 13) or "pyspark.worker_util" not in sys.modules:
        return
    import zipimport

    eager = zipimport.zipimporter.invalidate_caches
    read_as_of = weakref.WeakKeyDictionary()

    def archive_key(importer) -> tuple[int, int] | None:
        try:
            st = os.stat(importer.archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self) -> None:
        key = archive_key(self)
        if key is None or read_as_of.get(self) != key:
            eager(self)
            read_as_of[self] = key

    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            read_as_of[importer] = archive_key(importer)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_zips_only_when_changed()


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sqrt_sized_partitions(
    spark: SparkSession, override_key: str, quantum: int, measure: Callable[[], int]
) -> int:
    """Partition width for work that pays a fixed cost per partition that
    nothing coalesces (a stream's state stores, a pinned superstep frame):
    ``clamp(ceil(sqrt(amount / quantum)), 1, session shuffle partitions)``.
    A fixed cost k per partition plus divisible work c·amount/p is least
    at p* = sqrt(c·amount/k), so the quantum is the caller's calibrated
    k/c; the session conf stays the upper bound, so a cluster configured
    with thousands of shuffle partitions keeps them at scale.

    The conf ``override_key``, when set, is the width outright, and
    ``measure`` (which returns the amount) is then never called."""
    override = spark.conf.get(override_key, None)
    if override:
        return max(1, int(override))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    derived = math.isqrt(max(0, measure() - 1) // quantum) + 1
    return max(1, min(cap, derived))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the process-wide SparkSession.

    ``shuffle_partitions`` defaults to the local core count; on a cluster you
    would set it high (e.g. 2000) and let AQE coalesce.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- scale-critical defaults -------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Cap task memory pages at 32 MiB.  Spark auto-sizes pages from
        # heap/cores (~256 MiB at 24 g × 32 threads); wide-transient stages
        # (the sf1 triangles wedge join moves ~20 GB / 411 M wedge rows
        # through one exchange) then overshoot in 256 MiB steps — observed
        # as repeated "Failed to allocate a page" + GCLocker retries, and
        # the r12b end-of-session OOM.  32 MiB pages make the same stage
        # spill smoothly: zero allocation warnings, identical wall time
        # (50.3 s vs 48.7 s isolated sf1 run; PLANS.md r13 adjudication).
        .config("spark.buffer.pageSize", "32m")
        # --- local-mode ergonomics ---------------------------------------
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.streaming.schemaInference", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

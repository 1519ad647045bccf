"""Deterministic file-source replay of fixture tables, and the one runner
every availableNow stream in the package goes through.

File streaming sources need a directory; fixtures are single parquet files —
``replay_parquet`` stages copies into a temp dir (optionally N copies to
synthesize duplicate deliveries) and returns the streaming DataFrame with the
same column types as ``tables.load_table`` (events.ts long-nanos → timestamp).

``run_to_memory*`` (memory sink) and ``run_foreach_batch`` (foreachBatch)
run a stream to completion through ``_run``, which owns the whole
lifecycle: the availableNow trigger, stopping the query, and removing the
staging dirs the replays auto-created for it.  The memory runner also sizes
the stateful operators' state stores from the bytes the replays staged and
drops its ``mem_*`` view once the result has resolved.  The sized width is
set on the session only across the query's ``start()``, where the stream
takes its own copy of the conf, so a run leaves the session's conf and
catalog as it found them, and a query planned while a stream runs sees the
session's own width.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from fs2_kinesis_firehose_spark.session import sqrt_sized_partitions
from fs2_kinesis_firehose_spark.tables import ensure_session_confs, table_path

# Every dir replay_parquet/replay_phased staged since the last run, paired
# with whether the replay created it (True) or the caller passed it as
# ``staging_dir`` (False).  The next run sizes its state stores from their
# bytes, then removes the dirs the replays created (the staged copies are
# only read while the query runs).  Before the cleanup, a full bench run
# leaked hundreds of /tmp/replay-* dirs (observed: 362), the known
# dirty-tmp noise source for the /tmp-I/O-sensitive bench lines (PLANS.md
# noise protocol).
_STAGED: list[tuple[str, bool]] = []

# Stateful-shuffle sizing constant: state partitions = ceil(sqrt(bytes /
# this)).  Why sqrt (measured, r15): a micro-batch pays a FIXED cost k per
# state-store instance (commit/delta-write/bookkeeping, measured 30-250 ms
# per instance per batch even when nearly empty — and contention makes it
# superlinear in the instance count) plus DIVISIBLE compute c*B/p, so wall
# time c*B/p + k*p is minimized at p* = sqrt(c*B/k).  With the measured
# c ≈ 1 s/MB (single-threaded stateful-agg compute at this row width) and
# k ≈ 30-60 ms this constant puts p within ~2x of the per-shape optimum
# across every measured shape (windowed agg, update-mode agg, stream-stream
# LeftOuter with 4 stores/partition): at 2 MB input the sweep gave
# p=4-8 ≈ best everywhere, while the previous core-count constant (32)
# cost 1.4-3x the optimum — worst on the join (6.4 s vs 1.9-2.1 s).
# Unlike batch exchanges, the stateful exchange is INVISIBLE to AQE (the
# state partition count is pinned into the checkpoint at batch 0 and can
# never be coalesced), so right-sizing must happen at query start, derived
# from input size — not from the local core count.  The session
# shuffle-partition setting stays the UPPER bound, so a cluster configured
# with thousands of shuffle partitions keeps them once the input is large
# enough to need them (the cap binds from ~130 MB/batch at the local 32,
# ~260 GB/batch at a cluster's 2000).
_STATE_PARTITION_SQRT_BYTES = 64 * 1024


def _source_bytes(src: str) -> int:
    """Total parquet bytes of one parquet file or of a directory of part
    files (a fixture table or a staging dir).  Reads the driver's local
    filesystem: replays stage there, so this sizing does not apply to an
    object-store source (size those with the override conf instead)."""
    if os.path.isdir(src):
        return sum(
            e.stat().st_size
            for e in os.scandir(src)
            if e.is_file() and e.name.endswith(".parquet")
        )
    return os.path.getsize(src)


def sized_state_partitions(spark: SparkSession, n_bytes: int) -> int:
    """Scale-adaptive stateful-shuffle sizing for an availableNow run over
    ``n_bytes`` of input:
    ``clamp(ceil(sqrt(n_bytes / 64KB)), 1, session shuffle partitions)``
    — the fixed-cost-per-store vs divisible-compute optimum (see the
    ``_STATE_PARTITION_SQRT_BYTES`` cost model).

    ``spark.fs2kf.streaming.statePartitions`` overrides the derivation for
    deployments that size state partitions explicitly (state-store count is
    sticky per checkpoint, so production picks it for the stream's LIFETIME
    peak, not its first batch).  ``n_bytes`` comes from the driver-local
    staging dirs (``_source_bytes``)."""
    return sqrt_sized_partitions(
        spark,
        "spark.fs2kf.streaming.statePartitions",
        _STATE_PARTITION_SQRT_BYTES,
        lambda: n_bytes,
    )


def replay_parquet(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    copies: int = 1,
    staging_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    src = table_path(sf_dir, name)
    ensure_session_confs(spark)
    staging = staging_dir
    if staging is None:
        staging = os.path.join(
            tempfile.gettempdir(), f"replay-{name}-{uuid.uuid4().hex[:8]}"
        )
    _STAGED.append((staging, staging_dir is None))
    os.makedirs(staging, exist_ok=True)
    # a table is either one parquet file (the driver fixture layout) or a
    # directory of part files (anything Spark itself wrote, e.g. the sf1
    # scale fixture) — stage every data file flat under a per-copy prefix
    if os.path.isdir(src):
        parts = sorted(
            e.path for e in os.scandir(src) if e.is_file() and e.name.endswith(".parquet")
        )
    else:
        parts = [src]
    for i in range(copies):
        for j, part in enumerate(parts):
            dst = os.path.join(staging, f"{name}-{i}-{j}.parquet")
            if not os.path.exists(dst):
                shutil.copy(part, dst)
    schema = spark.read.parquet(src).schema  # raw footer schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(staging)
    if name == "events":
        # Same normalization as tables.load_table: parquet TIMESTAMP(NANOS)
        # surfaces as long (≤4.0 nanosAsLong) or TIMESTAMP_NTZ (4.1+); either
        # way downstream watermarks/windows get microsecond TimestampType.
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = schema["ts"].dataType
        if isinstance(ts_type, LongType):
            stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def replay_phased(
    spark: SparkSession,
    frames: list[DataFrame],
    *,
    staging_dir: str | None = None,
) -> DataFrame:
    """Stage each batch DataFrame as ONE parquet file and stream them back
    as ORDERED micro-batches (``maxFilesPerTrigger=1``; the file source
    lists by (mtime, path) and each staged file gets a strictly increasing
    mtime) — the deterministic way to exercise cross-batch watermark
    semantics: batch k+1 sees the watermark advanced by batch k.

    All frames must share a schema.  Returns the streaming DataFrame."""
    import time

    staging = staging_dir
    if staging is None:
        staging = os.path.join(
            tempfile.gettempdir(), f"replay-phased-{uuid.uuid4().hex[:8]}"
        )
    _STAGED.append((staging, staging_dir is None))
    os.makedirs(staging, exist_ok=True)
    base = time.time()
    for k, frame in enumerate(frames):
        tmp = os.path.join(staging, f"_stage_{k}")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            e.path
            for e in os.scandir(tmp)
            if e.is_file() and e.name.endswith(".parquet")
        )
        dst = os.path.join(staging, f"phase-{k:02d}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (base + k, base + k))  # strict replay order
    schema = spark.read.parquet(os.path.join(staging, "phase-00.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )


def _run(writer: DataStreamWriter, state_partitions: int | None = None) -> list:
    """Run ``writer``'s query to completion under the availableNow trigger
    (everything currently in the source, then stop) and return its
    recorded progress objects.  However the run ends, the query is stopped
    and every staging dir a replay auto-created for it is removed;
    caller-owned ``staging_dir``s stay (runs are sequential in every
    query and test path).

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` across
    ``start()`` only.  The query copies the session conf inside
    ``start()`` (its ``StreamExecution`` clones the session, SPARK-26586)
    and fixes its state-store count from that copy at batch 0, so the
    session's own value is restored as soon as ``start()`` returns and no
    other query on the session plans under the pinned width."""
    q = None
    try:
        writer = writer.trigger(availableNow=True)
        if state_partitions is None:
            q = writer.start()
        else:
            conf = writer._spark.conf
            prev = conf.get("spark.sql.shuffle.partitions")
            conf.set("spark.sql.shuffle.partitions", str(state_partitions))
            try:
                q = writer.start()
            finally:
                conf.set("spark.sql.shuffle.partitions", prev)
        q.awaitTermination()
        return list(q.recentProgress)
    finally:
        if q is not None:
            q.stop()
        while _STAGED:
            path, created = _STAGED.pop()
            if created:
                shutil.rmtree(path, ignore_errors=True)


def run_to_memory_with_progress(
    stream_df: DataFrame,
    *,
    output_mode: str = "append",
) -> tuple[DataFrame, list]:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; return the materialized result as a batch DataFrame, with the
    query's recorded progress objects so callers can account for
    engine-side observability metrics (e.g.
    ``stateOperators[].numRowsDroppedByWatermark``).

    availableNow processes everything currently in the source then stops —
    the deterministic way to exercise real streaming operators in tests and
    the correctness harness.

    When the stream reads replays, the stateful operators' state-store
    count is sized from the bytes those replays staged
    (``sized_state_partitions``) and pinned across the query's ``start()``
    only (see ``_run``); any other source runs under the session conf.
    The memory sink's view is dropped once the result has resolved."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    n_bytes = sum(_source_bytes(path) for path, _ in _STAGED)
    partitions = sized_state_partitions(spark, n_bytes) if _STAGED else None
    writer = stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    try:
        progress = _run(writer, partitions)
        return spark.table(name), progress
    finally:
        spark.catalog.dropTempView(name)


def run_to_memory(stream_df: DataFrame, *, output_mode: str = "append") -> DataFrame:
    """:func:`run_to_memory_with_progress` without the progress objects."""
    return run_to_memory_with_progress(stream_df, output_mode=output_mode)[0]


def run_foreach_batch(
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    *,
    checkpoint_location: str | None = None,
) -> None:
    """Run a streaming DataFrame to completion (availableNow), handing each
    micro-batch to ``fn(batch_df, batch_id)``.  Shuffle partitions are not
    pinned: the batch jobs inside ``fn`` run on the stream's copy of the
    session, which would inherit a width pinned at ``start()``.  Without a
    ``checkpoint_location`` the query checkpoints to a temporary dir."""
    writer = stream_df.writeStream.foreachBatch(fn)
    if checkpoint_location is not None:
        writer = writer.option("checkpointLocation", checkpoint_location)
    _run(writer)

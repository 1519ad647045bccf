"""Streaming runner machinery in ``streaming/replay.py``: input-sized state
partitions, staging cleanup and session hygiene.

- ``sized_state_partitions``: sqrt-of-bytes derivation, conf override,
  clamp to the session shuffle-partition cap, floor of 1.
- the memory runner pins the sized width across ``start()`` only: the
  session's own value is back while the query runs, after it ends, after
  a ``start()`` that raises, and is never touched when nothing was staged.
- auto-created replay staging dirs are removed once their query has run
  (the /tmp/replay-* leak was the known dirty-tmp bench-noise source);
  caller-owned ``staging_dir``s are left alone.
- the memory runner pins the stateful operator's state-store count itself
  (engine-reported numShufflePartitions).
- both runners leave the session as they found it: no ``mem_*`` view, no
  staged dir, an empty staging registry, the shuffle conf restored.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from fs2_kinesis_firehose_spark.streaming import replay as R
from fs2_kinesis_firehose_spark.streaming.windows import tumbling_counts
from fs2_kinesis_firehose_spark.tables import load_table, table_path

SF = "/root/testdata/sf0.001"
OVERRIDE = "spark.fs2kf.streaming.statePartitions"
SHUFFLE = "spark.sql.shuffle.partitions"


@contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_sized_state_partitions_derivation(spark):
    events = R._source_bytes(table_path(SF, "events"))
    with _conf(spark, SHUFFLE, "32"):
        # never below 1, grows with bytes, tiny fixture far below the cap
        assert R.sized_state_partitions(spark, 0) == 1
        one = R.sized_state_partitions(spark, events)
        three = R.sized_state_partitions(spark, 3 * events)
        assert 1 <= one <= three < 32
        assert R.sized_state_partitions(spark, 64 * 1024) == 1
        assert R.sized_state_partitions(spark, 100 * 64 * 1024) == 10
        # the session conf caps the derivation
        assert R.sized_state_partitions(spark, 10**12) == 32
        with _conf(spark, SHUFFLE, "2"):
            assert R.sized_state_partitions(spark, 100 * 64 * 1024) == 2


def test_sized_state_partitions_override(spark):
    events = R._source_bytes(table_path(SF, "events"))
    with _conf(spark, OVERRIDE, "13"):
        assert R.sized_state_partitions(spark, events) == 13


def _store_counts(progress):
    return {
        int(so.numShufflePartitions)
        for p in progress
        for so in p.stateOperators
        if so.numShufflePartitions is not None
    }


def test_scoped_state_partitions_restores_conf(spark, tmp_path):
    with _conf(spark, SHUFFLE, "4"), _conf(spark, OVERRIDE, "2"):
        # a pinned run
        stream = R.replay_parquet(spark, SF, "events")
        R.run_to_memory(tumbling_counts(stream), output_mode="complete")
        assert spark.conf.get(SHUFFLE) == "4"
        # a pinned run whose start() raises: a keyed aggregate has no
        # append output without a watermark
        stream = R.replay_parquet(spark, SF, "events")
        with pytest.raises(Exception, match="(?i)append"):
            R.run_to_memory(stream.groupBy("event_type").count(), output_mode="append")
        assert spark.conf.get(SHUFFLE) == "4"
        assert R._STAGED == []
        # nothing staged: no pin, the stream plans under the session's width
        src = tmp_path / "src"
        src.mkdir()
        shutil.copy(table_path(SF, "events"), src / "events.parquet")
        schema = spark.read.parquet(str(src)).schema
        stream = spark.readStream.schema(schema).parquet(str(src))
        _, progress = R.run_to_memory_with_progress(
            stream.groupBy("event_type").count(), output_mode="complete"
        )
        assert spark.conf.get(SHUFFLE) == "4"
        assert _store_counts(progress) == {4}


def test_session_width_unpinned_while_stream_runs(spark):
    """The pin covers ``start()`` only: a listener reading the session's
    width on every progress event, while later batches still run, sees the
    session's own 4, and the state stores still number the sized 2."""
    reads: list[str] = []

    class ReadWidth(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            reads.append(spark.conf.get(SHUFFLE))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = ReadWidth()
    spark.streams.addListener(listener)
    try:
        with _conf(spark, SHUFFLE, "4"), _conf(spark, OVERRIDE, "2"):
            stream = R.replay_parquet(spark, SF, "events", copies=3, max_files_per_trigger=1)
            _, progress = R.run_to_memory_with_progress(
                tumbling_counts(stream), output_mode="complete"
            )
            deadline = time.monotonic() + 30
            while len(reads) < len(progress) and time.monotonic() < deadline:
                time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    assert len(progress) >= 3
    assert len(reads) == len(progress)
    assert set(reads) == {"4"}
    assert _store_counts(progress) == {2}


def test_auto_staging_removed_after_run(spark):
    stream = R.replay_parquet(spark, SF, "events")
    assert R._STAGED, "auto staging should be registered"
    staging, created = R._STAGED[-1]
    assert created
    assert os.path.isdir(staging)
    out = R.run_to_memory(tumbling_counts(stream), output_mode="complete")
    assert out.count() > 0
    assert not os.path.exists(staging)
    assert not R._STAGED


def test_explicit_staging_dir_preserved(spark, tmp_path):
    staging = str(tmp_path / "mine")
    stream = R.replay_parquet(spark, SF, "events", staging_dir=staging)
    R.run_to_memory(tumbling_counts(stream), output_mode="complete")
    assert os.path.isdir(staging), "caller-owned staging must not be deleted"


def test_state_partitions_pin_store_count(spark):
    # the session's 4 would be the store count if the runner did not pin
    with _conf(spark, SHUFFLE, "4"), _conf(spark, OVERRIDE, "2"):
        stream = R.replay_parquet(spark, SF, "events")
        _, progress = R.run_to_memory_with_progress(
            tumbling_counts(stream), output_mode="complete"
        )
    parts = {
        int(so.numShufflePartitions)
        for p in progress
        for so in p.stateOperators
        if so.numShufflePartitions is not None
    }
    assert parts == {2}


def test_stateful_results_partition_count_invariant(spark):
    def rows(n):
        with _conf(spark, OVERRIDE, str(n)):
            stream = R.replay_parquet(spark, SF, "events")
            out = R.run_to_memory(tumbling_counts(stream), output_mode="complete")
        return sorted(tuple(r) for r in out.collect())

    assert rows(1) == rows(4)


def test_runners_leave_session_as_found(spark):
    shuffle = spark.conf.get(SHUFFLE)
    n_events = load_table(spark, SF, "events").count()

    stream = R.replay_parquet(spark, SF, "events")
    staged = [R._STAGED[-1][0]]
    out = R.run_to_memory(tumbling_counts(stream), output_mode="complete")
    # the result resolved before its view was dropped still aggregates
    assert out.agg({"n_events": "sum"}).first()[0] == n_events

    seen: list[int] = []
    stream = R.replay_parquet(spark, SF, "events", copies=2, max_files_per_trigger=1)
    staged.append(R._STAGED[-1][0])
    R.run_foreach_batch(stream.select("event_id"), lambda df, _: seen.append(df.count()))
    assert sum(seen) == 2 * n_events

    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")] == []
    assert [p for p in staged if os.path.exists(p)] == []
    assert R._STAGED == []
    assert spark.conf.get(SHUFFLE) == shuffle

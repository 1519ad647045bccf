"""Kinesis-like READ side for the delivery pipeline (Spark 4 Python
DataSource, batch + streaming).

The reference is write-only (Firehose has no consumer API), but the north
star's Spark approach is "Structured Streaming with Kinesis source/sink" —
this closes the read path.  The backend is the same length-prefixed spool
the fake Firehose writes (firehose/client.py owns the format, and its
``spool_frames`` walks it here), modeled with Kinesis semantics:

- each spool FILE is a SHARD (one Spark input partition per shard —
  parallelism = shard count, exactly Kinesis' model);
- the record's byte position is its SEQUENCE NUMBER: offsets are
  per-shard byte positions, so streaming reads are incremental, replayable
  and checkpointable (at-least-once on restart, like the real source);
- schema ``shard: string, seq: bigint, value: binary``;
- a batch read is the stream read over the spool's current prefix.

Usage::

    register_kinesis_spool_source(spark)
    df = spark.read.format("kinesis_spool").option("spoolDir", d).load()
    s = spark.readStream.format("kinesis_spool").option("spoolDir", d).load()
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from fs2_kinesis_firehose_spark.firehose.client import spool_frames

SCHEMA = "shard string, seq bigint, value binary"


def _shards(spool_dir: str) -> list[str]:
    if not os.path.isdir(spool_dir):
        return []
    return sorted(f for f in os.listdir(spool_dir) if f.endswith(".spool"))


@dataclass
class _ShardSlice(InputPartition):
    shard: str
    path: str
    start: int
    end: int


class KinesisSpoolStreamReader(DataSourceStreamReader):
    """Offsets are ``{shard: byte_position}`` JSON — monotone, resumable."""

    def __init__(self, options: dict[str, str]) -> None:
        self.spool_dir = options.get("spooldir")
        if not self.spool_dir:
            raise ValueError("kinesis_spool requires .option('spoolDir', ...)")
        self._aligned: dict[str, int] = {}  # per-shard last known aligned end

    def initialOffset(self) -> dict:
        return {"offsets": json.dumps({})}

    def latestOffset(self) -> dict:
        """Each shard's end after its last whole frame, walked from the
        previous end: a concurrent producer may have flushed a header
        without its payload, and an offset mid-record would desynchronize
        the next batch's framing."""
        out = {}
        for s in _shards(self.spool_dir):
            shard = s[: -len(".spool")]
            end = self._aligned.get(shard, 0)
            with open(os.path.join(self.spool_dir, s), "rb") as f:
                for pos, n in spool_frames(f, end):
                    end = pos + 4 + n
            out[shard] = self._aligned[shard] = end
        return {"offsets": json.dumps(out)}

    def partitions(self, start: dict, end: dict) -> list[_ShardSlice]:
        s = json.loads(start.get("offsets", "{}"))
        e = json.loads(end.get("offsets", "{}"))
        out = []
        for shard, end_pos in e.items():
            start_pos = int(s.get(shard, 0))
            if end_pos > start_pos:
                out.append(
                    _ShardSlice(
                        shard,
                        os.path.join(self.spool_dir, f"{shard}.spool"),
                        start_pos,
                        int(end_pos),
                    )
                )
        return out or [_ShardSlice("empty", "", 0, 0)]

    def read(self, partition: _ShardSlice) -> Iterator[tuple]:
        if not partition.path:
            return
        with open(partition.path, "rb") as f:
            for seq, n in spool_frames(f, partition.start, partition.end):
                yield (partition.shard, seq, f.read(n))

    def commit(self, end: dict) -> None:  # offsets live in the checkpoint
        pass


class KinesisSpoolBatchReader(DataSourceReader):
    """A batch read is the stream over the spool's current prefix: one
    micro-batch from the initial offset to the latest."""

    def __init__(self, options: dict[str, str]) -> None:
        self._stream = KinesisSpoolStreamReader(options)

    def partitions(self) -> list[_ShardSlice]:
        return self._stream.partitions({}, self._stream.latestOffset())

    def read(self, partition: _ShardSlice) -> Iterator[tuple]:
        return self._stream.read(partition)


class KinesisSpoolDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesis_spool"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema: Any) -> KinesisSpoolBatchReader:
        return KinesisSpoolBatchReader({k.lower(): v for k, v in self.options.items()})

    def streamReader(self, schema: Any) -> KinesisSpoolStreamReader:
        return KinesisSpoolStreamReader({k.lower(): v for k, v in self.options.items()})


def register_kinesis_spool_source(spark) -> None:
    spark.dataSource.register(KinesisSpoolDataSource)

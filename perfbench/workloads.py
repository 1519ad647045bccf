"""The two workloads.  Each calls only the program's public functions.

A workload has three steps the harness (``run.py``) drives per repetition:

- ``setup(ctx, rep)``: generate this repetition's inputs;
- ``run(ctx, state, span)``: the timed repetition; returns a ``Rep`` with
  its wall time, records and latency samples.  ``span`` is a no-op outside
  the traced run;
- ``check(ctx, state, rep)``: the output checks, outside the timer; returns
  the number of failed records.

``layers(ctx, state, rep, tracer, jobs)`` derives the per-layer numbers of
a traced repetition.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import subprocess
import sys
import tempfile
import time
import tracemalloc
from dataclasses import dataclass, field
from typing import Any

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark import queries
from fs2_kinesis_firehose_spark.firehose import (
    FakeFirehose,
    ProducerSettings,
    produce,
    produce_acks,
    put_batch_with_retry,
)
from fs2_kinesis_firehose_spark.firehose.batching import slice_requests
from fs2_kinesis_firehose_spark.firehose.client import fake_client_factory, read_spool
from fs2_kinesis_firehose_spark.firehose.serializers import serialize_and_frame
from fs2_kinesis_firehose_spark.firehose.settings import (
    MAX_BATCH_BYTES,
    MAX_BATCH_SIZE,
    MAX_RECORD_BYTES,
    RetryPolicy,
)
from fs2_kinesis_firehose_spark.oracle import canonical_rows
from fs2_kinesis_firehose_spark.tables import table_path
from perfbench import inputs, sparkstats
from perfbench.faults import FAIL_MODULUS, fail_first_attempt
from perfbench.metrics import PIPELINE, median

NO_BACKOFF = RetryPolicy(base_backoff_s=0.0)
PUT_PARALLELISM = 4  # the local[4] core count


@dataclass
class Rep:
    wall_s: float
    records: int
    latencies: list[float]
    units: int = 0  # what failures are counted against
    out: Any = None
    spans: dict[str, int] = field(default_factory=dict)  # layer name -> span id


def _span_jobs(jobs, span_id: int | None) -> list:
    return [j for j in jobs if span_id is not None and j.group == f"span-{span_id}"]


def _sink_layers(calls: list[tuple[list, bool]]) -> dict[str, float]:
    """``sink.*`` over the produce calls of one repetition, each given as
    (its jobs, whether the call cuts its own requests); each call's stages
    are split into cut / put / ack separately, then summed."""
    out = dict.fromkeys(
        ("sink.stages", "sink.tasks", "sink.cut_stage_s", "sink.put_stage_s",
         "sink.ack_stage_s", "sink.shuffle_write_bytes", "sink.executor_cpu_s",
         "sink.executor_run_s"), 0.0)
    for jobs, own_cut in calls:
        cut, put, ack = sparkstats.sink_stages(sparkstats.unique_stages(jobs), own_cut)
        tot = sparkstats.stage_totals(cut + put + ack)
        out["sink.cut_stage_s"] += sparkstats.duration(cut)
        out["sink.put_stage_s"] += sparkstats.duration(put)
        out["sink.ack_stage_s"] += sparkstats.duration(ack)
        out["sink.stages"] += tot["stages"]
        out["sink.tasks"] += tot["tasks"]
        out["sink.shuffle_write_bytes"] += tot["shuffle_write_bytes"]
        out["sink.executor_cpu_s"] += tot["cpu_s"]
        out["sink.executor_run_s"] += tot["run_s"]
    return out


def probe_client(payloads: list[bytes], records_per_rep: int, spool_dir: str | None,
                 should_fail=None) -> dict[str, float]:
    """Time the executor-side layers in the driver on a sample of the
    repetition's framed payloads: slicing, put-with-retry and the fake
    client's put and spool, plus the memory the client retains."""
    settings = dict(batch_size=MAX_BATCH_SIZE, max_batch_bytes=MAX_BATCH_BYTES,
                    max_record_bytes=MAX_RECORD_BYTES)
    t = time.perf_counter()
    requests = [buf for buf, _ in slice_requests(payloads, **settings)]
    slice_s = time.perf_counter() - t
    batches = [[{"Data": p} for p in buf] for buf in requests]

    client = FakeFirehose(record_should_fail=should_fail)
    t = time.perf_counter()
    for batch in batches:
        put_batch_with_retry(client, "probe", batch, NO_BACKOFF)
    retry_s = time.perf_counter() - t

    client = FakeFirehose()
    t = time.perf_counter()
    for batch in batches:
        client.put_record_batch(DeliveryStreamName="probe", Records=batch)
    put_s = time.perf_counter() - t

    # what a client keeps per record, payload copies included (an executor
    # hands it payloads freshly decoded from Arrow)
    tracemalloc.start()
    try:
        client = FakeFirehose()
        for buf in requests:
            client.put_record_batch(DeliveryStreamName="probe",
                                    Records=[{"Data": bytes(bytearray(p))} for p in buf])
        retained = tracemalloc.get_traced_memory()[0]
    finally:
        tracemalloc.stop()
    del client

    out = {
        "batching.slice_us_per_request": slice_s / len(requests) * 1e6,
        "retry.put_us_per_request": retry_s / len(requests) * 1e6,
        "client.put_us_per_record": put_s / len(payloads) * 1e6,
        "client.retained_mb_per_rep": retained / len(payloads) * records_per_rep / 2**20,
    }
    if spool_dir is not None:
        os.makedirs(spool_dir, exist_ok=True)
        client = FakeFirehose(spool_dir=spool_dir)
        t = time.perf_counter()
        for batch in batches:
            client.put_record_batch(DeliveryStreamName="probe", Records=batch)
        out["client.spool_us_per_record"] = (time.perf_counter() - t) / len(payloads) * 1e6
    return out


# ---------------------------------------------------------------------------
class DeliverBatch:
    """The batch produce paths, two calls per repetition:

    1. stamped: seeded binary records, JSON-framed, delivered by the
       exact-order stamped path at parallelism 4; ~10% of records fail once;
    2. pipeline: the registry line ``pipeline_dedup_delivery_accounting``
       over a seeded events table, called through ``QUERIES``.  The call
       itself runs the line's eager ingest (frame, put into a spool); the
       ``collect`` of the DataFrame it returns runs the rest (read the spool
       twice, ``exact_dedup``, deliver on the ordered ``coalesce(1)`` path).
    """

    name = "deliver_batch"
    nominal_rep_s = 6.0

    def __init__(self, records: int, events: int) -> None:
        self.n, self.m = records, events
        self.settings = ProducerSettings("deliver", parallelism=PUT_PARALLELISM, retry=NO_BACKOFF)
        self.factory = fake_client_factory(record_should_fail=fail_first_attempt)
        queries.load_all()

    def setup(self, ctx, rep: int) -> dict:
        path = os.path.join(ctx.rep_dir, "records")
        inputs.write_records(path, self.n, ctx.seed, rep)
        sf_dir = os.path.join(ctx.rep_dir, "tables")
        inputs.write_events(table_path(sf_dir, "events"), self.m, ctx.seed, rep)
        events = pd.read_parquet(table_path(sf_dir, "events"), columns=["event_id", "event_type"])
        expected = {
            f'{{"event_id":{i},"event_type":"{t}"}}\n'.encode()
            for i, t in zip(events["event_id"], events["event_type"])
        }
        return {"path": path, "sf_dir": sf_dir, "expected": expected}

    def run(self, ctx, st: dict, span) -> Rep:
        spans: dict[str, int | None] = {}
        t0 = time.perf_counter()
        df = ctx.spark.read.parquet(st["path"])
        with span("serializers.frame") as sp:
            framed = serialize_and_frame(df, "json")
            if sp is not None:
                framed = framed.persist()
                framed.count()
                spans["stamped.frame"] = sp.id
        with span("sink.produce_acks") as sp:
            acks = produce_acks(framed, self.settings, self.factory, ordered=True).collect()
            spans["stamped.sink"] = sp.id if sp is not None else None
        with span(f"q.{PIPELINE}") as sp:
            with span(f"q.{PIPELINE}.ingest") as ingest:
                line = queries.QUERIES[PIPELINE](ctx.spark, st["sf_dir"])
            with span(f"q.{PIPELINE}.deliver") as deliver:
                totals = line.collect()
            if sp is not None:
                spans.update({PIPELINE: sp.id, "line.ingest": ingest.id, "line.deliver": deliver.id})
        wall = time.perf_counter() - t0
        st["framed"] = framed
        records = self.n + len(st["expected"])
        return Rep(wall, records, [wall], records, out={"acks": acks, "totals": totals},
                   spans=spans)

    def check(self, ctx, st: dict, rep: Rep) -> int:
        """Stamped call: records and bytes are conserved and the ack stamps
        arrive strictly increasing and dense per source partition (the
        ``firehose_ordered_delivery_accounting`` invariants).  Pipeline
        call: the DuckDB oracle, the delivered set and the request count."""
        acks = rep.out["acks"]
        exp = st["framed"].agg(
            F.sum(F.length("value")).alias("bytes"),
            F.count(F.lit(1)).alias("n"),
            F.sum((F.crc32("value") % FAIL_MODULUS == 0).cast("long")).alias("resent"),
        ).collect()[0]
        st["frame_bytes"], st["resent"] = exp["bytes"], exp["resent"]
        delivered = sum(a.n_records - a.failed_records for a in acks)
        stamps = [(a.partition_id, a.request_index) for a in acks]
        per_part: dict[int, list[int]] = {}
        for p, i in stamps:
            per_part.setdefault(p, []).append(i)
        ok = (
            all(x < y for x, y in zip(stamps, stamps[1:]))
            and all(v == list(range(len(v))) for v in per_part.values())
            and sum(a.n_records for a in acks) == self.n == exp["n"]
            and sum(a.request_bytes for a in acks) == exp["bytes"]
        )
        failed = max(0, self.n - delivered) if ok else self.n
        if not self._line_ok(st, rep.out["totals"]):
            print(f"[{self.name}] {PIPELINE} failed its checks", file=sys.stderr)
            failed += len(st["expected"])
        return failed

    @staticmethod
    def _spools(sf_dir: str) -> tuple[str, str]:
        """The ingest and delivery spool directories the line writes for
        ``sf_dir`` (its per-``sf_dir`` root under the temporary directory)."""
        digest = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
        root = os.path.join(tempfile.gettempdir(), "fs2spark-spools", f"pipeline-{digest}")
        return os.path.join(root, "ingest"), os.path.join(root, "deliver")

    def _line_ok(self, st: dict, totals: list) -> bool:
        """The line's result equals its DuckDB oracle on the same events,
        the set it delivered into its spool equals the distinct input set,
        and the request count is ``ceil(n / 500)``."""
        con = duckdb.connect()
        try:
            path = table_path(st["sf_dir"], "events")
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
            oracle = con.execute(queries.ORACLES[PIPELINE]).fetch_df()
        finally:
            con.close()
        got = pd.DataFrame([r.asDict() for r in totals])
        if len(totals) != 1 or list(got.columns) != list(oracle.columns):
            return False
        expected = st["expected"]
        deliver_spool = self._spools(st["sf_dir"])[1]
        delivered = read_spool(deliver_spool, "delivered") if os.path.isdir(deliver_spool) else []
        return (
            canonical_rows(got) == canonical_rows(oracle)
            and set(delivered) == expected
            and totals[0].n_records == len(expected) == len(delivered)
            and totals[0].n_requests == math.ceil(len(expected) / MAX_BATCH_SIZE)
        )

    def layers(self, ctx, st: dict, rep: Rep, tracer, jobs) -> dict[str, float]:
        framed, acks, totals = st["framed"], rep.out["acks"], rep.out["totals"][0]
        sample = [bytes(r.value) for r in framed.limit(5000).collect()]
        framed.unpersist()
        requests = len(acks) + totals.n_requests
        records = sum(a.n_records for a in acks) + totals.n_records
        spool = probe_client(sorted(st["expected"])[:5000], 2 * len(st["expected"]),
                             os.path.join(ctx.rep_dir, "probe"))
        ingest_jobs = _span_jobs(jobs, rep.spans["line.ingest"])
        deliver_jobs = _span_jobs(jobs, rep.spans["line.deliver"])
        out = {
            **probe_client(sample, self.n, None, fail_first_attempt),
            **_sink_layers([(_span_jobs(jobs, rep.spans["stamped.sink"]), True),
                            (ingest_jobs, True), (deliver_jobs, False)]),
            **self._read_and_dedup(st, totals, deliver_jobs),
            **_line_layers(PIPELINE, tracer, rep.spans[PIPELINE], jobs),
            "serializers.frame_s": tracer.duration(rep.spans["stamped.frame"]),
            "serializers.frame_bytes": st["frame_bytes"] + sum(len(p) for p in st["expected"]),
            "batching.requests": requests,
            "batching.fill": records / (requests * MAX_BATCH_SIZE),
            "retry.attempts_per_request": sum(a.attempts for a in acks) / len(acks),
            "retry.records_resent": st["resent"],
            "client.spool_us_per_record": spool["client.spool_us_per_record"],
        }
        out["client.retained_mb_per_rep"] += spool["client.retained_mb_per_rep"]
        return out

    def _read_and_dedup(self, st: dict, totals, deliver_jobs) -> dict[str, float]:
        """``source.*`` and ``dedup.*`` from the stage records of the line's
        delivery leg: the stages that scan ``kinesis_spool`` are the source
        (they also write the dedup's exchanges); the stages after them and
        before the put stage are the dedup."""
        stages = sparkstats.unique_stages(deliver_jobs)
        _, put, ack = sparkstats.sink_stages(stages, own_cut=False)
        sink_ids = {s.stage_id for s in put + ack}
        source = [s for s in stages if sparkstats.scans(s, "kinesis_spool")]
        dedup = [s for s in stages if s.stage_id not in sink_ids and s not in source]
        ingest_spool = self._spools(st["sf_dir"])[0]
        shards = [f for f in os.listdir(ingest_spool) if f.endswith(".spool")]
        spooled = sum(len(read_spool(ingest_spool, f[: -len(".spool")])) for f in shards)
        return {
            "source.read_s": sparkstats.duration(source),
            "source.records": sum(s.input_records for s in source),
            "source.shards": len(shards),
            "dedup.s": sparkstats.duration(dedup),
            "dedup.in_records": 2 * spooled,  # the line reads the spool twice
            "dedup.out_records": totals.n_records,
            "dedup.shuffle_write_bytes": sparkstats.stage_totals(source + dedup)[
                "shuffle_write_bytes"],
        }


def _line_layers(line: str, tracer, span_id: int, jobs) -> dict[str, float]:
    """``q.<line>.*``: the stage records of every job run inside the line's
    span, its child spans included."""
    sp = tracer.get(span_id)
    groups = {f"span-{s.id}" for s in tracer.spans
              if s.rep == sp.rep and s.start >= sp.start and s.end <= sp.end}
    tot = sparkstats.stage_totals(sparkstats.unique_stages([j for j in jobs if j.group in groups]))
    out = {f"q.{line}.s": sp.end - sp.start}
    for k in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s", "cpu_s"):
        out[f"q.{line}.{k}"] = tot[k]
    return out


# ---------------------------------------------------------------------------
_ID_RE = re.compile(rb'"id":(\d+)')


class StreamDeliver:
    """Open loop: a separate generator process drops one JSON-lines file
    per tick at a fixed rate; ``produce()`` reads them as a file stream and
    delivers at parallelism 1 with a 2 s trigger into a spooling fake.  The
    harness tails the spool for each record's first sighting."""

    name = "stream_deliver"
    tick_s = 0.25
    time_window_s = 2.0
    phase_s = 0.05  # ticks fall 50 ms after each quarter second
    warmup_s = 1.0  # records due this early after the start are not sampled
    drain_timeout_s = 30.0

    def __init__(self, rate: int, load_s: float) -> None:
        self.rate = rate
        self.ticks = max(4, round(load_s / self.tick_s))
        self.per_tick = int(rate * self.tick_s)
        self.nominal_rep_s = load_s + 2.0  # plus start-up and drain

    def setup(self, ctx, rep: int) -> dict:
        """Start the produce query on an empty input directory and wait
        until it polls for data; the generator starts in ``run``."""
        st = {k: os.path.join(ctx.rep_dir, k) for k in ("in", "spool", "ckpt")}
        for d in st.values():
            os.makedirs(d)
        st["total"] = self.ticks * self.per_tick
        stream = ctx.spark.readStream.schema("id long, due double, payload string").json(st["in"])
        query = produce(
            stream,
            ProducerSettings("stream", parallelism=1, time_window_s=self.time_window_s),
            fake_client_factory(spool_dir=st["spool"]),
            checkpoint_dir=st["ckpt"],
        )
        deadline = time.time() + 60
        while not query.status["message"].startswith("Waiting") and time.time() < deadline:
            time.sleep(0.01)
        st["query"] = query
        return st

    def run(self, ctx, st: dict, span) -> Rep:
        query = st["query"]
        with span("sink.produce") as sp:
            try:
                rep = self._drive(ctx, st, query)
                deadline = time.time() + 10
                while query.status["isTriggerActive"] and time.time() < deadline:
                    time.sleep(0.05)  # stop between triggers, not inside one
            finally:
                query.stop()
            rep.spans["sink"] = sp.id if sp is not None else None
        st["progress"] = [p for p in query.recentProgress if p.numInputRows > 0]
        st["run_id"] = str(query.runId)
        return rep

    def _drive(self, ctx, st: dict, query) -> Rep:
        # processing-time triggers fire on whole multiples of the interval,
        # so pinning the schedule's phase to the interval makes the trigger
        # wait the same in every repetition
        w = self.time_window_s
        start = math.ceil((time.time() + 0.3) / w) * w + self.phase_s
        gen = subprocess.Popen(
            [sys.executable, os.path.join(ctx.bench_dir, "streamgen.py"), "--dir", st["in"],
             "--seed", str(ctx.seed), "--rate", str(self.rate), "--tick", str(self.tick_s),
             "--ticks", str(self.ticks), "--start", repr(start)],
            stdout=subprocess.PIPE, text=True,
        )
        try:
            seen, backlog_max = self._tail(st, start)
        finally:
            gen_out, _ = gen.communicate(timeout=60)
        st["gen"] = json.loads(gen_out.strip().splitlines()[-1])
        st["seen"], st["backlog_max"] = seen, backlog_max
        lat = [
            t - (start + (i // self.per_tick) * self.tick_s)
            for i, t in seen.items()
            if (i // self.per_tick) * self.tick_s >= self.warmup_s
        ]
        wall = (max(seen.values()) - start) if seen else float("inf")
        return Rep(wall, len(seen), lat, st["total"])

    def _tail(self, st: dict, start: float) -> tuple[dict[int, float], int]:
        """Poll the spool every 20 ms; return first-seen time per id and the
        largest backlog (records due but not yet delivered) observed."""
        path = os.path.join(st["spool"], "stream.spool")
        seen: dict[int, float] = {}
        buf, pos, backlog_max = b"", 0, 0
        deadline = start + self.ticks * self.tick_s + self.drain_timeout_s
        while len(seen) < st["total"] and time.time() < deadline:
            time.sleep(0.02)
            if os.path.exists(path):
                with open(path, "rb") as f:
                    f.seek(pos)
                    chunk = f.read()
                pos += len(chunk)
                buf += chunk
            now = time.time()
            i = 0
            while i + 4 <= len(buf):
                n = int.from_bytes(buf[i : i + 4], "big")
                if i + 4 + n > len(buf):
                    break
                m = _ID_RE.search(buf, i + 4, i + 4 + n)
                seen.setdefault(int(m.group(1)), now)
                i += 4 + n
            buf = buf[i:]
            due_ticks = min(self.ticks, max(0, math.floor((now - start) / self.tick_s) + 1))
            backlog_max = max(backlog_max, due_ticks * self.per_tick - len(seen))
        return seen, backlog_max

    def check(self, ctx, st: dict, rep: Rep) -> int:
        return st["total"] - len(set(st["seen"]) & set(range(st["total"])))

    def layers(self, ctx, st: dict, rep: Rep, tracer, jobs) -> dict[str, float]:
        prog = st["progress"]
        dur = lambda k: median([p.durationMs.get(k, 0) for p in prog]) if prog else 0.0  # noqa: E731
        by_batch: dict[int, list] = {}
        for j in jobs:
            if j.batch_id is not None and j.group == st["run_id"]:
                by_batch.setdefault(j.batch_id, []).append(j)
        sample = read_spool(st["spool"], "stream")[:5000]
        return {
            **probe_client(sample, st["total"], os.path.join(ctx.rep_dir, "probe")),
            **_sink_layers([(batch, False) for batch in by_batch.values()]),
            "stream.batches": len(prog),
            "stream.add_batch_ms_p50": dur("addBatch"),
            "stream.trigger_ms_p50": dur("triggerExecution"),
            "stream.latest_offset_ms_p50": dur("latestOffset"),
            "stream.input_rows_p50": median([p.numInputRows for p in prog]) if prog else 0.0,
            "stream.backlog_records_max": st["backlog_max"],
            "gen.late_ms_max": st["gen"]["late_ms_max"],
        }


def make(name: str, tiny: bool):
    """The workload ``name`` at benchmark scale, or at self-check scale."""
    if name == "deliver_batch":
        return DeliverBatch(3_000, 1_000) if tiny else DeliverBatch(40_000, 10_000)
    if name == "stream_deliver":
        return StreamDeliver(2_000, 2.0) if tiny else StreamDeliver(5_000, 4.0)
    raise KeyError(name)

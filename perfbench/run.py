"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Prints, as the last line of stdout, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  A human-readable summary goes to stderr.  Everything the
run writes stays under ``.bench_work/`` in the checkout; the span file of a
traced run is kept in ``.bench_work/traces/``.

One Spark session serves the whole run.  Each repetition first sets up
(generates its seeded inputs), then runs timed, then is checked.  The first
repetitions warm the JVM (class loading, JIT) and the Python workers: they
are checked, but their times are not reported.  On ``deliver_batch``
the second repetition is still 14-23% slower than the ones after it, which
agree within 5%, so two repetitions warm.  The number of timed
repetitions depends only on ``--seconds``, so the Python workers' memory,
which the fake client grows with every repetition, is read at the same
points in every run.  ``setup_s`` is the time from the start of the run
to the start of the first timed repetition: imports, the JVM launch and
session start, the warm repetitions and the first timed repetition's input
generation.  A traced run times four repetitions, alternating untraced and
traced, so it can report its own overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PACKAGE = "fs2_kinesis_firehose_spark"
DEADLINE_S = 130.0  # stop starting repetitions after this long
WARM_REPS = 2  # untimed repetitions that warm the JVM and the Python workers


def _isolate(work: Path) -> None:
    """Point every temporary path of Python, Spark and the JVM into
    ``work`` and make the program importable on executors.  Must run
    before pyspark is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    # the script's own directory would shadow stdlib names (trace, ...)
    sys.path[:] = [str(ROOT)] + [q for q in sys.path if Path(q or ".").resolve() != BENCH_DIR]


class Context:
    def __init__(self, work: Path, seed: int) -> None:
        self.work, self.seed = work, seed
        self.bench_dir = str(BENCH_DIR)
        self.rep_dir = ""
        self.spark = None
        self._gateway_proc = None

    def use_dir(self, name: str) -> None:
        """Give the next set-up a fresh directory of its own."""
        self.rep_dir = str(self.work / name)
        os.makedirs(self.rep_dir)

    def start(self) -> None:
        """Start the run's one Spark session (and with it the JVM)."""
        from fs2_kinesis_firehose_spark import get_spark

        tmp = self.work / "tmp"
        self.spark = get_spark(
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.sql.streaming.checkpointLocation": str(self.work / "checkpoints"),
            }
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway_proc = self.spark.sparkContext._gateway.proc

    @property
    def jvm_pid(self) -> int:
        return self._gateway_proc.pid

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
        proc = self._gateway_proc
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


@contextlib.contextmanager
def _no_span(name):
    yield None


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool, work: Path,
        t_start: float) -> dict:
    """``t_start``: when the run began (``time.perf_counter``)."""
    from perfbench import metrics, sparkstats, workloads
    from perfbench.trace import Tracer

    wl = workloads.make(workload, tiny)
    ctx = Context(work, seed)
    tracer = Tracer()
    walls, rates, lats, rss = [], [], [], []
    traced_walls, untraced_walls, layer_rows = [], [], []
    attempted = failed = 0
    setup_s = 0.0
    timed = max(4 if trace else 2, round(seconds / wl.nominal_rep_s))
    warm = WARM_REPS
    try:
        for rep in range(warm + timed):
            if time.perf_counter() - t_start > DEADLINE_S:
                break
            t0 = time.perf_counter()
            if rep == 0:
                ctx.start()
            ctx.use_dir(f"rep{rep}")
            state = wl.setup(ctx, rep)
            rep_setup_s = time.perf_counter() - t0
            if rep == warm:
                setup_s = time.perf_counter() - t_start

            # the first repetitions warm the JIT and the Python workers: they
            # are checked, but their times are not reported
            traced = trace and rep >= warm and (rep - warm) % 2 == 1
            span = _no_span
            if traced:
                tracer.sc, tracer.rep = ctx.spark.sparkContext, rep
                span = tracer.span
            with span(workload):
                r = wl.run(ctx, state, span)
            bad = wl.check(ctx, state, r)
            attempted += r.units
            failed += bad
            worker_rss = sparkstats.python_worker_rss_mb(ctx.jvm_pid)
            if rep >= warm:
                (traced_walls if traced else untraced_walls).append(r.wall_s)
                if not traced:
                    walls.append(r.wall_s)
                    rates.append(r.records / r.wall_s)
                    lats.extend(r.latencies)
                    rss.append(worker_rss)
            if traced:
                jobs = sparkstats.harvest_jobs(ctx.spark)
                _add_stage_spans(tracer, rep, jobs)
                layer_rows.append(wl.layers(ctx, state, r, tracer, jobs))
                tracer.sc = None
            print(
                f"[{workload}] rep {rep}{' traced' if traced else ''}: setup "
                f"{rep_setup_s:.3f}s wall {r.wall_s:.3f}s records {r.records} "
                f"failed {bad}/{r.units} worker_rss {worker_rss:.0f}MiB",
                file=sys.stderr,
            )
    finally:
        ctx.close()

    if trace:
        values = {
            k: metrics.median([row.get(k, 0.0) for row in layer_rows])
            for k in metrics.PER_LAYER
        }
        values["trace.overhead_s"] = metrics.median(traced_walls) - metrics.median(untraced_walls)
        out_metrics = metrics.as_metrics(values, metrics.PER_LAYER)
        trace_dir = work.parent / "traces"
        trace_dir.mkdir(exist_ok=True)
        tracer.write(
            str(trace_dir / f"{workload}-seed{seed}.json"),
            {"workload": workload, "seed": seed, "traced_walls": traced_walls,
             "untraced_walls": untraced_walls, "per_layer": values},
        )
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": metrics.median(walls),
            "records_per_s": metrics.median(rates),
            "latency_p50_s": metrics.quantile(lats, 0.5),
            "latency_p99_s": metrics.quantile(lats, 0.99),
            "worker_rss_mb": metrics.median(rss),
        }
        out_metrics = metrics.as_metrics(values, metrics.END_TO_END)
        print(
            f"[{workload}] reps {len(walls)}, latency samples {len(lats)}, failed_frac "
            f"{failed / max(1, attempted):.6f} ({failed}/{attempted})",
            file=sys.stderr,
        )
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": out_metrics,
    }


def _add_stage_spans(tracer, rep: int, jobs) -> None:
    """Add each traced call's completed stages as child spans, clipped to
    the call's own interval.  A job is the child of the span whose job group
    it carries or, for jobs that run on a streaming query's thread, of the
    innermost span open when it was submitted."""
    spans = [s for s in tracer.spans if s.rep == rep]
    by_group = {f"span-{s.id}": s for s in spans}
    added = set()
    for job in jobs:
        parent = by_group.get(job.group)
        if parent is None and job.batch_id is not None and spans:
            open_then = [s for s in spans if s.start <= job.submitted <= s.end]
            parent = max(open_then, key=lambda s: s.start, default=None)
        if parent is None:
            continue
        for st in job.stages:
            if st.stage_id in added:
                continue
            added.add(st.stage_id)
            lo, hi = max(st.start, parent.start), min(st.end, parent.end)
            if hi > lo:
                tracer.add(f"{parent.name}.stage", lo, hi, parent.id)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("deliver_batch", "stream_deliver"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-check scale")
    a = p.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"no {PACKAGE}/ package next to {BENCH_DIR.name}/: nothing to measure",
              file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        result = run(a.workload, a.seed, a.seconds, bool(a.trace), a.tiny, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

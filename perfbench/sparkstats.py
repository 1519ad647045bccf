"""What the benchmark reads from Spark and from the OS, outside its timers.

- Stage records come from the application status store
  (``sc._jsc.sc().statusStore()``), which is filled even with
  ``spark.ui.enabled=false``.  Jobs are selected by job group, or for
  streaming ``foreachBatch`` jobs (whose group is the query's run id) by the
  ``batch = N`` line of their description.
- Python-worker memory is the summed RSS of the JVM's ``pyspark`` daemon
  and worker processes, read from ``/proc``.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

_BATCH_RE = re.compile(r"^batch = (\d+)$", re.M)


@dataclass(frozen=True)
class Stage:
    stage_id: int
    tasks: int
    start: float  # epoch seconds
    end: float
    run_s: float
    cpu_s: float
    gc_s: float
    input_records: int
    shuffle_write_bytes: int
    spill_bytes: int
    scopes: frozenset[str]  # the operator scopes of the stage's RDD graph


@dataclass(frozen=True)
class Job:
    job_id: int
    group: str | None
    batch_id: int | None
    submitted: float  # epoch seconds
    stages: tuple[Stage, ...]


def _opt(o):
    return o.get() if o.isDefined() else None


def harvest_jobs(spark) -> list[Job]:
    """Every job the status store still holds, with its completed stages.
    Skipped stages (reused shuffle output) are left out, so a stage counts
    once however many AQE jobs list it."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    stage_cache: dict[int, Stage | None] = {}
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        stages = []
        for sid in conv.asJava(j.stageIds()):
            if sid not in stage_cache:
                stage_cache[sid] = _stage(store, conv, sid)
            if stage_cache[sid] is not None:
                stages.append(stage_cache[sid])
        desc = _opt(j.description()) or ""
        m = _BATCH_RE.search(desc)
        sub = _opt(j.submissionTime())
        jobs.append(
            Job(
                j.jobId(),
                _opt(j.jobGroup()),
                int(m.group(1)) if m else None,
                sub.getTime() / 1e3 if sub is not None else 0.0,
                tuple(stages),
            )
        )
    return sorted(jobs, key=lambda job: job.job_id)


def _stage(store, conv, sid: int) -> Stage | None:
    try:
        st = store.lastStageAttempt(sid)
        graph = store.operationGraphForStage(sid).rootCluster()
    except Exception:  # py4j: evicted from the store, nothing to report
        return None
    if st.status().toString() != "COMPLETE":
        return None
    scopes, todo = set(), list(conv.asJava(graph.childClusters()))
    while todo:
        cluster = todo.pop()
        scopes.add(cluster.name())
        todo.extend(conv.asJava(cluster.childClusters()))
    return Stage(
        stage_id=sid,
        tasks=st.numTasks(),
        start=_opt(st.submissionTime()).getTime() / 1e3,
        end=_opt(st.completionTime()).getTime() / 1e3,
        run_s=st.executorRunTime() / 1e3,
        cpu_s=st.executorCpuTime() / 1e9,
        gc_s=st.jvmGcTime() / 1e3,
        input_records=st.inputRecords(),
        shuffle_write_bytes=st.shuffleWriteBytes(),
        spill_bytes=st.memoryBytesSpilled() + st.diskBytesSpilled(),
        scopes=frozenset(scopes),
    )


def unique_stages(jobs: list[Job]) -> list[Stage]:
    seen: dict[int, Stage] = {}
    for job in jobs:
        for st in job.stages:
            seen[st.stage_id] = st
    return [seen[k] for k in sorted(seen)]


def stage_totals(stages: list[Stage]) -> dict[str, float]:
    return {
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "spill_bytes": sum(s.spill_bytes for s in stages),
        "gc_s": sum(s.gc_s for s in stages),
        "cpu_s": sum(s.cpu_s for s in stages),
        "run_s": sum(s.run_s for s in stages),
    }


def duration(stages: list[Stage]) -> float:
    """Summed wall time of ``stages`` (overlapping stages count twice)."""
    return sum(s.end - s.start for s in stages)


def scans(stage: Stage, source: str) -> bool:
    """Whether ``stage`` reads the data source registered as ``source``."""
    return any(name.startswith(f"BatchScan {source}") for name in stage.scopes)


def sink_stages(stages: list[Stage], own_cut: bool) -> tuple[list[Stage], list[Stage], list[Stage]]:
    """Split one produce call's stages into the sink's three steps.  The
    put stage is the last one that runs a ``MapInPandas``; the stages after
    it sort or aggregate the acks.  With ``own_cut`` the stages before the
    put are the sink's own cut (the stamped path cuts requests, the
    unordered path reads, frames and repartitions); without it (the
    ``coalesce(1)`` path, whose put stage reads its input itself) they
    belong to the layers upstream of the sink and are left out."""
    ordered = sorted(stages, key=lambda s: s.stage_id)
    puts = [i for i, s in enumerate(ordered) if "MapInPandas" in s.scopes]
    if not puts:
        return [], [], []
    i = puts[-1]
    return (ordered[:i] if own_cut else []), ordered[i : i + 1], ordered[i + 1 :]


def python_worker_rss_mb(jvm_pid: int) -> float:
    """Summed RSS (MiB) of the ``pyspark`` processes descended from the JVM."""
    parents: dict[int, int] = {}
    cmdlines: dict[int, bytes] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmdlines[pid] = f.read()
        except OSError:  # the process ended while we looked
            continue
        parents[pid] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    total_kb = 0
    for pid, cmd in cmdlines.items():
        if b"pyspark" not in cmd:
            continue
        p = parents.get(pid)
        while p and p != jvm_pid:
            p = parents.get(p)
        if p != jvm_pid:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024

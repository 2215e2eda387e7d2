"""Spans around calls into the package's layers, and the Spark event-log
reader that attributes jobs, stages and task metrics to those spans.

Everything here measures the package from outside: spans wrap calls to
its public objects (source, steps, sink), and Spark work is read back
from Spark's own event log.  Each span sets the job group, so every job
it starts carries the span's id in its ``spark.jobGroup.id`` property.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    op: object  # timed-operation index, or a phase label such as "probe"
    t0: float
    t1: float

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans in memory.  Disabled, it only runs the wrapped code."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.op: object = None
        self.spans: list[Span] = []
        self._stack: list[tuple[str, str]] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = f"pb{next(self._ids)}"
        self._stack.append((sid, name))
        self.sc.setJobGroup(sid, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(*self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(sid, name, self.op, t0, t1))


class TracedSource:
    """Times ``tip``; ``read`` only builds the lazy bundle and passes
    through."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def read(self, spark, from_block, to_block):
        return self.inner.read(spark, from_block, to_block)

    def tip(self, spark):
        with self.tracer.span("sources.tip"):
            return self.inner.tip(spark)


class TracedStep:
    """Times ``Step.run``: steps are lazy, so this is driver plan build."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def run(self, spark, bundle, ctx):
        with self.tracer.span("engine.step"):
            return self.inner.run(spark, bundle, ctx)


class TracedSink:
    """Times ``write`` (executes the whole batch plan, then commits) and
    ``next_block`` (the checkpoint read)."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def write(self, spark, bundle, from_block, to_block, *args, **kwargs):
        with self.tracer.span("sinks.write"):
            return self.inner.write(spark, bundle, from_block, to_block, *args, **kwargs)

    def next_block(self, spark):
        with self.tracer.span("engine.checkpoint.next_block"):
            return self.inner.next_block(spark)


def traced_pipeline(pipe, tracer: Tracer):
    """The same pipeline with its source, steps and sink wrapped."""
    from cherry_pipelines_spark.engine.pipeline import Pipeline

    if not tracer.enabled:
        return pipe
    return Pipeline(
        pipe.name,
        TracedSource(pipe.source, tracer),
        [TracedStep(s, tracer) for s in pipe.steps],
        TracedSink(pipe.sink, tracer),
        pipe.chain_id,
    )


@dataclass
class JobStats:
    group: str | None
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: set = field(default_factory=set)


def read_event_log(log_dir: str) -> list[JobStats]:
    """One record per Spark job in the (single, uncompressed) event log
    under ``log_dir``.  Stages and tasks count only when they ran:
    skipped stages never send StageSubmitted."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, JobStats] = {}
    last_job_of_stage: dict[int, JobStats] = {}
    with open(os.path.join(log_dir, names[0])) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                job = jobs[e["Job ID"]] = JobStats(group)
                for s in e["Stage Infos"]:
                    last_job_of_stage[s["Stage ID"]] = job
            elif ev == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                job = last_job_of_stage.get(sid)
                if job is not None and sid not in job.stage_ids:
                    job.stage_ids.add(sid)
                    job.stages += 1
                    stage_job[sid] = job
            elif ev == "SparkListenerTaskEnd":
                job = stage_job.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.run_ms += m["Executor Run Time"]
                job.gc_ms += m["JVM GC Time"]
                job.input_bytes += m["Input Metrics"]["Bytes Read"]
                job.input_rows += m["Input Metrics"]["Records Read"]
                sr = m["Shuffle Read Metrics"]
                job.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                job.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return list(jobs.values())

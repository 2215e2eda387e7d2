"""Unbounded / streaming execution modes (SURVEY §2.7).

The reference is an incremental batch system ordered by block number:
``to_block=None`` means "index to the chain tip, then wait for new
blocks" (README.md:24, scripts/main.py:235,260).  Two Spark-first
re-expressions:

* :func:`follow` — the driver-loop form, exactly reproducing the
  reference semantics: poll the source's max block, run the pipeline
  over the new range, repeat.  Checkpoint resume (T2) comes from the
  sink's max-block read, so a killed follower restarts where it left
  off with no extra state.
* :class:`StreamingPipeline` — the Structured Streaming form: the fact
  table arrives via ``readStream`` (file source discovers new Parquet
  files), side tables are static batch reads, and the same ``Step``
  list runs inside ``foreachBatch``.  Progress tracking is Spark's
  streaming checkpoint (exactly-once file-source offsets); the sink
  write is idempotent per micro-batch id, so replays converge (T3).

No watermarks or session state are needed — block contents are
immutable once committed, so there is no late data (SURVEY §2.7).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, replace
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from cherry_pipelines_spark.engine.pipeline import Pipeline, PipelineContext
from cherry_pipelines_spark.engine.step import Step, TableBundle
from cherry_pipelines_spark.sinks.parquet import ParquetSink
from cherry_pipelines_spark.sources.parquet import TableSpec


def follow(
    pipeline: Pipeline,
    spark: SparkSession,
    source_tip: Callable[[SparkSession], int],
    from_block: int = 0,
    batch_size: int = 10_000,
    poll_interval_s: float = 1.0,
    max_polls: int = 3,
) -> int:
    """Tail-follow loop (T1): run to the tip, wait for new blocks, run
    again.  Returns total batches executed.  ``source_tip`` returns the
    max block currently available (the reference's dataset-metadata
    probe / chain tip, scripts/main.py:192-194).

    ``max_polls`` bounds consecutive empty polls before returning (the
    reference loops forever; a bound makes the mode testable and is the
    natural shape for cron-style re-invocation).
    """
    total = 0
    idle = 0
    while idle < max_polls:
        tip = source_tip(spark)
        ran = pipeline.run(spark, from_block=from_block, to_block=tip, batch_size=batch_size)
        # the sink checkpoint is the anchor table's max block, which
        # stays behind the tip when the newest blocks hold no anchor
        # row; without this the next poll re-runs that range forever
        from_block = max(from_block, tip + 1)
        total += ran
        if ran == 0:
            idle += 1
            time.sleep(poll_interval_s)
        else:
            idle = 0
    return total


@dataclass
class StreamingPipeline:
    """Structured-Streaming execution of a step list.

    ``stream_table`` is the bundle name of the streaming fact table;
    ``stream_path`` its Parquet directory (the file source picks up new
    files as they land — the provider-stream stand-in).  ``static``
    maps bundle names to ``TableSpec``s for the side tables (blocks,
    transactions, dims) — specs, not DataFrames, because foreachBatch
    hands the steps a micro-batch owned by a *cloned* SparkSession, and
    every bundle table must live on that session for SQL steps and
    joins to resolve.  Steps are the exact same objects the batch
    pipeline runs — the bundle contract makes the two modes
    interchangeable.
    """

    name: str
    stream_table: str
    stream_path: str
    static: dict[str, TableSpec]
    steps: Sequence[Step]
    sink: ParquetSink
    checkpoint_dir: str
    # provider-side filter/projection for the stream table itself (the
    # batch source's TableSpec, minus the block range — offsets replace
    # it); applied on the streaming DF so pushdown reaches the scan
    stream_spec: TableSpec | None = None
    max_files_per_trigger: int | None = None

    def _foreach_batch(self):
        def inner(batch_df: DataFrame, batch_id: int) -> None:
            session = batch_df.sparkSession
            bundle: TableBundle = {self.stream_table: batch_df}
            for name, spec in self.static.items():
                df = spec.load(session)
                if spec.predicate is not None:
                    df = df.filter(spec.predicate)
                if spec.columns is not None:
                    df = df.select(*spec.columns)
                bundle[name] = df
            ctx = PipelineContext(from_block=int(batch_id), to_block=int(batch_id))
            try:
                for step in self.steps:
                    bundle = step.run(session, bundle, ctx)
                # micro-batch id is the idempotency key: Structured
                # Streaming replays a failed batch with the same id, and
                # the sink's per-batch overwrite makes the replay
                # converge (T3)
                self.sink.write(session, bundle, int(batch_id), int(batch_id))
            finally:
                ctx.release_caches()

        return inner

    def run_available(self, spark: SparkSession) -> None:
        """Process everything currently available, then stop
        (``Trigger.AvailableNow`` — the batch-parity mode).  Calling it
        again later processes only newly-arrived files: offsets live in
        ``checkpoint_dir``."""
        # the stream table's format/options/schema come from its spec,
        # read at the stream directory (the spec's own path is the
        # batch source's)
        spec = replace(
            self.stream_spec or TableSpec(self.stream_path, block_column=""),
            path=self.stream_path,
        )
        reader = (
            spark.readStream.format(spec.format)
            .options(**spec.options)
            .schema(spec.load(spark).schema)
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.load(self.stream_path)
        if self.stream_spec is not None:
            if self.stream_spec.predicate is not None:
                stream = stream.filter(self.stream_spec.predicate)
            if self.stream_spec.columns is not None:
                stream = stream.select(*self.stream_spec.columns)
        q = (
            stream.writeStream.foreachBatch(self._foreach_batch())
            .option("checkpointLocation", os.path.join(self.checkpoint_dir, self.name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

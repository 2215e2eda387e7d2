"""Partitioned Parquet sink with anchor-table checkpointing and
idempotent block-range overwrite.

Reference semantics being reproduced (see SURVEY §2.1 S8 / §2.7 T3):

* one pipeline writes *several* tables per batch; ``anchor_table``
  designates the table whose max-block acts as the restart watermark
  (/root/reference/src/cherry_pipelines/svm/raydium_swaps.py:718-725);
* the writer appends per block-range batch; restart resumes from
  ``MAX(block)+1`` of the anchor table.

Improvement over the reference's at-least-once append: each batch is
written under a ``_batch_start=<n>`` partition with dynamic partition
overwrite, so a replayed batch *replaces* its own partition instead of
duplicating rows — idempotent exactly-once per block range without a
transactional table format.  Non-anchor tables are written first, the
anchor last: a crash between the two leaves the anchor behind, the
batch replays, and both tables converge.

Scale notes: optional ``partition_by`` (e.g. ``chain_id``, mirroring
PARTITION BY chain_id in erc20_transfers.py:48) adds storage-level
partition pruning; ``sort_within_partitions`` mirrors MergeTree ORDER
BY clustering (orca_swaps.py:219) so block-range scans touch few row
groups and min/max stats stay tight.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cherry_pipelines_spark.engine.checkpoint import get_next_block
from cherry_pipelines_spark.engine.step import TableBundle

BATCH_COL = "_batch_start"


class SinkFaultInjected(RuntimeError):
    """Raised by :meth:`ParquetSink.write` when the ``fail_after`` test
    hook fires — the documented way for crash-consistency tests to
    inject a crash BETWEEN the table writes of one batch (after the
    named table has durably landed, before the next write starts)
    without monkeypatching or touching private methods."""


@dataclass
class ParquetSink:
    base_path: str
    anchor_table: str
    block_column: str
    partition_by: Sequence[str] = ()
    sort_within_partitions: dict[str, Sequence[str]] | None = None
    chain_id: int | None = None
    #: TEST HOOK — ``(table_name, from_block)``: when set, ``write``
    #: raises :class:`SinkFaultInjected` immediately AFTER writing that
    #: table for that batch, simulating a crash inside the batch's
    #: write window (the anchor-last ordering makes the partial state
    #: recoverable; see the module docstring).  Works through
    #: ``Pipeline.run`` since the pipeline calls ``write`` per batch.
    #: Never set in production.
    fail_after: tuple[str, int] | None = None

    def table_path(self, name: str) -> str:
        return os.path.join(self.base_path, name)

    def _write_one(
        self, name: str, df: DataFrame, from_block: int, batch_expr=None
    ) -> None:
        # batch_expr lets a single-plan backfill stamp each row with the
        # batch partition it would have landed in under the batch loop,
        # keeping the on-disk layout (and idempotent per-batch replay)
        # identical between the two modes.
        # The batch value only names the output dir.  As a string
        # literal it is a codegen reference, where a long literal is
        # inlined into the generated code: every batch would compile
        # its write stage anew.
        expr = F.lit(str(from_block)) if batch_expr is None else batch_expr.cast("long")
        df = df.withColumn(BATCH_COL, expr)
        if batch_expr is not None or self.partition_by:
            # cluster rows by their output directory before a multi-dir
            # dynamic-partition write: without this, every write task
            # holds rows for (nearly) every directory and emits one file
            # per (task, dir) — a single-plan backfill stamping ~2.5k
            # batch dirs from ~128 tasks creates ~300k tiny files and
            # the write is file-creation-bound (measured 219 s of a
            # 224 s backfill at 500k slots; 14 s after).  One hash
            # shuffle on the partition key bounds files at
            # #dirs (+ AQE-coalesced task count), the layout the batch
            # loop produces naturally.  Single-batch writes (constant
            # batch_expr, no partition_by) keep their full write
            # parallelism instead.
            df = df.repartition(F.col(BATCH_COL), *[F.col(c) for c in self.partition_by])
        sort_cols = (self.sort_within_partitions or {}).get(name)
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BATCH_COL, *self.partition_by)
            .parquet(self.table_path(name))
        )

    def write(
        self,
        spark: SparkSession,
        bundle: TableBundle,
        from_block: int,
        to_block: int,
        batch_expr=None,
    ) -> None:
        names = [n for n in bundle if n != self.anchor_table]
        for name in names:
            self._write_one(name, bundle[name], from_block, batch_expr)
            self._maybe_fail(name, from_block)
        if self.anchor_table in bundle:
            self._write_one(
                self.anchor_table, bundle[self.anchor_table], from_block, batch_expr
            )
            self._maybe_fail(self.anchor_table, from_block)

    def _maybe_fail(self, name: str, from_block: int) -> None:
        if self.fail_after == (name, from_block):
            raise SinkFaultInjected(
                f"injected crash after table {name!r} of batch {from_block}"
            )

    def next_block(self, spark: SparkSession) -> int:
        return get_next_block(
            spark, self.table_path(self.anchor_table), self.block_column, self.chain_id
        )

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self.table_path(name)).drop(BATCH_COL)

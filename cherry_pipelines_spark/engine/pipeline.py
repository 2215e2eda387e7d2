"""Pipeline runner — incremental block-range batch execution.

A ``Pipeline`` is ``source → ordered steps → sink`` executed per
block-range batch (reference: cc.Pipeline + run_pipeline,
/root/reference/src/cherry_pipelines/evm/erc20_transfers.py:126-163).
The stream dimension is the block range: pipelines resume from the
sink's max-block checkpoint and process ``batch_size`` blocks per
iteration until ``to_block``.

Scale notes
-----------
* Each batch is one Catalyst plan per output table — steps are lazy, so
  filter/projection pushdown reaches the source scan regardless of step
  order.
* Multi-table write consistency follows the reference's ``anchor_table``
  design (orca_swaps.py:545-552): non-anchor tables are written first,
  the anchor table last, and restart resumes from the anchor's
  max-block.  Combined with idempotent block-range overwrite in the
  sink, replays after partial failure converge instead of duplicating.
* On a cluster the same loop runs unchanged; per-batch parallelism is
  Spark's job scheduling, and batches can be made larger (they are
  bounded by source partitioning, not driver memory — nothing is
  collected).
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field
from typing import Any, Sequence

from pyspark.sql import SparkSession

from cherry_pipelines_spark.engine.step import Step, TableBundle

logger = logging.getLogger(__name__)


@dataclass
class PipelineContext:
    """Per-run context handed to every step."""

    from_block: int
    to_block: int
    chain_id: int | None = None
    extra: dict[str, Any] = field(default_factory=dict)

    def batch_cache(self, df):
        """Cache ``df`` for the lifetime of this batch (released by the
        runner right after the sink write).  For a subtree that several
        downstream branches read — its one user is the docs curate
        pipeline, whose deduplicated frame feeds the contamination
        check, the clean join and the sample — caching once replaces N
        recomputations with one; a batch is bounded (batch_size blocks),
        so the footprint is small and freed promptly.  The SVM pipelines
        need none: each reads its fused decode in one pass."""
        df = df.cache()
        self.extra.setdefault("_batch_cached", []).append(df)
        return df

    def release_caches(self) -> None:
        for df in self.extra.pop("_batch_cached", []):
            df.unpersist()


class Source:
    """Source protocol: produce the table bundle for one block range."""

    def read(self, spark: SparkSession, from_block: int, to_block: int) -> TableBundle:
        raise NotImplementedError


class Sink:
    """Sink protocol: persist the final bundle for one block range."""

    def write(
        self, spark: SparkSession, bundle: TableBundle, from_block: int, to_block: int
    ) -> None:
        raise NotImplementedError

    def next_block(self, spark: SparkSession) -> int:
        raise NotImplementedError


@dataclass
class Pipeline:
    name: str
    source: Source
    steps: Sequence[Step]
    sink: Sink
    chain_id: int | None = None

    def run(
        self,
        spark: SparkSession,
        from_block: int,
        to_block: int,
        batch_size: int = 10_000,
    ) -> int:
        """Run batches over [from_block, to_block] inclusive; returns the
        number of batches executed.  Resumes from the sink checkpoint:
        start = max(from_block, sink.next_block())  (reference:
        erc20_transfers.py:80-83).
        """
        start = max(from_block, self.sink.next_block(spark))
        n_batches = 0
        cur = start
        while cur <= to_block:
            batch_end = min(cur + batch_size - 1, to_block)
            t0 = time.monotonic()
            ctx = PipelineContext(from_block=cur, to_block=batch_end, chain_id=self.chain_id)
            bundle = self.source.read(spark, cur, batch_end)
            try:
                for step in self.steps:
                    bundle = step.run(spark, bundle, ctx)
                self.sink.write(spark, bundle, cur, batch_end)
            finally:
                ctx.release_caches()
            logger.info(
                "pipeline=%s batch=[%d,%d] took %.0fms",
                self.name, cur, batch_end, (time.monotonic() - t0) * 1e3,
            )
            cur = batch_end + 1
            n_batches += 1
        return n_batches

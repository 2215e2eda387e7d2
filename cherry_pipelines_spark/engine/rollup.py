"""Incrementally-maintained materialized rollups.

The reference recomputes derived tables per block-range batch and
appends (swap_prices, reference ``svm/swap_prices.py:279-313``); a
corpus-level aggregate (per-language token totals, per-source doc
counts, contamination tallies) instead wants ONE stored row per group,
kept current as batches arrive.  Recomputing it from the full fact
table every batch is O(history); merging mergeable partials is O(batch).

``IncrementalRollup`` stores per-group partial aggregates and folds
each new batch in with a union + re-aggregate — the same
partial/final split Catalyst uses inside a hash aggregate, lifted
across batches.  Only decomposable aggregates are supported (sum,
count, min, max — avg is sum+count read-side), which is exactly the
class that CAN be maintained without re-reading history.

Scale shape: the stored state has one row per group (small by
construction); each apply shuffles the batch's partials once on the
group key, joins nothing, and rewrites the state atomically (write to
temp dir + two renames via the Hadoop FS API, the ``sinks/swap.py``
crash contract that ``sinks/compact.py`` and ``sinks/upsert.py``
share).  The batch side pre-aggregates map-side, so the shuffle
carries |groups-in-batch| rows, not |batch| rows.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cherry_pipelines_spark.sinks.swap import DirSwap

_MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
_PARTIAL = {
    "sum": lambda c: F.sum(c),
    "count": lambda c: F.count(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}


class IncrementalRollup:
    """A stored rollup ``group_cols → {name: (fn, src_col)}`` with
    ``fn ∈ {sum, count, min, max}``, updated per batch.

    ``apply(batch)`` folds one batch in; ``read()`` returns the current
    state.  Equivalence contract (test-pinned): applying batches
    b1..bn in any split equals one aggregation over their union.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: list[str],
        aggs: Mapping[str, tuple[str, str]],
        empty_schema: "str | None" = None,
    ) -> None:
        for name, (fn, _src) in aggs.items():
            if fn not in _MERGE:
                raise ValueError(
                    f"agg {name!r}: {fn!r} is not decomposable "
                    f"(supported: {sorted(_MERGE)})"
                )
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)
        # schema (DDL string) for read() before the first apply(); the
        # persisted parquet is authoritative afterwards.  Without it the
        # pre-first-apply read() guesses string groups / long aggregates,
        # which breaks a union against later decimal/double state.
        self.empty_schema = empty_schema

    # ---------------------------------------------------------- state io

    def _swap(self) -> DirSwap:
        return DirSwap(self.spark, self.path, "rollup")

    def _exists(self) -> bool:
        """Crash recovery: a crash between the commit's two renames
        leaves no dst but an intact ``old``.  Roll BACK by restoring it
        (the interrupted apply() never returned, so the caller
        re-applies its batch — rolling the tmp forward would
        double-count it on retry)."""
        return self._swap().recover()

    def read(self) -> DataFrame:
        """Current rollup state (empty-state and crash safe)."""
        if not self._exists():
            schema = self.empty_schema or ", ".join(
                [f"{c} string" for c in self.group_cols]
                + [f"{n} long" for n in self.aggs]
            )
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(self.path)

    # ------------------------------------------------------------- apply

    def _partial(self, batch: DataFrame) -> DataFrame:
        return batch.groupBy(*self.group_cols).agg(
            *[
                _PARTIAL[fn](F.col(src)).alias(name)
                for name, (fn, src) in self.aggs.items()
            ]
        )

    def apply(self, batch: DataFrame) -> DataFrame:
        """Fold one batch into the stored rollup; returns the new state."""
        part = self._partial(batch)
        if self._exists():
            prev = self.spark.read.parquet(self.path)
            merged = (
                prev.unionByName(part.selectExpr(*prev.columns))
                .groupBy(*self.group_cols)
                .agg(
                    *[
                        _MERGE[fn](F.col(name)).alias(name)
                        for name, (fn, _src) in self.aggs.items()
                    ]
                )
            )
        else:
            merged = part
        swap = self._swap()
        swap.recover()
        # merged reads the CURRENT dir lazily — materialize to tmp first,
        # then two renames (old layout or new layout, never half)
        merged.write.mode("overwrite").parquet(swap.tmp)
        swap.commit()
        return self.read()

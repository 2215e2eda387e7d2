"""Keyed upsert (merge) for parquet tables — the lakehouse analogue of
ClickHouse ``ReplacingMergeTree`` semantics the reference's sink tables
lean on (latest row per key wins; see SURVEY §4.5): new batches may
re-deliver or revise rows, and readers must see exactly one row per
key, the one with the highest version.

``upsert_table`` merges a batch into a stored table:

* new keys are appended;
* existing keys are replaced when the batch row's ``version_col`` is
  higher (ties keep the stored row — re-delivery is a no-op);
* everything else is carried over untouched.

Scale shape: ONE shuffle — the union of (stored ∪ batch) aggregates by
key with a ``max_by`` struct pick (map-side partial applies); no join,
no window sort.  The rewrite goes through the crash-safe two-rename
swap of ``sinks/swap.py`` (write tmp → dst→old → tmp→dst → drop old),
whose roll-back recovery heals a crash between the renames by restoring
``old`` on the next call; the interrupted batch re-applies idempotently
(same keys + versions → same table).

At 100 TB one would partition the table and rewrite only partitions the
batch touches (the ``compact_partitions`` shape: one write into a
staging dir, then one swap per touched partition); this operator keeps
the single-table form — the merge PLAN is the part that carries over
unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cherry_pipelines_spark.sinks.swap import DirSwap


class UpsertTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        version_col: str,
    ) -> None:
        if not key_cols:
            raise ValueError("key_cols must be non-empty")
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.version_col = version_col

    # ------------------------------------------------------------ state
    def _swap(self) -> DirSwap:
        return DirSwap(self.spark, self.path, "upsert")

    def exists(self) -> bool:
        return self._swap().recover()

    def read(self) -> DataFrame:
        if not self.exists():
            raise FileNotFoundError(self.path)
        return self.spark.read.parquet(self.path)

    # ------------------------------------------------------------ merge
    def _merged(self, batch: DataFrame) -> DataFrame:
        cols = batch.columns
        if self.version_col not in cols:
            raise ValueError(f"batch lacks version column {self.version_col!r}")
        src = batch.select(*cols).withColumn("_pref", F.lit(0))
        if self.exists():
            src = (
                self.read().select(*cols).withColumn("_pref", F.lit(1))
                .unionByName(src)
            )
        # greatest (version, stored-first) row per key: the ordering
        # struct compares lexicographically, so equal versions keep the
        # STORED row (_pref 1 > 0) — re-delivery is a strict no-op.
        order = F.struct(
            F.col(self.version_col).alias("_v"), F.col("_pref").alias("_p")
        )
        payload = F.struct(*[F.col(c).alias(c) for c in cols])
        return (
            src.groupBy(*self.key_cols)
            .agg(F.max_by(payload, order).alias("_row"))
            .select(*[F.col(f"_row.{c}").alias(c) for c in cols])
        )

    def apply(self, batch: DataFrame) -> DataFrame:
        """Merge one batch in; returns the new table state."""
        merged = self._merged(batch)
        swap = self._swap()
        swap.recover()
        merged.write.mode("overwrite").parquet(swap.tmp)
        swap.commit()
        return self.read()

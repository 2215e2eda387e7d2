"""Parquet batch source with block-range + predicate + column pruning.

Stands in for the reference's provider scans (HyperSync/SQD,
/root/reference/src/cherry_pipelines/evm/erc20_transfers.py:86-116 and
svm/orca_swaps.py:487-543): the provider evaluates topic0 / program_id /
discriminator / block-range filters server-side and returns only the
selected fields.  Here the same pushdown happens via Catalyst —
``.filter`` + ``.select`` applied directly on the scan reach the Parquet
reader as PushedFilters / ReadSchema, so only matching row groups and
requested columns are read.  At 100 TB this is the difference between
scanning a block range's row groups (min/max stats prune the rest) and
scanning the world.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from cherry_pipelines_spark.engine.checkpoint import FooterStatsUnavailable, footer_bound
from cherry_pipelines_spark.engine.step import TableBundle


@dataclass
class TableSpec:
    """One table in the bundle: where it lives, which columns to keep,
    which column is the block number, and extra pushdown predicates.

    ``columns`` mirrors the reference's ``Fields(...=True)`` projection
    flags; ``predicate`` mirrors its server-side LogRequest /
    InstructionRequest filters (an OR of per-request predicates models
    the multi-request union semantics of raydium_swaps.py:638-675).

    ``format``/``options``/``schema`` open the same scan to other file
    formats (csv, json, orc).  Parquet/ORC keep full filter/column
    pushdown; CSV/JSON get column pruning only.  A declared ``schema``
    skips inference, which costs a Parquet table one Spark job per
    load and a text table an extra pass (non-deterministic at scale).
    """

    path: str
    block_column: str
    columns: Sequence[str] | None = None
    predicate: Column | None = None
    format: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)
    schema: str | None = None  # DDL string, e.g. "a long, b string"
    # False = load the whole table every batch (dimension / reference
    # tables — e.g. a decontamination benchmark — must not be sliced by
    # the batch's block range)
    range_filter: bool = True

    def load(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.format(self.format).options(**self.options)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.load(self.path)

    def max_block(self, spark: SparkSession) -> int | None:
        """Max of the block column over the whole table: from Parquet
        footer statistics (pyarrow, no Spark job) when they can answer
        (:func:`~cherry_pipelines_spark.engine.checkpoint.footer_bound`),
        else one Spark aggregate over :meth:`load`."""
        from pyspark.sql import functions as F

        if self.format == "parquet" and not self.options:
            try:
                return footer_bound(self.path, self.block_column, "max")
            except FooterStatsUnavailable:
                pass
        return self.load(spark).agg(F.max(self.block_column)).collect()[0][0]


@dataclass
class ParquetSource:
    tables: dict[str, TableSpec]

    def tip(self, spark: SparkSession) -> int:
        """Max block available across the source tables — the chain-tip
        probe for unbounded runs (reference: dataset metadata REST call,
        scripts/main.py:192-194).  Each table answers from its Parquet
        footers with no Spark job (:meth:`TableSpec.max_block`)."""
        tip = -1
        for spec in self.tables.values():
            m = spec.max_block(spark)
            if m is not None:
                tip = max(tip, int(m))
        return tip

    def read(self, spark: SparkSession, from_block: int, to_block: int) -> TableBundle:
        bundle: TableBundle = {}
        for name, spec in self.tables.items():
            df: DataFrame = spec.load(spark)
            if spec.range_filter:
                # SQL text: one parse, not a py4j round trip per operator
                c = f"`{spec.block_column}`"
                df = df.filter(f"{c} >= {int(from_block)} AND {c} <= {int(to_block)}")
            if spec.predicate is not None:
                df = df.filter(spec.predicate)
            if spec.columns is not None:
                df = df.select(*spec.columns)
            bundle[name] = df
        return bundle

"""cherry_pipelines_spark — a PySpark-native analytics/ETL engine.

A brand-new implementation (not a port) of the capabilities of
steelcake/cherry-pipelines: incremental block-range batch pipelines that
scan filtered columnar sources, decode binary blockchain payloads
(EVM ABI events, Solana borsh instructions) into typed columns, reshape
them with projections / multi-key left joins / positional adjacency
joins / unions / trailing-range window aggregations in fixed-point
decimal, and write multi-table outputs idempotently with max-block
checkpoint resume — plus LLM-training-data operators (dedup,
similarity search, text analysis, multimodal plumbing) designed for
100 TB scale.

Everything is expressed through the Spark DataFrame/SQL API so Catalyst
plans the physical execution.  Fixed-width binary decodes (static ABI
events, fixed borsh layouts) are generated SQL expressions too; Python
only appears in Arrow-batched pandas UDFs for variable-width layouts.
"""

__version__ = "0.1.0"

from cherry_pipelines_spark.session import get_spark  # noqa: F401

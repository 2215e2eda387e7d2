"""ERC-20 Transfer pipeline — the minimum end-to-end slice (SURVEY §7.4).

Capability parity with /root/reference/src/cherry_pipelines/evm/
erc20_transfers.py (structure, not code): scan logs server-filtered by
``topic0 == keccak("Transfer(address,address,uint256)")`` plus blocks
(:86-116), ABI-decode into from/to/amount with decode-fail→NULL (:131-142),
left-join block timestamps by number (:58-72), cast timestamp to int64
(:149-155), stamp chain_id (:156-159), append to the sink partitioned by
chain_id ordered by block_number (:30-50).

Spark-first notes: the topic0 filter and the field selection are applied
directly on the Parquet scan (pushdown); the blocks side of the join is
per-batch tiny → broadcast; the output keeps ``amount`` as
Decimal(38,0) + ``amount_raw`` (32 bytes) per the uint256 overflow
policy (SURVEY §7.3).  Full-precision rollups over ``amount_raw``
(the reference's Decimal256(0) surface, erc20_transfers.py:41) go
through ``functions.uint256.uint256_sum`` — exact limb-decomposed
aggregation with no 256-bit type needed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F

from cherry_pipelines_spark.engine.pipeline import Pipeline
from cherry_pipelines_spark.engine.step import CastStep, PyStep, SetChainIdStep, SqlStep
from cherry_pipelines_spark.functions.abi import decode_events_df
from cherry_pipelines_spark.functions.crypto import evm_signature_to_topic0
from cherry_pipelines_spark.sinks.parquet import ParquetSink
from cherry_pipelines_spark.sources.parquet import ParquetSource, TableSpec

TABLE_NAME = "erc20_transfers"
EVENT_SIGNATURE = "Transfer(address indexed from, address indexed to, uint256 amount)"
TOPIC0 = evm_signature_to_topic0("Transfer(address,address,uint256)")

# the selected columns with the provider's types, declared as the scan
# schema: the scan keeps just these columns and no load pays a
# schema-inference job
LOG_SCHEMA = (
    "block_number bigint, block_hash binary, transaction_index bigint, "
    "transaction_hash binary, log_index bigint, address binary, topic0 binary, "
    "topic1 binary, topic2 binary, topic3 binary, data binary"
)
BLOCK_SCHEMA = "number bigint, timestamp bigint"


def _decode_step(bundle, ctx):
    logs = bundle.pop("logs")
    bundle[TABLE_NAME] = decode_events_df(
        logs.drop("topic0"), EVENT_SIGNATURE, allow_decode_fail=True
    )
    return bundle


_JOIN_SQL = f"""
    SELECT
        transfers.block_number,
        transfers.block_hash,
        transfers.transaction_index,
        transfers.log_index,
        transfers.transaction_hash,
        transfers.address,
        transfers.`from`,
        transfers.`to`,
        transfers.amount,
        transfers.amount_raw,
        blocks.timestamp
    FROM {TABLE_NAME} transfers
    LEFT JOIN blocks ON blocks.number = transfers.block_number
"""


def build_pipeline(
    logs_path: str,
    blocks_path: str,
    sink_path: str,
    chain_id: int,
    sink=None,
) -> Pipeline:
    """``sink`` overrides the default partitioned ParquetSink — e.g. a
    ``sinks.jdbc.JdbcSink`` for ClickHouse-parity deployment (reference
    erc20_transfers.py:118-124 writes ClickHouse MergeTree); any object
    with the Sink protocol's write/next_block works."""
    source = ParquetSource(
        tables={
            "logs": TableSpec(
                path=logs_path,
                block_column="block_number",
                schema=LOG_SCHEMA,
                predicate=F.col("topic0") == F.lit(TOPIC0),
            ),
            "blocks": TableSpec(path=blocks_path, block_column="number", schema=BLOCK_SCHEMA),
        }
    )
    if sink is None:
        sink = ParquetSink(
            base_path=sink_path,
            anchor_table=TABLE_NAME,
            block_column="block_number",
            partition_by=("chain_id",),
            sort_within_partitions={TABLE_NAME: ("block_number", "log_index")},
            chain_id=chain_id,
        )
    steps = [
        PyStep(_decode_step, name="evm_decode_events"),
        SqlStep(statements={TABLE_NAME: _JOIN_SQL}, drop=("blocks",), name="join_blocks"),
        CastStep(TABLE_NAME, {"timestamp": "long"}),
        SetChainIdStep(chain_id),
    ]
    return Pipeline(TABLE_NAME, source, steps, sink, chain_id=chain_id)

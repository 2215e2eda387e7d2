"""Raydium swap pipeline — capability parity with
/root/reference/src/cherry_pipelines/svm/raydium_swaps.py: three
programs (AMM / CLMM / CP) × six instruction kinds dispatched by
discriminator, typed-NULL padded to one schema with a ``swap_kind``
tag, positional transfer pairing carrying destination/source as the
vault hints, vault→mint resolution, tx/block joins, two-table output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cherry_pipelines_spark.engine.pipeline import Pipeline
from cherry_pipelines_spark.engine.step import PyStep, TableBundle
from cherry_pipelines_spark.functions import borsh as B
from cherry_pipelines_spark.functions.crypto import anchor_discriminator, base58_decode
from cherry_pipelines_spark.pipelines.svm import common as C
from cherry_pipelines_spark.sinks.parquet import ParquetSink

TABLE_NAME = "raydium_swaps"

AMM_PROGRAM_ID = base58_decode("675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8")
SWAP_BASE_IN_DISCRIMINATOR = bytes([9])
SWAP_BASE_OUT_DISCRIMINATOR = bytes([11])
# 17 account names → a0..a9 + rest_of_accounts (raydium_swaps.py:59-78)
_AMM_ACCOUNTS = (
    "token_program",
    "amm",
    "amm_authority",
    "amm_open_orders",
    "pool_coin_token_account",
    "pool_pc_token_account",
    "serum_program",
    "serum_market",
    "serum_bids",
    "serum_asks",
    "serum_event_queue",
    "serum_coin_vault_account",
    "serum_pc_vault_account",
    "serum_vault_signer",
    "user_source_token_account",
    "user_destination_token_account",
    "user_source_owner",
)
SWAP_BASE_IN_SIGNATURE = B.InstructionSignature(
    discriminator=SWAP_BASE_IN_DISCRIMINATOR,
    params=(B.ParamInput("amount_in", B.U64()), B.ParamInput("minimum_amount_out", B.U64())),
    accounts_names=_AMM_ACCOUNTS,
)
SWAP_BASE_OUT_SIGNATURE = B.InstructionSignature(
    discriminator=SWAP_BASE_OUT_DISCRIMINATOR,
    params=(B.ParamInput("max_amount_in", B.U64()), B.ParamInput("amount_out", B.U64())),
    accounts_names=_AMM_ACCOUNTS,
)

CLMM_PROGRAM_ID = base58_decode("CAMMCzo5YL8w4VFF8KVHrK22GGUsp5VTaW7grrKgrWqK")
SWAP_V1_DISCRIMINATOR = anchor_discriminator("swap")
SWAP_V2_DISCRIMINATOR = anchor_discriminator("swap_v2")
_CLMM_PARAMS = (
    B.ParamInput("amount", B.U64()),
    B.ParamInput("other_amount_threshold", B.U64()),
    B.ParamInput("sqrt_price_limit_x64", B.U128()),
    B.ParamInput("is_base_input", B.Bool()),
)
SWAP_V1_SIGNATURE = B.InstructionSignature(
    discriminator=SWAP_V1_DISCRIMINATOR,
    params=_CLMM_PARAMS,
    accounts_names=(
        "payer",
        "amm_config",
        "pool_state",
        "input_token_account",
        "output_token_account",
        "input_vault",
        "output_vault",
        "observation_state",
        "token_program",
        "tick_array",
    ),
)
SWAP_V2_SIGNATURE = B.InstructionSignature(
    discriminator=SWAP_V2_DISCRIMINATOR,
    params=_CLMM_PARAMS,
    accounts_names=(
        "payer",
        "amm_config",
        "pool_state",
        "input_token_account",
        "output_token_account",
        "input_vault",
        "output_vault",
        "observation_state",
        "token_program",
        "token_program_2022",
        "memo_program",
        "input_vault_mint",
        "output_vault_mint",
    ),
)

CP_SWAP_PROGRAM_ID = base58_decode("CPMMoo8L3F4NbTegBCKVNunggL7H1ZpdTHKxQB5qKP1C")
SWAP_BASE_INPUT_DISCRIMINATOR = anchor_discriminator("swap_base_input")
SWAP_BASE_OUTPUT_DISCRIMINATOR = anchor_discriminator("swap_base_output")
_CP_ACCOUNTS = (
    "payer",
    "authority",
    "amm_config",
    "pool_state",
    "input_token_account",
    "output_token_account",
    "input_vault",
    "output_vault",
    "input_token_program",
    "output_token_program",
    "input_token_mint",
    "output_token_mint",
    "observation_state",
)
SWAP_BASE_INPUT_SIGNATURE = B.InstructionSignature(
    discriminator=SWAP_BASE_INPUT_DISCRIMINATOR,
    params=(B.ParamInput("amount_in", B.U64()), B.ParamInput("minimum_amount_out", B.U64())),
    accounts_names=_CP_ACCOUNTS,
)
SWAP_BASE_OUTPUT_SIGNATURE = B.InstructionSignature(
    discriminator=SWAP_BASE_OUTPUT_DISCRIMINATOR,
    params=(B.ParamInput("max_amount_in", B.U64()), B.ParamInput("amount_out", B.U64())),
    accounts_names=_CP_ACCOUNTS,
)

# the six split tables: (bundle key, program id, discriminator, signature)
_KINDS = (
    ("amm_base_in_swaps", AMM_PROGRAM_ID, SWAP_BASE_IN_DISCRIMINATOR, SWAP_BASE_IN_SIGNATURE),
    ("amm_base_out_swaps", AMM_PROGRAM_ID, SWAP_BASE_OUT_DISCRIMINATOR, SWAP_BASE_OUT_SIGNATURE),
    ("cp_swap_base_input_swaps", CP_SWAP_PROGRAM_ID, SWAP_BASE_INPUT_DISCRIMINATOR, SWAP_BASE_INPUT_SIGNATURE),
    ("cp_swap_base_output_swaps", CP_SWAP_PROGRAM_ID, SWAP_BASE_OUTPUT_DISCRIMINATOR, SWAP_BASE_OUTPUT_SIGNATURE),
    ("clmm_swaps_v1", CLMM_PROGRAM_ID, SWAP_V1_DISCRIMINATOR, SWAP_V1_SIGNATURE),
    ("clmm_swaps_v2", CLMM_PROGRAM_ID, SWAP_V2_DISCRIMINATOR, SWAP_V2_SIGNATURE),
)

# swap_kind tag of each kind
_TAGS = {
    "amm_base_in_swaps": "amm_base_in",
    "amm_base_out_swaps": "amm_base_out",
    "cp_swap_base_input_swaps": "cp_swap_base_input",
    "cp_swap_base_output_swaps": "cp_swap_base_output",
    "clmm_swaps_v1": "clmm_v1",
    "clmm_swaps_v2": "clmm_v2",
}
_PARAMS = (
    "max_amount_in",
    "amount_out",
    "amount_in",
    "minimum_amount_out",
    "amount",
    "other_amount_threshold",
    "sqrt_price_limit_x64",
    "is_base_input",
)


def _swaps(decoded: DataFrame) -> DataFrame:
    """The six swap shapes as one frame with the swap_kind tag
    (raydium_swaps.py:378-514), in one projection over the fused
    decode: each column comes from the row's own kind (the AMM kinds
    name payer, pool and token accounts their own way), NULL where the
    kind has no such param."""

    def col(alias: str, *names: str) -> str:
        return f"{C.by_kind(_SWAP_KINDS, *(names or (alias,)))} AS {alias}"

    tags = ", ".join(f"'{k}', '{v}'" for k, v in _TAGS.items())
    return decoded.filter(C.kind_in(_SWAP_KINDS)).selectExpr(
        "block_slot",
        "transaction_index",
        "block_hash",
        "instruction_address",
        "program_id",
        col("payer", "payer", "user_source_owner"),
        col("pool", "pool_state", "amm"),
        col("input_token_account", "input_token_account", "user_source_token_account"),
        col("output_token_account", "output_token_account", "user_destination_token_account"),
        f"map({tags})[`_kind`] AS swap_kind",
        *[col(n) for n in _PARAMS],
        "instruction_index",
        "input_amount",
        "found_input",
        "output_amount",
        "found_output",
        "input_vault",
        "output_vault",
    )


# the fused dispatch spec: six swap kinds + two transfer kinds decoded
# in ONE pass (functions/borsh.py: decode_instructions_multi) instead
# of eight Arrow boundaries — the round-10 PIPEBENCH
# gap between raydium (44k instr/s, 10 boundaries) and meteora
# (152k instr/s, 2 boundaries) attributed to exactly this
_SWAP_KINDS = [(key, (program,), sig) for key, program, _disc, sig in _KINDS]
_MULTI_KINDS = _SWAP_KINDS + C.TRANSFER_KINDS


def decode_step(bundle: TableBundle, ctx) -> TableBundle:
    """raydium_swaps.py:309-374: memo-filter → index → 6-way swap
    dispatch + transfers → decode, fused: every kind decodes in one
    SQL pass (each row tagged with its kinds), and swaps and
    transfers stay in the one ``decoded``
    frame, which every later step reads in a single pass.  Per-kind
    results are schema- and value-identical to the per-branch
    decode_instructions_df chain (pinned by the differential pytest)."""
    from cherry_pipelines_spark.functions.borsh import decode_instructions_multi

    out = dict(bundle)
    ins = C.indexed_instructions(
        out.pop("instructions"),
        (F.col("program_id") != F.lit(C.MEMO_PROGRAM_ID_V1))
        & (F.col("program_id") != F.lit(C.MEMO_PROGRAM_ID_V2)),
    )
    out["decoded"] = decode_instructions_multi(
        ins, _MULTI_KINDS, passthrough=C.DECODE_PASSTHROUGH
    )
    return out


def process_step(bundle: TableBundle, ctx) -> TableBundle:
    """raydium_swaps.py:377-625: vaults come from the adjacent transfers'
    destination/source (unlike orca where they're swap accounts)."""
    swaps = _swaps(C.with_adjacent_transfers(bundle["decoded"], with_vaults=True))
    swaps = C.join_vault_mints(swaps, bundle["token_balances"])
    swaps = C.join_tx_and_blocks(swaps, bundle["transactions"], bundle["blocks"])
    swaps = swaps.drop("instruction_index")
    return {
        TABLE_NAME: swaps,
        "token_decimals_table": C.token_decimals_table(bundle["token_balances"]),
    }


def build_pipeline(
    instructions_path: str,
    transactions_path: str,
    blocks_path: str,
    token_balances_path: str,
    sink_path: str,
) -> Pipeline:
    source = C.svm_source(
        instructions_path, transactions_path, blocks_path, token_balances_path
    )
    sink = ParquetSink(
        base_path=sink_path,
        anchor_table=TABLE_NAME,
        block_column="block_slot",
        sort_within_partitions={
            TABLE_NAME: ("block_slot", "transaction_index", "instruction_address")
        },
    )
    steps = [
        # split + decode are FUSED into one step (one decode pass for
        # all ten discriminator branches — see decode_step)
        PyStep(decode_step, name="svm_decode_instructions"),
        PyStep(process_step, name="process_data"),
    ]
    return Pipeline(TABLE_NAME, source, steps, sink)

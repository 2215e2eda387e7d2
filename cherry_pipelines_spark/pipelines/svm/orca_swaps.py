"""Orca Whirlpool swap pipeline — capability parity with
/root/reference/src/cherry_pipelines/svm/orca_swaps.py (v1 + v2 swap
instructions, positional transfer pairing, vault→mint resolution,
direction swap, two-table output with anchor semantics).

Spark-first deviations (semantics preserved):
* global ``with_row_index`` → per-(slot, tx) ``row_number`` (common.py);
* the v1/v2 union and the a_to_b two-way filter + rename + vstack
  (orca_swaps.py:291-400) are one projection over the fused decode, with
  a CASE per column — one pass instead of four, same rows;
* the index+1/+2 transfer joins are ``lead`` over the same decode
  (common.with_adjacent_transfers).
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

TABLE_NAME = "orca_swaps"
PROGRAM_ID = base58_decode("whirLbMiicVdio4qvUfM5KAg6Ct8VwpYzGff3uctyCc")
DISCRIMINATOR_V1 = anchor_discriminator("swap")
DISCRIMINATOR_V2 = anchor_discriminator("swap_v2")

# orca_swaps.py:48-81
SIGNATURE_V1 = B.InstructionSignature(
    discriminator=DISCRIMINATOR_V1,
    params=(
        B.ParamInput("amount", B.U64()),
        B.ParamInput("other_amount_threshold", B.U64()),
        B.ParamInput("sqrt_price_limit", B.U128()),
        B.ParamInput("amount_specified_is_input", B.Bool()),
        B.ParamInput("a_to_b", B.Bool()),
    ),
    accounts_names=(
        "token_program",
        "token_authority",
        "whirlpool",
        "token_owner_account_a",
        "token_vault_a",
        "token_owner_account_b",
        "token_vault_b",
    ),
)

# orca_swaps.py:83-173 (remaining_accounts_info is the Option<Struct<
# Array<Struct<Enum, U8>>>> tree — decoded then dropped, it never
# reaches the sink)
_REMAINING_ACCOUNTS_INFO = B.Option(
    B.Struct(
        (
            (
                "slices",
                B.Array(
                    B.Struct(
                        (
                            (
                                "accounts_type",
                                B.Enum(
                                    (
                                        "transfer_hook_a",
                                        "transfer_hook_b",
                                        "transfer_hook_reward",
                                        "transfer_hook_input",
                                        "transfer_hook_intermediate",
                                        "transfer_hook_output",
                                        "supplemental_tick_arrays",
                                        "supplemental_tick_arrays_one",
                                        "supplemental_tick_arrays_two",
                                    )
                                ),
                            ),
                            ("length", B.U8()),
                        )
                    )
                ),
            ),
        )
    )
)
SIGNATURE_V2 = B.InstructionSignature(
    discriminator=DISCRIMINATOR_V2,
    params=(
        B.ParamInput("amount", B.U64()),
        B.ParamInput("other_amount_threshold", B.U64()),
        B.ParamInput("sqrt_price_limit", B.U128()),
        B.ParamInput("amount_specified_is_input", B.Bool()),
        B.ParamInput("a_to_b", B.Bool()),
        B.ParamInput("remaining_accounts_info", _REMAINING_ACCOUNTS_INFO),
    ),
    accounts_names=(
        "token_program_a",
        "token_program_b",
        "memo_program",
        "token_authority",
        "whirlpool",
        "token_mint_a",
        "token_mint_b",
        "token_owner_account_a",
        "token_vault_a",
        "token_owner_account_b",
        "token_vault_b",
    ),
)

# fused dispatch spec (orca_swaps.py:223-265): two swap shapes + two
# transfer shapes through ONE Arrow boundary.  remaining_accounts_info
# (the one variable-width v2 param) is decoded then dropped by the
# reference too — skipping it keeps v2 on the vectorized fixed-width
# fast path (drop_params slot of the kind tuple)
_SWAP_KINDS = [
    ("swaps_v1", (PROGRAM_ID,), SIGNATURE_V1),
    ("swaps_v2", (PROGRAM_ID,), SIGNATURE_V2, ("remaining_accounts_info",)),
]
_MULTI_KINDS = _SWAP_KINDS + C.TRANSFER_KINDS


def _swaps(decoded: DataFrame) -> DataFrame:
    """v1 and v2 swaps in one projection over the fused decode
    (orca_swaps.py:291-400): each column comes from the row's own kind,
    ``version`` tags the kind, and the a_to_b role swap is a single
    CASE per side (replacing the reference's filter + rename + vstack):
    input_* = a-side when a_to_b else b-side."""

    def col(name: str) -> str:
        return C.by_kind(_SWAP_KINDS, name)

    def named(name: str) -> str:
        return f"{col(name)} AS {name}"

    def pick(a_col: str, b_col: str) -> str:
        return f"CASE WHEN {col('a_to_b')} THEN {col(a_col)} ELSE {col(b_col)} END"

    return decoded.filter(C.kind_in(_SWAP_KINDS)).selectExpr(
        "block_slot",
        "transaction_index",
        "block_hash",
        "instruction_address",
        "program_id",
        named("token_authority"),
        named("whirlpool"),
        pick("token_owner_account_a", "token_owner_account_b") + " AS input_token_account",
        pick("token_owner_account_b", "token_owner_account_a") + " AS output_token_account",
        pick("token_vault_a", "token_vault_b") + " AS input_vault",
        pick("token_vault_b", "token_vault_a") + " AS output_vault",
        named("amount"),
        named("amount_specified_is_input"),
        named("other_amount_threshold"),
        named("sqrt_price_limit"),
        named("a_to_b"),
        "CASE WHEN `_kind` = 'swaps_v1' THEN 1 ELSE 2 END AS version",
        "instruction_index",
        "input_amount",
        "found_input",
        "output_amount",
        "found_output",
    )


def decode_step(bundle: TableBundle, ctx) -> TableBundle:
    """Memo-filter → positional index → discriminator dispatch →
    decode, fused into one mapInPandas boundary (see
    raydium_swaps.decode_step).  Swaps and transfers stay in the one
    ``decoded`` frame, which every later step reads in a single pass."""
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
    """orca_swaps.py:291-479 re-expressed."""
    swaps = _swaps(C.with_adjacent_transfers(bundle["decoded"]))
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
        instructions_path,
        transactions_path,
        blocks_path,
        token_balances_path,
        # provider-side filter (orca_swaps.py:492-501): orca program with
        # either discriminator, plus the correlated side rows (token
        # transfers, memo, …) which ride along as inner instructions
        instruction_predicate=None,
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
        # split + decode fused into one Arrow boundary (see decode_step)
        PyStep(decode_step, name="svm_decode_instructions"),
        PyStep(process_step, name="process_data"),
    ]
    return Pipeline(TABLE_NAME, source, steps, sink)

"""Meteora CP-AMM swap pipeline — capability parity with
/root/reference/src/cherry_pipelines/svm/meteora_swaps.py: swap
instructions paired with their self-emitted CPI event instruction at
index+1 (J7), direction swap on ``b_to_a``, tx/block joins, two-table
output.

Note the indexing difference vs orca/raydium: the positional index is
assigned AFTER filtering to only this program's swap|CPI instructions
(meteora_swaps.py:201-208), so the CPI event is at index+1 within that
filtered sequence.  As in orca and raydium, the decode is one pass:
both kinds come out of it in one frame, and the
pairing is a ``lead`` window over it, not a join of two branches.
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

TABLE_NAME = "meteora_swaps"
CP_AMM_PROGRAM_ID = base58_decode("cpamdpZCGKUy5JxQXB4dcpGPiikHawvSWAd6mEn1sGG")
SWAP_DISCRIMINATOR = anchor_discriminator("swap")
CPI_DISCRIMINATOR = bytes.fromhex("e445a52e51cb9a1d1b3c15d58aaabb93")

# meteora_swaps.py:37-63
SWAP_SIGNATURE = B.InstructionSignature(
    discriminator=SWAP_DISCRIMINATOR,
    params=(
        B.ParamInput("amount_in", B.U64()),
        B.ParamInput("minimum_amount_out", B.U64()),
    ),
    accounts_names=(
        "pool_authority",
        "pool",
        "input_token_account",
        "output_token_account",
        "token_a_vault",
        "token_b_vault",
        "token_a_mint",
        "token_b_mint",
        "payer",
        "token_a_program",
        "token_b_program",
        "referral_token_account",
    ),
)
# meteora_swaps.py:64-130 (flattened SwapParameters + SwapResult structs —
# same borsh layout)
CPI_SIGNATURE = B.InstructionSignature(
    discriminator=CPI_DISCRIMINATOR,
    params=(
        B.ParamInput("pool", B.FixedArray(B.U8(), 32)),
        B.ParamInput("b_to_a", B.Bool()),
        B.ParamInput("has_referral", B.Bool()),
        B.ParamInput("amount_in", B.U64()),
        B.ParamInput("minimum_amount_out", B.U64()),
        B.ParamInput("output_amount", B.U64()),
        B.ParamInput("next_sqrt_price", B.U128()),
        B.ParamInput("lp_fee", B.U64()),
        B.ParamInput("protocol_fee", B.U64()),
        B.ParamInput("partner_fee", B.U64()),
        B.ParamInput("referral_fee", B.U64()),
        B.ParamInput("actual_amount_in", B.U64()),
        B.ParamInput("current_timestamp", B.U64()),
    ),
    accounts_names=(),
)


# both kinds decode in ONE pass (round-11 verdict #4: meteora ran
# per-branch decode chains — 2 decode stages over the same parent rows
# — while raydium/orca were already fused)
_MULTI_KINDS = [
    ("swaps", (CP_AMM_PROGRAM_ID,), SWAP_SIGNATURE),
    ("cpi", (CP_AMM_PROGRAM_ID,), CPI_SIGNATURE),
]


def decode_step(bundle: TableBundle, ctx) -> TableBundle:
    """meteora_swaps.py:190-254: filter to this program's swap|CPI rows
    FIRST, then index, then decode both kinds in one pass.  Swaps and CPI events stay in the one ``decoded`` frame,
    which the process step reads in a single pass."""
    out = dict(bundle)
    keep = (F.col("program_id") == F.lit(CP_AMM_PROGRAM_ID)) & (
        C.starts_with(F.col("data"), SWAP_DISCRIMINATOR)
        | C.starts_with(F.col("data"), CPI_DISCRIMINATOR)
    )
    ins = C.indexed_instructions(out.pop("instructions"), keep)
    out["decoded"] = B.decode_instructions_multi(
        ins, _MULTI_KINDS, passthrough=C.DECODE_PASSTHROUGH
    )
    return out


_OUT_COLS = (
    "block_slot",
    "block_hash",
    "transaction_index",
    "instruction_address",
    "program_id",
    "pool",
    "b_to_a",
    "has_referral",
    "amount_in",
    "minimum_amount_out",
    "output_amount",
    "next_sqrt_price",
    "lp_fee",
    "protocol_fee",
    "partner_fee",
    "referral_fee",
    "input_amount",
    "current_timestamp",
    "pool_authority",
    "input_token_account",
    "output_token_account",
    "input_vault",
    "output_vault",
    "input_mint",
    "output_mint",
    "payer",
    "input_token_program",
    "output_token_program",
    "referral_token_account",
    "found_cpi",
)


# (a_col, b_col, input_name, output_name) — the reference's fixed
# direction-swap column list (meteora_swaps.py:278-299)
_DIRECTIONAL = (
    ("token_a_mint", "token_b_mint", "input_mint", "output_mint"),
    (
        "token_a_program",
        "token_b_program",
        "input_token_program",
        "output_token_program",
    ),
    ("token_a_vault", "token_b_vault", "input_vault", "output_vault"),
)


def pair_cpi_and_direct(rows: DataFrame) -> DataFrame:
    """J7 core (meteora_swaps.py:257-299), shared with the registry query
    ``cpi_pairing``.  ``rows`` holds swap and CPI rows in one frame,
    indexed by ``instruction_index`` within the filtered swap|CPI
    sequence of each (block_slot, transaction_index): a CPI row carries
    its event in the struct ``cpi``, a swap row has ``cpi`` NULL.

    Each swap takes the event at ``instruction_index`` + 1: ``lead(1)``
    in one window by instruction_index, kept only when its index is
    exactly one more (an instruction the decode dropped leaves a gap, as
    in ``common.with_adjacent_transfers``).  The event's fields become
    columns.  Swaps with no event, or one with a NULL ``b_to_a``, are
    dropped: the reference's eq(True)/eq(False) split quirk.  The a/b
    columns resolve to input/output by ``b_to_a``, a CASE per side
    instead of the reference's filter + rename + vstack."""
    w = "OVER (PARTITION BY block_slot, transaction_index ORDER BY instruction_index)"
    event = "CASE WHEN cpi IS NOT NULL THEN named_struct('i', instruction_index, 'e', cpi) END"

    def side(a_col: str, b_col: str) -> str:  # a_col when a→b, b_col when b→a
        return f"CASE WHEN _c.e.b_to_a THEN {b_col} ELSE {a_col} END"

    roles = [
        expr
        for a_col, b_col, in_name, out_name in _DIRECTIONAL
        for expr in (f"{side(a_col, b_col)} AS {in_name}", f"{side(b_col, a_col)} AS {out_name}")
    ]
    return (
        rows.withColumn("_c", F.expr(f"lead({event}) {w}"))
        .filter("cpi IS NULL AND _c.i = instruction_index + 1 AND _c.e.b_to_a IS NOT NULL")
        .selectExpr("*", "_c.e.*", *roles, "true AS found_cpi")
        .drop("cpi", "_c")
    )


def _rows(decoded: DataFrame) -> DataFrame:
    """The fused decode as the one frame :func:`pair_cpi_and_direct`
    reads: each swap column by name, and on CPI rows the event as the
    struct ``cpi``.  The event leaves out the params the swap has too
    (pool, amount_in, minimum_amount_out: the swap's own win, as the
    reference's join keeps its left columns) and names
    ``actual_amount_in`` ``input_amount`` (meteora_swaps.py:257-276)."""
    swap = B.kind_columns(_MULTI_KINDS[0])
    own = {name for name, _ in swap}
    event = ", ".join(
        f"'{'input_amount' if name == 'actual_amount_in' else name}', {sql}"
        for name, sql in B.kind_columns(_MULTI_KINDS[1])
        if name not in own
    )
    return decoded.selectExpr(
        *C.DECODE_PASSTHROUGH,
        *[f"{sql} AS {name}" for name, sql in swap],
        f"CASE WHEN `_kind` = 'cpi' THEN named_struct({event}) END AS cpi",
    )


def process_step(bundle: TableBundle, ctx) -> TableBundle:
    """meteora_swaps.py:257-327: the CPI pairing at index+1 and the
    direction swap in one pass over the fused decode, then the tx/block
    joins."""
    swaps = pair_cpi_and_direct(_rows(bundle["decoded"])).select(*_OUT_COLS)
    swaps = C.join_tx_and_blocks(swaps, bundle["transactions"], bundle["blocks"])
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
        PyStep(decode_step, name="svm_decode_instructions"),
        PyStep(process_step, name="process_data"),
    ]
    return Pipeline(TABLE_NAME, source, steps, sink)

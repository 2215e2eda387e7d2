"""Shared SVM pipeline pieces (capability parity with the reference's
svm/common_signatures.py and the split/process structure its pipelines
share — structure re-expressed Spark-first, not translated).

Key Spark-first decision (SURVEY §7.3): the reference assigns a GLOBAL
row index over the sorted, filtered instruction batch and joins
adjacency on ``index+1``/``index+2`` *with equality on (block_slot,
transaction_index)*.  Because every adjacency comparison also equates
the (slot, tx) group, a per-(slot, tx) ``row_number`` produces
identical join results without the global sort — the global index is
``group_base + local_index`` and bases cancel inside a group.  At scale
that turns an impossible single-partition sort into a hash-partitioned
window.  The adjacency lookup is a window over the same groups too
(``lead`` in :func:`with_adjacent_transfers`), not a join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cherry_pipelines_spark.functions import borsh as B
from cherry_pipelines_spark.functions.crypto import base58_decode
from cherry_pipelines_spark.operators.positional import with_positional_index
from cherry_pipelines_spark.sources.parquet import ParquetSource, TableSpec

# public Solana program addresses (common_signatures.py:3-7)
MEMO_PROGRAM_ID_V1 = base58_decode("Memo1UhkJRfHyvLMcVucJwxXeuD728EqVDDwQDxFMNo")
MEMO_PROGRAM_ID_V2 = base58_decode("MemoSq4gqABAXKb96qnH8TysNcWxMyWCqXgDLGmfcHr")
TOKEN_PROGRAM_ID = base58_decode("TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA")
TOKEN_2022_PROGRAM_ID = base58_decode("TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb")

# SPL token transfer instruction signatures (common_signatures.py:8-42)
TOKEN_TRANSFER_DISCRIMINATOR = bytes([3])
TOKEN_TRANSFER_CHECKED_DISCRIMINATOR = bytes([12])
TOKEN_TRANSFER_SIGNATURE = B.InstructionSignature(
    discriminator=TOKEN_TRANSFER_DISCRIMINATOR,
    params=(B.ParamInput("amount", B.U64()),),
    accounts_names=("source", "destination", "authority"),
)
TOKEN_TRANSFER_CHECKED_SIGNATURE = B.InstructionSignature(
    discriminator=TOKEN_TRANSFER_CHECKED_DISCRIMINATOR,
    params=(B.ParamInput("amount", B.U64()), B.ParamInput("decimals", B.U8())),
    accounts_names=("source", "mint", "destination", "authority"),
)

# decoded beside the swaps for J2 (with_adjacent_transfers)
_TOKEN_PROGRAMS = (TOKEN_PROGRAM_ID, TOKEN_2022_PROGRAM_ID)
TRANSFER_KINDS = [
    ("transfers", _TOKEN_PROGRAMS, TOKEN_TRANSFER_SIGNATURE),
    ("checked_transfers", _TOKEN_PROGRAMS, TOKEN_TRANSFER_CHECKED_SIGNATURE),
]

# the selected source columns with the provider's types, declared as
# the scan schema: no load pays a schema-inference job
INSTRUCTION_SCHEMA = (
    "block_slot bigint, block_hash binary, transaction_index bigint, "
    "instruction_address array<int>, program_id binary, "
    + "".join(f"a{i} binary, " for i in range(10))
    + "rest_of_accounts array<binary>, data binary, is_committed boolean"
)
TRANSACTION_SCHEMA = "block_slot bigint, transaction_index bigint, signature binary"
BLOCK_SCHEMA = "slot bigint, height bigint, timestamp bigint"
TOKEN_BALANCE_SCHEMA = (
    "block_slot bigint, transaction_index bigint, account binary, post_mint binary, "
    "post_decimals int"
)

DECODE_PASSTHROUGH = (
    "block_slot",
    "block_hash",
    "transaction_index",
    "instruction_address",
    "program_id",
    "instruction_index",
)


def starts_with(col: Column, prefix: bytes) -> Column:
    """Binary discriminator-prefix dispatch (reference P7:
    ``data.bin.starts_with(disc)``)."""
    return col.startswith(F.lit(prefix))


def svm_source(
    instructions_path: str,
    transactions_path: str,
    blocks_path: str,
    token_balances_path: str | None,
    instruction_predicate: Column | None = None,
) -> ParquetSource:
    """The four-table SVM bundle scan (orca_swaps.py:487-543): committed
    instructions with an optional provider-side predicate (program OR of
    discriminator prefixes), plus transactions / blocks / token_balances
    side tables."""
    pred = F.col("is_committed")
    if instruction_predicate is not None:
        pred = pred & instruction_predicate
    tables = {
        "instructions": TableSpec(
            instructions_path, "block_slot", predicate=pred, schema=INSTRUCTION_SCHEMA
        ),
        "transactions": TableSpec(transactions_path, "block_slot", schema=TRANSACTION_SCHEMA),
        "blocks": TableSpec(blocks_path, "slot", schema=BLOCK_SCHEMA),
    }
    if token_balances_path is not None:
        tables["token_balances"] = TableSpec(
            token_balances_path, "block_slot", schema=TOKEN_BALANCE_SCHEMA
        )
    return ParquetSource(tables)


def indexed_instructions(instructions: DataFrame, keep: Column) -> DataFrame:
    """Filter to ``keep`` rows, then assign the positional
    ``instruction_index`` per (block_slot, transaction_index) ordered by
    instruction_address (array-lexicographic).  Mirrors the reference's
    filter-then-``with_row_index`` (orca_swaps.py:234-238) with the
    global index replaced by the equivalent per-group one."""
    return with_positional_index(
        instructions.filter(keep),
        group_cols=("block_slot", "transaction_index"),
        order_cols=("instruction_address",),
        index_col="instruction_index",
    )


def by_kind(kinds: list[tuple], *names: str) -> str:
    """SQL for one column over the fused decode: each row takes the
    first of ``names`` its own kind has, NULL when it has none.  Text,
    so a whole projection over the fused frame is parsed in one call."""
    branches = []
    for k in kinds:
        cols = dict(B.kind_columns(k, names))
        name = next((n for n in names if n in cols), None)
        if name is not None:
            branches.append(f"WHEN `_kind` = '{k[0]}' THEN {cols[name]}")
    return f"CASE {' '.join(branches)} END" if branches else "NULL"


def kind_in(kinds: list[tuple]) -> str:
    """SQL test that a fused-decode row is of one of ``kinds``."""
    return "`_kind` IN (" + ", ".join(f"'{k[0]}'" for k in kinds) + ")"


def with_adjacent_transfers(fused: DataFrame, with_vaults: bool = False) -> DataFrame:
    """J2 positional adjacency, appended to every row of the fused
    decode: the transfer at ``instruction_index``+1 is a swap's input,
    the one at +2 its output (orca_swaps.py:402-436), with
    found_input/found_output flags (TRUE or NULL); raydium also takes
    destination→input_vault and source→output_vault
    (raydium_swaps.py:553-568).

    ``lead(1)``/``lead(2)`` in one window by instruction_index within
    (block_slot, transaction_index), not a self-join.  The kinds are
    disjoint (no row decodes twice), so a group's indexes increase
    strictly: the instruction at +1, when decoded, is the next row, and
    the one at +2 is the next row or the one after."""
    names = ("amount", "destination", "source")
    fields = "".join(f", '{n}', {by_kind(TRANSFER_KINDS, n)}" for n in names)
    transfer = f"named_struct('i', instruction_index{fields})"
    transfer = f"CASE WHEN {kind_in(TRANSFER_KINDS)} THEN {transfer} END"
    w = "OVER (PARTITION BY block_slot, transaction_index ORDER BY instruction_index)"

    def at(k: int) -> str:  # the transfer at instruction_index + k, if decoded
        whens = (f"WHEN _next{j}.i = instruction_index + {k} THEN _next{j}" for j in (1, 2)[:k])
        return f"(CASE {' '.join(whens)} END)"

    at1, at2 = at(1), at(2)
    adjacent = {
        "input_amount": f"{at1}.amount",
        "found_input": f"CASE WHEN {at1} IS NOT NULL THEN true END",
        "output_amount": f"{at2}.amount",
        "found_output": f"CASE WHEN {at2} IS NOT NULL THEN true END",
    }
    if with_vaults:
        adjacent.update(input_vault=f"{at1}.destination", output_vault=f"{at2}.source")
    return (
        fused.withColumns({f"_next{j}": F.expr(f"lead({transfer}, {j}) {w}") for j in (1, 2)})
        .withColumns({k: F.expr(v) for k, v in adjacent.items()})
        .drop("_next1", "_next2")
    )


def join_vault_mints(swaps: DataFrame, token_balances: DataFrame) -> DataFrame:
    """J3: resolve vault account → mint via token balances
    (orca_swaps.py:452-463)."""
    input_balances = token_balances.select(
        "block_slot",
        "transaction_index",
        F.col("account").alias("input_vault"),
        F.col("post_mint").alias("input_mint"),
    )
    output_balances = token_balances.select(
        "block_slot",
        "transaction_index",
        F.col("account").alias("output_vault"),
        F.col("post_mint").alias("output_mint"),
    )
    swaps = swaps.join(
        input_balances, on=["block_slot", "transaction_index", "input_vault"], how="left"
    )
    swaps = swaps.join(
        output_balances,
        on=["block_slot", "transaction_index", "output_vault"],
        how="left",
    )
    return swaps


def join_tx_and_blocks(
    swaps: DataFrame, transactions: DataFrame, blocks: DataFrame
) -> DataFrame:
    """J4: attach transaction signature and block height/timestamp
    (orca_swaps.py:465-467).  Both sides are per-batch small relative to
    swaps — broadcast them."""
    tx = transactions.select(
        "block_slot",
        "transaction_index",
        F.col("signature").alias("transaction_signature"),
    )
    blk = blocks.select(
        F.col("slot").alias("block_slot"),
        F.col("height").alias("block_height"),
        F.col("timestamp"),
    )
    swaps = swaps.join(F.broadcast(tx), on=["block_slot", "transaction_index"], how="left")
    swaps = swaps.join(F.broadcast(blk), on="block_slot", how="left")
    return swaps


def token_decimals_table(token_balances: DataFrame) -> DataFrame:
    """Second output table of the swap pipelines (orca_swaps.py:475-478)."""
    return token_balances.select(
        F.col("post_mint").alias("mint"), F.col("post_decimals").alias("decimals")
    )

"""Full-precision uint256 arithmetic over 32-byte binary columns.

The reference engine stores ERC-20 ``amount`` as ClickHouse
Decimal256(0) — true 78-digit integers (reference call site:
evm/erc20_transfers.py:41).  Spark's widest numeric is
DecimalType(38,0), so this library's decode policy (SURVEY §7.3) keeps
a lossless ``amount_raw`` binary beside a 38-digit decimal that NULLs
on overflow.  This module closes the remaining gap — EXACT aggregation
and rendering of uint256 values — without any 256-bit numeric type:

* ``uint256_limbs`` splits a 32-byte big-endian word into four 64-bit
  limbs, each held as Decimal(20,0) (2^64-1 has 20 digits) — pure
  JVM-side expressions (``hex``/``substring``/``conv``), no Python.
* ``uint256_sum`` groups and sums each limb independently (Spark's
  decimal SUM is exact, and four partial sums of 2^64-sized limbs stay
  far below the 38-digit ceiling for any realistic row count), then
  reassembles ``sum_i(limb_i) * 2^(64*i)`` with Python bignums in ONE
  Arrow pass over the already-aggregated (one row per group) frame —
  the expensive work is all JVM-side partial aggregation; Python
  touches only group rows.
* ``uint256_to_string`` renders individual values as exact decimal
  strings (Arrow-batched; int.from_bytes per value is O(1) buffer
  work).

Scale shape: the limb split is map-only and whole-stage-codegen
eligible; the aggregation is one ordinary hash-agg shuffle carrying
four decimals per group — byte-for-byte the same plan SUM(amount)
would produce, just four of them.  Exactness bound: each limb sum is
< 2^64 * N; Decimal(38,0) therefore holds it exactly for
N < 10^38 / 2^64 ≈ 5.4e18 rows per group — effectively unbounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LIMB_DEC = T.DecimalType(20, 0)
_SUM_DEC = T.DecimalType(38, 0)


def _hex64(col: Column) -> Column:
    """64-nibble big-endian hex of a <=32-byte binary word.

    Values longer than 32 bytes become NULL: ``lpad`` would otherwise
    TRUNCATE to the first 64 hex chars, silently dropping the
    least-significant bytes — a wrong value is worse than a NULL (which
    SUM semantics then skip, same as a decode-failure NULL)."""
    return F.when(F.length(col) <= 32, F.lpad(F.hex(col), 64, "0"))


_DEC38_MAX = 10**38 - 1


def dec38_sql(be_hex: str, digits: int, signed: bool) -> str:
    """SQL: the integer held by ``be_hex`` (SQL for ``digits`` uppercase
    big-endian hex digits, 32 or 64; two's complement when ``signed``)
    as DECIMAL(38,0), NULL beyond ±(10^38-1) (overflow policy: SURVEY
    §7.3).  The range checks compare fixed-width hex text, which orders
    like the numbers, so decimal arithmetic only ever runs on values
    that fit; the value is two ``conv`` halves of the low 32 digits."""
    top = f"'{_DEC38_MAX:0{digits}X}'"

    def value(h: str) -> str:  # h <= 10^38-1, so only the low 32 digits are set
        return (
            f"CAST(conv(substr({h}, {digits - 31}, 16), 16, 10) AS DECIMAL(38,0))"
            f" * 18446744073709551616BD"
            f" + CAST(conv(substr({h}, {digits - 15}, 16), 16, 10) AS DECIMAL(38,0))"
        )

    pos = f"IF({be_hex} <= {top}, {value(be_hex)}, NULL)"
    if not signed:
        return pos
    # a negative v has v = -1 - ~v, and |v| <= 10^38-1 iff ~v < 10^38-1
    # (a subtraction, not a unary minus: Spark negates a wide decimal
    # through a 34-digit MathContext and would round it)
    inv = f"translate({be_hex}, '0123456789ABCDEF', 'FEDCBA9876543210')"
    neg = f"IF({inv} < {top}, -1 - ({value(inv)}), NULL)"
    return f"IF(substr({be_hex}, 1, 1) < '8', {pos}, {neg})"


def dec38_word_sql(word: str, signed: bool) -> str:
    """SQL: :func:`dec38_sql` read straight from ``word``, SQL for a
    32-byte big-endian binary word.  The range checks compare the word
    with the 32-byte bounds (binary order is unsigned, like the
    numbers), and the value is two ``conv`` of the hex of 8-byte
    slices, so no hex text of the whole word is built or scanned."""

    def value(inv: bool) -> str:  # of the word, or of ~word when inv
        def half(at: int) -> str:
            h = f"hex(substring({word}, {at}, 8))"
            if inv:
                h = f"translate({h}, '0123456789ABCDEF', 'FEDCBA9876543210')"
            return f"CAST(conv({h}, 16, 10) AS DECIMAL(38,0))"

        return f"{half(17)} * 18446744073709551616BD + {half(25)}"

    pos = f"IF({word} <= X'{_DEC38_MAX:064X}', {value(False)}, NULL)"
    if not signed:
        return pos
    # a negative v has v = -1 - ~v, and v >= -(10^38-1) iff its word is
    # at least the two's complement of -(10^38-1)
    neg = f"IF({word} >= X'{2**256 - _DEC38_MAX:064X}', -1 - ({value(True)}), NULL)"
    return f"IF(substring({word}, 1, 1) < X'80', {pos}, {neg})"


def uint256_limbs(col: Column, prefix: str = "limb") -> list[Column]:
    """Four aliased Decimal(20,0) columns ``{prefix}0..{prefix}3``
    (limb 0 least-significant) from a 32-byte big-endian binary word.

    ``conv(hex, 16, 10)`` is exact for 64-bit unsigned values (the one
    width Spark's conv handles without wraparound), so each limb is an
    exact integer; values shorter than 32 bytes are left-padded (EVM
    words are fixed-width, but decode-failure NULLs and trimmed test
    fixtures survive); values LONGER than 32 bytes yield NULL limbs
    rather than a silently-truncated wrong value."""
    h = _hex64(col)
    return [
        F.conv(F.substring(h, 64 - 16 * (i + 1) + 1, 16), 16, 10)
        .cast(_LIMB_DEC)
        .alias(f"{prefix}{i}")
        for i in range(4)
    ]


def uint256_sum(
    df: DataFrame,
    amount_col: str,
    group_cols: list[str] | None = None,
    out_col: str = "amount_sum",
    keep_limbs: bool = False,
) -> DataFrame:
    """EXACT SUM of a uint256 (32-byte binary big-endian) column,
    optionally per group: four JVM-side decimal limb sums reassembled
    into one full-precision decimal string per group.

    Output: ``group_cols + [out_col string]`` (+ ``{out_col}_limb0..3``
    Decimal(38,0) when ``keep_limbs`` — the SQL-checkable projection of
    the same total, since ``total = sum_i limb_i * 2^(64*i)``).  NULL
    amounts are ignored, matching SUM semantics; an all-NULL group
    yields NULL."""
    group_cols = list(group_cols or [])
    limbs = uint256_limbs(F.col(amount_col), prefix="_l")
    agg = (
        df.select(*group_cols, *limbs)
        .groupBy(*group_cols)
        .agg(
            *[
                # cast BEFORE the sum: Spark accumulates SUM(Decimal(20,0))
                # in Decimal(30,0) (overflow->NULL at ~5.4e10 rows/group);
                # summing Decimal(38,0) inputs keeps the accumulator at
                # Decimal(38,0), good to ~5.4e18 rows/group
                F.sum(F.col(f"_l{i}").cast(_SUM_DEC)).alias(f"{out_col}_limb{i}")
                for i in range(4)
            ]
        )
    )

    fields = list(agg.schema.fields) + [T.StructField(out_col, T.StringType())]
    out_schema = T.StructType(
        [f for f in fields if keep_limbs or not f.name.startswith(f"{out_col}_limb")]
    )
    limb_names = [f"{out_col}_limb{i}" for i in range(4)]

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            totals = []
            for row in pdf[limb_names].itertuples(index=False):
                if any(v is None for v in row):
                    totals.append(None)
                    continue
                totals.append(str(sum(int(v) << (64 * i) for i, v in enumerate(row))))
            pdf = pdf.copy()
            pdf[out_col] = totals
            if not keep_limbs:
                pdf = pdf.drop(columns=limb_names)
            yield pdf

    return agg.mapInPandas(assemble, out_schema)


def uint256_to_string(col: Column) -> Column:
    """Exact decimal-string rendering of a uint256 binary column — the
    display/export path for values a Decimal(38,0) cannot hold.  One
    Arrow-batched pandas UDF; each value is an O(1) int.from_bytes."""

    @F.pandas_udf(T.StringType())
    def render(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: None if b is None else str(int.from_bytes(bytes(b), "big"))
        )

    return render(col)

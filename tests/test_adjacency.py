"""Positional adjacency as one window over the fused decode, against a
plain-Python replay of the reference's index lookups on random
instruction layouts: J2 (pipelines/svm/common.py:with_adjacent_transfers,
the transfers at index+1 / index+2, with undecoded gaps, back-to-back
swaps and both transfer shapes) and J7 (meteora_swaps.pair_cpi_and_direct,
the CPI event at index+1, with undecoded CPI gaps, back-to-back swaps,
a CPI before its swap and a swap that ends its group)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from cherry_pipelines_spark.pipelines.svm import common as C
from cherry_pipelines_spark.pipelines.svm import meteora_swaps as met
from cherry_pipelines_spark.pipelines.svm import orca_metadata as meta
from cherry_pipelines_spark.pipelines.svm import orca_swaps as orca
from cherry_pipelines_spark.pipelines.svm import raydium_swaps as ray

SCHEMA = (
    "block_slot bigint, transaction_index bigint, instruction_index int, _kind string, "
    "a0 binary, a1 binary, a2 binary, transfers__amount bigint, "
    "checked_transfers__amount bigint"
)
# "gap" is an instruction the decode dropped: its index is skipped
KINDS = ("swap", "transfers", "checked_transfers", "gap")


def _rows(groups):
    rows, n = [], 0
    for g, kinds in enumerate(groups):
        for idx, kind in enumerate(kinds):
            n += 1
            if kind == "gap":
                continue
            src, mid, dst = (b"s%d" % n, b"m%d" % n, b"d%d" % n)
            rows.append((
                g // 2, g % 2, idx, kind, src, dst if kind == "transfers" else mid,
                dst if kind == "checked_transfers" else None,
                n if kind == "transfers" else None,
                n if kind == "checked_transfers" else None,
            ))
    return rows


def _expected(rows):
    """The reference's lookups: the transfer at index+1 / index+2 of
    the same (slot, tx)."""
    transfers = {
        (r[0], r[1], r[2]): (r[7] if r[3] == "transfers" else r[8], r[5] if r[3] == "transfers" else r[6], r[4])
        for r in rows if r[3] != "swap"
    }
    out = set()
    for r in rows:
        if r[3] != "swap":
            continue
        t_in = transfers.get((r[0], r[1], r[2] + 1))
        t_out = transfers.get((r[0], r[1], r[2] + 2))
        out.add((
            r[0], r[1], r[2],
            t_in and t_in[0], True if t_in else None, t_in and t_in[1],
            t_out and t_out[0], True if t_out else None, t_out and t_out[2],
        ))
    return out


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(groups=st.lists(st.lists(st.sampled_from(KINDS), min_size=1, max_size=8),
                       min_size=1, max_size=6))
def test_window_adjacency_equals_index_lookups(spark, groups):
    rows = _rows(groups)
    fused = spark.createDataFrame(rows, SCHEMA)
    got = C.with_adjacent_transfers(fused, with_vaults=True).filter("_kind = 'swap'")
    cols = ["block_slot", "transaction_index", "instruction_index", "input_amount",
            "found_input", "input_vault", "output_amount", "found_output", "output_vault"]
    got_rows = {
        tuple(bytes(v) if isinstance(v, (bytearray, memoryview)) else v for v in r)
        for r in got.select(*cols).collect()
    }
    assert got_rows == _expected(rows)


CPI_SCHEMA = (
    "block_slot bigint, transaction_index bigint, instruction_index int, "
    "token_a_mint string, token_b_mint string, token_a_vault string, "
    "token_b_vault string, token_a_program string, token_b_program string, "
    "amount_in bigint, cpi struct<b_to_a: boolean, input_amount: bigint, "
    "output_amount: bigint>"
)
# "gap" is a CPI the decode dropped; "cpi_null" an event with no b_to_a
CPI_KINDS = ("swap", "cpi", "cpi_null", "gap")


def _cpi_rows(groups):
    rows, n = [], 0
    for g, kinds in enumerate(groups):
        for idx, kind in enumerate(kinds):
            n += 1
            if kind == "swap":
                sides = [f"{c}{s}{n}" for c in "mvp" for s in "ab"]
                rows.append((g // 2, g % 2, idx, *sides, n, None))
            elif kind != "gap":
                b_to_a = None if kind == "cpi_null" else n % 3 == 0
                # a CPI row's own amount_in must not reach the swap
                rows.append((g // 2, g % 2, idx, *[None] * 6, -n, (b_to_a, 10 * n, 30 * n)))
    return rows


def _cpi_expected(rows):
    """The reference's pairing: the CPI at index+1 of the same (slot,
    tx), swaps without one (or with a NULL b_to_a) dropped, a/b sides
    swapped when b_to_a."""
    events = {(r[0], r[1], r[2]): r[10] for r in rows if r[10] is not None}
    out = set()
    for r in rows:
        e = events.get((r[0], r[1], r[2] + 1))
        if r[10] is not None or e is None or e[0] is None:
            continue
        a, b = (r[3], r[5], r[7]), (r[4], r[6], r[8])
        src, dst = (b, a) if e[0] else (a, b)
        out.add((r[0], r[1], r[2], e[0], *src, *dst, e[1], e[2], r[9]))
    return out


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(groups=st.lists(st.lists(st.sampled_from(CPI_KINDS), min_size=1, max_size=8),
                       min_size=1, max_size=6))
# a CPI before its swap, a CPI gap after a swap, back-to-back swaps and
# a swap that ends its group, in one layout
@example(groups=[["cpi", "swap", "gap", "cpi", "swap", "swap", "cpi", "swap"], ["swap"]])
def test_cpi_lead_pairing_equals_index_lookups(spark, groups):
    rows = _cpi_rows(groups)
    got = met.pair_cpi_and_direct(spark.createDataFrame(rows, CPI_SCHEMA)).select(
        "block_slot", "transaction_index", "instruction_index", "b_to_a",
        "input_mint", "input_vault", "input_token_program",
        "output_mint", "output_vault", "output_token_program",
        "input_amount", "output_amount", "amount_in",
    )
    assert set(map(tuple, got.collect())) == _cpi_expected(rows)


def test_swap_pipeline_kinds_are_disjoint():
    """The windows read the next rows of a group as the next indexes,
    which holds while no instruction decodes under two kinds: kinds
    sharing a program must not have one discriminator prefix another.
    orca_metadata has no window, but its one projection over the fused
    decode equals the reference's union only while no init decodes
    as both versions."""
    for kinds in (orca._MULTI_KINDS, ray._MULTI_KINDS, met._MULTI_KINDS, meta._MULTI_KINDS):
        for i, a in enumerate(kinds):
            for b in kinds[i + 1:]:
                if set(a[1]) & set(b[1]):
                    da, db = a[2].discriminator, b[2].discriminator
                    assert not da.startswith(db) and not db.startswith(da), (a[0], b[0])

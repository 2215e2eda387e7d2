"""J2 positional adjacency as one window over the fused decode
(pipelines/svm/common.py:with_adjacent_transfers) against a plain-Python
replay of the reference's index+1 / index+2 lookups, on random
instruction layouts with undecoded gaps, back-to-back swaps and both
transfer shapes."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cherry_pipelines_spark.pipelines.svm import common as C
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


def test_swap_pipeline_kinds_are_disjoint():
    """The window reads the next rows of a group as the next indexes,
    which holds while no instruction decodes under two kinds: kinds
    sharing a program must not have one discriminator prefix another."""
    for kinds in (orca._MULTI_KINDS, ray._MULTI_KINDS):
        for i, a in enumerate(kinds):
            for b in kinds[i + 1:]:
                if set(a[1]) & set(b[1]):
                    da, db = a[2].discriminator, b[2].discriminator
                    assert not da.startswith(db) and not db.startswith(da), (a[0], b[0])

"""End-to-end SVM pipeline tests (SURVEY §5 items 1-3): orca / raydium /
meteora / orca_metadata over one interleaved deterministic instruction
stream, compared row-by-row against the generator's gold outputs, plus a
swap_prices test against a plain-Python simulation of the reference's
join+group_by semantics (swap_prices.py:149-300)."""

from __future__ import annotations

import math
import os
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cherry_pipelines_spark.pipelines.svm import (
    meteora_swaps as met,
    orca_metadata as meta,
    orca_swaps as orca,
    raydium_swaps as ray,
    swap_prices as sp,
)
from tests.svm_fixtures_gen import gen_svm_fixtures

N_SLOTS = 40


@pytest.fixture(scope="module")
def svm(tmp_path_factory):
    d = tmp_path_factory.mktemp("svm_fixtures")
    gen, paths = gen_svm_fixtures(str(d), n_slots=N_SLOTS)
    return gen, paths


def _run(spark, paths, module, tmp_path_factory, with_balances=True):
    sink_dir = str(tmp_path_factory.mktemp(f"{module.TABLE_NAME}_sink"))
    if with_balances:
        pipe = module.build_pipeline(
            paths["instructions"], paths["transactions"], paths["blocks"],
            paths["token_balances"], sink_dir,
        )
    else:
        pipe = module.build_pipeline(
            paths["instructions"], paths["transactions"], paths["blocks"], sink_dir
        )
    n = pipe.run(spark, from_block=0, to_block=N_SLOTS, batch_size=25)
    assert n == 2
    return pipe


def _b(v):
    return bytes(v) if v is not None else None


def test_orca_swaps(spark, svm, tmp_path_factory):
    gen, paths = svm
    pipe = _run(spark, paths, orca, tmp_path_factory)
    rows = pipe.sink.read_table(spark, orca.TABLE_NAME).collect()
    got = {(r["block_slot"], r["transaction_index"]): r for r in rows}
    assert len(rows) == len(gen.gold_orca) > 0
    for g in gen.gold_orca:
        r = got[(g["block_slot"], g["transaction_index"])]
        assert r["version"] == g["version"]
        assert r["amount"] == g["amount"]
        assert r["a_to_b"] == g["a_to_b"]
        assert int(r["sqrt_price_limit"]) == g["sqrt_price_limit"]
        assert _b(r["input_vault"]) == g["input_vault"]
        assert _b(r["output_vault"]) == g["output_vault"]
        assert r["input_amount"] == g["input_amount"]
        assert r["output_amount"] == g["output_amount"]
        assert r["found_input"] == g["found_input"]
        assert r["found_output"] == g["found_output"]
        assert _b(r["input_mint"]) == g["input_mint"]
        assert _b(r["output_mint"]) == g["output_mint"]
        assert _b(r["whirlpool"]) == g["whirlpool"]
        assert r["timestamp"] == 1_700_000_000 + g["block_slot"] * 2
        assert r["block_height"] == g["block_slot"] + 1000
        assert _b(r["transaction_signature"]) is not None
    # second output table (orca_swaps.py:475-478)
    assert pipe.sink.read_table(spark, "token_decimals_table").count() > 0


def test_raydium_swaps(spark, svm, tmp_path_factory):
    gen, paths = svm
    pipe = _run(spark, paths, ray, tmp_path_factory)
    rows = pipe.sink.read_table(spark, ray.TABLE_NAME).collect()
    got = {(r["block_slot"], r["transaction_index"]): r for r in rows}
    assert len(rows) == len(gen.gold_raydium) > 0
    for g in gen.gold_raydium:
        r = got[(g["block_slot"], g["transaction_index"])]
        assert r["swap_kind"] == g["swap_kind"]
        assert _b(r["pool"]) == g["pool"]
        assert r["input_amount"] == g["input_amount"]
        assert r["output_amount"] == g["output_amount"]
        assert _b(r["input_vault"]) == g["input_vault"]
        assert _b(r["output_vault"]) == g["output_vault"]
        assert _b(r["input_mint"]) == g["input_mint"]
        assert _b(r["output_mint"]) == g["output_mint"]
        assert r["amount_in"] == g["amount_in"]
        assert r["max_amount_in"] == g["max_amount_in"]
        assert r["amount"] == g["amount"]


def test_meteora_swaps(spark, svm, tmp_path_factory):
    gen, paths = svm
    pipe = _run(spark, paths, met, tmp_path_factory)
    rows = pipe.sink.read_table(spark, met.TABLE_NAME).collect()
    got = {(r["block_slot"], r["transaction_index"]): r for r in rows}
    # missing-CPI swaps are dropped by the direction split (meteora quirk)
    assert len(rows) == len(gen.gold_meteora) > 0
    for g in gen.gold_meteora:
        r = got[(g["block_slot"], g["transaction_index"])]
        assert _b(r["pool"]) == g["pool"]
        assert r["b_to_a"] == g["b_to_a"]
        assert r["output_amount"] == g["output_amount"]
        assert r["input_amount"] == g["input_amount"]
        assert _b(r["input_mint"]) == g["input_mint"]
        assert _b(r["output_mint"]) == g["output_mint"]
        assert _b(r["input_vault"]) == g["input_vault"]
        assert _b(r["output_vault"]) == g["output_vault"]
        assert r["found_cpi"] is True


def test_orca_metadata(spark, svm, tmp_path_factory):
    gen, paths = svm
    pipe = _run(spark, paths, meta, tmp_path_factory, with_balances=False)
    rows = pipe.sink.read_table(spark, meta.TABLE_NAME).collect()
    got = {(r["block_slot"], r["transaction_index"]): r for r in rows}
    assert len(rows) == len(gen.gold_metadata) > 0
    for g in gen.gold_metadata:
        r = got[(g["block_slot"], g["transaction_index"])]
        assert r["version"] == g["version"]
        assert _b(r["whirlpool"]) == g["whirlpool"]
        assert r["tick_spacing"] == g["tick_spacing"]
        assert int(r["initial_sqrt_price"]) == g["initial_sqrt_price"]


# ----------------------------------------------------------- swap_prices

WSOL, USDC, USDT = sp.WSOL, sp.USDC, sp.USDT
TOKEN_A = (900).to_bytes(32, "big")


def _swap_rows():
    """Hand-crafted raydium_swaps rows: big sol→usdc swaps (clears the
    $1M threshold), token_a→wsol swaps, sub-threshold noise."""
    rows = []
    for slot in range(1, 61):
        ts = 1_700_000_000 + slot
        # sol -> usdc : 10 SOL (1e10 lamports) -> 2000 USDC (2e9 raw)
        rows.append((slot, ts, WSOL, USDC, 10_000_000_000, 2_000_000_000))
        if slot % 3 == 0:
            # token_a -> wsol : 5e9 raw -> 1 SOL
            rows.append((slot, ts, TOKEN_A, WSOL, 5_000_000_000, 1_000_000_000))
        if slot % 7 == 0:
            # usdc -> token_a (flipped direction exercises the union)
            rows.append((slot, ts, USDC, TOKEN_A, 3_000_000, 4_000_000_000))
        if slot % 11 == 0:
            rows.append((slot, ts, WSOL, USDC, 0, 5))  # zero-amount: dropped
    return rows


def _simulate(rows, from_block, to_block):
    """Reference semantics in plain python: directional union, range
    self-join fan-out, group_by sums, decimal(38,9) prices."""
    data = []
    for slot, ts, imint, omint, iamt, oamt in rows:
        if iamt == 0 or oamt == 0:
            continue
        for im, om, ia, oa in ((imint, omint, iamt, oamt), (omint, imint, oamt, iamt)):
            if im in (USDC, USDT):
                continue
            if om == WSOL or om in (USDC, USDT):
                data.append((slot, ts, im, om, Decimal(ia), Decimal(oa)))

    def q6(x):  # Spark decimal(38,9)/(38,9) division lands on scale 6
        return x.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)

    # sol leg
    sol = [r for r in data if r[2] == WSOL and r[3] in (USDC, USDT)]
    sol_prices = {}
    by_slot = {}
    for r in sol:
        by_slot.setdefault(r[0], []).append(r)
    for slot, anchors in sorted(by_slot.items()):
        if slot < from_block:
            continue
        win = [r for r in sol if slot - sp.WINDOW_RANGE <= r[0] <= slot]
        wi = sum(r[4] for r in win)
        wo = sum(r[5] for r in win)
        n = len(anchors)
        ti, to = wi * n, wo * n
        if to > sp.TOTAL_AMOUNT_THRESHOLD:
            sol_prices[slot] = (q6(to / ti) * sp.USD_PRICE, anchors[0][1], to / 1000)
    # usd constant prices
    prices = {(WSOL, s): p for s, (p, _, _) in sol_prices.items()}
    for coin in (USDC, USDT):
        for s in range(from_block, to_block + 1):
            prices[(coin, s)] = Decimal(sp.USD_PRICE)
    # token legs
    token = [r for r in data if r[2] != WSOL and (r[2], r[0]) not in ()]
    token_rows = []
    for slot, ts, im, om, ia, oa in token:
        p = prices.get((om, slot))
        if p is None:
            continue
        token_rows.append((slot, ts, im, ia, q6(oa * p)))
    token_prices = {}
    by_key = {}
    for r in token_rows:
        by_key.setdefault((r[0], r[2]), []).append(r)
    for (slot, mint), anchors in by_key.items():
        if slot < from_block:
            continue
        win = [r for r in token_rows if r[2] == mint and slot - sp.WINDOW_RANGE <= r[0] <= slot]
        n = len(anchors)
        ti = sum(r[3] for r in win) * n
        to = sum(r[4] for r in win) * n
        token_prices[(slot, mint)] = (q6(to / ti), anchors[0][1], to / 1000)
    return sol_prices, token_prices


def test_swap_prices(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("swap_prices_src")
    rows = _swap_rows()
    tbl = pa.table(
        {
            "block_slot": [r[0] for r in rows],
            "timestamp": [r[1] for r in rows],
            "input_mint": [r[2] for r in rows],
            "output_mint": [r[3] for r in rows],
            "input_amount": [r[4] for r in rows],
            "output_amount": [r[5] for r in rows],
        },
        schema=pa.schema(
            [
                ("block_slot", pa.int64()),
                ("timestamp", pa.int64()),
                ("input_mint", pa.binary()),
                ("output_mint", pa.binary()),
                ("input_amount", pa.int64()),
                ("output_amount", pa.int64()),
            ]
        ),
    )
    src = os.path.join(str(d), "raydium_swaps.parquet")
    pq.write_table(tbl, src)
    sink_dir = str(tmp_path_factory.mktemp("swap_prices_sink"))

    n = sp.run(spark, src, sink_dir, from_block=0)
    assert n >= 1

    from cherry_pipelines_spark.sinks.parquet import ParquetSink

    out = ParquetSink(
        base_path=sink_dir, anchor_table=sp.TABLE_NAME, block_column="block_slot"
    ).read_table(spark, sp.TABLE_NAME).collect()
    # run() skips the first WINDOW_RANGE slots (lookback priming)
    start = 1 + sp.WINDOW_RANGE
    sol_exp, tok_exp = _simulate(rows, start, 60)

    got_sol = {r["block_slot"]: r for r in out if bytes(r["mint"]) == WSOL}
    got_tok = {(r["block_slot"], bytes(r["mint"])): r for r in out
               if bytes(r["mint"]) not in (WSOL, USDC, USDT)}
    assert set(got_sol) == set(sol_exp)
    assert set(got_tok) == set(tok_exp)
    for slot, (price, ts, wta) in sol_exp.items():
        r = got_sol[slot]
        assert math.isclose(float(r["price"]), float(price), rel_tol=1e-6)
        assert math.isclose(float(r["window_total_amount"]), float(wta), rel_tol=1e-6)
        assert r["timestamp"] == ts
    for key, (price, ts, _wta) in tok_exp.items():
        r = got_tok[key]
        assert math.isclose(float(r["price"]), float(price), rel_tol=1e-6)
        assert r["timestamp"] == ts


def test_swap_prices_backfill_matches_batch_loop(spark, tmp_path_factory):
    """Backfill mode (one plan, chunked sol window, batch-partitioned
    token window) must reproduce the incremental batch loop bit-for-bit,
    including the loop's token-window truncation at batch starts."""
    d = tmp_path_factory.mktemp("swap_prices_src_bf")
    rows = _swap_rows()
    tbl = pa.table(
        {
            "block_slot": [r[0] for r in rows],
            "timestamp": [r[1] for r in rows],
            "input_mint": [r[2] for r in rows],
            "output_mint": [r[3] for r in rows],
            "input_amount": [r[4] for r in rows],
            "output_amount": [r[5] for r in rows],
        },
        schema=pa.schema(
            [
                ("block_slot", pa.int64()),
                ("timestamp", pa.int64()),
                ("input_mint", pa.binary()),
                ("output_mint", pa.binary()),
                ("input_amount", pa.int64()),
                ("output_amount", pa.int64()),
            ]
        ),
    )
    src = os.path.join(str(d), "raydium_swaps.parquet")
    pq.write_table(tbl, src)

    from cherry_pipelines_spark.sinks.parquet import BATCH_COL, ParquetSink

    # batch_range=15 over 60 slots -> several batches, so boundary
    # behavior is actually exercised; chunk tiny to force chunk spill too
    loop_dir = str(tmp_path_factory.mktemp("sp_loop_sink"))
    bf_dir = str(tmp_path_factory.mktemp("sp_bf_sink"))
    n_loop = sp.run(spark, src, loop_dir, from_block=0, batch_range=15)
    orig_chunk = sp.BACKFILL_CHUNK
    sp.BACKFILL_CHUNK = 32
    try:
        n_bf = sp.run(spark, src, bf_dir, from_block=0, mode="backfill", batch_range=15)
    finally:
        sp.BACKFILL_CHUNK = orig_chunk
    assert n_loop == n_bf >= 2

    def _read(path):
        df = spark.read.parquet(
            os.path.join(path, sp.TABLE_NAME)
        )  # keep _batch_start to compare the on-disk layout too
        out = {}
        for r in df.collect():
            key = (r["block_slot"], bytes(r["mint"]))
            assert key not in out
            out[key] = (
                str(r["price"]),
                r["timestamp"],
                str(r["window_total_amount"]),
                r[BATCH_COL],
            )
        return out

    loop_out, bf_out = _read(loop_dir), _read(bf_dir)
    assert loop_out == bf_out

    # resume-after-backfill: next_block watermark must line up
    s_loop = ParquetSink(base_path=loop_dir, anchor_table=sp.TABLE_NAME, block_column="block_slot")
    s_bf = ParquetSink(base_path=bf_dir, anchor_table=sp.TABLE_NAME, block_column="block_slot")
    assert s_loop.next_block(spark) == s_bf.next_block(spark)


def test_pair_cpi_and_direct_unit(spark):
    """J7 core semantics in isolation (reference meteora_swaps.py:
    257-299), over one frame of swap and CPI rows: index+1 pairing, the
    missing-CPI silent drop, the b_to_a direction swap, and the swap's
    own value winning over the CPI row's for a column both carry."""
    from cherry_pipelines_spark.pipelines.svm.meteora_swaps import (
        pair_cpi_and_direct,
    )

    ab = lambda x, y: (f"m{x}", f"m{y}", f"v{x}", f"v{y}", f"p{x}", f"p{y}")
    cpi_row = (None,) * 6
    rows = spark.createDataFrame(
        [
            # (slot, txi, idx, a/b mint, vault, program, amount_in, cpi)
            (1, 0, 0, *ab("a", "b"), 5, None),  # paired, a->b
            (1, 0, 1, *cpi_row, 999, (False, 50, 500)),
            (1, 0, 2, *ab("c", "d"), 6, None),  # paired, b->a
            (1, 0, 3, *cpi_row, 999, (True, 60, 600)),
            (2, 0, 0, *ab("e", "f"), 7, None),  # CPI missing -> dropped
            (2, 0, 5, *cpi_row, 999, (True, 70, 700)),  # not at idx+1 of any swap
        ],
        "block_slot long, transaction_index long, instruction_index long,"
        "token_a_mint string, token_b_mint string,"
        "token_a_vault string, token_b_vault string,"
        "token_a_program string, token_b_program string, amount_in long,"
        "cpi struct<b_to_a: boolean, input_amount: long, output_amount: long>",
    )
    out = {
        r["instruction_index"]: r.asDict()
        for r in pair_cpi_and_direct(rows).collect()
    }
    assert sorted(out) == [0, 2]  # the slot-2 swap silently dropped
    fwd = out[0]
    assert (fwd["input_mint"], fwd["output_mint"]) == ("ma", "mb")
    assert (fwd["input_vault"], fwd["output_vault"]) == ("va", "vb")
    assert (fwd["input_token_program"], fwd["output_token_program"]) == ("pa", "pb")
    assert fwd["input_amount"] == 50 and fwd["output_amount"] == 500
    assert fwd["amount_in"] == 5  # the swap's own column wins over the CPI row's
    assert fwd["found_cpi"] is True and fwd["b_to_a"] is False
    rev = out[2]
    assert (rev["input_mint"], rev["output_mint"]) == ("md", "mc")
    assert (rev["input_vault"], rev["output_vault"]) == ("vd", "vc")
    assert (rev["input_token_program"], rev["output_token_program"]) == ("pd", "pc")
    assert rev["input_amount"] == 60 and rev["output_amount"] == 600

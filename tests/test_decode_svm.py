"""Unit tests for the borsh instruction decoder (SURVEY §2.6 D2) against
hand-computed byte strings covering the full DynType tree the reference
signatures use (orca_swaps.py:48-173, meteora_swaps.py:37-130)."""

import struct
from decimal import Decimal

from pyspark.sql import types as T

from cherry_pipelines_spark.functions import borsh as B
from cherry_pipelines_spark.functions.crypto import anchor_discriminator


def test_scalars():
    sig = B.InstructionSignature(
        discriminator=b"\x09",
        params=(
            B.ParamInput("amount", B.U64()),
            B.ParamInput("other_amount", B.U64()),
            B.ParamInput("flag", B.Bool()),
        ),
        accounts_names=(),
    )
    data = b"\x09" + struct.pack("<QQ?", 1000, 2000, True)
    out = B.decode_instruction_data(sig, data)
    assert out == {"amount": 1000, "other_amount": 2000, "flag": True}


def test_u128_and_overflow():
    sig = B.InstructionSignature(
        discriminator=anchor_discriminator("swap"),
        params=(B.ParamInput("sqrt_price_limit", B.U128()),),
        accounts_names=(),
    )
    v = 2**100
    data = sig.discriminator + v.to_bytes(16, "little")
    assert B.decode_instruction_data(sig, data)["sqrt_price_limit"] == Decimal(v)
    big = 10**38
    data = sig.discriminator + big.to_bytes(16, "little")
    assert B.decode_instruction_data(sig, data)["sqrt_price_limit"] is None  # overflow→NULL


def test_u64_ge_2_63_null():
    sig = B.InstructionSignature(b"\x03", (B.ParamInput("amount", B.U64()),), ())
    data = b"\x03" + (2**63).to_bytes(8, "little")
    assert B.decode_instruction_data(sig, data)["amount"] is None


def test_option_struct_fixed_array_enum():
    inner = B.Struct(
        (
            ("kind", B.Enum(("base_in", "base_out"))),
            ("vals", B.FixedArray(B.U8(), 4)),
            ("tail", B.Array(B.U16())),
        )
    )
    sig = B.InstructionSignature(
        discriminator=b"\xaa\xbb",
        params=(B.ParamInput("cfg", B.Option(inner)), B.ParamInput("n", B.U32())),
        accounts_names=(),
    )
    # Option tag 1, enum variant 1, 4 raw bytes, array len 2 + two u16, then u32
    data = (
        b"\xaa\xbb"
        + b"\x01"
        + b"\x01"
        + b"\xde\xad\xbe\xef"
        + struct.pack("<I", 2)
        + struct.pack("<HH", 7, 8)
        + struct.pack("<I", 42)
    )
    out = B.decode_instruction_data(sig, data)
    assert out["cfg"] == {"kind": "base_out", "vals": b"\xde\xad\xbe\xef", "tail": [7, 8]}
    assert out["n"] == 42
    # Option tag 0 → None
    data0 = b"\xaa\xbb" + b"\x00" + struct.pack("<I", 5)
    assert B.decode_instruction_data(sig, data0) == {"cfg": None, "n": 5}


def test_malformed_returns_none():
    sig = B.InstructionSignature(b"\x03", (B.ParamInput("amount", B.U64()),), ())
    assert B.decode_instruction_data(sig, b"\x03\x01\x02") is None  # short
    assert B.decode_instruction_data(sig, b"\x04" + b"\x00" * 8) is None  # wrong disc
    assert B.decode_instruction_data(sig, None) is None


def test_decode_instructions_df(spark):
    """End-to-end: discriminator routing + account renames + decode."""
    disc = anchor_discriminator("swap")
    sig = B.InstructionSignature(
        discriminator=disc,
        params=(B.ParamInput("amount", B.U64()), B.ParamInput("a_to_b", B.Bool())),
        accounts_names=("token_program", "token_authority", "whirlpool"),
    )
    mk = lambda amount, a2b: disc + struct.pack("<Q?", amount, a2b)
    rows = [
        (5, 0, [0], b"P1", b"A1", b"W1", mk(100, True)),
        (5, 1, [1], b"P1", b"A2", b"W2", mk(200, False)),
        (5, 2, [2], b"P1", b"A3", b"W3", b"\xff" + b"\x00" * 8),  # other disc → dropped
    ]
    schema = T.StructType(
        [
            T.StructField("block_slot", T.LongType()),
            T.StructField("transaction_index", T.LongType()),
            T.StructField("instruction_address", T.ArrayType(T.IntegerType())),
            T.StructField("a0", T.BinaryType()),
            T.StructField("a1", T.BinaryType()),
            T.StructField("a2", T.BinaryType()),
            T.StructField("data", T.BinaryType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    out = B.decode_instructions_df(df, sig).orderBy("transaction_index").collect()
    assert len(out) == 2
    assert bytes(out[0]["whirlpool"]) == b"W1"
    assert out[0]["amount"] == 100 and out[0]["a_to_b"] is True
    assert out[1]["amount"] == 200 and out[1]["a_to_b"] is False


def test_rest_of_accounts(spark):
    """Accounts beyond a9 come from rest_of_accounts (17-account raydium
    AMM instructions, FIXTURES.md)."""
    sig = B.InstructionSignature(
        discriminator=b"\x09",
        params=(B.ParamInput("amount_in", B.U64()),),
        accounts_names=tuple(f"acc{i}" for i in range(12)),
    )
    row = (
        [1, 0, [0]]
        + [bytes([65 + i]) for i in range(10)]  # a0..a9
        + [[b"K10", b"K11"], b"\x09" + struct.pack("<Q", 777)]
    )
    fields = [
        T.StructField("block_slot", T.LongType()),
        T.StructField("transaction_index", T.LongType()),
        T.StructField("instruction_address", T.ArrayType(T.IntegerType())),
    ]
    fields += [T.StructField(f"a{i}", T.BinaryType()) for i in range(10)]
    fields += [
        T.StructField("rest_of_accounts", T.ArrayType(T.BinaryType())),
        T.StructField("data", T.BinaryType()),
    ]
    df = spark.createDataFrame([tuple(row)], T.StructType(fields))
    out = B.decode_instructions_df(df, sig).collect()[0]
    assert bytes(out["acc0"]) == b"A"
    assert bytes(out["acc9"]) == b"J"
    assert bytes(out["acc10"]) == b"K10"
    assert bytes(out["acc11"]) == b"K11"
    assert out["amount_in"] == 777


def test_fixed_fast_path_differential(spark):
    """The fixed-width SQL decode must agree row-for-row with the
    per-row reader across all fixed kinds and failure modes: bad bool
    byte / bad enum index (row dropped), u64 > int64 max and u128
    overflow (NULL value), short buffer (dropped), trailing bytes
    (ignored), and every int at its range and sign-bit edges.  The same
    rows go through decode_instructions_multi with a second kind of the
    same discriminator, so each row decodes under both kinds."""
    import random

    rng = random.Random(777)
    sig = B.InstructionSignature(
        discriminator=b"\x2a",
        params=(
            B.ParamInput("a_u8", B.U8()),
            B.ParamInput("b_u16", B.U16()),
            B.ParamInput("c_u32", B.U32()),
            B.ParamInput("d_u64", B.U64()),
            B.ParamInput("e_u128", B.U128()),
            B.ParamInput("f_i8", B.I8()),
            B.ParamInput("g_i64", B.I64()),
            B.ParamInput("h_i128", B.I128()),
            B.ParamInput("i_bool", B.Bool()),
            B.ParamInput("j_enum", B.Enum(("x", "y", "z"))),
            B.ParamInput("k_bytes", B.FixedArray(B.U8(), 5)),
            B.ParamInput("l_i16", B.I16()),
            B.ParamInput("m_i32", B.I32()),
        ),
        accounts_names=(),
    )
    # offset (after the discriminator), width and signedness per int
    ints = {
        name: (off, w, signed)
        for name, off, w, kind, signed in B._fixed_layout(sig.params)
        if kind in ("uint", "int", "u64", "u128", "i128")
    }
    width = sum(e[2] for e in B._fixed_layout(sig.params))
    boff = ints["h_i128"][0] + 16  # bool offset; the enum follows it
    edges = {
        "d_u64": [0, 2**63 - 1, 2**63, 2**64 - 1],
        "e_u128": [0, 10**38 - 1, 10**38, 2**128 - 1],
        "h_i128": [10**38 - 1, 10**38, -(10**38 - 1), -(10**38), -(2**127), 2**127 - 1, -1],
        "f_i8": [-128, -1, 0, 127],
        "l_i16": [-(2**15), -1, 2**15 - 1],
        "m_i32": [-(2**31), -1, 2**31 - 1],
        "g_i64": [-(2**63), -1, 2**63 - 1],
        "a_u8": [255],
        "b_u16": [2**16 - 1],
        "c_u32": [2**32 - 1],
    }

    def valid_body():
        body = bytearray(rng.randbytes(width))
        body[boff] = rng.randint(0, 1)
        body[boff + 1] = rng.randint(0, 2)
        return body

    rows = []
    for i in range(300):
        body = bytearray(rng.randbytes(width))
        mode = i % 6
        if mode == 0:
            body = valid_body()
        elif mode == 1:
            body[boff] = rng.randint(2, 255)  # bad bool -> dropped
        elif mode == 2:
            body[boff] = 1
            body[boff + 1] = rng.randint(3, 255)  # bad enum -> dropped
        elif mode == 3:  # u64 overflow -> NULL value
            off, w, _ = ints["d_u64"]
            body[off : off + w] = (2**63 + i).to_bytes(8, "little")
            body[boff] = 0
            body[boff + 1] = 0
        data = b"\x2a" + bytes(body)
        if mode == 4:
            data = data[: rng.randint(1, width)]  # short buffer -> dropped
        elif mode == 5:
            data = data + rng.randbytes(3)  # trailing -> ignored
        rows.append(data)
    for name, values in edges.items():
        off, w, signed = ints[name]
        for v in values:
            body = valid_body()
            body[off : off + w] = v.to_bytes(w, "little", signed=signed)
            rows.append(b"\x2a" + bytes(body))
    rows = list(enumerate(rows))

    def norm(d):
        return {k: (bytes(v) if isinstance(v, (bytes, bytearray)) else v) for k, v in d.items()}

    def check(sig, got):
        for i, data in rows:
            expect = B.decode_instruction_data(sig, data)
            if expect is None:
                assert i not in got, f"row {i} should be dropped"
            else:
                assert i in got, f"row {i} should be kept"
                assert norm(got[i]) == norm(expect), f"row {i}: {got[i]} != {expect}"

    df = spark.createDataFrame(rows, "row_id long, data binary")
    check(sig, {
        r["row_id"]: {p.name: r[p.name] for p in sig.params}
        for r in B.decode_instructions_df(df, sig, passthrough=("row_id",)).collect()
    })

    # a second kind of the same discriminator and program reads other
    # offsets and widths; its bool is the first kind's, so every valid
    # row of the first kind decodes under both
    other = B.InstructionSignature(
        discriminator=b"\x2a",
        params=(
            B.ParamInput("s_i16", B.I16()),
            B.ParamInput("t_u128", B.U128()),
            B.ParamInput("w_i128", B.I128()),
            B.ParamInput("u_i32", B.I32()),
            B.ParamInput("x_bytes", B.FixedArray(B.U8(), boff - 38)),
            B.ParamInput("v_bool", B.Bool()),
        ),
        accounts_names=(),
    )
    prog = b"P" * 32
    kinds = [("main", (prog,), sig), ("other", (prog,), other)]
    fused = B.decode_instructions_multi(
        df.selectExpr("row_id", f"X'{prog.hex()}' AS program_id", "data"),
        kinds,
        passthrough=("row_id",),
    ).collect()
    for key, _p, ksig in kinds:
        got = {
            r["row_id"]: {p.name: r[f"{key}__{p.name}"] for p in ksig.params}
            for r in fused if r["_kind"] == key
        }
        check(ksig, got)
    both = {r["row_id"] for r in fused if r["_kind"] == "main"} & {
        r["row_id"] for r in fused if r["_kind"] == "other"
    }
    assert len(both) > 50
    # a row decodes under each of its kinds with the other kind's columns NULL
    for r in fused:
        absent = other if r["_kind"] == "main" else sig
        key = "other" if r["_kind"] == "main" else "main"
        assert all(r[f"{key}__{p.name}"] is None for p in absent.params)


def test_drop_params_suffix_skip(spark):
    """A dropped trailing param is skipped entirely (keeping the decode
    on the fixed-width fast path); non-suffix drops are rejected."""
    import pytest

    disc = b"\x07"
    sig = B.InstructionSignature(
        discriminator=disc,
        params=(
            B.ParamInput("amount", B.U64()),
            B.ParamInput("flag", B.Bool()),
            # variable-width tail (forces the slow path when decoded)
            B.ParamInput("extras", B.Option(B.Array(B.U8()))),
        ),
        accounts_names=("payer",),
    )
    # Option tag present and VALID (Some + 2-element array)
    valid_tail = disc + struct.pack("<Q?", 42, True) + b"\x01\x02\x00\x00\x00\x09\x09"
    # Option tag claims Some but the array is truncated — malformed tail
    bad_tail = disc + struct.pack("<Q?", 43, False) + b"\x01\x05\x00\x00\x00\x09"
    schema = T.StructType(
        [
            T.StructField("block_slot", T.LongType()),
            T.StructField("transaction_index", T.LongType()),
            T.StructField("instruction_address", T.ArrayType(T.IntegerType())),
            T.StructField("a0", T.BinaryType()),
            T.StructField("data", T.BinaryType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, 0, [0], b"P", valid_tail), (1, 1, [1], b"P", bad_tail)], schema
    )
    out = (
        B.decode_instructions_df(df, sig, drop_params=("extras",))
        .orderBy("transaction_index")
        .collect()
    )
    # both rows survive (prefix-validated); no extras column exists
    assert len(out) == 2
    assert "extras" not in out[0].asDict()
    assert out[0]["amount"] == 42 and out[0]["flag"] is True
    assert out[1]["amount"] == 43 and out[1]["flag"] is False
    # full decode drops the malformed-tail row — the documented delta
    full = B.decode_instructions_df(df, sig).collect()
    assert len(full) == 1 and full[0]["amount"] == 42
    with pytest.raises(ValueError):
        B.decode_instructions_df(df, sig, drop_params=("amount",))


def _kind_frame(fused, kind, passthrough):
    """One kind of the fused decode, projected with kind_columns: the
    projection the SVM pipelines make over the fused frame."""
    return fused.filter(f"`_kind` = '{kind[0]}'").selectExpr(
        *[f"`{c}`" for c in passthrough],
        *[f"{sql} AS `{name}`" for name, sql in B.kind_columns(kind)],
    )


def test_multi_decode_matches_per_branch(spark):
    """Differential gate for the fused dispatch (round-11): every kind
    of decode_instructions_multi, projected with kind_columns, must be
    row- and value-identical to filter-then-decode_instructions_df, including
    the variable-width fallback path, drop_params trimming, the
    malformed-row drop, and program-set routing."""
    import struct as _s

    from pyspark.sql import functions as F

    progA, progB = b"PROG_A" + b"\x00" * 26, b"PROG_B" + b"\x00" * 26
    discX, discY = anchor_discriminator("x"), b"\x07"
    sigX = B.InstructionSignature(
        discriminator=discX,
        params=(B.ParamInput("amount", B.U64()), B.ParamInput("flag", B.Bool())),
        accounts_names=("auth", "pool"),
    )
    # variable-width param (falls back to the per-row reader) + a
    # droppable suffix
    sigY = B.InstructionSignature(
        discriminator=discY,
        params=(
            B.ParamInput("n", B.U32()),
            B.ParamInput("blob", B.Array(B.U8())),
        ),
        accounts_names=("src", "dst"),
    )
    mkx = lambda a, f: discX + _s.pack("<Q?", a, f)
    mky = lambda n, s: discY + _s.pack("<I", n) + _s.pack("<I", len(s)) + s
    rows = [
        (1, 0, [0], b"a", b"b", progA, mkx(10, True)),
        (1, 1, [0], b"c", b"d", progA, mkx(20, False)),
        (1, 2, [0], b"e", b"f", progB, mky(7, b"hi")),
        (1, 3, [0], b"g", b"h", progB, mky(9, b"yo")),
        (1, 4, [0], b"i", b"j", progA, b"\xff\xff"),  # wrong disc -> no kind
        (1, 5, [0], b"k", b"l", progB, discY + b"\x01"),  # malformed -> dropped
        (1, 6, [0], b"m", b"n", progB, mkx(30, True)),  # wrong program for X
    ]
    schema = T.StructType(
        [
            T.StructField("block_slot", T.LongType()),
            T.StructField("transaction_index", T.LongType()),
            T.StructField("instruction_address", T.ArrayType(T.IntegerType())),
            T.StructField("a0", T.BinaryType()),
            T.StructField("a1", T.BinaryType()),
            T.StructField("program_id", T.BinaryType()),
            T.StructField("data", T.BinaryType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    pt = ("block_slot", "transaction_index", "instruction_address")
    kinds = [("kx", (progA,), sigX), ("ky", (progB,), sigY)]
    fused = B.decode_instructions_multi(df, kinds, passthrough=pt)
    split = {k[0]: _kind_frame(fused, k, pt) for k in kinds}
    for key, progs, sig in kinds:
        branch = df.filter(
            F.col("program_id").isin([*progs])
            & F.col("data").startswith(F.lit(sig.discriminator))
        )
        want = B.decode_instructions_df(branch, sig, passthrough=pt)
        got = split[key]
        assert got.columns == want.columns, (key, got.columns, want.columns)
        w = sorted(map(tuple, want.collect()))
        g = sorted(map(tuple, got.collect()))
        assert g == w, (key, g, w)
    # drop_params parity through the kind tuple's 4th slot
    kinds_dp = [("ky", (progB,), sigY, ("blob",))]
    got = _kind_frame(
        B.decode_instructions_multi(df, kinds_dp, passthrough=pt), kinds_dp[0], pt
    )
    want = B.decode_instructions_df(
        df.filter(F.col("program_id") == F.lit(progB)),
        sigY,
        passthrough=pt,
        drop_params=("blob",),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_multi_decode_overlapping_kinds_decode_under_both(spark):
    """Parity under OVERLAP: when one kind's discriminator is a prefix
    of another's (same program), a matching row must decode under BOTH
    kinds — exactly like the independent per-branch filters the fused
    form replaces (a first-match-wins claim would silently drop rows
    from the longer-discriminator kind)."""
    import struct as _s

    from pyspark.sql import functions as F

    prog = b"PROG_O" + b"\x00" * 26
    sig_short = B.InstructionSignature(
        discriminator=b"\x03",
        params=(B.ParamInput("x", B.U64()),),
        accounts_names=("a",),
    )
    sig_long = B.InstructionSignature(
        discriminator=b"\x03\x01",
        params=(B.ParamInput("y", B.U32()),),
        accounts_names=("b",),
    )
    rows = [
        # matches BOTH: starts \x03\x01, long enough for either layout
        (1, 0, [0], b"A", prog, b"\x03\x01" + _s.pack("<I", 9) + b"\x00" * 3),
        # matches only the short kind
        (1, 1, [0], b"B", prog, b"\x03\x02" + b"\x00" * 7),
    ]
    schema = T.StructType(
        [
            T.StructField("block_slot", T.LongType()),
            T.StructField("transaction_index", T.LongType()),
            T.StructField("instruction_address", T.ArrayType(T.IntegerType())),
            T.StructField("a0", T.BinaryType()),
            T.StructField("program_id", T.BinaryType()),
            T.StructField("data", T.BinaryType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    pt = ("block_slot", "transaction_index", "instruction_address")
    kinds = [("short", (prog,), sig_short), ("long", (prog,), sig_long)]
    fused = B.decode_instructions_multi(df, kinds, passthrough=pt)
    split = {k[0]: _kind_frame(fused, k, pt) for k in kinds}
    for key, progs, sig in kinds:
        branch = df.filter(
            F.col("program_id").isin([*progs])
            & F.col("data").startswith(F.lit(sig.discriminator))
        )
        want = sorted(
            map(tuple, B.decode_instructions_df(branch, sig, passthrough=pt).collect())
        )
        got = sorted(map(tuple, split[key].collect()))
        assert got == want, (key, got, want)
    assert split["short"].count() == 2  # both rows
    assert split["long"].count() == 1  # the overlap row, not dropped


def test_multi_decode_empty_kinds_raises(spark):
    import pytest as _pt

    df = spark.createDataFrame([(1, b"x", b"y")], "block_slot long, program_id binary, data binary")
    with _pt.raises(ValueError, match="non-empty"):
        B.decode_instructions_multi(df, [])


def test_multi_decode_duplicate_keys_raise(spark):
    import pytest as _pt

    df = spark.createDataFrame(
        [(1, b"x", b"y")], "block_slot long, program_id binary, data binary"
    )
    sig = B.InstructionSignature(b"\x01", (B.ParamInput("amount", B.U64()),), ())
    with _pt.raises(ValueError, match="unique"):
        B.decode_instructions_multi(df, [("k", [b"x"], sig), ("k", [b"x"], sig)])

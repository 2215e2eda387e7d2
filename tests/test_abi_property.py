"""Property-based roundtrips for the EVM ABI event decoder: random
signatures over the supported static types, random values, encoded into
topics/data words by an independent test-side writer, decoded by
``decode_event_row``; plus corruption properties (extra topic, length
mismatch, dirty padding → None, mirroring allow_decode_fail routing)."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from cherry_pipelines_spark.functions import abi

_DEC38_MAX = 10**38 - 1

_TYPES = (
    "address",
    "bool",
    "uint8",
    "uint32",
    "uint64",
    "uint128",
    "uint256",
    "int64",
    "int256",
    "bytes4",
    "bytes32",
)


def values_for(typ: str) -> st.SearchStrategy:
    if typ == "address":
        return st.binary(min_size=20, max_size=20)
    if typ == "bool":
        return st.booleans()
    if typ.startswith("uint"):
        bits = int(typ[4:])
        return st.integers(0, 2**bits - 1)
    if typ.startswith("int"):
        bits = int(typ[3:])
        return st.integers(-(2 ** (bits - 1)), 2 ** (bits - 1) - 1)
    if typ.startswith("bytes"):
        n = int(typ[5:])
        return st.binary(min_size=n, max_size=n)
    raise AssertionError(typ)


def encode_word(typ: str, v) -> bytes:
    if typ == "address":
        return bytes(12) + v
    if typ == "bool":
        return bytes(31) + (b"\x01" if v else b"\x00")
    if typ.startswith("uint"):
        return int(v).to_bytes(32, "big")
    if typ.startswith("int"):
        return int(v).to_bytes(32, "big", signed=True)
    if typ.startswith("bytes"):
        return v + bytes(32 - len(v))
    raise AssertionError(typ)


def expected(typ: str, v):
    if typ == "address":
        return v
    if typ == "bool":
        return v
    if typ.startswith("uint"):
        bits = int(typ[4:])
        if bits <= 32:
            return v
        return Decimal(v) if v <= _DEC38_MAX else None
    if typ.startswith("int"):
        bits = int(typ[3:])
        if bits <= 64:
            return v
        return Decimal(v) if abs(v) <= _DEC38_MAX else None
    if typ.startswith("bytes"):
        return v
    raise AssertionError(typ)


@st.composite
def events(draw):
    n_params = draw(st.integers(1, 4))
    typs = [draw(st.sampled_from(_TYPES)) for _ in range(n_params)]
    n_indexed = draw(st.integers(0, min(3, n_params)))
    indexed = [i < n_indexed for i in range(n_params)]
    vals = [draw(values_for(t)) for t in typs]
    return typs, indexed, vals


def build_sig_and_words(typs, indexed, vals):
    sig_str = "Ev(" + ", ".join(
        f"{t}{' indexed' if ix else ''} p{i}" for i, (t, ix) in enumerate(zip(typs, indexed))
    ) + ")"
    sig = abi.parse_event_signature(sig_str)
    topics: list[bytes | None] = [None]  # topic0 unused by the row decoder
    data = b""
    for t, ix, v in zip(typs, indexed, vals):
        w = encode_word(t, v)
        if ix:
            topics.append(w)
        else:
            data += w
    while len(topics) < 4:
        topics.append(None)
    return sig, topics, data


@settings(max_examples=300, deadline=None)
@given(events())
def test_roundtrip(ev):
    typs, indexed, vals = ev
    sig, topics, data = build_sig_and_words(typs, indexed, vals)
    out = abi.decode_event_row(sig, topics, data)
    assert out is not None
    for i, (t, v) in enumerate(zip(typs, vals)):
        assert out[f"p{i}"] == expected(t, v), (t, v, out)
        if abi._wide_uint(t):
            assert out[f"p{i}_raw"] == encode_word(t, v)


@settings(max_examples=100, deadline=None)
@given(events())
def test_extra_topic_rejected(ev):
    typs, indexed, vals = ev
    if sum(indexed) >= 3:
        return
    sig, topics, data = build_sig_and_words(typs, indexed, vals)
    topics[1 + sum(indexed)] = bytes(32)  # an ERC-721-style surplus topic
    assert abi.decode_event_row(sig, topics, data) is None


@settings(max_examples=100, deadline=None)
@given(events())
def test_data_length_mismatch_rejected(ev):
    typs, indexed, vals = ev
    sig, topics, data = build_sig_and_words(typs, indexed, vals)
    assert abi.decode_event_row(sig, topics, data + bytes(1)) is None
    if len(data) >= 32:
        assert abi.decode_event_row(sig, topics, data[:-1]) is None


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=1, max_size=12).filter(lambda b: any(b)))
def test_dirty_address_padding_rejected(junk):
    sig = abi.parse_event_signature("Ev(address a)")
    word = junk.rjust(12, b"\x00") + bytes(20)
    assert abi.decode_event_row(sig, [None], word) is None


# --------------------------------------------------------------------
# Differential test against eth_abi (the canonical Python ABI codec).
# The package is NOT installed in this container (verified: pip-less
# environment, `import eth_abi` → ModuleNotFoundError), so the test
# auto-skips here; on an environment that has it, 1000 random
# signatures/payloads are encoded by eth_abi and decoded by our
# decoder, catching shared-blind-spot bugs the self-roundtrip above
# cannot (our encoder and decoder were written together; eth_abi's
# encoder was not).  Dynamic types included — eth_abi emits canonical
# tight in-order tails, which is exactly what decode_event_row pins.
# --------------------------------------------------------------------
try:
    import eth_abi as _eth_abi
    _HAS_ETH_ABI = True
except ModuleNotFoundError:
    _HAS_ETH_ABI = False

import pytest as _pytest


@_pytest.mark.skipif(not _HAS_ETH_ABI, reason="eth_abi not installed in container")
@settings(max_examples=1000, deadline=None)
@given(events())
def test_differential_vs_eth_abi(ev):
    typs, indexed, vals = ev
    sig, topics, _ = build_sig_and_words(typs, indexed, vals)
    # eth_abi encodes the non-indexed params as the data payload
    non_ix = [(t, v) for t, ix, v in zip(typs, indexed, vals) if not ix]
    data = _eth_abi.encode([t for t, _ in non_ix], [v for _, v in non_ix])
    out = abi.decode_event_row(sig, topics, data)
    assert out is not None
    for i, (t, ix, v) in enumerate(zip(typs, indexed, vals)):
        assert out[f"p{i}"] == expected(t, v), (t, v)


# --------------------------------------------------------------------
# Dynamic-type roundtrips: random signatures mixing static params with
# T[] arrays (every supported base), bytes, and string; values encoded
# canonically (tight in-order tails) by an independent test-side
# writer; decoded by decode_event_row.  The row decoder is the reference
# the Spark SQL decode is differentially tested against
# (tests/test_abi_dyn_vectorized.py), so value-correctness proven here
# transfers to both.
# --------------------------------------------------------------------

_DYN_BASES = ("uint8", "uint32", "uint64", "uint256", "int32", "int64",
              "int256", "address", "bool", "bytes4", "bytes32")


def _dyn_values_for(typ: str) -> st.SearchStrategy:
    if typ == "bytes":
        return st.binary(max_size=80)
    if typ == "string":
        return st.text(max_size=40)
    base = typ[:-2]
    return st.lists(values_for(base), max_size=5)


def _expected_dyn(typ: str, v):
    if typ == "bytes":
        return v
    if typ == "string":
        return v
    return [expected(typ[:-2], x) for x in v]


def _encode_tail(typ: str, v) -> bytes:
    if typ in ("bytes", "string"):
        payload = v.encode("utf-8") if typ == "string" else v
        pad = (-len(payload)) % 32
        return len(payload).to_bytes(32, "big") + payload + bytes(pad)
    base = typ[:-2]
    return len(v).to_bytes(32, "big") + b"".join(encode_word(base, x) for x in v)


@st.composite
def dyn_events(draw):
    n_params = draw(st.integers(1, 5))
    typs = []
    for _ in range(n_params):
        kind = draw(st.sampled_from(("static", "arr", "blob")))
        if kind == "static":
            typs.append(draw(st.sampled_from(_TYPES)))
        elif kind == "arr":
            typs.append(draw(st.sampled_from(_DYN_BASES)) + "[]")
        else:
            typs.append(draw(st.sampled_from(("bytes", "string"))))
    if not any(t.endswith("[]") or t in ("bytes", "string") for t in typs):
        typs[0] = draw(st.sampled_from(_DYN_BASES)) + "[]"
    # indexed flags only on STATIC params (indexed dynamic is refused)
    static_pos = [i for i, t in enumerate(typs)
                  if not (t.endswith("[]") or t in ("bytes", "string"))]
    n_ix = draw(st.integers(0, min(3, len(static_pos))))
    ix_set = set(static_pos[:n_ix])
    indexed = [i in ix_set for i in range(n_params)]
    vals = [
        draw(_dyn_values_for(t))
        if (t.endswith("[]") or t in ("bytes", "string"))
        else draw(values_for(t))
        for t in typs
    ]
    return typs, indexed, vals


def _build_dyn(typs, indexed, vals):
    sig_str = "Ev(" + ", ".join(
        f"{t}{' indexed' if ix else ''} p{i}"
        for i, (t, ix) in enumerate(zip(typs, indexed))
    ) + ")"
    sig = abi.parse_event_signature(sig_str)
    topics: list = [None]
    heads: list = []
    tails: list[bytes] = []
    n_heads = sum(1 for ix in indexed if not ix)
    head_bytes = 32 * n_heads
    for t, ix, v in zip(typs, indexed, vals):
        dyn = t.endswith("[]") or t in ("bytes", "string")
        if ix:
            topics.append(encode_word(t, v))
            continue
        if dyn:
            heads.append(("off", len(tails)))
            tails.append(_encode_tail(t, v))
        else:
            heads.append(("word", encode_word(t, v)))
    # canonical offsets: tails tightly packed in head order
    offs, acc = [], head_bytes
    for tl in tails:
        offs.append(acc)
        acc += len(tl)
    data = b"".join(
        offs[h[1]].to_bytes(32, "big") if h[0] == "off" else h[1]
        for h in heads
    ) + b"".join(tails)
    while len(topics) < 4:
        topics.append(None)
    return sig, topics, data


@settings(max_examples=300, deadline=None)
@given(dyn_events())
def test_dynamic_roundtrip(ev):
    typs, indexed, vals = ev
    sig, topics, data = _build_dyn(typs, indexed, vals)
    out = abi.decode_event_row(sig, topics, data)
    assert out is not None, (typs, indexed, vals)
    for i, (t, v) in enumerate(zip(typs, vals)):
        if t.endswith("[]") or t in ("bytes", "string"):
            assert out[f"p{i}"] == _expected_dyn(t, v), (t, v)
        else:
            assert out[f"p{i}"] == expected(t, v), (t, v)


@settings(max_examples=150, deadline=None)
@given(dyn_events())
def test_dynamic_trailing_byte_rejected(ev):
    typs, indexed, vals = ev
    sig, topics, data = _build_dyn(typs, indexed, vals)
    assert abi.decode_event_row(sig, topics, data + bytes(1)) is None
    assert abi.decode_event_row(sig, topics, data + bytes(32)) is None


# ----------------------------------------------------------- Spark static path
# every static width: uint8..uint256, int8..int256, bytes1..bytes32, plus
# address and bool; each signature fills the three topics its own way
_STATIC_SIGS = (
    "U(uint256 indexed ta, uint8 indexed tb, "
    + ", ".join(f"uint{8 * k} u{k}" for k in range(1, 33)) + ")",
    "I(int64 indexed ta, int256 indexed tb, int8 indexed tc, "
    + ", ".join(f"int{8 * k} i{k}" for k in range(1, 33)) + ")",
    "B(address indexed ta, "
    + ", ".join(f"bytes{k} b{k}" for k in range(1, 33)) + ", bool z, address a)",
    "M(address a, bool b, uint256 c, int128 d)",
)


def _static_word(rng, typ: str) -> bytes:
    """A random 32-byte word for ``typ``: mostly canonical, at range
    and sign edges, sometimes with dirty padding."""
    if typ == "address":
        w = bytes(12) + rng.randbytes(20)
    elif typ == "bool":
        w = bytes(31) + bytes([rng.choice((0, 1, 2, 255))])
    elif typ.startswith("bytes"):
        n = int(typ[5:])
        w = rng.randbytes(n) + bytes(32 - n)
    else:
        signed = typ.startswith("int")
        bits = int(typ[3:] if signed else typ[4:])
        lo, hi = (-(2 ** (bits - 1)), 2 ** (bits - 1) - 1) if signed else (0, 2**bits - 1)
        edges = [lo, hi, 0, rng.randint(lo, hi), 10**38 - 1, 10**38, -(10**38 - 1), -(10**38)]
        if signed:
            edges.append(-1)
        v = rng.choice([e for e in edges if lo <= e <= hi])
        w = v.to_bytes(32, "big", signed=signed)
    if rng.random() < 0.08:  # dirty: any byte of the word may change
        i = rng.randrange(32)
        w = w[:i] + bytes([w[i] ^ (1 << rng.randrange(8))]) + w[i + 1 :]
    return w


def _static_rows(rng, sig, n: int):
    idx = [p for p in sig.params if p.indexed]
    rows = []
    for i in range(n):
        topics = [_static_word(rng, p.type) for p in idx] + [None] * (3 - len(idx))
        data = b"".join(_static_word(rng, p.type) for p in sig.params if not p.indexed)
        mode = rng.randrange(12)
        if mode == 0 and idx:
            topics[rng.randrange(len(idx))] = None  # missing topic
        elif mode == 1 and idx:
            k = rng.randrange(len(idx))
            topics[k] = topics[k][:31]  # short topic
        elif mode == 2 and len(idx) < 3:
            topics[rng.randrange(len(idx), 3)] = rng.randbytes(32)  # extra topic
        elif mode == 3:
            data += b"\x00"  # trailing byte
        elif mode == 4:
            data = data[:-32]  # one word short
        elif mode == 5:
            data = None
        rows.append((i, *topics, data))
    return rows


@_pytest.mark.parametrize("allow", [True, False], ids=["allow_fail", "strict"])
def test_static_sql_decode_matches_row_decoder(spark, allow):
    """The Spark decode of an all-static signature (SQL expressions)
    agrees with decode_event_row on every row: values, NULLs and
    <name>_raw words; failing rows NULL when ``allow_decode_fail``,
    dropped otherwise."""
    import random

    rng = random.Random(20251019)
    norm = lambda v: bytes(v) if isinstance(v, (bytes, bytearray)) else v  # noqa: E731
    for sig_str in _STATIC_SIGS:
        sig = abi.parse_event_signature(sig_str)
        names = abi.output_schema(sig).fieldNames()
        rows = _static_rows(rng, sig, 160)
        df = spark.createDataFrame(
            rows, "row_id long, topic1 binary, topic2 binary, topic3 binary, data binary"
        )
        got = {
            r["row_id"]: {k: norm(r[k]) for k in names}
            for r in abi.decode_events_df(df, sig_str, allow_decode_fail=allow).collect()
        }
        n_ok = 0
        for row_id, t1, t2, t3, data in rows:
            want = abi.decode_event_row(sig, [None, t1, t2, t3], data)
            n_ok += want is not None
            if want is None:
                if allow:
                    assert got[row_id] == dict.fromkeys(names), (sig.name, row_id)
                else:
                    assert row_id not in got, (sig.name, row_id)
            else:
                assert got[row_id] == {k: norm(want.get(k)) for k in names}, (sig.name, row_id)
        assert 0 < n_ok < len(rows), sig.name  # both outcomes exercised

"""Differential suite for the Spark decode of dynamic ABI signatures
(``decode_events_df``, generated SQL): for signatures whose dynamic
params are ``T[]`` arrays, ``bytes`` blobs or ``string``s, every row
must decode exactly as the per-row reference ``decode_event_row`` does,
in both ``allow_decode_fail`` modes, on well-formed AND adversarial
payloads — short data, non-canonical / gapped / out-of-bounds offsets,
oversized lengths (beyond 2^63, or wrapping 64 bits when multiplied by
32), dirty element padding, >10^38-1 elements (element-NULL, row kept),
missing / extra / gapped topics, NULL and empty data, trailing bytes,
invalid utf-8 in string params (row-NULL), dirty-but-accepted blob pad
bytes."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import types as T

SIG = (
    "TransferBatch(address indexed operator, address indexed from, "
    "address indexed to, uint256[] ids, uint256[] values)"
)
SIG_MIXED = (
    "Mixed(address indexed who, uint64 nonce, uint32[] small, "
    "uint256 total, uint256[] big)"
)
SIG_NO_TOPIC = "Flat(uint8[] tags)"

_DEC38_MAX = 10**38 - 1


def _w(v: int) -> bytes:
    return int(v).to_bytes(32, "big")


def _enc_uint_arr(vals: list[int]) -> bytes:
    return _w(len(vals)) + b"".join(_w(v) for v in vals)


def _good_batch_row(seed: int):
    rng = random.Random(seed)
    k = rng.randrange(0, 4)
    ids = [rng.randrange(0, 2**200) for _ in range(k)]
    vals = [rng.choice([rng.randrange(0, 10**38), 10**38 - 1, 10**38,
                        rng.randrange(0, 2**256)]) for _ in range(k)]
    head = _w(64) + _w(64 + 32 * (k + 1))
    data = head + _enc_uint_arr(ids) + _enc_uint_arr(vals)
    t = lambda i: _w(seed * 7 + i)
    return (seed, t(1), t(2), t(3), data)


def _adversarial_rows():
    t = lambda i: _w(1000 + i)
    ok2 = _w(64) + _w(64 + 32 * 3) + _enc_uint_arr([5, 6]) + _enc_uint_arr([7, 8])
    rows = [
        # 0: well-formed, 2 elements each
        (0, t(1), t(2), t(3), ok2),
        # 1: NULL data
        (1, t(1), t(2), t(3), None),
        # 2: empty data
        (2, t(1), t(2), t(3), b""),
        # 3: data shorter than head
        (3, t(1), t(2), t(3), _w(64)),
        # 4: head only, no tails (offset out of bounds)
        (4, t(1), t(2), t(3), _w(64) + _w(96)),
        # 5: non-canonical first offset (gap of one word)
        (5, t(1), t(2), t(3),
         _w(96) + _w(96 + 32 * 3) + _w(0)
         + _enc_uint_arr([5, 6]) + _enc_uint_arr([7, 8])),
        # 6: second offset points BEFORE the first tail end (shared tail)
        (6, t(1), t(2), t(3),
         _w(64) + _w(64) + _enc_uint_arr([5, 6]) + _enc_uint_arr([7, 8])),
        # 7: length word larger than remaining data
        (7, t(1), t(2), t(3),
         _w(64) + _w(64 + 32 * 3) + _w(2**40) + _w(5) + _w(6)
         + _enc_uint_arr([7, 8])),
        # 8: length word with high bytes set (>= 2^64)
        (8, t(1), t(2), t(3),
         _w(64) + _w(64 + 32 * 3) + (b"\x01" + bytes(31))
         + _w(5) + _w(6) + _enc_uint_arr([7, 8])),
        # 9: offset word with high bytes set
        (9, t(1), t(2), t(3),
         (b"\x01" + bytes(31)) + _w(64 + 32 * 3)
         + _enc_uint_arr([5, 6]) + _enc_uint_arr([7, 8])),
        # 10: trailing garbage after the last tail
        (10, t(1), t(2), t(3), ok2 + b"\xff"),
        # 11: trailing full word after the last tail
        (11, t(1), t(2), t(3), ok2 + _w(0)),
        # 12: missing topic3
        (12, t(1), t(2), None, ok2),
        # 13: short topic (31 bytes)
        (13, t(1), t(2), _w(3)[1:], ok2),
        # 14: empty arrays (k=0) — canonical, valid
        (14, t(1), t(2), t(3),
         _w(64) + _w(96) + _enc_uint_arr([]) + _enc_uint_arr([])),
        # 15: overflow element (10^38) — element NULL, row kept
        (15, t(1), t(2), t(3),
         _w(64) + _w(64 + 32 * 2) + _enc_uint_arr([10**38])
         + _enc_uint_arr([10**38 - 1])),
        # 16: asymmetric lengths (1 id, 3 values)
        (16, t(1), t(2), t(3),
         _w(64) + _w(64 + 32 * 2) + _enc_uint_arr([9])
         + _enc_uint_arr([1, 2, 3])),
        # 17: length word >= 2^63
        (17, t(1), t(2), t(3),
         _w(64) + _w(64 + 32) + _w(2**63) + _enc_uint_arr([7, 8])),
        # 18: length word 2^59, whose 32 * len wraps 64 bits to 0: the
        #     tails would look tightly packed if the size wrapped
        (18, t(1), t(2), t(3),
         _w(64) + _w(64 + 32) + _w(2**59) + _enc_uint_arr([7, 8])),
        # 19: length word 2^59 + 1, whose 32 * len wraps to 32
        (19, t(1), t(2), t(3),
         _w(64) + _w(64 + 64) + _w(2**59 + 1) + _w(5) + _enc_uint_arr([7, 8])),
    ]
    return rows


_LOG_SCHEMA = T.StructType(
    [
        T.StructField("log_index", T.LongType()),
        T.StructField("topic1", T.BinaryType()),
        T.StructField("topic2", T.BinaryType()),
        T.StructField("topic3", T.BinaryType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def _assert_paths_agree(spark, rows, sig):
    """``decode_events_df`` agrees with ``decode_event_row`` on every
    row: values and NULLs; a failing row keeps NULL decoded columns when
    ``allow_decode_fail``, and is dropped otherwise.  Returns the
    ``allow_decode_fail=True`` rows."""
    from cherry_pipelines_spark.functions import abi

    parsed = abi.parse_event_signature(sig)
    names = abi.output_schema(parsed).fieldNames()
    want = {
        i: abi.decode_event_row(parsed, [None, t1, t2, t3], data)
        for i, t1, t2, t3, data in rows
    }
    df = spark.createDataFrame(rows, _LOG_SCHEMA)
    kept = None
    for allow in (True, False):
        out = abi.decode_events_df(df, sig, allow_decode_fail=allow).collect()
        got = {r["log_index"]: {k: _norm(r[k]) for k in names} for r in out}
        expect = {
            i: dict.fromkeys(names) if w is None else {k: _norm(w.get(k)) for k in names}
            for i, w in want.items()
            if allow or w is not None
        }
        assert got == expect, sig
        if allow:
            kept = out
    return kept


def test_vectorized_matches_row_path_random(spark):
    rows = [_good_batch_row(s) for s in range(200)]
    out = _assert_paths_agree(spark, rows, SIG)
    # all well-formed rows decode (spot-check row 0 content)
    by_idx = {r["log_index"]: r for r in out}
    assert by_idx[0]["ids"] is not None


def test_vectorized_matches_row_path_adversarial(spark):
    out = _assert_paths_agree(spark, _adversarial_rows(), SIG)
    by_idx = {r["log_index"]: r for r in out}
    good = {0, 14, 15, 16}
    for i, r in by_idx.items():
        assert (r["ids"] is not None) == (i in good), f"row {i}"
    # overflow element: ids[0] NULL, values[0] kept
    assert by_idx[15]["ids"] == [None]
    assert by_idx[15]["values"][0] is not None
    # asymmetric lengths decode exactly (a bounds bug shared by the SQL
    # decode and the row decoder would slip a purely-differential assert)
    assert by_idx[16]["ids"] == [9]
    assert by_idx[16]["values"] == [1, 2, 3]
    assert by_idx[14]["ids"] == []


def test_vectorized_mixed_static_and_dynamic(spark):
    # static heads interleaved with dynamic ones + dirty uint32 padding
    t = lambda i: _w(50 + i)
    head = lambda a, b: _w(a) + _w(b)
    ok = (
        _w(7)                      # nonce
        + _w(32 * 4)               # offset small
        + _w(10**20)               # total
        + _w(32 * 4 + 32 * 3)      # offset big
        + _enc_uint_arr([1, 2])
        + _enc_uint_arr([10**39, 5])
    )
    dirty = (
        _w(7)
        + _w(32 * 4)
        + _w(10**20)
        + _w(32 * 4 + 32 * 2)
        + _w(1) + (b"\x01" + bytes(27) + (4).to_bytes(4, "big"))  # dirty uint32
        + _enc_uint_arr([5])
    )
    rows = [
        (0, t(1), None, None, ok),
        (1, t(1), None, None, dirty),
        (2, t(1), t(2), None, ok),   # extra topic2 -> fail
        (3, t(1), None, t(3), ok),   # gapped: topic3 set past a NULL -> fail
    ]
    out = _assert_paths_agree(spark, rows, SIG_MIXED)
    by_idx = {r["log_index"]: r for r in out}
    assert by_idx[0]["small"] == [1, 2]
    assert by_idx[0]["big"] == [None, 5]
    assert by_idx[0]["nonce"] == 7
    assert by_idx[1]["small"] is None
    assert by_idx[2]["small"] is None
    assert by_idx[3]["small"] is None


def test_vectorized_no_topics_small_bits(spark):
    rows = [
        (0, None, None, None, _w(32) + _enc_uint_arr([1, 255, 0])),
        (1, None, None, None, _w(32) + _enc_uint_arr([256])),  # dirty uint8
    ]
    out = _assert_paths_agree(spark, rows, SIG_NO_TOPIC)
    by_idx = {r["log_index"]: r for r in out}
    assert by_idx[0]["tags"] == [1, 255, 0]
    assert by_idx[1]["tags"] is None


def test_vectorized_fuzz_mutations(spark):
    """Seeded fuzz: well-formed TransferBatch payloads with random
    structural mutations — bit flips anywhere, truncation, extension,
    offset/length word perturbation, topic corruption — must decode
    as the row decoder does (one Spark comparison over 400 rows)."""
    rng = random.Random(0xABCD)
    rows = []
    for i in range(400):
        _, t1, t2, t3, data = _good_batch_row(i)
        data = bytearray(data)
        mut = rng.randrange(8)
        if mut == 0 and data:  # flip a random bit
            p = rng.randrange(len(data))
            data[p] ^= 1 << rng.randrange(8)
        elif mut == 1 and data:  # truncate
            data = data[: rng.randrange(len(data))]
        elif mut == 2:  # extend with junk
            data += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 40)))
        elif mut == 3:  # perturb the first offset word
            data[31] ^= 0xFF
        elif mut == 4:  # perturb a length word (first tail)
            data[64 + 31] ^= rng.randrange(1, 256)
        elif mut == 5:  # corrupt a topic
            t2 = None if rng.random() < 0.5 else t2[: rng.randrange(32)]
        elif mut == 6:  # set high bytes of an element (dirty for uintN<256)
            if len(data) > 96:
                data[96] = 0xFF
        # mut == 7: leave well-formed
        rows.append((i, t1, t2, t3, bytes(data)))
    _assert_paths_agree(spark, rows, SIG)
    # and against a narrower element type where padding rules bite
    rows32 = []
    for i in range(200):
        rng2 = random.Random(i)
        k = rng2.randrange(0, 4)
        vals = [rng2.randrange(0, 2**32) for _ in range(k)]
        data = bytearray(_w(32) + _enc_uint_arr(vals))
        if rng2.random() < 0.5 and len(data) > 40:
            data[rng2.randrange(len(data))] ^= 1 << rng2.randrange(8)
        rows32.append((i, None, None, None, bytes(data)))
    _assert_paths_agree(spark, rows32, SIG_NO_TOPIC.replace("uint8", "uint32"))


SIG_URI = "URI(string value, uint256 indexed id)"
SIG_MULTI = "Multi(bytes a, uint64 n, string b, uint32[] c)"


def _enc_blob(payload: bytes, pad: bytes | None = None) -> bytes:
    """Length word + payload right-padded to a word boundary.  ``pad``
    overrides the zero padding (the ABI spec pads with zeros but
    no decoder checks pad CONTENT — dirty pads are accepted)."""
    npad = (-len(payload)) % 32
    return _w(len(payload)) + payload + (pad or bytes(npad))[:npad]


def test_blob_vectorized_simple_string(spark):
    blob = lambda *a, **kw: _w(32) + _enc_blob(*a, **kw)  # head offset + tail
    rows = [
        (0, _w(9), None, None, blob(b"abc")),
        (1, _w(9), None, None, blob("héllo — ünïcode €🎈".encode())),
        (2, _w(9), None, None, blob(b"")),
        (3, _w(9), None, None, blob(b"\xff\xfe invalid utf8")),
        (4, _w(9), None, None, blob(b"x" * 32)),  # exact word, no pad
        (5, _w(9), None, None, blob(b"pad", pad=b"\xde\xad\xbe\xef" * 8)),
        (6, _w(9), None, None, blob(b"a\xc0\xafb")),  # overlong '/'
        (7, _w(9), None, None, blob(b"\xf4\x90\x80\x80")),  # above U+10FFFF
        (8, _w(9), None, None, blob(b"x\xe2\x82")),  # truncated sequence
        (9, _w(9), None, None, blob("\x00\ufeff".encode())),  # NUL, BOM: valid
    ]
    out = _assert_paths_agree(spark, rows, SIG_URI)
    by_idx = {r["log_index"]: r for r in out}
    assert by_idx[0]["value"] == "abc"
    assert by_idx[1]["value"] == "héllo — ünïcode €🎈"
    assert by_idx[2]["value"] == ""
    assert by_idx[3]["value"] is None  # invalid utf-8 -> row NULL
    assert by_idx[4]["value"] == "x" * 32
    # dirty pad bytes are accepted (no decoder checks pad content)
    assert by_idx[5]["value"] == "pad"
    for i in (6, 7, 8):
        assert by_idx[i]["value"] is None, f"row {i}"
    assert by_idx[9]["value"] == "\x00\ufeff"
    assert by_idx[0]["id"] == 9


def test_blob_vectorized_adversarial(spark):
    t = lambda i: _w(1000 + i)
    ok = (
        _w(32 * 4)                        # offset a
        + _w(7)                           # n
        + _w(32 * 4 + 32 * 2)             # offset b
        + _w(32 * 4 + 32 * 2 + 32 * 2)    # offset c
        + _enc_blob(b"\x00\x01\x02")      # a: 3 bytes
        + _enc_blob("str".encode())       # b
        + _enc_uint_arr([1, 2])           # c
    )
    rows = [
        (0, None, None, None, ok),
        # 1: blob length word larger than remaining data
        (1, None, None, None,
         _w(32 * 4) + _w(7) + _w(32 * 5 + 32) + _w(32 * 7 + 32)
         + _w(2**40) + bytes(32) + _enc_blob(b"s") + _enc_uint_arr([])),
        # 2: blob length high bytes set (>= 2^64)
        (2, None, None, None,
         _w(32 * 4) + _w(7) + _w(32 * 6) + _w(32 * 8)
         + (b"\x01" + bytes(31)) + bytes(32)
         + _enc_blob(b"s") + _enc_uint_arr([])),
        # 3: payload needs pad the data doesn't have (truncated pad)
        (3, None, None, None,
         _w(32 * 4) + _w(7) + _w(32 * 5 + 1) + _w(32 * 7)
         + _w(33) + b"y" * 33),
        # 4: non-canonical blob offset (gap)
        (4, None, None, None,
         _w(32 * 5) + _w(7) + _w(32 * 5 + 32 * 2) + _w(32 * 5 + 32 * 4)
         + _w(0) + _enc_blob(b"abc") + _enc_blob(b"s") + _enc_uint_arr([1])),
        # 5: trailing garbage after last tail
        (5, None, None, None, ok + b"\x01"),
        # 6: invalid utf-8 ONLY in the string param — row NULL, and the
        #    already-decoded bytes param must not leak through
        (6, None, None, None,
         _w(32 * 4) + _w(7) + _w(32 * 6) + _w(32 * 8)
         + _enc_blob(b"fine") + _enc_blob(b"\xed\xa0\x80")
         + _enc_uint_arr([3])),
        # 7: empty everything (canonical)
        (7, None, None, None,
         _w(32 * 4) + _w(7) + _w(32 * 5) + _w(32 * 6)
         + _enc_blob(b"") + _enc_blob(b"") + _enc_uint_arr([])),
        # 8: blob length word >= 2^63
        (8, None, None, None,
         _w(32 * 4) + _w(7) + _w(32 * 5) + _w(32 * 6)
         + _w(2**63) + _enc_blob(b"") + _enc_uint_arr([])),
        # 9: blob length 2^64 - 31, whose padded size wraps 64 bits to 0
        (9, None, None, None,
         _w(32 * 4) + _w(7) + _w(32 * 5) + _w(32 * 6)
         + _w(2**64 - 31) + _enc_blob(b"") + _enc_uint_arr([])),
    ]
    out = _assert_paths_agree(spark, rows, SIG_MULTI)
    by_idx = {r["log_index"]: r for r in out}
    assert by_idx[0]["a"] == bytearray(b"\x00\x01\x02")
    assert by_idx[0]["b"] == "str"
    assert by_idx[0]["c"] == [1, 2]
    assert by_idx[0]["n"] == 7
    for i in (1, 2, 3, 4, 5, 6, 8, 9):
        assert by_idx[i]["a"] is None, f"row {i}"
        assert by_idx[i]["b"] is None, f"row {i}"
    assert by_idx[7]["a"] == bytearray(b"")
    assert by_idx[7]["b"] == ""
    assert by_idx[7]["c"] == []


def test_blob_vectorized_fuzz_mutations(spark):
    """Seeded fuzz over the mixed blob+array signature: random payload
    sizes (incl. word-boundary straddlers and multi-word blobs) with
    structural mutations — the SQL decode must match the row decoder."""
    rng = random.Random(0x517)
    rows = []
    for i in range(400):
        na = rng.randrange(0, 70)
        nb = rng.randrange(0, 70)
        k = rng.randrange(0, 4)
        a = bytes(rng.randrange(256) for _ in range(na))
        # bias toward VALID utf-8 (ascii) with occasional raw bytes
        b = (
            bytes(rng.randrange(32, 127) for _ in range(nb))
            if rng.random() < 0.7
            else bytes(rng.randrange(256) for _ in range(nb))
        )
        c = [rng.randrange(0, 2**32) for _ in range(k)]
        ta = _enc_blob(a)
        tb = _enc_blob(b)
        tc = _enc_uint_arr(c)
        off_a = 32 * 4
        data = bytearray(
            _w(off_a) + _w(i) + _w(off_a + len(ta)) + _w(off_a + len(ta) + len(tb))
            + ta + tb + tc
        )
        mut = rng.randrange(8)
        if mut == 0 and data:
            p = rng.randrange(len(data))
            data[p] ^= 1 << rng.randrange(8)
        elif mut == 1 and data:
            data = data[: rng.randrange(len(data))]
        elif mut == 2:
            data += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 40)))
        elif mut == 3:  # perturb blob-a offset
            data[31] ^= 0xFF
        elif mut == 4:  # perturb blob-a length word
            data[off_a + 31] ^= rng.randrange(1, 256)
        elif mut == 5:  # high byte in blob-b length word
            data[off_a + len(ta)] = 0x01
        # mut in (6, 7): leave well-formed
        rows.append((i, None, None, None, bytes(data)))
    _assert_paths_agree(spark, rows, SIG_MULTI)


SIG_TYPED_ARRS = (
    "Typed(address[] owners, bool[] flags, int64 base, int32[] deltas, "
    "int256[] wide, bytes4[] sels)"
)


def _w_signed(v: int) -> bytes:
    return int(v).to_bytes(32, "big", signed=True)


def test_typed_array_elements_vectorized(spark):
    """address[] / bool[] / intN[] / bytesN[] tails: the generic
    element decode must match the row decoder — including dirty
    address padding (row fail), dirty int padding (a non-sign-extended
    intN word is an invalid encoding → row fail, not a wrong long),
    and ±(10^38-1) wide-int element NULLs."""
    addr = lambda i: bytes(12) + bytes([i]) * 20
    own = [addr(1), addr(2)]
    t_own = _w(2) + b"".join(own)
    t_flg = _w(3) + _w(1) + _w(0) + _w(1)
    t_dlt = _w(2) + _w_signed(-5) + _w_signed(9)
    t_wid = _w(3) + _w_signed(-(10**38)) + _w_signed(10**38 - 1) + _w_signed(-1)
    t_sel = _w(1) + b"\xde\xad\xbe\xef".ljust(32, b"\0")
    h = 32 * 6  # 5 dynamic offsets + 1 static head word
    o = [h]
    for t in (t_own, t_flg, t_dlt, t_wid):
        o.append(o[-1] + len(t))
    ok = (
        _w(o[0]) + _w(o[1]) + _w_signed(-7) + _w(o[2]) + _w(o[3]) + _w(o[4])
        + t_own + t_flg + t_dlt + t_wid + t_sel
    )
    # dirty address padding in owners[1] -> row fails
    own_dirty = _w(2) + own[0] + (b"\x01" + bytes(11) + bytes(20))
    dirty = (
        _w(o[0]) + _w(o[1]) + _w_signed(-7) + _w(o[2]) + _w(o[3]) + _w(o[4])
        + own_dirty + t_flg + t_dlt + t_wid + t_sel
    )
    # non-sign-extended int32 element (full-word value 2^40): dirty int
    # padding -> row fails
    t_dlt_big = _w(2) + _w(2**40) + _w_signed(-1)
    ok2 = (
        _w(o[0]) + _w(o[1]) + _w_signed(-7) + _w(o[2]) + _w(o[3]) + _w(o[4])
        + t_own + t_flg + t_dlt_big + t_wid + t_sel
    )
    rows = [
        (0, None, None, None, ok),
        (1, None, None, None, dirty),
        (2, None, None, None, ok2),
    ]
    out = _assert_paths_agree(spark, rows, SIG_TYPED_ARRS)
    by_idx = {r["log_index"]: r for r in out}
    assert [bytes(a) for a in by_idx[0]["owners"]] == [a[12:] for a in own]
    assert by_idx[0]["flags"] == [True, False, True]
    assert by_idx[0]["base"] == -7
    assert by_idx[0]["deltas"] == [-5, 9]
    import decimal

    assert by_idx[0]["wide"] == [
        None,  # -(10**38) overflows Decimal(38,0) -> element NULL
        decimal.Decimal(10**38 - 1),
        decimal.Decimal(-1),
    ]
    assert [bytes(s) for s in by_idx[0]["sels"]] == [b"\xde\xad\xbe\xef"]
    assert by_idx[1]["owners"] is None  # dirty address padding
    assert by_idx[2]["deltas"] is None  # dirty int padding
    assert by_idx[2]["owners"] is None


def test_typed_array_fuzz_mutations(spark):
    rng = random.Random(0xBEEF)
    rows = []
    for i in range(300):
        n1, n2, n3 = (rng.randrange(0, 4) for _ in range(3))
        t1 = _w(n1) + b"".join(
            (bytes(12) if rng.random() < 0.8 else b"\x01" + bytes(11))
            + bytes(rng.randrange(256) for _ in range(20))
            for _ in range(n1)
        )
        t2 = _w(n2) + b"".join(
            _w_signed(rng.randrange(-(2**63), 2**63)) for _ in range(n2)
        )
        t3 = _w(n3) + b"".join(
            _w_signed(rng.randrange(-(10**39), 10**39)) for _ in range(n3)
        )
        h = 32 * 3
        data = bytearray(
            _w(h) + _w(h + len(t1)) + _w(h + len(t1) + len(t2)) + t1 + t2 + t3
        )
        mut = rng.randrange(6)
        if mut == 0 and data:
            data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        elif mut == 1 and data:
            data = data[: rng.randrange(len(data))]
        elif mut == 2:
            data += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 40)))
        # mut >= 3: well-formed
        rows.append((i, None, None, None, bytes(data)))
    _assert_paths_agree(
        spark, rows, "T3(address[] a, int64[] b, int256[] c)"
    )


def test_string_first_dynamic_with_indexed(spark):
    # URI(string value, uint256 indexed id): indexed param decodes from
    # topic1 even though it is declared AFTER the dynamic param
    rows = [(0, _w(77), None, None, _w(32) + _enc_blob(b"ipfs://x"))]
    out = _assert_paths_agree(spark, rows, SIG_URI)
    assert out[0]["value"] == "ipfs://x"
    assert out[0]["id"] == 77


def test_random_signature_differential(spark):
    """Seeded sweep over RANDOM signatures (mixed static/indexed params
    with T[] arrays of every base, bytes, string): well-formed payloads
    built by the property suite's independent encoder, plus mutated
    variants — the SQL decode and the row decoder must agree on every
    signature, not just the hand-picked ones above."""
    from tests.test_abi_property import (
        _DYN_BASES,
        _TYPES,
        _build_dyn,
        encode_word,
        values_for,
    )

    rng = random.Random(0xD1FF)

    def rand_value(t):
        if t == "bytes":
            return bytes(rng.randrange(256) for _ in range(rng.randrange(0, 70)))
        if t == "string":
            return "".join(
                chr(rng.randrange(32, 0x2FF)) for _ in range(rng.randrange(0, 30))
            )
        if t.endswith("[]"):
            return [rand_value(t[:-2]) for _ in range(rng.randrange(0, 5))]
        if t == "address":
            return bytes(rng.randrange(256) for _ in range(20))
        if t == "bool":
            return rng.random() < 0.5
        if t.startswith("uint"):
            bits = int(t[4:])
            return rng.randrange(0, 2**bits)
        if t.startswith("int"):
            bits = int(t[3:])
            return rng.randrange(-(2 ** (bits - 1)), 2 ** (bits - 1))
        if t.startswith("bytes"):
            n = int(t[5:])
            return bytes(rng.randrange(256) for _ in range(n))
        raise AssertionError(t)

    for trial in range(10):
        n = rng.randrange(1, 5)
        typs = []
        for _ in range(n):
            kind = rng.randrange(3)
            if kind == 0:
                typs.append(rng.choice(_TYPES))
            elif kind == 1:
                typs.append(rng.choice(_DYN_BASES) + "[]")
            else:
                typs.append(rng.choice(("bytes", "string")))
        if not any(t.endswith("[]") or t in ("bytes", "string") for t in typs):
            typs[0] = rng.choice(_DYN_BASES) + "[]"
        static_pos = [i for i, t in enumerate(typs)
                      if not (t.endswith("[]") or t in ("bytes", "string"))]
        ix_set = set(static_pos[: rng.randrange(0, min(3, len(static_pos)) + 1)])
        indexed = [i in ix_set for i in range(n)]
        sig_str = "Ev(" + ", ".join(
            f"{t}{' indexed' if ix else ''} p{i}"
            for i, (t, ix) in enumerate(zip(typs, indexed))
        ) + ")"
        rows = []
        for r in range(60):
            vals = [rand_value(t) for t in typs]
            _, topics, data = _build_dyn(typs, indexed, vals)
            data = bytearray(data)
            mut = rng.randrange(6)
            if mut == 0 and data:
                data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
            elif mut == 1 and data:
                data = data[: rng.randrange(len(data))]
            elif mut == 2:
                data += bytes(rng.randrange(256)
                              for _ in range(rng.randrange(1, 40)))
            rows.append((r, topics[1], topics[2], topics[3], bytes(data)))
        _assert_paths_agree(spark, rows, sig_str)

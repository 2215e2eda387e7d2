"""EVM ABI event decoding (SURVEY §2.6 D1).

Re-implements, Spark-first, the capability of the reference's
``EVM_DECODE_EVENTS`` step (config at
/root/reference/src/cherry_pipelines/evm/erc20_transfers.py:131-142):
given an event signature like ``Transfer(address indexed from, address
indexed to, uint256 amount)``, decode each log's ``topic1..topic3`` +
``data`` into typed columns.  Indexed params are taken from topics in
declaration order; non-indexed params from consecutive 32-byte words of
``data``.  ``allow_decode_fail=True`` yields NULLs for rows that don't
match (e.g. ERC-721 Transfers sharing topic0) instead of erroring.

Supported static types (the subset the reference exercises, plus the
common ones): address, uintN/intN, bool, bytesN.  uint256 decodes to
``DecimalType(38,0)`` with overflow→NULL and the raw 32 bytes kept in a
``<name>_raw`` BinaryType column for lossless round-trips (overflow
policy: SURVEY §7.3).  Dynamic types — ``T[]`` of any static base,
``bytes``, ``string`` (ERC-1155 TransferBatch territory) — decode via
the standard head-offset/tail layout; indexed dynamic params are
refused (on-chain they are keccak digests, unrecoverable).

The entry point is :func:`decode_events_df`.  An all-static signature
(every param one 32-byte word, e.g. ERC-20 ``Transfer``) decodes as
Spark SQL text (:func:`_static_sql`): word offsets are constants, so
each param is a ``substring`` of its topic or the data, and each int a
``conv`` of the hex of its word's low bytes.  It runs as codegen'd
Catalyst expressions with no Python worker.  A signature with a
dynamic param decodes in an Arrow-batched ``mapInPandas`` over the
byte blobs, vectorized with numpy (cumulative-offset tail
arithmetic + fancy-indexed byte gathers —
the canonical tightly-packed layout makes every position derivable
without a per-row walk), with the per-row tail walk kept as the
differential-pinned reference path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from cherry_pipelines_spark.functions.uint256 import dec38_word_sql

_DEC38_MAX = 10**38 - 1


@dataclass(frozen=True)
class EventParam:
    name: str
    type: str
    indexed: bool


@dataclass(frozen=True)
class EventSignature:
    name: str
    params: tuple[EventParam, ...]

    @property
    def canonical(self) -> str:
        return f"{self.name}({','.join(p.type for p in self.params)})"


_TYPE_RE = re.compile(r"^(address|bool|u?int(\d+)?|bytes(\d+)?)$")


def _is_dynamic(abi_type: str) -> bool:
    return abi_type in ("bytes", "string") or abi_type.endswith("[]")


def parse_event_signature(signature: str) -> EventSignature:
    m = re.match(r"^\s*(\w+)\s*\((.*)\)\s*$", signature, re.S)
    if not m:
        raise ValueError(f"bad event signature: {signature!r}")
    name, body = m.group(1), m.group(2).strip()
    params: list[EventParam] = []
    if body:
        for i, piece in enumerate(body.split(",")):
            toks = piece.strip().split()
            if not toks:
                raise ValueError(f"bad parameter {i} in {signature!r}")
            typ = toks[0]
            suffix = ""
            if typ.endswith("[]"):
                typ, suffix = typ[:-2], "[]"
            if typ == "uint":
                typ = "uint256"
            if typ == "int":
                typ = "int256"
            if not (
                _TYPE_RE.match(typ)
                or (suffix == "" and typ in ("bytes", "string"))
            ):
                raise ValueError(f"unsupported ABI type {typ + suffix!r}")
            if suffix and typ in ("bytes", "string"):
                raise ValueError("arrays of dynamic types are not supported")
            typ += suffix
            indexed = "indexed" in toks[1:]
            if indexed and _is_dynamic(typ):
                # indexed dynamic params are keccak digests on-chain —
                # the value is unrecoverable, refuse rather than guess
                raise ValueError(f"indexed dynamic param {typ!r} not decodable")
            pname = toks[-1] if len(toks) > 1 and toks[-1] != "indexed" else f"param{i}"
            params.append(EventParam(pname, typ, indexed))
    return EventSignature(name, tuple(params))


def spark_type_for(abi_type: str) -> T.DataType:
    if abi_type.endswith("[]"):
        return T.ArrayType(spark_type_for(abi_type[:-2]))
    if abi_type == "address":
        return T.BinaryType()  # 20 raw bytes; hex-render at the sink
    if abi_type == "bool":
        return T.BooleanType()
    if abi_type == "string":
        return T.StringType()
    if abi_type == "bytes":
        return T.BinaryType()
    m = re.match(r"^(u?)int(\d+)$", abi_type)
    if m:
        bits = int(m.group(2))
        if m.group(1) == "u":
            if bits <= 32:
                return T.LongType()
            return T.DecimalType(38, 0)
        if bits <= 64:
            return T.LongType()
        return T.DecimalType(38, 0)
    if re.match(r"^bytes\d+$", abi_type):
        return T.BinaryType()
    raise ValueError(f"unsupported ABI type {abi_type!r}")


def _decode_word(abi_type: str, word: bytes):
    """Decode one 32-byte ABI word.  Returns (value, raw_or_None)."""
    if len(word) != 32:
        raise ValueError("short word")
    if abi_type == "address":
        if any(word[:12]):
            raise ValueError("dirty address padding")
        return word[12:], None
    if abi_type == "bool":
        return word[31] != 0, None
    m = re.match(r"^(u?)int(\d+)$", abi_type)
    if m:
        bits = int(m.group(2))
        if m.group(1) == "u":
            v = int.from_bytes(word, "big")
            if any(word[: 32 - bits // 8]):
                raise ValueError("dirty uint padding")
            if bits <= 32:
                return v, None
            # wide uint → Decimal(38,0), overflow→NULL, raw preserved
            return (Decimal(v) if v <= _DEC38_MAX else None), word
        v = int.from_bytes(word, "big", signed=True)
        # the spec sign-extends intN to 32 bytes; a word outside the
        # declared range is an invalid encoding (and would otherwise
        # crash the Arrow long conversion instead of NULLing the row)
        if bits < 256 and not (-(1 << (bits - 1)) <= v < (1 << (bits - 1))):
            raise ValueError("dirty int padding")
        if bits <= 64:
            return v, None
        return (Decimal(v) if abs(v) <= _DEC38_MAX else None), word
    m = re.match(r"^bytes(\d+)$", abi_type)
    if m:
        n = int(m.group(1))
        return word[:n], None
    raise ValueError(f"unsupported ABI type {abi_type!r}")


def _wide_uint(abi_type: str) -> bool:
    m = re.match(r"^(u?)int(\d+)$", abi_type)
    return bool(m) and int(m.group(2)) > (32 if m.group(1) == "u" else 64)


def _decode_dynamic(
    abi_type: str, data: bytes, head_word: bytes, expect_off: int | None = None
):
    """Decode one dynamic param from its head word (tail offset).
    Returns (value, tail_bytes_consumed).  Standard ABI layout: offset →
    length word → elements (32B each for ``T[]``) / right-padded payload
    (``bytes``/``string``).

    ``expect_off`` enforces the CANONICAL encoding (tails tightly
    packed, in head order): the offset must point exactly where the
    previous tail ended.  Spec-legal but non-canonical layouts (gapped,
    out-of-order, shared tails) are rejected — intentionally: no real
    ABI encoder emits them, and accepting them would let a shared-tail
    + short-data payload slip past the total-length check."""
    off = int.from_bytes(head_word, "big")
    if expect_off is not None and off != expect_off:
        raise ValueError("non-canonical tail offset")
    if off + 32 > len(data):
        raise ValueError("dynamic offset out of bounds")
    ln = int.from_bytes(data[off : off + 32], "big")
    if abi_type in ("bytes", "string"):
        padded = ((ln + 31) // 32) * 32
        if off + 32 + padded > len(data):
            raise ValueError("dynamic payload out of bounds")
        payload = data[off + 32 : off + 32 + ln]
        return (
            payload.decode("utf-8") if abi_type == "string" else payload,
            32 + padded,
        )
    base = abi_type[:-2]
    if off + 32 + 32 * ln > len(data):
        raise ValueError("dynamic array out of bounds")
    start = off + 32
    im = re.match(r"^(u?)int(\d+)$", base)
    if im and im.group(1) == "u":
        # hoisted fast path: one type dispatch for the whole tail, not a
        # regex per element (arrays are where element counts explode)
        bits = int(im.group(2))
        lead = 32 - bits // 8
        vals = []
        for j in range(ln):
            w = data[start + 32 * j : start + 32 * (j + 1)]
            if lead and any(w[:lead]):
                raise ValueError("dirty uint padding")
            v = int.from_bytes(w, "big")
            if bits <= 32:
                vals.append(v)
            else:
                vals.append(Decimal(v) if v <= _DEC38_MAX else None)
        return vals, 32 + 32 * ln
    vals = []
    for j in range(ln):
        w = data[start + 32 * j : start + 32 * (j + 1)]
        v, _raw = _decode_word(base, w)
        vals.append(v)
    return vals, 32 + 32 * ln


def output_schema(sig: EventSignature) -> T.StructType:
    fields = []
    for p in sig.params:
        fields.append(T.StructField(p.name, spark_type_for(p.type), True))
        if _wide_uint(p.type):
            fields.append(T.StructField(f"{p.name}_raw", T.BinaryType(), True))
    return T.StructType(fields)


def _word_decoder(abi_type: str):
    """Hoisted-dispatch form of :func:`_decode_word`: the type is
    matched ONCE here; the returned closure only does byte work.
    Semantics are identical (the property suite pins both)."""
    if abi_type == "address":

        def dec_addr(word: bytes):
            if any(word[:12]):
                raise ValueError("dirty address padding")
            return word[12:], None

        return dec_addr
    if abi_type == "bool":
        return lambda word: (word[31] != 0, None)
    m = re.match(r"^(u?)int(\d+)$", abi_type)
    if m:
        bits = int(m.group(2))
        if m.group(1) == "u":
            lead = 32 - bits // 8

            def dec_uint(word: bytes):
                if lead and any(word[:lead]):
                    raise ValueError("dirty uint padding")
                v = int.from_bytes(word, "big")
                if bits <= 32:
                    return v, None
                return (Decimal(v) if v <= _DEC38_MAX else None), word

            return dec_uint

        lo_b, hi_b = -(1 << (bits - 1)), 1 << (bits - 1)

        def dec_int(word: bytes):
            v = int.from_bytes(word, "big", signed=True)
            if bits < 256 and not (lo_b <= v < hi_b):
                raise ValueError("dirty int padding")
            if bits <= 64:
                return v, None
            return (Decimal(v) if abs(v) <= _DEC38_MAX else None), word

        return dec_int
    m = re.match(r"^bytes(\d+)$", abi_type)
    if m:
        n = int(m.group(1))
        return lambda word: (word[:n], None)
    raise ValueError(f"unsupported ABI type {abi_type!r}")


def _tail_decoder(abi_type: str):
    """Hoisted-dispatch form of :func:`_decode_dynamic`'s body:
    fn(data, off) -> (value, tail_bytes_consumed)."""
    if abi_type in ("bytes", "string"):
        is_str = abi_type == "string"

        def dec_blob(data: bytes, off: int):
            ln = int.from_bytes(data[off : off + 32], "big")
            padded = ((ln + 31) // 32) * 32
            if off + 32 + padded > len(data):
                raise ValueError("dynamic payload out of bounds")
            payload = data[off + 32 : off + 32 + ln]
            return (payload.decode("utf-8") if is_str else payload), 32 + padded

        return dec_blob
    base = abi_type[:-2]
    im = re.match(r"^(u?)int(\d+)$", base)
    if im and im.group(1) == "u":
        bits = int(im.group(2))
        lead = 32 - bits // 8
        small = bits <= 32

        def dec_uint_arr(data: bytes, off: int):
            ln = int.from_bytes(data[off : off + 32], "big")
            if off + 32 + 32 * ln > len(data):
                raise ValueError("dynamic array out of bounds")
            start = off + 32
            vals = []
            for j in range(ln):
                w = data[start + 32 * j : start + 32 * (j + 1)]
                if lead and any(w[:lead]):
                    raise ValueError("dirty uint padding")
                v = int.from_bytes(w, "big")
                vals.append(
                    v if small else (Decimal(v) if v <= _DEC38_MAX else None)
                )
            return vals, 32 + 32 * ln

        return dec_uint_arr
    elem = _word_decoder(base)

    def dec_arr(data: bytes, off: int):
        ln = int.from_bytes(data[off : off + 32], "big")
        if off + 32 + 32 * ln > len(data):
            raise ValueError("dynamic array out of bounds")
        start = off + 32
        vals = [
            elem(data[start + 32 * j : start + 32 * (j + 1)])[0]
            for j in range(ln)
        ]
        return vals, 32 + 32 * ln

    return dec_arr


def _compile_row_decoder(sig: EventSignature):
    """One-time compilation of the per-row decode plan: all type
    dispatch (regex matches, indexed/dynamic branching, raw-column
    bookkeeping) happens here; the returned closure touches only bytes.
    ~2× on ragged dynamic payloads vs the interpretive walk (the regex
    re-match per row-param was a third of the kernel)."""
    n_heads = sum(1 for p in sig.params if not p.indexed)
    # steps: (kind, name, raw_name|None, index, fn)
    steps = []
    topic_i, head_i = 1, 0
    for p in sig.params:
        raw_name = f"{p.name}_raw" if _wide_uint(p.type) else None
        if p.indexed:
            steps.append(("t", p.name, raw_name, topic_i, _word_decoder(p.type)))
            topic_i += 1
        elif _is_dynamic(p.type):
            steps.append(("d", p.name, None, head_i, _tail_decoder(p.type)))
            head_i += 1
        else:
            steps.append(("h", p.name, raw_name, head_i, _word_decoder(p.type)))
            head_i += 1
    n_topics_used = topic_i
    head_bytes = 32 * n_heads

    def decode(topics: list, data: bytes | None) -> dict | None:
        try:
            data = data or b""
            if len(data) < head_bytes:
                raise ValueError("short data")
            out: dict = {}
            tail_off = head_bytes
            for kind, name, raw_name, idx, fn in steps:
                if kind == "t":
                    word = topics[idx] if idx < len(topics) else None
                    if word is None or len(word) != 32:
                        raise ValueError("missing topic")
                elif kind == "d":
                    off = int.from_bytes(data[idx * 32 : (idx + 1) * 32], "big")
                    # canonical layout: each tail starts where the
                    # previous ended (see _decode_dynamic's docstring)
                    if off != tail_off or off + 32 > len(data):
                        raise ValueError("non-canonical tail offset")
                    out[name], used = fn(data, off)
                    tail_off += used
                    continue
                else:
                    word = data[idx * 32 : (idx + 1) * 32]
                v, raw = fn(word)
                out[name] = v
                if raw_name is not None:
                    out[raw_name] = raw
            if n_topics_used < len(topics) and topics[n_topics_used] is not None:
                raise ValueError("extra topic")
            if tail_off != len(data):
                raise ValueError("data length mismatch")
            return out
        except Exception:
            return None

    return decode


_DECODER_CACHE: dict[EventSignature, "object"] = {}


def _vec_elem_decoder(base: str):
    """Vectorized element decoder for a ``T[]`` tail: maps an (e, 32)
    uint8 word matrix to ``(elements list, per-element row-fail mask or
    None)``.  Value semantics are exactly :func:`_word_decoder`'s for
    ``base``; ``bad`` marks elements whose decode would RAISE there
    (dirty padding — a ROW-level failure).  Returns None for an
    unsupported base (caller falls back to the per-row path)."""
    if base == "address":

        def dec_addr(w):
            return [bytes(row[12:]) for row in w], w[:, :12].any(axis=1)

        return dec_addr
    if base == "bool":
        return lambda w: ((w[:, 31] != 0).tolist(), None)
    m = re.match(r"^(u?)int(\d+)$", base)
    if m and m.group(1) == "u":
        bits = int(m.group(2))
        lead = 32 - bits // 8

        def dec_uint(w):
            bad = w[:, :lead].any(axis=1) if lead else None
            if bits <= 32:
                elems = (
                    np.ascontiguousarray(w[:, 28:32]).view(">u4").ravel()
                    .astype(np.int64).tolist()
                )
            else:
                wb = w.tobytes()
                elems = [None] * w.shape[0]
                for i in range(w.shape[0]):
                    v = int.from_bytes(wb[32 * i : 32 * i + 32], "big")
                    if v <= _DEC38_MAX:
                        elems[i] = Decimal(v)
            return elems, bad

        return dec_uint
    if m:
        bits = int(m.group(2))
        if bits <= 64:
            lo_b, hi_b = -(1 << (bits - 1)), 1 << (bits - 1)

            def dec_int(w):
                # intN must arrive sign-extended to 32 bytes (see
                # _decode_word): the top 24 bytes must replicate the
                # sign of the low i8 word AND the value must fit the
                # declared width — anything else is dirty int padding
                # (row fail)
                lo = np.ascontiguousarray(w[:, 24:32]).view(">i8").ravel()
                hi = w[:, :24]
                conform = (~hi.any(axis=1) & (lo >= 0)) | (
                    (hi == 0xFF).all(axis=1) & (lo < 0)
                )
                if bits < 64:
                    conform &= (lo >= lo_b) & (lo < hi_b)
                return lo.tolist(), ~conform

            return dec_int

        lo_b, hi_b = -(1 << (bits - 1)), 1 << (bits - 1)

        def dec_int_wide(w):
            wb = w.tobytes()
            e = w.shape[0]
            elems = [None] * e
            bad = np.zeros(e, dtype=bool)
            for i in range(e):
                v = int.from_bytes(wb[32 * i : 32 * i + 32], "big", signed=True)
                if bits < 256 and not (lo_b <= v < hi_b):
                    bad[i] = True  # dirty int padding
                elif abs(v) <= _DEC38_MAX:
                    elems[i] = Decimal(v)
            return elems, bad

        return dec_int_wide
    bm = re.match(r"^bytes(\d+)$", base)
    if bm:
        nb = int(bm.group(1))
        return lambda w: ([bytes(row[:nb]) for row in w], None)
    return None


def _static_sql(
    sig: EventSignature, topic_cols: tuple[str, ...], data_col: str
) -> tuple[str, list[tuple[str, str, str]]]:
    """The decode of an all-static ``sig`` as Spark SQL text:
    ``(ok, cols)``.

    * ``ok`` holds for a log that decodes: each indexed param's topic is
      32 bytes, every later topic is NULL, the data is exactly one word
      per other param, and each address, uint and intN word is padded as
      the ABI encodes it (zeros; the sign for intN).  It reads only the
      binary columns.
    * ``cols``: ``(name, SQL, type)`` per output column, over the binary
      columns; ``<name>_raw`` follows each wide int.  An int is a
      ``conv`` of the hex of its word's low bytes.

    Values match :func:`_decode_word`: wide ints are DECIMAL(38,0), NULL
    beyond ±(10^38-1), with the word kept raw."""
    n_indexed = sum(p.indexed for p in sig.params)
    if n_indexed > len(topic_cols):  # a topic is always missing
        return "false", [
            (f.name, "NULL", f.dataType.simpleString()) for f in output_schema(sig).fields
        ]
    data = f"`{data_col}`"
    checks = [f"length(`{t}`) = 32" for t in topic_cols[:n_indexed]]
    checks += [f"`{t}` IS NULL" for t in topic_cols[n_indexed:]]
    checks.append(f"coalesce(length({data}), 0) = {32 * (len(sig.params) - n_indexed)}")
    cols: list[tuple[str, str, str]] = []
    ti = di = 0
    for p in sig.params:
        if p.indexed:
            word = f"`{topic_cols[ti]}`"
            ti += 1
        else:
            word = f"substring({data}, {32 * di + 1}, 32)"
            di += 1
        typ = spark_type_for(p.type).simpleString()
        if p.type == "address":
            checks.append(f"substring({word}, 1, 12) = X'{'00' * 12}'")
            cols.append((p.name, f"substring({word}, 13, 20)", typ))
            continue
        if p.type == "bool":
            cols.append((p.name, f"substring({word}, 32, 1) != X'00'", typ))
            continue
        m = re.match(r"^bytes(\d+)$", p.type)
        if m:
            cols.append((p.name, f"substring({word}, 1, {m.group(1)})", typ))
            continue
        m = re.match(r"^(u?)int(\d+)$", p.type)
        unsigned, bits = m.group(1) == "u", int(m.group(2))
        lead = 32 - bits // 8
        if unsigned and lead:
            checks.append(f"substring({word}, 1, {lead}) = X'{'00' * lead}'")
        elif not unsigned and lead:  # sign-extended: lead bytes copy the top bit
            head = f"substring({word}, 1, {lead + 1})"
            checks.append(f"({head} <= X'{'00' * lead}7F' OR {head} >= X'{'FF' * lead}80')")
        if not _wide_uint(p.type):  # uint <= 32 or int <= 64: a long
            sql = (
                f"conv(hex(substring({word}, 29, 4)), 16, 10)" if unsigned
                else f"conv(hex(substring({word}, 25, 8)), 16, -10)"
            )
            cols.append((p.name, sql, typ))
            continue
        cols.append((p.name, dec38_word_sql(word, not unsigned), typ))
        cols.append((f"{p.name}_raw", word, "binary"))
    return " AND ".join(checks), cols


def decode_event_row(
    sig: EventSignature,
    topics: list[bytes | None],
    data: bytes | None,
) -> dict | None:
    """Decode one log row; None on any mismatch (allow_decode_fail).
    Thin wrapper over the compiled per-signature decoder."""
    dec = _DECODER_CACHE.get(sig)
    if dec is None:
        dec = _DECODER_CACHE[sig] = _compile_row_decoder(sig)
    return dec(topics, data)


def decode_events_df(
    logs: DataFrame,
    event_signature: str,
    allow_decode_fail: bool = True,
    topic_cols: tuple[str, ...] = ("topic1", "topic2", "topic3"),
    data_col: str = "data",
    _force_row_path: bool = False,
) -> DataFrame:
    """Decode a logs DataFrame into ``<passthrough cols> + <decoded cols>``.

    Pass-through columns are every input column except topics/data.
    Rows that fail to decode get NULL decoded columns when
    ``allow_decode_fail`` else are dropped.

    ``_force_row_path`` pins the per-row reference decoder for dynamic
    signatures — used only by the differential test that proves the
    vectorized dynamic path byte-identical to it.
    """
    sig = parse_event_signature(event_signature)
    out_fields = output_schema(sig)
    passthrough = [c for c in logs.columns if c not in (*topic_cols, data_col)]
    if not any(_is_dynamic(p.type) for p in sig.params):
        ok, cols = _static_sql(sig, topic_cols, data_col)
        pq = [f"`{c}`" for c in passthrough]
        src = logs.selectExpr(
            *pq, *[f"`{c}`" for c in (*topic_cols, data_col)], f"{ok} AS `_ok`"
        )
        if allow_decode_fail:  # a row that fails keeps NULL decoded columns
            return src.selectExpr(
                *pq, *[f"CAST(IF(`_ok`, {sql}, NULL) AS {typ}) AS `{name}`" for name, sql, typ in cols]
            )
        return src.filter("`_ok`").selectExpr(
            *pq, *[f"CAST({sql} AS {typ}) AS `{name}`" for name, sql, typ in cols]
        )

    schema = T.StructType(
        [logs.schema[c] for c in passthrough] + list(out_fields.fields)
    )
    decoded_names = [f.name for f in out_fields.fields]
    n_topics = len(topic_cols)

    def _assemble(pdf, good, value_of):
        """Shared output-assembly epilogue for both mapper closures:
        ``good`` holds the surviving input row indices, ``value_of(name)``
        the decoded values for those rows (1-D object ndarray, or None
        when the column produced nothing this batch).  allow_decode_fail
        keeps every input row (non-survivors get NULL decoded columns);
        otherwise non-survivors are dropped."""
        if allow_decode_fail:
            base = pdf[list(passthrough)].reset_index(drop=True)
            for name in decoded_names:
                full = np.full(len(pdf), None, dtype=object)
                if len(good):
                    vals = value_of(name)
                    if vals is not None:
                        full[good] = vals
                base[name] = pd.Series(full, dtype=object)
        else:
            base = pdf.iloc[good][list(passthrough)].reset_index(drop=True)
            for name in decoded_names:
                vals = value_of(name) if len(good) else None
                base[name] = pd.Series(
                    vals if vals is not None else np.array([], dtype=object),
                    dtype=object,
                )
        return base

    def row_mapper(batches):
        # dynamic params (T[], bytes, string) are ragged — no fixed word
        # matrix exists, so decode per row with the COMPILED decoder
        # (type dispatch hoisted out of the row loop; still
        # Arrow-batched at the boundary; only the tail walk is Python)
        dec = _compile_row_decoder(sig)
        for pdf in batches:
            n = len(pdf)
            topic_arrays = [pdf[c].to_numpy() for c in topic_cols]
            data_arr = pdf[data_col].to_numpy()
            decoded = [
                dec(
                    [None] + [topic_arrays[k][i] for k in range(n_topics)],
                    data_arr[i],
                )
                for i in range(n)
            ]
            good = np.array(
                [i for i, d in enumerate(decoded) if d is not None], dtype=np.int64
            )
            # _obj_array, not np.array: dynamic-signature values are
            # lists, and equal-length lists would broadcast to 2-D
            yield _assemble(
                pdf,
                good,
                lambda name: _obj_array([decoded[i].get(name) for i in good]),
            )

    # every supported ABI type is static (one 32-byte word), so the
    # decode is fully vectorizable: per batch, one byte matrix per word
    # source and a handful of numpy column ops — no per-row reader.
    # (word k of `plan` = (param, source): source = topic index or data
    # word index, in declaration order, mirroring decode_event_row.)
    plan: list[tuple[EventParam, str, int]] = []
    ti, di = 0, 0
    for p in sig.params:
        if p.indexed:
            plan.append((p, "t", ti))
            ti += 1
        else:
            plan.append((p, "d", di))
            di += 1
    n_indexed, n_words = ti, di

    def _decode_matrix(
        p: EventParam, m: "np.ndarray", fail: "np.ndarray"
    ) -> dict[str, "np.ndarray"]:
        """Decode an (r, 32) uint8 word matrix for one param; updates
        ``fail`` in place for padding violations.  Value semantics are
        exactly :func:`_decode_word`'s."""
        out: dict[str, np.ndarray] = {}
        r = m.shape[0]
        if p.type == "address":
            fail |= m[:, :12].any(axis=1)
            out[p.name] = np.array([bytes(row[12:]) for row in m], dtype=object)
            return out
        if p.type == "bool":
            out[p.name] = m[:, 31] != 0
            return out
        im = re.match(r"^(u?)int(\d+)$", p.type)
        if im:
            bits = int(im.group(2))
            if im.group(1) == "u":
                lead = 32 - bits // 8
                if lead:
                    fail |= m[:, :lead].any(axis=1)
                if bits <= 32:
                    out[p.name] = (
                        np.ascontiguousarray(m[:, 28:32]).view(">u4").ravel()
                        .astype(np.int64)
                    )
                else:
                    vals = np.empty(r, dtype=object)
                    for i in range(r):
                        v = int.from_bytes(bytes(m[i]), "big")
                        vals[i] = Decimal(v) if v <= _DEC38_MAX else None
                    out[p.name] = vals
                    out[f"{p.name}_raw"] = np.array(
                        [bytes(row) for row in m], dtype=object
                    )
            elif bits <= 64:
                # sign-extension check + low-word read, fully
                # vectorized (mirrors _vec_elem_decoder's dec_int)
                lo = np.ascontiguousarray(m[:, 24:32]).view(">i8").ravel()
                hi = m[:, :24]
                conform = (~hi.any(axis=1) & (lo >= 0)) | (
                    (hi == 0xFF).all(axis=1) & (lo < 0)
                )
                if bits < 64:
                    lo_b, hi_b = -(1 << (bits - 1)), 1 << (bits - 1)
                    conform &= (lo >= lo_b) & (lo < hi_b)
                fail |= ~conform  # dirty int padding
                out[p.name] = lo.astype(object)
            else:
                lo_b, hi_b = -(1 << (bits - 1)), 1 << (bits - 1)
                vals = np.empty(r, dtype=object)
                for i in range(r):
                    v = int.from_bytes(bytes(m[i]), "big", signed=True)
                    if bits < 256 and not (lo_b <= v < hi_b):
                        fail[i] = True  # dirty int padding
                    vals[i] = Decimal(v) if abs(v) <= _DEC38_MAX else None
                out[p.name] = vals
                if bits > 64:
                    out[f"{p.name}_raw"] = np.array(
                        [bytes(row) for row in m], dtype=object
                    )
            return out
        bm = re.match(r"^bytes(\d+)$", p.type)
        if bm:
            nb = int(bm.group(1))
            out[p.name] = np.array([bytes(row[:nb]) for row in m], dtype=object)
            return out
        raise ValueError(f"unsupported ABI type {p.type!r}")

    # Vectorized dynamic path: for every supported dynamic kind —
    # ``T[]`` of any static base, ``bytes``, ``string`` — the canonical
    # layout makes the ragged tails computable with offset-table
    # arithmetic: tails are tightly packed in head order, so the
    # expected offset / length / element positions of EVERY row are
    # derivable with cumulative int64 vectors and one fancy-indexed
    # byte gather per word source — no per-row Python word walk (blob
    # payload slicing, utf-8 validation, and wide-element Decimal
    # construction are inherently per-value and stay so).  Failure
    # semantics are byte-identical to ``row_mapper`` (pinned by
    # tests/test_abi_dyn_vectorized.py's differential suite): any
    # structural violation (short data, non-canonical offset,
    # out-of-bounds length, dirty padding, extra topic, trailing bytes,
    # invalid utf-8 in a string param) NULLs the whole row, while a
    # wide-int element beyond ±(10^38-1) NULLs only that ELEMENT.
    # (pad-byte CONTENT of blob tails is deliberately unchecked — the
    # row path accepts dirty blob padding, so the vectorized path must
    # too.)  ``row_mapper`` remains as the pinned reference path.
    dyn_tails: list[tuple[EventParam, int, tuple]] = []
    for p, src_, k in plan:
        if src_ != "d" or not _is_dynamic(p.type):
            continue
        if p.type in ("bytes", "string"):
            dyn_tails.append((p, k, ("blob", p.type == "string")))
            continue
        elem_dec = _vec_elem_decoder(p.type[:-2])
        if elem_dec is not None:
            dyn_tails.append((p, k, ("arr", elem_dec)))
    dyn_vectorizable = len(dyn_tails) == sum(
        1 for p in sig.params if _is_dynamic(p.type)
    )
    head_bytes = 32 * n_words

    def _gather32(buf: "np.ndarray", pos: "np.ndarray") -> "np.ndarray":
        """(r,) byte positions -> (r, 32) uint8 word matrix."""
        return buf[pos[:, None] + np.arange(32)]

    def _be_u64(w: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
        """Split (r, 32) words into (high-24-bytes-nonzero, low u64)."""
        hi = w[:, :24].any(axis=1)
        lo = np.ascontiguousarray(w[:, 24:32]).view(">u8").ravel()
        return hi, lo

    def _obj_array(lists: list) -> "np.ndarray":
        """list-of-lists -> 1-D object ndarray (plain ``np.array`` /
        slice-assign would try to broadcast equal-length sublists into
        a 2-D matrix)."""
        a = np.empty(len(lists), dtype=object)
        for i, v in enumerate(lists):
            a[i] = v
        return a

    def mapper_dyn(batches):
        for pdf in batches:
            n = len(pdf)
            topic_arrays = [pdf[c].to_numpy() for c in topic_cols]
            data_arr = pdf[data_col].to_numpy()
            ok = np.ones(n, dtype=bool)
            if n_indexed > n_topics:
                ok[:] = False
            for k in range(min(n_indexed, n_topics)):
                ok &= np.fromiter(
                    (x is not None and len(x) == 32 for x in topic_arrays[k]),
                    bool, count=n,
                )
            # row decoder checks only the FIRST unused topic slot
            # (`topics[n_topics_used]`), not all trailing ones
            if n_indexed < n_topics:
                ok &= np.fromiter(
                    (x is None for x in topic_arrays[n_indexed]), bool, count=n
                )
            dlens = np.fromiter(
                (len(x) if x is not None else 0 for x in data_arr),
                np.int64, count=n,
            )
            ok &= dlens >= head_bytes
            idx = np.nonzero(ok)[0]
            r = len(idx)
            fail = np.zeros(r, dtype=bool)
            cols: dict[str, np.ndarray] = {}
            dyn_lists: dict[str, list] = {}
            if r:
                dl = dlens[idx]
                # one concatenated candidate buffer + 32 pad bytes so
                # clipped reads for already-failed rows stay in bounds
                # (raw kept as bytes for O(1) blob payload slices)
                raw = b"".join(bytes(data_arr[i]) for i in idx)
                buf = np.frombuffer(raw + b"\0" * 32, np.uint8)
                starts = np.zeros(r, dtype=np.int64)
                if r > 1:
                    np.cumsum(dl[:-1], out=starts[1:])
                pad_pos = int(dl.sum())
                # static params (topic words + static head words) reuse
                # the all-static matrix decoder
                for p, src_, k in plan:
                    if src_ == "t":
                        m = np.frombuffer(
                            b"".join(topic_arrays[k][i] for i in idx), np.uint8
                        ).reshape(r, 32)
                        cols.update(_decode_matrix(p, m, fail))
                    elif not _is_dynamic(p.type):
                        m = _gather32(buf, starts + 32 * k)
                        cols.update(_decode_matrix(p, m, fail))
                # ragged tails, in declaration (== head) order
                tail = np.full(r, head_bytes, dtype=np.int64)
                for p, k, kind in dyn_tails:
                    off_hi, off_lo = _be_u64(_gather32(buf, starts + 32 * k))
                    fail |= off_hi | (off_lo != tail.astype(np.uint64))
                    fail |= tail + 32 > dl
                    alive = ~fail
                    pos_ln = np.where(alive, starts + tail, pad_pos)
                    ln_hi, ln_lo = _be_u64(_gather32(buf, pos_ln))
                    if kind[0] == "blob":
                        # bytes/string tail: length word, then the
                        # payload right-padded to a word boundary.  The
                        # u64 length precheck is overflow-armor only —
                        # ln > available payload implies the row path's
                        # padded-bound check fails too (padded >= ln).
                        is_str = kind[1]
                        max_pl = np.maximum(dl - tail - 32, 0)
                        fail |= alive & (
                            ln_hi | (ln_lo > max_pl.astype(np.uint64))
                        )
                        ln = np.where(~fail, ln_lo, 0).astype(np.int64)
                        padded = ((ln + 31) // 32) * 32
                        fail |= tail + 32 + padded > dl
                        ln = np.where(~fail, ln, 0)
                        pl_start = starts + tail + 32
                        tail = np.where(~fail, tail + 32 + padded, tail)
                        vals: list = [None] * r
                        for i in np.nonzero(~fail)[0]:
                            a0 = int(pl_start[i])
                            payload = raw[a0 : a0 + int(ln[i])]
                            if is_str:
                                try:
                                    vals[i] = payload.decode("utf-8")
                                except UnicodeDecodeError:
                                    # row decoder NULLs the whole row on
                                    # invalid utf-8 (decode()'s except)
                                    fail[i] = True
                            else:
                                vals[i] = payload
                        dyn_lists[p.name] = vals
                        continue
                    elem_dec = kind[1]
                    max_ln = np.maximum((dl - tail - 32) // 32, 0)
                    fail |= alive & (ln_hi | (ln_lo > max_ln.astype(np.uint64)))
                    ln = np.where(~fail, ln_lo, 0).astype(np.int64)
                    elem_start = starts + tail + 32
                    tail = np.where(~fail, tail + 32 + 32 * ln, tail)
                    e = int(ln.sum())
                    bounds = np.cumsum(ln)
                    if e:
                        j = np.arange(e) - np.repeat(bounds - ln, ln)
                        pos_e = np.repeat(elem_start, ln) + 32 * j
                        w = _gather32(buf, pos_e)
                        elems, bad = elem_dec(w)
                        if bad is not None and bad.any():
                            row_rep = np.repeat(np.arange(r), ln)
                            fail |= np.bincount(
                                row_rep[bad], minlength=r
                            ).astype(bool)
                    else:
                        elems = []
                    lo_b = np.concatenate(([0], bounds[:-1]))
                    dyn_lists[p.name] = [
                        elems[a:b] for a, b in zip(lo_b.tolist(), bounds.tolist())
                    ]
                fail |= tail != dl
            good = idx[~fail] if r else idx
            keep = ~fail if r else np.zeros(0, dtype=bool)

            def _dyn_value(name):
                if name in dyn_lists:
                    return _obj_array(dyn_lists[name])[keep]
                return cols[name][keep] if name in cols else None

            yield _assemble(pdf, good, _dyn_value)

    from cherry_pipelines_spark.operators.text import fan_out

    # spread the Python decode boundary: a single-file scan arrives as
    # one partition, which would serialize all rows through one Python
    # worker (no-op when the input is already parallel)
    src = fan_out(logs.select(*passthrough, *topic_cols, data_col))
    fn = mapper_dyn if dyn_vectorizable and not _force_row_path else row_mapper
    return src.mapInPandas(fn, schema)

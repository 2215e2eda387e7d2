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

The entry point is :func:`decode_events_df`.  Every signature decodes
as Spark SQL text (:func:`_decode_sql`), so the decode runs as Catalyst
expressions with no Python worker.  Head words sit at constant offsets,
so each static param is a ``substring`` of its topic or the data, and
each int a ``conv`` of the hex of its word's low bytes; a dynamic
param's tail is a ``substring`` at the offset its head word holds, and
an array's elements a ``transform`` over its words.  The per-row reader
:func:`decode_event_row` is the reference the SQL is tested against.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from decimal import Decimal

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


def _wide_uint(abi_type: str) -> bool:
    m = re.match(r"^(u?)int(\d+)$", abi_type)
    return bool(m) and int(m.group(2)) > (32 if m.group(1) == "u" else 64)


def output_schema(sig: EventSignature) -> T.StructType:
    fields = []
    for p in sig.params:
        fields.append(T.StructField(p.name, spark_type_for(p.type), True))
        if _wide_uint(p.type):
            fields.append(T.StructField(f"{p.name}_raw", T.BinaryType(), True))
    return T.StructType(fields)


def _word_decoder(abi_type: str):
    """The per-row reader of one 32-byte ABI word of ``abi_type``:
    ``fn(word) -> (value, raw_or_None)``, raising on dirty padding.  The
    type is matched once here; the closure only does byte work.  Wide
    ints (uint > 32, int > 64 bits) are DECIMAL(38,0), None beyond
    ±(10^38-1), with the word kept raw (overflow policy: SURVEY §7.3)."""
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
    """The per-row reader of one dynamic param's tail (standard layout:
    a length word, then 32-byte elements for ``T[]`` or the payload
    right-padded to a word for ``bytes``/``string``):
    ``fn(data, off) -> (value, tail_bytes_consumed)``."""
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
    elem = _word_decoder(abi_type[:-2])

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
    """The per-row decoder of ``sig``: all type dispatch (regex
    matches, indexed/dynamic branching, raw-column bookkeeping) happens
    once here; the returned closure touches only bytes."""
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
                    # the canonical layout: tails tightly packed in head
                    # order.  Spec-legal gapped, out-of-order or shared
                    # tails are refused: no real encoder emits them, and
                    # a shared tail would slip past the length check
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
            if any(t is not None for t in topics[n_topics_used:]):
                raise ValueError("extra topic")
            if tail_off != len(data):
                raise ValueError("data length mismatch")
            return out
        except Exception:
            return None

    return decode


_DECODER_CACHE: dict[EventSignature, "object"] = {}


def _word_sql(abi_type: str, word: str) -> tuple[str | None, str]:
    """``(check, value)``: SQL over ``word``, SQL for a 32-byte ABI word
    of a static ``abi_type``.  ``check`` (None when every word passes)
    holds when the word is padded as the ABI encodes it (zeros; the sign
    for intN); ``value`` is :func:`_word_decoder`'s value.  An int is a
    ``conv`` of the hex of the word's low bytes."""
    if abi_type == "address":
        return f"substring({word}, 1, 12) = X'{'00' * 12}'", f"substring({word}, 13, 20)"
    if abi_type == "bool":
        return None, f"substring({word}, 32, 1) != X'00'"
    m = re.match(r"^bytes(\d+)$", abi_type)
    if m:
        return None, f"substring({word}, 1, {m.group(1)})"
    m = re.match(r"^(u?)int(\d+)$", abi_type)
    unsigned, bits = m.group(1) == "u", int(m.group(2))
    lead = 32 - bits // 8
    check = None
    if unsigned and lead:
        check = f"substring({word}, 1, {lead}) = X'{'00' * lead}'"
    elif not unsigned and lead:  # sign-extended: lead bytes copy the top bit
        head = f"substring({word}, 1, {lead + 1})"
        check = f"({head} <= X'{'00' * lead}7F' OR {head} >= X'{'FF' * lead}80')"
    if _wide_uint(abi_type):
        return check, dec38_word_sql(word, not unsigned)
    if unsigned:  # uint <= 32 or int <= 64: a long
        return check, f"conv(hex(substring({word}, 29, 4)), 16, 10)"
    return check, f"conv(hex(substring({word}, 25, 8)), 16, -10)"


def _decode_sql(
    sig: EventSignature, topic_cols: tuple[str, ...], data_col: str
) -> tuple[str, list[tuple[str, str, str]]]:
    """The decode of ``sig`` as Spark SQL text: ``(ok, cols)``.

    * ``ok`` holds for a log that decodes: each indexed param's topic is
      32 bytes, every later topic is NULL, each word is padded as the ABI
      encodes it, the tails lie in the canonical layout and the data
      ends where the last one does (one word per param when all are
      static), and each string is valid UTF-8.  It reads only the binary
      columns.
    * ``cols``: ``(name, SQL, type)`` per output column, over the binary
      columns; ``<name>_raw`` follows each wide int.

    Values match :func:`decode_event_row`.  A dynamic param's offset is
    read from its own head word, so no SQL depends on an earlier tail's;
    canonical order is checked pair by pair (each offset is where the
    previous tail ends).  Offsets and lengths are uint32 words, and each
    length is clamped to the data's before any arithmetic or
    ``array_repeat``: a row with a longer one fails the order checks,
    and the clamp keeps the work its dead branches may do bounded."""
    n_indexed = sum(p.indexed for p in sig.params)
    if n_indexed > len(topic_cols):  # a topic is always missing
        return "false", [
            (f.name, "NULL", f.dataType.simpleString()) for f in output_schema(sig).fields
        ]
    data = f"`{data_col}`"
    checks = [f"length(`{t}`) = 32" for t in topic_cols[:n_indexed]]
    checks += [f"`{t}` IS NULL" for t in topic_cols[n_indexed:]]
    heads = [p for p in sig.params if not p.indexed]
    tails: dict[int, tuple[str, str]] = {}  # head index -> (offset, length) SQL
    end: int | str = 32 * len(heads)  # where the next tail must start
    for k, p in enumerate(heads):
        if _is_dynamic(p.type):
            off_ok, off = _word_sql("uint32", f"substring({data}, {32 * k + 1}, 32)")
            off = f"CAST({off} AS BIGINT)"
            len_ok, n = _word_sql("uint32", f"substring({data}, {off} + 1, 32)")
            n = f"least(CAST({n} AS BIGINT), length({data}))"
            checks += [off_ok, f"{off} = {end}", len_ok]
            n_words = n if p.type.endswith("[]") else f"(({n} + 31) div 32)"
            end = f"{off} + 32 * {n_words} + 32"
            tails[k] = off, n
    checks.append(f"coalesce(length({data}), 0) = {end}")
    cols: list[tuple[str, str, str]] = []
    ti = di = 0
    for p in sig.params:
        typ = spark_type_for(p.type).simpleString()
        if not p.indexed and di in tails:
            off, n = tails[di]
            if p.type.endswith("[]"):
                words = (
                    f"transform(array_repeat(0, CAST({n} AS INT)), "
                    f"(_x, _i) -> substring({data}, {off} + 33 + 32 * _i, 32))"
                )
                check, value = _word_sql(p.type[:-2], "_w")
                if check:
                    checks.append(f"forall({words}, _w -> {check})")
                cols.append((p.name, f"transform({words}, _w -> {value})", typ))
            else:
                value = f"substring({data}, {off} + 33, {n})"
                if p.type == "string":
                    value = f"CAST({value} AS STRING)"
                    checks.append(f"is_valid_utf8({value})")
                cols.append((p.name, value, typ))
            di += 1
            continue
        if p.indexed:
            word = f"`{topic_cols[ti]}`"
            ti += 1
        else:
            word = f"substring({data}, {32 * di + 1}, 32)"
            di += 1
        check, value = _word_sql(p.type, word)
        if check:
            checks.append(check)
        cols.append((p.name, value, typ))
        if _wide_uint(p.type):
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
) -> DataFrame:
    """Decode a logs DataFrame into ``<passthrough cols> + <decoded cols>``.

    Pass-through columns are every input column except topics/data.
    Rows that fail to decode get NULL decoded columns when
    ``allow_decode_fail`` else are dropped.  The decode is the SQL of
    :func:`_decode_sql`, so it runs as Catalyst expressions with no
    Python worker.
    """
    sig = parse_event_signature(event_signature)
    passthrough = [c for c in logs.columns if c not in (*topic_cols, data_col)]
    ok, cols = _decode_sql(sig, topic_cols, data_col)
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

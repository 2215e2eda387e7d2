"""Solana borsh instruction decoding (SURVEY §2.6 D2).

Re-implements, Spark-first, the capability of the reference's
``SVM_DECODE_INSTRUCTIONS`` step: an ``InstructionSignature``
(discriminator + borsh param types + account names — reference config
shape at /root/reference/src/cherry_pipelines/svm/common_signatures.py:10-42
and orca_swaps.py:48-173) drives a byte-level decoder of each
instruction's ``data`` (after the discriminator prefix) into typed
columns, and maps positional account keys ``a0..a9`` /
``rest_of_accounts`` onto the declared account names.

The type tree (``DynType``) covers everything the reference's
signatures use: little-endian U8..U128 / I8..I128, Bool, Option(T)
(1 tag byte), FixedArray(T, n), Array(T) (u32 length prefix),
Struct(fields), Enum of unit variants (u8 index → variant-name string).

Spark type mapping: U8/U16/U32 → long-compatible ints, U64 → long
(values ≥ 2^63 → NULL, SURVEY §1.3 overflow policy), U128/I128 →
Decimal(38,0) (overflow → NULL), Bool → boolean, FixedArray(U8,n) →
binary, other arrays → ArrayType, Struct → StructType, Enum → string.

Decoding is per-row byte parsing, so it runs as an Arrow-batched
``mapInPandas`` — the only Python in the pipeline hot path.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_DEC38_MAX = 10**38 - 1
_I64_MAX = 2**63 - 1


# ---------------------------------------------------------------- DynType tree
@dataclass(frozen=True)
class DynType:
    pass


@dataclass(frozen=True)
class U8(DynType): ...
@dataclass(frozen=True)
class U16(DynType): ...
@dataclass(frozen=True)
class U32(DynType): ...
@dataclass(frozen=True)
class U64(DynType): ...
@dataclass(frozen=True)
class U128(DynType): ...
@dataclass(frozen=True)
class I8(DynType): ...
@dataclass(frozen=True)
class I16(DynType): ...
@dataclass(frozen=True)
class I32(DynType): ...
@dataclass(frozen=True)
class I64(DynType): ...
@dataclass(frozen=True)
class I128(DynType): ...
@dataclass(frozen=True)
class Bool(DynType): ...


@dataclass(frozen=True)
class Option(DynType):
    inner: DynType


@dataclass(frozen=True)
class FixedArray(DynType):
    inner: DynType
    size: int


@dataclass(frozen=True)
class Array(DynType):
    inner: DynType


@dataclass(frozen=True)
class Struct(DynType):
    fields: tuple[tuple[str, DynType], ...]


@dataclass(frozen=True)
class Enum(DynType):
    variants: tuple[str, ...]  # unit variants only (all the reference uses)


_INT_SPEC: dict[type, tuple[int, bool]] = {
    U8: (1, False), U16: (2, False), U32: (4, False), U64: (8, False), U128: (16, False),
    I8: (1, True), I16: (2, True), I32: (4, True), I64: (8, True), I128: (16, True),
}


def spark_type_for(t: DynType) -> T.DataType:
    if type(t) in (U8, U16, U32, I8, I16, I32):
        return T.IntegerType() if type(t) in (U8, U16, I8, I16, I32) else T.LongType()
    if type(t) in (U64, I64):
        return T.LongType()
    if type(t) in (U128, I128):
        return T.DecimalType(38, 0)
    if isinstance(t, Bool):
        return T.BooleanType()
    if isinstance(t, Option):
        return spark_type_for(t.inner)
    if isinstance(t, FixedArray):
        if isinstance(t.inner, U8):
            return T.BinaryType()
        return T.ArrayType(spark_type_for(t.inner), True)
    if isinstance(t, Array):
        if isinstance(t.inner, U8):
            return T.BinaryType()
        return T.ArrayType(spark_type_for(t.inner), True)
    if isinstance(t, Struct):
        return T.StructType(
            [T.StructField(n, spark_type_for(ft), True) for n, ft in t.fields]
        )
    if isinstance(t, Enum):
        return T.StringType()
    raise ValueError(f"unsupported DynType {t!r}")


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise ValueError("borsh: short buffer")
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b


def _read_value(t: DynType, r: _Reader) -> Any:
    spec = _INT_SPEC.get(type(t))
    if spec is not None:
        n, signed = spec
        v = int.from_bytes(r.take(n), "little", signed=signed)
        if type(t) is U64:
            return v if v <= _I64_MAX else None
        if type(t) in (U128, I128):
            return Decimal(v) if abs(v) <= _DEC38_MAX else None
        return v
    if isinstance(t, Bool):
        b = r.take(1)[0]
        if b > 1:
            raise ValueError("borsh: bad bool")
        return b == 1
    if isinstance(t, Option):
        tag = r.take(1)[0]
        if tag == 0:
            return None
        if tag != 1:
            raise ValueError("borsh: bad option tag")
        return _read_value(t.inner, r)
    if isinstance(t, FixedArray):
        if isinstance(t.inner, U8):
            return r.take(t.size)
        return [_read_value(t.inner, r) for _ in range(t.size)]
    if isinstance(t, Array):
        n = int.from_bytes(r.take(4), "little")
        if isinstance(t.inner, U8):
            return r.take(n)
        return [_read_value(t.inner, r) for _ in range(n)]
    if isinstance(t, Struct):
        return {name: _read_value(ft, r) for name, ft in t.fields}
    if isinstance(t, Enum):
        idx = r.take(1)[0]
        if idx >= len(t.variants):
            raise ValueError("borsh: bad enum variant")
        return t.variants[idx]
    raise ValueError(f"unsupported DynType {t!r}")


# --------------------------------------------------------- InstructionSignature
@dataclass(frozen=True)
class ParamInput:
    name: str
    dtype: DynType


@dataclass(frozen=True)
class InstructionSignature:
    discriminator: bytes
    params: tuple[ParamInput, ...]
    accounts_names: tuple[str, ...]


def _fixed_layout(
    params: tuple[ParamInput, ...],
) -> list[tuple[str, int, int, str, Any]] | None:
    """(name, offset, width, kind, meta) per param when every param is
    fixed-width (ints, bool, unit-enum, FixedArray(U8, n)) — the shape of
    almost every real instruction signature — else None (variable-width
    Option/Array/Struct fall back to the per-row reader)."""
    out: list[tuple[str, int, int, str, Any]] = []
    off = 0
    for p in params:
        t = p.dtype
        spec = _INT_SPEC.get(type(t))
        if spec is not None:
            n, signed = spec
            kind = (
                "u128" if type(t) is U128 else "i128" if type(t) is I128
                else "u64" if type(t) is U64 else "int" if signed else "uint"
            )
            out.append((p.name, off, n, kind, signed))
            off += n
        elif isinstance(t, Bool):
            out.append((p.name, off, 1, "bool", None))
            off += 1
        elif isinstance(t, Enum):
            out.append((p.name, off, 1, "enum", t.variants))
            off += 1
        elif isinstance(t, FixedArray) and isinstance(t.inner, U8):
            out.append((p.name, off, t.size, "bytes", None))
            off += t.size
        else:
            return None
    return out


def _decode_fixed_batch(
    layout: list[tuple[str, int, int, str, Any]],
    mat: "np.ndarray",
) -> tuple[dict[str, Any], "np.ndarray"]:
    """Vectorized decode of an (n_rows, total_width) uint8 matrix.
    Returns (column values keyed by param name, keep-row mask).  Value
    and drop semantics match :func:`_read_value` exactly: bad bool /
    bad enum byte drops the row; U64 > int64 max and |128-bit| >
    Decimal(38) max become NULL values."""
    n = mat.shape[0]
    keep = np.ones(n, dtype=bool)
    cols: dict[str, Any] = {}
    for name, off, w, kind, meta in layout:
        sub = mat[:, off : off + w]
        if kind in ("uint", "int", "u64"):
            code = f"{'<i' if kind == 'int' else '<u'}{w}"
            vals = (
                sub.ravel().view(code)  # reinterpret, not value-cast
                if w == 1
                else np.ascontiguousarray(sub).view(code).ravel()
            )
            if kind == "u64":
                over = vals > np.uint64(_I64_MAX)
                if over.any():
                    obj = vals.astype(object)
                    obj[over] = None
                    cols[name] = obj
                else:
                    cols[name] = vals.astype(np.int64)
            else:
                cols[name] = vals.astype(np.int64)
        elif kind in ("u128", "i128"):
            signed = kind == "i128"
            vals_o = np.empty(n, dtype=object)
            for i in range(n):
                v = int.from_bytes(bytes(sub[i]), "little", signed=signed)
                vals_o[i] = Decimal(v) if abs(v) <= _DEC38_MAX else None
            cols[name] = vals_o
        elif kind == "bool":
            b = sub.ravel()
            keep &= b <= 1
            cols[name] = b == 1
        elif kind == "enum":
            b = sub.ravel()
            keep &= b < len(meta)
            cols[name] = np.array(meta, dtype=object)[np.minimum(b, len(meta) - 1)]
        else:  # bytes
            cols[name] = np.array([bytes(row) for row in sub], dtype=object)
    return cols, keep


def decode_instruction_data(sig: InstructionSignature, data: bytes | None) -> dict | None:
    """Decode one instruction's data (discriminator included); None on
    mismatch/short buffer (decode-failure tolerance, SURVEY §4.12)."""
    if data is None or not data.startswith(sig.discriminator):
        return None
    r = _Reader(data)
    r.pos = len(sig.discriminator)
    try:
        out = {p.name: _read_value(p.dtype, r) for p in sig.params}
    except ValueError:
        return None
    return out


def decode_instructions_df(
    instructions: DataFrame,
    sig: InstructionSignature,
    passthrough: tuple[str, ...] = (
        "block_slot",
        "transaction_index",
        "instruction_address",
    ),
    data_col: str = "data",
    drop_params: tuple[str, ...] = (),
) -> DataFrame:
    """Decode an instructions DataFrame: rows whose ``data`` starts with
    the discriminator become ``<passthrough> + <account name cols> +
    <param cols>``; non-matching / malformed rows are dropped (the
    reference routes rows to decode steps by discriminator prefix first,
    orca_swaps.py:240-261, so a mismatch here is malformed input).

    Account mapping is a pure column rename: ``a0..a9`` →
    ``accounts_names`` — done JVM-side before the decode UDF.

    ``drop_params`` skips decoding a SUFFIX of the signature's params
    entirely (borsh layouts are sequential, so an unused tail costs
    nothing to skip).  This matters when the tail is the one
    variable-width member of an otherwise fixed-width signature: the
    whole decode stays on the vectorized fast path (orca v2's
    ``remaining_accounts_info`` is the canonical case — decoded then
    dropped by the reference too, it never reaches the sink).  Rows are
    then validated on the decoded prefix only: a row whose *suffix*
    bytes are malformed is kept, where a full decode would drop it —
    acceptable exactly because the dropped tail is unused.
    """
    from pyspark.sql import functions as F

    sig = _trim_sig(sig, drop_params)

    acct_cols = []
    n_direct = min(len(sig.accounts_names), 10)
    for i, aname in enumerate(sig.accounts_names[:n_direct]):
        acct_cols.append(F.col(f"a{i}").alias(aname))
    for j, aname in enumerate(sig.accounts_names[10:]):
        acct_cols.append(F.element_at(F.col("rest_of_accounts"), j + 1).alias(aname))

    pre = instructions.filter(
        F.col(data_col).startswith(F.lit(sig.discriminator))
    ).select(*passthrough, *acct_cols, data_col)

    param_fields = [
        T.StructField(p.name, spark_type_for(p.dtype), True) for p in sig.params
    ]
    keep = [c for c in pre.columns if c != data_col]
    schema = T.StructType([pre.schema[c] for c in keep] + param_fields)
    param_names = [p.name for p in sig.params]
    layout = _fixed_layout(sig.params)
    disc_len = len(sig.discriminator)
    fixed_width = sum(e[2] for e in layout) if layout is not None else 0

    def fast_mapper(batches):
        # all-fixed-width signature: one byte-matrix per Arrow batch,
        # ``dim`` vectorized column decodes instead of a per-row reader
        # (~10× on the decode boundary; identical drop/NULL semantics)
        for pdf in batches:
            data_arr = pdf[data_col].to_numpy()
            exp = disc_len + fixed_width
            lens = np.fromiter((len(d) for d in data_arr), np.int64, count=len(pdf))
            valid = np.nonzero(lens >= exp)[0]
            if len(valid) == 0:
                empty = pdf.iloc[:0][list(keep)].copy()
                for name in param_names:
                    empty[name] = pd.Series([], dtype=object)
                yield empty
                continue
            joined = b"".join(data_arr[i][disc_len:exp] for i in valid)
            mat = np.frombuffer(joined, np.uint8).reshape(len(valid), fixed_width)
            cols, keep_mask = _decode_fixed_batch(layout, mat)
            kept = valid[keep_mask]
            base = pdf.iloc[kept][list(keep)].reset_index(drop=True)
            for name in param_names:
                vals = cols[name][keep_mask]
                base[name] = pd.Series(
                    vals, dtype=object if vals.dtype == object else None
                )
            yield base

    def mapper(batches):
        # column-wise accumulation (same pattern as abi.decode_events_df):
        # the per-row loop touches only the data blob, never row dicts
        for pdf in batches:
            data_arr = pdf[data_col].to_numpy()
            out_cols: dict[str, list] = {name: [] for name in param_names}
            kept: list[int] = []
            for i in range(len(pdf)):
                decoded = decode_instruction_data(sig, data_arr[i])
                if decoded is None:
                    continue
                for name in param_names:
                    out_cols[name].append(decoded.get(name))
                kept.append(i)
            base = (
                pdf[list(keep)].reset_index(drop=True)
                if len(kept) == len(pdf)
                else pdf.iloc[kept][list(keep)].reset_index(drop=True)
            )
            for name in param_names:
                base[name] = pd.Series(out_cols[name], dtype=object)
            yield base

    from cherry_pipelines_spark.operators.text import fan_out

    # spread the Python decode boundary across workers (no-op when the
    # input is already parallel; single-file fixtures arrive 1-partition)
    return fan_out(pre).mapInPandas(
        fast_mapper if layout is not None else mapper, schema
    )


def _trim_sig(sig: "InstructionSignature", drop_params: tuple[str, ...]):
    """The drop_params suffix-trim shared by single and multi decode."""
    if not drop_params:
        return sig
    names = [p.name for p in sig.params]
    k = len(drop_params)
    if tuple(names[-k:]) != tuple(drop_params):
        raise ValueError(f"drop_params {drop_params!r} must be a suffix of {names!r}")
    return InstructionSignature(
        discriminator=sig.discriminator,
        params=sig.params[:-k],
        accounts_names=sig.accounts_names,
    )


def _sql_binary(b: bytes) -> str:
    return f"X'{bytes(b).hex()}'"


def decode_instructions_multi(
    instructions: DataFrame,
    kinds: "list[tuple]",
    passthrough: tuple[str, ...] = (
        "block_slot",
        "transaction_index",
        "instruction_address",
    ),
    data_col: str = "data",
) -> DataFrame:
    """Decode MANY instruction signatures through ONE Python boundary —
    the fused form of per-branch ``decode_instructions_df`` chains.

    ``kinds`` is a list of ``(key, programs, sig)`` or ``(key,
    programs, sig, drop_params)`` tuples: a row belongs to EVERY kind
    whose program set contains its ``program_id`` and whose
    discriminator prefixes its data — identical routing to the
    independent per-branch filters it replaces (overlapping kinds,
    e.g. one discriminator a prefix of another, decode the row under
    both).  Output is the fused frame
    ``<passthrough> + a0..a9 + rest_of_accounts + _kind +
    <key>__<param> ...`` — feed it to :func:`split_decoded` (after a
    per-batch cache, so the Python stage executes once) for per-kind
    frames IDENTICAL to the per-branch ``decode_instructions_df``
    output.

    Why: each ``decode_instructions_df`` call is its own mapInPandas
    stage — a reference-shaped pipeline with 8+ discriminator branches
    pays 10 Arrow boundaries per micro-batch (one per branch, all over
    the same parent rows).  Fusing the dispatch into one mapper that
    partitions each Arrow batch by (program, discriminator) and runs
    the SAME vectorized fixed-width / per-row fallback kernels per
    sub-batch measured 4x faster on the 20k-slot PIPEBENCH stream
    (2.8 s -> 0.7 s for raydium's 10 branches, identical rows).  Drop
    and NULL semantics are bit-identical per kind — pinned by the
    differential pytest."""
    if not kinds:
        raise ValueError("decode_instructions_multi: kinds must be non-empty")
    if len({k[0] for k in kinds}) != len(kinds):
        # Duplicate keys would emit duplicate "<key>__<param>" schema
        # fields; split_decoded's select on them would be ambiguous.
        raise ValueError(
            "decode_instructions_multi: kind keys must be unique, got "
            + repr(sorted(k[0] for k in kinds))
        )
    norm = [
        (k[0], tuple(k[1]), _trim_sig(k[2], k[3] if len(k) > 3 else ()))
        for k in kinds
    ]
    acct_src = [f"a{i}" for i in range(10)] + ["rest_of_accounts"]
    carry = [c for c in passthrough] + [
        c for c in acct_src if c not in passthrough and c in instructions.columns
    ]
    # the dispatch filter as SQL text: parsed in one call, where the
    # Column form costs several py4j round trips per operator
    pred = " OR ".join(
        f"(`program_id` IN ({', '.join(_sql_binary(p) for p in progs)})"
        f" AND startswith(`{data_col}`, {_sql_binary(sig.discriminator)}))"
        for _, progs, sig in norm
    )
    sel = list(carry)
    if "program_id" not in sel:
        sel.append("program_id")
    pre = instructions.filter(pred).select(*sel, data_col)

    fields = [pre.schema[c] for c in carry] + [T.StructField("_kind", T.StringType())]
    for key, _progs, sig in norm:
        for p in sig.params:
            fields.append(
                T.StructField(f"{key}__{p.name}", spark_type_for(p.dtype), True)
            )
    schema = T.StructType(fields)
    out_names = [f.name for f in schema.fields]
    kind_meta = [
        (key, frozenset(progs), sig, _fixed_layout(sig.params), [p.name for p in sig.params])
        for key, progs, sig in norm
    ]
    all_prefixed = [
        f"{key}__{nm}" for key, _p, _s, _l, pnames in kind_meta for nm in pnames
    ]

    def fused(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            prog = pdf["program_id"].to_numpy()
            data = pdf[data_col].to_numpy()
            frames = []
            for key, progs, sig, layout, pnames in kind_meta:
                disc = sig.discriminator
                dl = len(disc)
                # every kind sees every row, EXACTLY like the
                # per-branch decode_instructions_df chain it replaces:
                # a row whose (program, data) matches two kinds (one
                # discriminator a prefix of another) decodes under
                # BOTH — a first-match-wins claim here would silently
                # drop rows from the later kind and break the
                # fused-vs-per-branch parity contract (pinned by the
                # overlapping-kinds differential test)
                mask = np.fromiter(
                    (
                        (p in progs) and bytes(d[:dl]) == disc
                        for p, d in zip(prog, data)
                    ),
                    bool,
                    count=n,
                )
                idx = np.nonzero(mask)[0]
                if not len(idx):
                    continue
                sub = data[idx]
                if layout is not None:
                    fw = sum(e[2] for e in layout)
                    exp = dl + fw
                    lens = np.fromiter(
                        (len(d) for d in sub), np.int64, count=len(sub)
                    )
                    valid = np.nonzero(lens >= exp)[0]
                    if not len(valid):
                        continue
                    joined = b"".join(bytes(sub[i][dl:exp]) for i in valid)
                    mat = np.frombuffer(joined, np.uint8).reshape(len(valid), fw)
                    cols, keep_mask = _decode_fixed_batch(layout, mat)
                    kept = idx[valid[keep_mask]]
                    base = pdf.iloc[kept][carry].reset_index(drop=True)
                    base["_kind"] = key
                    for nm in pnames:
                        v = cols[nm][keep_mask]
                        base[f"{key}__{nm}"] = pd.Series(
                            v, dtype=object if v.dtype == object else None
                        )
                else:
                    outc: dict[str, list] = {nm: [] for nm in pnames}
                    kept_rows: list[int] = []
                    for i in idx:
                        dec = decode_instruction_data(sig, bytes(data[i]))
                        if dec is None:
                            continue
                        for nm in pnames:
                            outc[nm].append(dec.get(nm))
                        kept_rows.append(int(i))
                    if not kept_rows:
                        continue
                    base = pdf.iloc[kept_rows][carry].reset_index(drop=True)
                    base["_kind"] = key
                    for nm in pnames:
                        base[f"{key}__{nm}"] = pd.Series(outc[nm], dtype=object)
                for col in all_prefixed:
                    if col not in base.columns:
                        base[col] = None
                frames.append(base)
            if frames:
                yield pd.concat(frames, ignore_index=True)[out_names]

    from cherry_pipelines_spark.operators.text import fan_out

    return fan_out(pre).mapInPandas(fused, schema)


def kind_columns(
    kind: tuple, names: Iterable[str] | None = None
) -> list[tuple[str, str]]:
    """``(name, SQL expression)`` of each account, then each param, of
    one :func:`decode_instructions_multi` kind over the fused frame
    (only those in ``names`` when given): the first ten accounts are
    ``a0..a9``, the rest come out of ``rest_of_accounts``, params are
    un-prefixed.  SQL text, not Columns, so a projection over many kinds
    is parsed in one call rather than built one py4j round trip per
    operator."""
    key, sig = kind[0], _trim_sig(kind[2], kind[3] if len(kind) > 3 else ())
    want = None if names is None else set(names)
    cols = [
        (aname, f"`a{i}`" if i < 10 else f"element_at(`rest_of_accounts`, {i - 9})")
        for i, aname in enumerate(sig.accounts_names)
        if want is None or aname in want
    ]
    return cols + [
        (p.name, f"`{key}__{p.name}`")
        for p in sig.params
        if want is None or p.name in want
    ]


def split_decoded(
    fused: DataFrame,
    kinds: "list[tuple]",
    passthrough: tuple[str, ...] = (
        "block_slot",
        "transaction_index",
        "instruction_address",
    ),
) -> "dict[str, DataFrame]":
    """Per-kind frames from a :func:`decode_instructions_multi` result —
    pure JVM projections (filter on ``_kind`` + account renames +
    un-prefixing), schema-identical to per-branch
    ``decode_instructions_df`` output.  Cache the fused frame per batch
    BEFORE splitting (``ctx.batch_cache``) or each branch re-executes
    the Python stage."""
    return {
        k[0]: fused.filter(f"`_kind` = '{k[0]}'").selectExpr(
            *[f"`{c}`" for c in passthrough],
            *[f"{sql} AS `{name}`" for name, sql in kind_columns(k)],
        )
        for k in kinds
    }

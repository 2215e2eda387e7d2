"""Checkpoint helpers — resume from the sink's max-block high-water mark.

Mirrors the reference's SQL MIN/MAX checkpoint reads
(/root/reference/src/cherry_pipelines/db.py:8-45): the next block to
ingest is ``MAX(block_col) + 1`` over the already-written sink table,
optionally scoped by ``chain_id``.  The reference answers that from
ClickHouse part metadata; here the sink is a Parquet directory and the
answer comes from its footers: every row group records the column's
min and max, so :func:`footer_bound` reads them with pyarrow and runs
no Spark job, however large the sink.  It lists files the way Spark's
file index does, so it sees exactly the rows a Spark read would.  When
the footers cannot answer (see :class:`FooterStatsUnavailable`), the
same MIN/MAX runs as a Spark aggregate.
"""

from __future__ import annotations

import os
import re
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class FooterStatsUnavailable(Exception):
    """The Parquet footers cannot answer a MIN/MAX: the path is not a
    local directory or file holding data files, a file is not Parquet,
    the column is missing or not a signed integer, a row group holding
    values lacks min/max statistics, or a ``chain_id`` scope is not a
    ``chain_id=<n>`` partition dir."""


def _hidden(name: str) -> bool:
    """Spark's file-index name filter (``HadoopFSUtils.
    shouldFilterOutPathName`` plus its data-file check): ``.``-prefixed
    names, ``_``-prefixed names without ``=`` (so ``_SUCCESS`` and
    ``_metadata`` go, ``_batch_start=3._compact_old`` stays) and
    in-flight ``._COPYING_`` copies."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _data_files(root: str) -> list[str]:
    if os.path.isfile(root):
        return [root]
    out = []
    for d, dirs, files in os.walk(root, followlinks=True):
        dirs[:] = [x for x in dirs if not _hidden(x)]
        out.extend(os.path.join(d, f) for f in files if not _hidden(f))
    return out


def _in_chain(root: str, path: str, chain_id: int) -> bool:
    keys = dict(
        p.split("=", 1) for p in os.path.relpath(path, root).split(os.sep)[:-1] if "=" in p
    )
    value = keys.get("chain_id")
    if value is None or not re.fullmatch(r"-?(0|[1-9][0-9]*)", value):
        raise FooterStatsUnavailable(f"no integer chain_id=<n> dir above {path}")
    return int(value) == chain_id


def footer_bound(
    path: str, column: str, bound: str = "max", chain_id: int | None = None
) -> int | None:
    """``bound`` (``"max"`` or ``"min"``) of the integer ``column`` over
    every data file a Spark read of ``path`` would scan, from Parquet
    footer statistics read with pyarrow — no Spark job.  ``chain_id`` keeps
    the files under its ``chain_id=<n>`` partition dir.  None when the
    files hold no value of the column.  Raises
    :class:`FooterStatsUnavailable` when the footers cannot answer,
    including a missing path or one without data files (what such a
    table means is Spark's to say)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    url = urlparse(path)
    if url.scheme not in ("", "file") or any(c in path for c in "*?[{"):
        raise FooterStatsUnavailable(f"not a local path: {path}")
    root = url.path if url.scheme else path
    files = _data_files(root) if os.path.exists(root) else []
    if not files:
        raise FooterStatsUnavailable(f"no data files under {path}")
    pick = max if bound == "max" else min
    best = None
    for f in files:
        if chain_id is not None and not _in_chain(root, f, chain_id):
            continue
        try:
            md = pq.read_metadata(f)
            schema = md.schema.to_arrow_schema()
        except (OSError, pa.ArrowException) as e:
            raise FooterStatsUnavailable(f"not a parquet file: {f}") from e
        if schema.get_field_index(column) < 0 or not pa.types.is_signed_integer(
            schema.field(column).type
        ):
            raise FooterStatsUnavailable(f"no integer column {column!r} in {f}")
        leaf = [md.schema.column(j).path for j in range(md.num_columns)].index(column)
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            stats = rg.column(leaf).statistics
            if rg.num_rows == 0 or (
                stats is not None and stats.has_null_count and stats.null_count == rg.num_rows
            ):
                continue
            if stats is None or not stats.has_min_max:
                raise FooterStatsUnavailable(f"row group {r} of {f} has no min/max")
            value = getattr(stats, bound)
            best = value if best is None else pick(best, value)
    return best


def _read_sink(spark: SparkSession, path: str) -> DataFrame | None:
    if not os.path.exists(path):
        return None
    try:
        df = spark.read.parquet(path)
    except Exception:
        return None
    return df


def _bound(
    spark: SparkSession, path: str, column: str, bound: str, chain_id: int | None
) -> int | None:
    try:
        return footer_bound(path, column, bound, chain_id)
    except FooterStatsUnavailable:
        pass
    df = _read_sink(spark, path)
    if df is None or column not in df.columns:
        return None
    if chain_id is not None and "chain_id" in df.columns:
        df = df.filter(F.col("chain_id") == chain_id)
    m = df.agg(getattr(F, bound)(column)).collect()[0][0]
    return None if m is None else int(m)


def get_next_block(
    spark: SparkSession, sink_path: str, column: str, chain_id: int | None = None
) -> int:
    """Next block to process = MAX(column)+1 over the sink, 0 if empty/missing.

    Reference: db.py:30-45 (returns 0 on failure so a fresh run starts
    from the configured ``from_block``).
    """
    m = _bound(spark, sink_path, column, "max", chain_id)
    return 0 if m is None else m + 1


def get_min_block(
    spark: SparkSession, sink_path: str, column: str, chain_id: int | None = None
) -> int | None:
    """Earliest available block in a source table (reference: db.py:8-27)."""
    return _bound(spark, sink_path, column, "min", chain_id)

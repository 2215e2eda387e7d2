"""Small-file compaction for partitioned parquet sinks.

The incremental batch loop (engine/pipeline.py, swap_prices.run) writes
one ``_batch_start=N`` partition per block-range batch — correct for
idempotent replay, but at 100 TB the tail of a long-running pipeline is
millions of small files, and small files are the classic scan killer
(per-file open cost, tiny row groups, starved vectorized readers).

``compact_partitions`` is the maintenance job: per partition directory,
if the data is spread over more files than its byte size warrants,
rewrite that partition to ``ceil(bytes / target_file_bytes)`` files.
Partition values (and therefore replay granularity and the checkpoint
watermark) are preserved — only the file layout inside each partition
changes.

Job shape: every partition that needs rewriting, whatever its target
file count, goes through ONE Spark write.  One multi-directory scan
reads them with an explicit schema: the data columns merged across
every footer (a column only some partitions carry survives), plus the
partition keys typed as strings, so ``007`` or ``2024-01-01`` come back
as the same dir names without touching session conf.  One hash
exchange on ``(keys…, salt)`` feeds one dynamic-``partitionBy`` write
into a hidden staging dir under the table root.  The salt is
``pmod(xxhash64(data cols), n_target)``: 0 for a one-file partition,
up to ``n_target`` buckets for a larger one, and a function of the row
alone, so a retried task rebuilds the same buckets.  The exchange has
an explicit partition count, which AQE never coalesces, so each
partition ends with between 1 and ``n_target`` files.  The job chain
per call is constant: at a million-partition table one job per
partition (~0.15 s scheduling latency each), not the data, would be
the cost (guide §2.4/§6).

Portability: listing and sizing go through the Hadoop FileSystem API
(works on local fs, HDFS, S3A — wherever the table lives), not ``os``
calls.  Each rewritten partition is swapped in from the staging dir by
:class:`~cherry_pipelines_spark.sinks.swap.DirSwap` (two renames), so a
crash leaves either the old layout, a stale temp dir, a partition
parked under its ``._compact_old`` name (restored on the next run), or
the new layout — never a half-written partition in place.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import AtomicType, StringType, StructField, StructType

from cherry_pipelines_spark.sinks.swap import DirSwap, fs_for

_TAG = "compact"
# Spark's dir-name spelling of a NULL partition value
_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


@dataclass
class CompactionReport:
    partitions_seen: int
    partitions_compacted: int
    files_before: int
    files_after: int


def _parquet_files(fs, d):
    return [
        f
        for f in fs.listStatus(d)
        if f.isFile() and f.getPath().getName().endswith(".parquet")
    ]


def _subdirs(fs, d):
    return [st.getPath() for st in fs.listStatus(d) if st.isDirectory()]


def _leaf_dirs(spark: SparkSession, fs, root) -> list:
    """Walk down NESTED key=value partition chains (e.g. the lattice
    index's c0=…/c1=… two-level layout) to the LEAF dirs — the ones
    that actually hold parquet files.  A single-level layout's dirs are
    their own leaves.  A crashed run's ``._compact_tmp`` /
    ``._compact_old`` dirs are recovered on the way: a partition parked
    between its two renames is restored, the rest dropped."""
    leaves = []
    stack = [(root, True)]
    while stack:
        d, is_root = stack.pop()
        subdirs = _subdirs(fs, d)
        stale = {DirSwap.live_name(p.getName(), _TAG) for p in subdirs} - {None}
        for live in stale:
            DirSwap(spark, f"{d.toString()}/{live}", _TAG).recover()
        if stale:
            subdirs = _subdirs(fs, d)
        kv = [p for p in subdirs if "=" in p.getName()]
        stack.extend((p, False) for p in kv)
        if not is_root and not kv:
            leaves.append(d)
    return leaves


def _part_values(rel: str) -> tuple:
    """Partition values of a ``k1=v1/k2=v2`` path, as the string-typed
    read returns them (Spark percent-escapes dir names)."""
    vals = (seg.split("=", 1)[1] for seg in rel.split("/"))
    return tuple(None if v == _NULL_PART else unquote(v) for v in vals)


def _rewrite(spark: SparkSession, root_str: str, keys: tuple, dirs: dict,
             target_file_bytes: int) -> dict[str, int]:
    """Rewrite ``dirs`` (rel path → (size, n_target), all on the
    partition-key chain ``keys``) with one write and swap each one in.
    Returns the files written per dir; 0 for a dir whose files hold no
    rows, which is left as it is."""
    jvm, fs, _root = fs_for(spark, root_str)
    paths = [f"{root_str}/{rel}" for rel in dirs]
    merged = (
        spark.read.option("basePath", root_str).option("mergeSchema", "true")
        .parquet(*paths).schema
    )
    data = [f for f in merged.fields if f.name not in keys]
    schema = StructType(data + [StructField(k, StringType()) for k in keys])
    df = spark.read.schema(schema).option("basePath", root_str).parquet(*paths)

    # n_target is looked up only for the dirs that need several files;
    # every other dir gets salt 0, i.e. one bucket, one file
    salt = F.lit(0)
    hashed = [f.name for f in data if isinstance(f.dataType, AtomicType)]
    lookup = []
    for rel, (_size, n_target) in dirs.items():
        if n_target > 1:
            vals = zip(keys, _part_values(rel))
            lookup += [F.struct(*[F.lit(v).cast("string").alias(k) for k, v in vals]),
                       F.lit(n_target)]
    if lookup and hashed:
        n_salt = F.coalesce(F.create_map(*lookup)[F.struct(*keys)], F.lit(1))
        salt = F.pmod(F.xxhash64(*hashed), n_salt)

    # an explicit count keeps AQE from merging a dir's salt buckets: one
    # task per output group at most, at least the session's shuffle
    # width or one task per target-sized slice of the input
    groups = sum(n for _size, n in dirs.values())
    size = sum(size for size, _n in dirs.values())
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_parts = min(groups, max(width, math.ceil(size / target_file_bytes)))

    # a staging dir has no live side, so recover() just drops it
    staging = DirSwap(spark, root_str + "/.bulk", _TAG)
    df.repartition(n_parts, *keys, salt).write.partitionBy(*keys).parquet(staging.tmp)
    written = {}
    for rel in dirs:
        new = jvm.org.apache.hadoop.fs.Path(f"{staging.tmp}/{rel}")
        written[rel] = len(_parquet_files(fs, new)) if fs.exists(new) else 0
        if written[rel]:
            DirSwap(spark, f"{root_str}/{rel}", _TAG).commit(new.toString())
    staging.recover()
    return written


def compact_partitions(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> CompactionReport:
    """Compact every LEAF ``key=value`` partition directory under
    ``table_path`` (nested chains like ``c0=…/c1=…`` are walked to
    their leaves; a flat layout's dirs are their own leaves) whose
    parquet files outnumber ``ceil(partition_bytes / target_file_bytes)``.

    Returns a :class:`CompactionReport`; idempotent (a second run is a
    no-op) and safe to run while readers are active on filesystems with
    atomic rename (local/HDFS; on S3 schedule it against a quiescent
    table).
    """
    _jvm, fs, root = fs_for(spark, table_path)
    if not fs.exists(root):
        return CompactionReport(0, 0, 0, 0)
    leaf_dirs = _leaf_dirs(spark, fs, root)

    # Size every leaf ONCE on the driver and group the ones to rewrite
    # by partition-key chain (one write each; a table has one chain).
    # Leaf paths from listStatus come back fully qualified (``file:/…``);
    # qualify root the same way so rel-path slicing and staging-path
    # construction line up on any filesystem.
    root_str = fs.makeQualified(root).toString().rstrip("/")
    files_before = files_after = compacted = 0
    n_files: dict[str, int] = {}
    chains: dict[tuple, dict] = {}
    for d in leaf_dirs:
        files = _parquet_files(fs, d)
        size = sum(f.getLen() for f in files)
        n_target = max(1, math.ceil(size / target_file_bytes))
        files_before += len(files)
        if len(files) < min_files or len(files) <= n_target:
            files_after += len(files)
            continue
        rel = d.toString()[len(root_str) :].strip("/")
        keys = tuple(seg.split("=", 1)[0] for seg in rel.split("/"))
        chains.setdefault(keys, {})[rel] = (size, n_target)
        n_files[rel] = len(files)

    for keys, dirs in chains.items():
        written = _rewrite(spark, root_str, keys, dirs, target_file_bytes)
        for rel, n_new in written.items():
            files_after += n_new or n_files[rel]
            compacted += n_new > 0
    return CompactionReport(len(leaf_dirs), compacted, files_before, files_after)

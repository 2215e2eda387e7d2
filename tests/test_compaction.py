"""Small-file compaction maintenance job (sinks/compact.py): rewrites
over-fragmented partitions at a target file count, preserving partition
values, row data, and the checkpoint watermark — through crash leftovers,
drifted footer schemas and skewed targets, in one write."""

from __future__ import annotations

import collections
import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from cherry_pipelines_spark.sinks.compact import compact_partitions
from cherry_pipelines_spark.sinks.parquet import BATCH_COL, ParquetSink
from cherry_pipelines_spark.sinks.swap import DirSwap


def _make_fragmented_table(spark, base):
    sink = ParquetSink(base_path=base, anchor_table="t", block_column="b")
    for start in (0, 100, 200):
        df = spark.range(start, start + 50).select(
            F.col("id").alias("b"), (F.col("id") * 2).alias("v")
        ).repartition(8)  # 8 tiny files per batch partition
        sink.write(spark, {"t": df}, start, start + 49)
    return sink


def test_compact_preserves_data_and_watermark(spark, tmp_path):
    base = str(tmp_path / "tbl")
    sink = _make_fragmented_table(spark, base)
    tpath = sink.table_path("t")
    before = spark.read.parquet(tpath)
    rows_before = sorted((r["b"], r["v"], r[BATCH_COL]) for r in before.collect())
    nb_before = sink.next_block(spark)

    rep = compact_partitions(spark, tpath, target_file_bytes=128 << 20)
    assert rep.partitions_seen == 3
    assert rep.partitions_compacted == 3       # 8 files >> 1 target each
    assert rep.files_before == 24 and rep.files_after == 3

    after = spark.read.parquet(tpath)
    rows_after = sorted((r["b"], r["v"], r[BATCH_COL]) for r in after.collect())
    assert rows_after == rows_before           # data + partition values intact
    assert sink.next_block(spark) == nb_before # watermark unchanged

    # physical file count actually dropped to 1 per partition
    for d in os.listdir(tpath):
        if d.startswith(BATCH_COL + "="):
            n = len([f for f in os.listdir(os.path.join(tpath, d))
                     if f.endswith(".parquet")])
            assert n == 1, (d, n)

    # idempotent: second run finds nothing to do
    rep2 = compact_partitions(spark, tpath, target_file_bytes=128 << 20)
    assert rep2.partitions_compacted == 0
    assert rep2.files_after == rep2.files_before == 3


def test_compact_respects_target_size(spark, tmp_path):
    base = str(tmp_path / "tbl2")
    sink = _make_fragmented_table(spark, base)
    tpath = sink.table_path("t")
    # a tiny target keeps multiple output files per partition
    rep = compact_partitions(spark, tpath, target_file_bytes=1200)
    assert rep.partitions_compacted >= 1
    for d in os.listdir(tpath):
        if d.startswith(BATCH_COL + "="):
            n = len([f for f in os.listdir(os.path.join(tpath, d))
                     if f.endswith(".parquet")])
            assert n >= 2  # sized out, not blindly coalesced to 1

    # replay-after-compaction: overwriting one batch partition still
    # replaces exactly that partition
    df = spark.range(100, 150).select(
        F.col("id").alias("b"), (F.col("id") * 3).alias("v")
    )
    sink.write(spark, {"t": df}, 100, 149)
    out = spark.read.parquet(tpath)
    assert out.count() == 150
    replayed = out.filter(F.col(BATCH_COL) == 100)
    assert all(r["v"] == r["b"] * 3 for r in replayed.collect())


def _rows(spark, path):
    return sorted(
        tuple(r) for r in spark.read.option("mergeSchema", "true")
        .parquet(path).select("b", "v", BATCH_COL).collect()
    )


def _n_parquet(d):
    return len([f for f in os.listdir(d) if f.endswith(".parquet")])


def test_compact_restores_partition_parked_between_renames(spark, tmp_path):
    """A crash between a partition's two renames leaves it parked as
    ``<dir>._compact_old`` with no live dir; the next run must put it
    back, not delete it as debris."""
    tpath = _make_fragmented_table(spark, str(tmp_path / "tbl")).table_path("t")
    rows = _rows(spark, tpath)
    part = os.path.join(tpath, f"{BATCH_COL}=0")
    os.rename(part, part + "._compact_old")

    rep = compact_partitions(spark, tpath)
    assert _rows(spark, tpath) == rows
    assert rep.partitions_seen == 3 and rep.partitions_compacted == 3
    assert sorted(os.listdir(tpath)) == [f"{BATCH_COL}={n}" for n in (0, 100, 200)]


def test_compact_sweeps_stale_temp_dirs(spark, tmp_path):
    """A crashed run's per-dir ``._compact_tmp`` and the hidden
    ``.bulk._compact_tmp`` staging dir beside live partitions are
    dropped; no row is added or lost."""
    tpath = _make_fragmented_table(spark, str(tmp_path / "tbl")).table_path("t")
    rows = _rows(spark, tpath)
    part = os.path.join(tpath, f"{BATCH_COL}=100")
    shutil.copytree(part, part + "._compact_tmp")
    shutil.copytree(part, os.path.join(tpath, ".bulk._compact_tmp", f"{BATCH_COL}=100"))

    compact_partitions(spark, tpath)
    assert _rows(spark, tpath) == rows
    assert sorted(os.listdir(tpath)) == [f"{BATCH_COL}={n}" for n in (0, 100, 200)]


def test_compact_keeps_columns_of_drifted_footers(spark, tmp_path):
    """Two partitions whose footers carry different column sets: the
    column only one of them has must survive with its values."""
    tpath = str(tmp_path / "drift")
    for k, extra in (("a", False), ("b", True)):
        df = spark.range(40).select(F.col("id").alias("b"))
        if extra:
            df = df.withColumn("extra", F.concat(F.lit("x"), F.col("b")))
        df.repartition(4).write.parquet(os.path.join(tpath, f"k={k}"))

    def snapshot():
        df = spark.read.option("mergeSchema", "true").parquet(tpath)
        return sorted(tuple(r) for r in df.select("k", "b", "extra").collect())

    before = snapshot()
    assert sum(r[2] is not None for r in before) == 40
    rep = compact_partitions(spark, tpath)
    assert rep.partitions_compacted == 2
    assert snapshot() == before


def test_compact_keeps_partition_values_verbatim(spark, tmp_path, monkeypatch):
    """Partition values Spark would infer as int, decimal and date come
    back as the same dir names, and no session conf is set on the way."""
    tpath = str(tmp_path / "verbatim")
    names = ["k=007", "k=1.50", "k=2024-01-01"]
    for name in names:
        spark.range(30).repartition(3).write.parquet(os.path.join(tpath, name))
    conf_sets = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig, "set",
        lambda self, key, value: (
            conf_sets.append(key) or real_set(self, key, value)
        ),
    )

    rep = compact_partitions(spark, tpath)
    assert conf_sets == []
    assert rep.partitions_compacted == 3
    assert sorted(os.listdir(tpath)) == names
    for name in names:
        assert _n_parquet(os.path.join(tpath, name)) == 1
        ids = spark.read.parquet(os.path.join(tpath, name)).collect()
        assert sorted(r["id"] for r in ids) == list(range(30))


def test_compact_skewed_targets_in_one_write(spark, tmp_path, monkeypatch):
    """31 partitions, 30 of which need one file and one several: one
    call compacts them all with one write, giving the skewed dir between
    2 and its target file count and every other dir exactly one file."""
    tpath = str(tmp_path / "skew")
    small = spark.range(300).select(
        (F.col("id") % 30).alias("k"), F.col("id").alias("v")
    )
    big = spark.range(20000).select(
        F.lit(30).alias("k"), F.xxhash64("id").alias("v")
    )
    small.unionByName(big).repartition(8).write.partitionBy("k").parquet(tpath)
    target = 32 * 1024
    big_dir = os.path.join(tpath, "k=30")
    big_bytes = sum(
        os.path.getsize(os.path.join(big_dir, f))
        for f in os.listdir(big_dir) if f.endswith(".parquet")
    )
    n_target = -(-big_bytes // target)
    assert n_target >= 3
    before = collections.Counter(tuple(r) for r in spark.read.parquet(tpath).collect())

    writes = []
    real_parquet = DataFrameWriter.parquet
    monkeypatch.setattr(
        DataFrameWriter, "parquet",
        lambda self, path, *a, **kw: (
            writes.append(path) or real_parquet(self, path, *a, **kw)
        ),
    )
    sc = spark.sparkContext
    sc.setJobGroup("compact_skew", "compact_partitions over skewed targets")
    try:
        rep = compact_partitions(spark, tpath, target_file_bytes=target)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    monkeypatch.undo()

    assert rep.partitions_seen == rep.partitions_compacted == 31
    assert len(writes) == 1
    # the jobs of one write call: the footer-schema merge, the shuffle's
    # map stage (AQE runs it as its own job) and the write itself
    assert len(sc.statusTracker().getJobIdsForGroup("compact_skew")) == 3
    for k in range(31):
        n = _n_parquet(os.path.join(tpath, f"k={k}"))
        assert (2 <= n <= n_target) if k == 30 else n == 1, (k, n, n_target)
    after = collections.Counter(tuple(r) for r in spark.read.parquet(tpath).collect())
    assert after == before


class _FailingRename:
    """A FileSystem that refuses (returns False for) renames of ``src``."""

    def __init__(self, fs, src):
        self._fs, self._src = fs, src

    def rename(self, a, b):
        return a.toString() != self._src and self._fs.rename(a, b)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_swap_commit_rolls_back_failed_swap_in(spark, tmp_path):
    """A swap-in rename that returns False or raises puts the live dir
    back and raises, leaving no ``old`` behind."""
    live = str(tmp_path / "live")
    spark.range(5).write.parquet(live)
    new = str(tmp_path / "new")
    spark.range(9).write.parquet(new)
    swap = DirSwap(spark, live, "compact")

    def live_ids():
        return sorted(r["id"] for r in spark.read.parquet(live).collect())

    real_fs = swap._fs
    swap._fs = _FailingRename(real_fs, new)
    with pytest.raises(IOError, match="swap-in failed"):
        swap.commit(new)
    assert live_ids() == list(range(5)) and not os.path.exists(swap.old)

    swap._fs = real_fs
    with pytest.raises(Exception, match="does not exist"):
        swap.commit(str(tmp_path / "missing"))
    assert live_ids() == list(range(5)) and not os.path.exists(swap.old)

    swap.commit(new)
    assert live_ids() == list(range(9)) and not os.path.exists(new)

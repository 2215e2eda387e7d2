"""Checkpoint MIN/MAX from Parquet footer statistics
(engine/checkpoint.py:footer_bound) equals Spark's ``max``/``min`` over
the same path on every sink state a writer, a crash or compaction can
leave — and the checkpoint runs no Spark job when the footers answer,
falling back to a Spark aggregate when they cannot."""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from cherry_pipelines_spark.engine.checkpoint import (
    FooterStatsUnavailable,
    footer_bound,
    get_min_block,
    get_next_block,
)
from cherry_pipelines_spark.engine.pipeline import Pipeline
from cherry_pipelines_spark.engine.step import PyStep
from cherry_pipelines_spark.pipelines.evm import erc20_transfers as erc20
from cherry_pipelines_spark.sinks.parquet import BATCH_COL, ParquetSink, SinkFaultInjected
from tests.fixtures_gen import gen_evm_fixtures

_groups = itertools.count()


@contextlib.contextmanager
def job_group(spark):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    gid = f"footer-bounds-{next(_groups)}"
    sc.setJobGroup(gid, gid)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        jobs.extend(sc.statusTracker().getJobIdsForGroup(gid))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def spark_bound(spark, path, column, bound, chain_id=None):
    try:
        df = spark.read.parquet(path)
    except AnalysisException:
        return None
    if chain_id is not None:
        df = df.filter(F.col("chain_id") == chain_id)
    return df.agg(getattr(F, bound)(column)).collect()[0][0]


def assert_matches_spark(spark, path, column, chain_id=None):
    """Footer max/min == Spark max/min, and the checkpoint reads run no
    Spark job."""
    want_max = spark_bound(spark, path, column, "max", chain_id)
    want_min = spark_bound(spark, path, column, "min", chain_id)
    assert footer_bound(path, column, "max", chain_id) == want_max
    assert footer_bound(path, column, "min", chain_id) == want_min
    with job_group(spark) as jobs:
        assert get_next_block(spark, path, column, chain_id) == (
            0 if want_max is None else want_max + 1
        )
        assert get_min_block(spark, path, column, chain_id) == want_min
    assert jobs == []


def _frame(spark, values):
    return spark.createDataFrame([(v, 7) for v in values], "b bigint, v bigint")


def _debris(path, value):
    """One parquet file holding ``value`` in column ``b``."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({"b": pa.array([value], pa.int64()), "v": pa.array([0], pa.int64())}),
        path,
    )


batches = st.lists(
    st.lists(st.one_of(st.none(), st.integers(-(2**40), 2**40)), min_size=1, max_size=12),
    min_size=2,
    max_size=3,
)


@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=batches)
def test_footer_bounds_match_spark_on_sink_states(spark, batches):
    """A fresh sink, then the same sink with its first batch parked as
    ``._compact_old`` (a crash between compaction's two renames), then
    with stale compaction and write staging dirs and marker files."""
    base = tempfile.mkdtemp(prefix="footer-bounds-")
    try:
        sink = ParquetSink(base_path=base, anchor_table="t", block_column="b")
        for i, values in enumerate(batches):
            sink.write(spark, {"t": _frame(spark, values)}, i * 1000, i * 1000 + 999)
        path = sink.table_path("t")
        assert_matches_spark(spark, path, "b")

        first = os.path.join(path, f"{BATCH_COL}=0")
        os.rename(first, first + "._compact_old")
        assert_matches_spark(spark, path, "b")

        live = os.path.join(path, f"{BATCH_COL}=1000")
        # Spark reads a `_batch_start=N._compact_tmp` dir (its name has
        # `=`) but not the hidden staging dirs or marker files
        _debris(os.path.join(live + "._compact_tmp", "part-0.parquet"), 2**41)
        _debris(os.path.join(path, ".bulk._compact_tmp", f"{BATCH_COL}=9", "p.parquet"), 2**42)
        _debris(os.path.join(path, ".spark-staging-0", f"{BATCH_COL}=9", "p.parquet"), -(2**42))
        _debris(os.path.join(live, ".part-9.parquet.crc"), 2**43)
        _debris(os.path.join(live, "_SUCCESS"), 2**43)
        assert_matches_spark(spark, path, "b")
    finally:
        shutil.rmtree(base)


def _split_step(bundle, ctx):
    rows = bundle["rows"]
    return {"anchor_t": rows, "side_t": rows.select("b", (F.col("v") * 2).alias("w"))}


class _RangeSource:
    def read(self, spark, from_block, to_block):
        df = spark.range(from_block, to_block + 1).withColumnRenamed("id", "b")
        return {"rows": df.withColumn("v", (F.col("b") * 7 % 13).cast("long"))}


def test_footer_bounds_match_spark_after_fail_after_crash(spark, tmp_path):
    """The crash between a batch's table writes leaves the side table a
    batch ahead of the anchor: both read the same as through Spark."""
    sink = ParquetSink(
        base_path=str(tmp_path), anchor_table="anchor_t", block_column="b",
        fail_after=("side_t", 20),
    )
    pipe = Pipeline("crash", _RangeSource(), [PyStep(_split_step)], sink)
    with pytest.raises(SinkFaultInjected):
        pipe.run(spark, 0, 39, batch_size=10)
    for table in ("anchor_t", "side_t"):
        assert_matches_spark(spark, sink.table_path(table), "b")
    assert sink.next_block(spark) == 20


def test_footer_bound_scopes_chain_id(spark, tmp_path):
    """An erc20 sink holding two chains, each to its own block: the
    checkpoint of each is its own max, read from its chain_id=<n> dir."""
    evm = gen_evm_fixtures(str(tmp_path / "evm"), n_blocks=30, logs_per_block=2)
    sink_dir = str(tmp_path / "sink")
    for chain_id, to_block in ((1, 30), (2, 17)):
        pipe = erc20.build_pipeline(evm["logs"], evm["blocks"], sink_dir, chain_id=chain_id)
        pipe.run(spark, 0, to_block, batch_size=10)
    path = os.path.join(sink_dir, erc20.TABLE_NAME)
    for chain_id in (1, 2, 3, None):
        assert_matches_spark(spark, path, "block_number", chain_id)
    assert get_next_block(spark, path, "block_number", 1) == 31
    assert get_next_block(spark, path, "block_number", 2) == 18


def test_missing_or_empty_dir_gives_zero(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    for path in (str(tmp_path / "missing"), str(empty)):
        with pytest.raises(FooterStatsUnavailable):
            footer_bound(path, "b")
        assert get_next_block(spark, path, "b") == 0
        assert get_min_block(spark, path, "b") is None


def test_file_without_statistics_falls_back_to_spark(spark, tmp_path):
    """A footer without min/max cannot answer: the checkpoint asks
    Spark, and the job group shows the jobs it ran."""
    table = pa.table({"b": pa.array([5, 42, 17], pa.int64())})
    pq.write_table(table, str(tmp_path / "stats.parquet"))
    pq.write_table(table.slice(0, 1), str(tmp_path / "nostats.parquet"), write_statistics=False)
    with pytest.raises(FooterStatsUnavailable):
        footer_bound(str(tmp_path), "b")
    with job_group(spark) as jobs:
        assert get_next_block(spark, str(tmp_path), "b") == 43
        assert get_min_block(spark, str(tmp_path), "b") == 5
    assert len(jobs) > 0


@pytest.mark.parametrize(
    "table, column, next_block",
    [
        (pa.table({"b": pa.array(["x"])}), "b", None),  # not an integer
        (pa.table({"c": pa.array([1], pa.int64())}), "b", 0),  # no such column
        (pa.table({"b": pa.array([1], pa.uint64())}), "b", 2),  # unsigned
    ],
)
def test_unanswerable_columns_fall_back(spark, tmp_path, table, column, next_block):
    pq.write_table(table, str(tmp_path / "t.parquet"))
    with pytest.raises(FooterStatsUnavailable):
        footer_bound(str(tmp_path), column)
    if next_block is not None:
        assert get_next_block(spark, str(tmp_path), column) == next_block


def test_symlinked_partition_dir_is_read(spark, tmp_path):
    """Spark's local file system follows a symlinked dir; so do the
    footers."""
    table = tmp_path / "t"
    _debris(str(table / f"{BATCH_COL}=0" / "p.parquet"), 3)
    _debris(str(tmp_path / "elsewhere" / "p.parquet"), 99)
    os.symlink(tmp_path / "elsewhere", table / f"{BATCH_COL}=1")
    assert_matches_spark(spark, str(table), "b")
    assert footer_bound(str(table), "b") == 99


def test_non_parquet_file_falls_back(spark, tmp_path):
    (tmp_path / "part-0.csv").write_text("b\n1\n")
    with pytest.raises(FooterStatsUnavailable):
        footer_bound(str(tmp_path), "b")
    assert get_next_block(spark, str(tmp_path), "b") == 0

"""Registry dispatch, dimension tables, streaming/foreachBatch mode,
tail-follow loop, and the JDBC sink driver gate (SURVEY §2.1 S10/S12,
§2.7 T1, §2.8 U4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cherry_pipelines_spark import registry
from cherry_pipelines_spark.pipelines import dims
from cherry_pipelines_spark.pipelines.evm import erc20_transfers as erc20
from cherry_pipelines_spark.pipelines.svm import orca_swaps as orca
from cherry_pipelines_spark.sinks.jdbc import JdbcSink
from cherry_pipelines_spark.sinks.parquet import ParquetSink
from cherry_pipelines_spark.streaming import StreamingPipeline, follow
from tests.fixtures_gen import gen_evm_fixtures
from tests.svm_fixtures_gen import Gen, key


@pytest.fixture(scope="module")
def evm_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("evm_fixtures_modes")
    return gen_evm_fixtures(str(d))


def test_registry_env_dispatch(spark, evm_paths, tmp_path_factory, monkeypatch):
    data_dir = os.path.dirname(evm_paths["logs"])
    # registry expects conventional names
    for src, name in ((evm_paths["logs"], "evm_logs.parquet"),
                      (evm_paths["blocks"], "evm_blocks.parquet")):
        dst = os.path.join(data_dir, name)
        if not os.path.exists(dst):
            os.symlink(src, dst) if os.path.isfile(src) else os.rename(src, dst)
    sink = str(tmp_path_factory.mktemp("registry_sink"))
    monkeypatch.setenv("CHERRY_PIPELINE_KIND", "evm")
    monkeypatch.setenv("CHERRY_PIPELINE_NAME", "erc20_transfers")
    monkeypatch.setenv("CHERRY_DATA_PATH", data_dir)
    monkeypatch.setenv("CHERRY_SINK_PATH", sink)
    monkeypatch.setenv("CHERRY_CHAIN_ID", "1")
    monkeypatch.delenv("CHERRY_TO_BLOCK", raising=False)  # unbounded → tip
    n = registry.main(spark)
    assert n >= 1
    out = spark.read.parquet(os.path.join(sink, erc20.TABLE_NAME))
    assert out.count() > 0
    assert out.filter(F.col("chain_id") != 1).count() == 0
    # init_db mode seeds dims
    monkeypatch.setenv("CHERRY_INIT_DB", "true")
    assert registry.main(spark) == 0
    cn = spark.read.parquet(os.path.join(sink, "_dims", "chain_name"))
    assert cn.filter(F.col("chain_id") == 1).collect()[0]["chain_name"] == "ethereum"


def test_dims_lookup_is_broadcast(spark):
    fact = spark.range(100).select(
        F.when(F.col("id") % 2 == 0, F.lit(1)).otherwise(F.lit(10)).cast("long").alias("chain_id"),
        F.col("id"),
    )
    out = dims.lookup(fact, dims.chain_name_dim(spark), on="chain_id")
    assert out.filter(F.col("chain_name") == "ethereum").count() == 50
    assert out.filter(F.col("chain_name") == "optimism").count() == 50
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_streaming_pipeline_matches_batch(spark, evm_paths, tmp_path_factory):
    """foreachBatch over a file-stream source produces the same rows as
    the batch pipeline, and a second run_available ingests nothing new."""
    sink_dir = str(tmp_path_factory.mktemp("stream_sink"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    batch_pipe = erc20.build_pipeline(
        logs_path=evm_paths["logs"], blocks_path=evm_paths["blocks"],
        sink_path=str(tmp_path_factory.mktemp("batch_sink")), chain_id=1,
    )
    batch_pipe.run(spark, from_block=0, to_block=50, batch_size=50)
    expected = batch_pipe.sink.read_table(spark, erc20.TABLE_NAME).count()

    # file-stream sources read directories of arriving files
    stream_dir = str(tmp_path_factory.mktemp("stream_src"))
    os.symlink(evm_paths["logs"], os.path.join(stream_dir, "part-0.parquet"))
    sp = StreamingPipeline(
        name="erc20_stream",
        stream_table="logs",
        stream_path=stream_dir,
        static={"blocks": batch_pipe.source.tables["blocks"]},
        stream_spec=batch_pipe.source.tables["logs"],
        steps=batch_pipe.steps,
        sink=ParquetSink(base_path=sink_dir, anchor_table=erc20.TABLE_NAME,
                         block_column="block_number"),
        checkpoint_dir=ckpt,
    )
    sp.run_available(spark)
    got = spark.read.parquet(os.path.join(sink_dir, erc20.TABLE_NAME)).count()
    assert got == expected
    sp.run_available(spark)  # no new files → no new rows
    assert spark.read.parquet(os.path.join(sink_dir, erc20.TABLE_NAME)).count() == expected


def test_follow_tail(spark, evm_paths, tmp_path_factory):
    sink_dir = str(tmp_path_factory.mktemp("follow_sink"))
    pipe = erc20.build_pipeline(
        logs_path=evm_paths["logs"], blocks_path=evm_paths["blocks"],
        sink_path=sink_dir, chain_id=1,
    )
    total = follow(
        pipe, spark, source_tip=lambda s: pipe.source.tip(s),
        from_block=0, batch_size=25, poll_interval_s=0.01, max_polls=2,
    )
    assert total >= 1
    # converged at the tip: rerun adds nothing
    cnt = pipe.sink.read_table(spark, erc20.TABLE_NAME).count()
    follow(pipe, spark, source_tip=lambda s: pipe.source.tip(s),
           from_block=0, batch_size=25, poll_interval_s=0.01, max_polls=1)
    assert pipe.sink.read_table(spark, erc20.TABLE_NAME).count() == cnt


def test_follow_returns_when_newest_slots_hold_no_swap(spark, tmp_path):
    """The sink checkpoint is the anchor table's max slot: when the
    newest slots hold no orca swap it stays behind the tip, so follow
    must advance past the tip it ran to or it never goes idle.  The tip
    probe fails the test on its seventh call instead of hanging."""
    n_slots, tail = 40, 5
    gen = Gen(n_slots)
    gen.build()
    for slot in range(n_slots + 1, n_slots + tail + 1):  # raydium swaps only
        gen.blocks.append((slot, slot + 1000, 1_700_000_000 + slot * 2))
        gen.add_raydium_tx(slot, 0, kind="amm_base_in")
        gen.transactions.append((slot, 0, key(5_000_000 + slot * 10)))
    paths = gen.write(str(tmp_path / "svm"))
    pipe = orca.build_pipeline(
        paths["instructions"], paths["transactions"], paths["blocks"],
        paths["token_balances"], str(tmp_path / "sink"),
    )

    def run_follow():
        polls = []

        def tip(s):
            polls.append(1)
            assert len(polls) <= 6, "follow never went idle"
            return pipe.source.tip(s)

        return follow(pipe, spark, source_tip=tip, from_block=0,
                      batch_size=100, poll_interval_s=0.01, max_polls=2)

    assert pipe.source.tip(spark) == n_slots + tail
    assert run_follow() == 1
    out = pipe.sink.read_table(spark, orca.TABLE_NAME)
    n_rows = out.count()
    assert n_rows == len(gen.gold_orca) > 0
    assert out.agg(F.max("block_slot")).collect()[0][0] <= n_slots
    run_follow()
    assert pipe.sink.read_table(spark, orca.TABLE_NAME).count() == n_rows


def test_jdbc_sink_gated(spark):
    sink = JdbcSink(url="jdbc:clickhouse://localhost:8123/evm",
                    anchor_table="t", block_column="b")
    with pytest.raises(NotImplementedError):
        sink.write(spark, {}, 0, 0)


def test_jdbc_sink_real_roundtrip_embedded_derby(spark, tmp_path):
    """REAL JDBC round-trip through the same Sink code the ClickHouse
    deployment uses — embedded Derby ships on Spark's classpath, so the
    full df.write.jdbc / read.jdbc / pushed-down MAX checkpoint path is
    exercised end-to-end (carried as driver-gated since round 5; only
    the ClickHouse transport remains deployment configuration).  Write
    order (anchor LAST) and the append + watermark-resume semantics
    match the Parquet sink's T3 contract; JDBC append is at-least-once
    by nature (no idempotent partition overwrite), which is why the
    anchor-last ordering matters MORE here."""
    from pyspark.sql import functions as F

    db = str(tmp_path / "jdbcdb")
    sink = JdbcSink(
        url=f"jdbc:derby:{db};create=true",
        anchor_table="anchor_t",
        block_column="b",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    # fresh database: checkpoint must say "start from 0"
    assert sink.next_block(spark) == 0

    def bundle(lo, hi):
        rows = (
            spark.range(lo, hi + 1)
            .withColumnRenamed("id", "b")
            .withColumn("v", (F.col("b") * 7 % 13).cast("long"))
            .coalesce(1)
        )
        return {
            "side_t": rows.select("b", (F.col("v") * 2).alias("w")),
            "anchor_t": rows,
        }

    sink.write(spark, bundle(0, 9), 0, 9)
    assert sink.next_block(spark) == 10  # pushed-down MAX + 1
    sink.write(spark, bundle(10, 19), 10, 19)
    assert sink.next_block(spark) == 20

    props = {"driver": sink.driver}
    a = spark.read.jdbc(sink.url, "anchor_t", properties=props)
    s = spark.read.jdbc(sink.url, "side_t", properties=props)
    assert a.count() == 20 and s.count() == 20
    got = sorted(map(tuple, a.collect()))
    want = [(b, b * 7 % 13) for b in range(20)]
    assert got == want
    got_s = sorted(map(tuple, s.collect()))
    assert got_s == [(b, (b * 7 % 13) * 2) for b in range(20)]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed identically on the join key must join without
    any shuffle exchange — the write-once/join-many co-location strategy
    (SCALE.md).  A plain parquet read of the same data shuffles."""
    from cherry_pipelines_spark.plans import explain_str
    from cherry_pipelines_spark.sinks.bucketed import read_bucketed, write_bucketed

    left = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
    right = spark.range(1000).selectExpr("id AS k", "id * 3 AS w")
    write_bucketed(left, "bk_left", str(tmp_path / "l"), ["k"], 8, sort_cols=["k"])
    write_bucketed(right, "bk_right", str(tmp_path / "r"), ["k"], 8, sort_cols=["k"])
    # force the non-broadcast path: at scale neither fact side fits in a
    # broadcast, which is exactly when bucketing pays
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_bucketed(spark, "bk_left").join(
            read_bucketed(spark, "bk_right"), "k"
        )
        assert joined.count() == 1000
        plan = explain_str(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # same files read WITHOUT bucket metadata do shuffle
        plain = spark.read.parquet(str(tmp_path / "l")).join(
            spark.read.parquet(str(tmp_path / "r")), "k"
        )
        assert "Exchange" in explain_str(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_registry_docs_kind(spark, tmp_path, monkeypatch):
    """CHERRY_PIPELINE_KIND=docs dispatches the curation pipeline
    through the same env-driven entry as evm/svm."""
    import shutil

    from cherry_pipelines_spark import registry

    data = tmp_path / "data"
    data.mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet", data / "documents.parquet")
    # tiny benchmark: reuse the documents file (everything contaminated
    # except... nothing: then sampled output is empty) — instead build a
    # one-doc benchmark so the funnel keeps most rows
    import duckdb

    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{data}/documents.parquet') LIMIT 1) "
        f"TO '{data}/benchmark.parquet' (FORMAT parquet)"
    )
    monkeypatch.setenv("CHERRY_PIPELINE_KIND", "docs")
    monkeypatch.setenv("CHERRY_PIPELINE_NAME", "curate")
    monkeypatch.setenv("CHERRY_DATA_PATH", str(data))
    monkeypatch.setenv("CHERRY_SINK_PATH", str(tmp_path / "sink"))
    monkeypatch.setenv("CHERRY_BATCH_SIZE", "250")
    n = registry.main(spark)
    assert n == 2  # 500 ids in batches of 250
    out = spark.read.parquet(str(tmp_path / "sink" / "curated_docs"))
    assert out.count() > 100

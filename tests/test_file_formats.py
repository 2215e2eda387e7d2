"""Multi-format source tests: the same block-range scan over parquet,
csv, json, and orc inputs returns identical bundles."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cherry_pipelines_spark.engine.step import SqlStep
from cherry_pipelines_spark.sinks.parquet import ParquetSink
from cherry_pipelines_spark.sources.parquet import ParquetSource, TableSpec
from cherry_pipelines_spark.streaming import StreamingPipeline

SCHEMA = "event_id long, block long, v double"


def _write_all(spark, base):
    df = spark.range(0, 100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 10).alias("block"),
        (F.col("id") * 1.5).alias("v"),
    )
    df.write.mode("overwrite").parquet(os.path.join(base, "t.parquet"))
    df.write.mode("overwrite").option("header", "true").csv(os.path.join(base, "t.csv"))
    df.write.mode("overwrite").json(os.path.join(base, "t.json"))
    df.write.mode("overwrite").orc(os.path.join(base, "t.orc"))
    return df


def test_same_scan_across_formats(spark, tmp_path):
    base = str(tmp_path)
    _write_all(spark, base)
    specs = {
        "parquet": TableSpec(os.path.join(base, "t.parquet"), "block"),
        "csv": TableSpec(
            os.path.join(base, "t.csv"),
            "block",
            format="csv",
            options={"header": "true"},
            schema=SCHEMA,
        ),
        "json": TableSpec(
            os.path.join(base, "t.json"), "block", format="json", schema=SCHEMA
        ),
        "orc": TableSpec(os.path.join(base, "t.orc"), "block", format="orc"),
    }
    results = {}
    for name, spec in specs.items():
        src = ParquetSource(tables={"t": spec})
        out = src.read(spark, 2, 4)["t"]
        results[name] = sorted(
            (r["event_id"], r["block"], r["v"]) for r in out.collect()
        )
        assert src.tip(spark) == 9, name
    assert results["csv"] == results["parquet"]
    assert results["json"] == results["parquet"]
    assert results["orc"] == results["parquet"]
    # 3 blocks x 10 rows
    assert len(results["parquet"]) == 30


def test_streaming_pipeline_reads_text_format_tables(spark, tmp_path):
    """StreamingPipeline loads its stream and side tables through their
    TableSpec (format, options, schema): a JSON stream joined to a CSV
    side table gives the same rows as the parquet copy."""
    base = str(tmp_path)
    df = _write_all(spark, base)
    sink = ParquetSink(base_path=os.path.join(base, "sink"), anchor_table="out",
                       block_column="block")
    sp = StreamingPipeline(
        name="text_formats",
        stream_table="s",
        stream_path=os.path.join(base, "t.json"),
        stream_spec=TableSpec("unused", "block", format="json", schema=SCHEMA),
        static={
            "d": TableSpec(
                os.path.join(base, "t.csv"),
                "block",
                columns=["event_id", "v"],
                format="csv",
                options={"header": "true"},
                schema=SCHEMA,
            )
        },
        steps=[
            SqlStep(
                {"out": "SELECT s.event_id, s.block, d.v FROM s JOIN d USING (event_id)"},
                drop=("s", "d"),
            )
        ],
        sink=sink,
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    sp.run_available(spark)
    got = sink.read_table(spark, "out").select("event_id", "block", "v")
    assert sorted(got.collect()) == sorted(df.collect())

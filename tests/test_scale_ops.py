"""Tests for the scale-path operators: frame sampling over media blobs,
skew-salted join, and event-time tumbling windows with watermarks
(append-mode late-data semantics driven through two real micro-batches).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from cherry_pipelines_spark.operators.multimodal import sample_frames
from cherry_pipelines_spark.operators.skew import salted_join
from cherry_pipelines_spark.streaming.windows import tumbling_window_agg


def test_sample_frames_stride_and_tail(spark):
    blob = bytes(range(100))  # frames of 32: [0:32],[32:64],[64:96],[96:100]
    df = spark.createDataFrame([(1, blob), (2, None)], "media_id long, blob binary")
    rows = {r["frame_index"]: r for r in sample_frames(df, frame_size=32, every_k=2).collect()}
    # every 2nd frame: 0 and 2; NULL blob contributes nothing
    assert set(rows) == {0, 2}
    assert bytes(rows[0]["frame"]) == blob[0:32]
    assert bytes(rows[2]["frame"]) == blob[64:96]
    assert rows[0]["n_frame_bytes"] == 32


def test_sample_frames_short_tail_kept(spark):
    df = spark.createDataFrame([(7, b"abc")], "media_id long, blob binary")
    rows = sample_frames(df, frame_size=2, every_k=1).collect()
    assert [(r["frame_index"], bytes(r["frame"])) for r in sorted(rows, key=lambda r: r["frame_index"])] == [
        (0, b"ab"),
        (1, b"c"),
    ]


def test_salted_join_matches_plain_join(spark):
    # hot key: 90% of fact rows share key 1
    fact = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dv")
    )
    expected = fact.join(dim, "k").groupBy().agg(
        F.count("*").alias("n"), F.sum("v").alias("sv"), F.sum("dv").alias("sd")
    ).collect()[0]
    got = salted_join(fact, dim, ["k"], salt_factor=8).groupBy().agg(
        F.count("*").alias("n"), F.sum("v").alias("sv"), F.sum("dv").alias("sd")
    ).collect()[0]
    assert (got["n"], got["sv"], got["sd"]) == (expected["n"], expected["sv"], expected["sd"])


def test_salted_join_left_keeps_misses(spark):
    fact = spark.createDataFrame([(1, "a"), (99, "b")], "k long, v string")
    dim = spark.createDataFrame([(1, "dim1")], "k long, d string")
    out = {r["v"]: r["d"] for r in salted_join(fact, dim, ["k"], how="left").collect()}
    assert out == {"a": "dim1", "b": None}


def test_tumbling_window_agg_batch_mode(spark):
    df = spark.createDataFrame(
        [(0, 1.0), (30, 2.0), (70, 4.0)], "secs long, v double"
    ).select(F.timestamp_seconds("secs").alias("ts"), "v")
    out = {
        r["window_start"].second + r["window_start"].minute * 60: r["n"]
        for r in tumbling_window_agg(
            df, "ts", "1 minute", {"n": F.count("*")}
        ).collect()
    }
    assert out == {0: 2, 60: 1}


def test_watermark_append_mode_two_batches(spark, tmp_path):
    """Append mode emits a window only after the watermark passes its
    end; the watermark advances from data seen in *earlier* batches."""
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(rows, "secs long, v double").select(
        F.timestamp_seconds("secs").alias("ts"), "v"
    )
    # batch 1: events in minutes 0..5
    mk([(10, 1.0), (70, 2.0), (200, 3.0), (310, 4.0)]).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = tumbling_window_agg(
        stream, "ts", "1 minute", {"n": F.count("*")}, watermark="1 minute"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_append_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        before = {
            r["window_start"].minute + r["window_start"].hour * 60: r["n"]
            for r in spark.table("wm_append_out").collect()
        }
        # batch 2: a much later event advances the watermark past the
        # remaining open window, forcing it to finalize and emit
        mk([(3600, 9.0)]).write.mode("append").parquet(src)
        q.processAllAvailable()
        emitted = {
            r["window_start"].minute + r["window_start"].hour * 60: r["n"]
            for r in spark.table("wm_append_out").collect()
        }
    finally:
        q.stop()
    # after batch 1 the no-data micro-batch advances the watermark to
    # max(event_time)-delay = 310-60 = 250s: windows ending <= 250 emit
    # (minutes 0, 1, 3); the minute-5 window (ends 360) is still open
    assert before == {0: 1, 1: 1, 3: 1}
    # batch 2's event pushes the watermark past it -> minute 5 emits;
    # the advancing event's own window (minute 60) stays open
    assert emitted == {0: 1, 1: 1, 3: 1, 5: 1}
    assert 60 not in emitted


def test_streaming_distinct_across_batches(spark, tmp_path):
    """Cross-batch stateful dedup: a key seen in batch 1 must be
    suppressed in batch 2; within a batch only the first row emits."""
    src = str(tmp_path / "dd_src")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")
    mk([("a", 1), ("a", 2), ("b", 3)]).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream.dropDuplicates(["k"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        batch1 = {r["k"] for r in spark.table("dd_out").collect()}
        mk([("a", 9), ("c", 4)]).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.table("dd_out").collect()
    finally:
        q.stop()
    assert batch1 == {"a", "b"}
    out = {r["k"]: r["v"] for r in rows}
    # "a" kept its batch-1 value; "c" arrived new in batch 2
    assert set(out) == {"a", "b", "c"}
    assert out["a"] in (1, 2) and out["c"] == 4
    assert len(rows) == 3


def test_adaptive_state_partitions_rule(spark):
    """Round-14: the state-store partition count follows the stateful
    workload (rows / groups), clamped to the session width — never the
    core count directly (STREAM_STATE_COST.json cost model)."""
    from cherry_pipelines_spark.streaming.stateful import (
        adaptive_state_partitions,
    )

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # unknown sizes -> configured width (no behavior change)
    assert adaptive_state_partitions(spark) == width
    # tiny state -> 1 partition regardless of cores
    assert adaptive_state_partitions(spark, rows=10) == 1
    # rows term: ceil(rows / 12000)
    assert adaptive_state_partitions(spark, rows=24001) == min(3, width)
    # groups term dominates when groups are dense single-row buckets
    assert adaptive_state_partitions(spark, rows=20000, groups=20000) == min(
        17, width
    )
    # huge data clamps at the session width (cluster posture)
    assert adaptive_state_partitions(spark, rows=10**12) == width


def test_state_partition_scope_binds_and_restores(spark, tmp_path):
    """The scope pins the stateful query's shuffle width for its
    lifecycle (state-store count at first batch) and restores the
    session conf afterwards; results are partition-count independent."""
    from cherry_pipelines_spark.streaming.stateful import state_partition_scope

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    src = str(tmp_path / "scope_src")
    os.makedirs(src)
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v long"
    ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    with state_partition_scope(spark, rows=3):
        assert spark.conf.get(key) == "1"
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream.dropDuplicates(["k"])
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("scope_out")
            .option("checkpointLocation", str(tmp_path / "scope_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    assert spark.conf.get(key) == prev
    assert {r["k"] for r in spark.table("scope_out").collect()} == {"a", "b"}


def test_parquet_rows_footer_count(spark, tmp_path):
    from cherry_pipelines_spark.streaming.stateful import parquet_rows

    p = str(tmp_path / "pr")
    spark.range(123).write.parquet(p)
    assert parquet_rows(p) == 123
    assert parquet_rows(p + "/nonexistent") is None


def test_frame_features_exact_and_chainable(spark):
    """Feature extraction over sampled frames: exact byte stats, NULL
    features for empty blobs, and the output feeds cosine similarity
    via F.array (the media -> frames -> features -> ANN chain)."""
    from cherry_pipelines_spark.operators.multimodal import frame_features
    from cherry_pipelines_spark.operators.similarity import cosine_topk

    blob = bytes([10, 20, 30, 40])
    df = spark.createDataFrame(
        [(1, 0, blob), (2, 0, b"")], "media_id long, frame_index long, frame binary"
    )
    rows = {r["media_id"]: r for r in frame_features(df).collect()}
    assert rows[1]["byte_min"] == 10 and rows[1]["byte_max"] == 40
    assert rows[1]["byte_sum"] == 100 and rows[1]["byte_mean"] == 25.0
    assert rows[2]["byte_sum"] is None  # empty blob -> NULL features

    feats = frame_features(df).filter(F.col("byte_sum").isNotNull()).select(
        F.col("media_id").alias("vec_id"),
        F.array(
            F.col("byte_min").cast("float"),
            F.col("byte_max").cast("float"),
            F.col("byte_mean").cast("float"),
        ).alias("embedding"),
    )
    out = cosine_topk(feats, feats, k=1)
    assert out.count() == 0  # single vector, self excluded — chain runs


def test_resize_media_stride_and_null(spark):
    from cherry_pipelines_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [(1, bytes(range(10))), (2, None)], "media_id long, blob binary"
    )
    rows = {r["media_id"]: r for r in resize_media(df, stride=3).collect()}
    assert bytes(rows[1]["blob_out"]) == bytes([0, 3, 6, 9])
    assert (rows[1]["n_bytes_in"], rows[1]["n_bytes_out"]) == (10, 4)
    assert rows[2]["blob_out"] is None and rows[2]["n_bytes_in"] is None


def test_chunked_trailing_window_matches_plain(spark):
    """chunked_trailing_range_agg (boundary-replicated, bounded
    partitions) must equal the single-partition rangeBetween form
    row-for-row, including chunk-edge anchors and duplicate range
    values."""
    from cherry_pipelines_spark.operators.windows import (
        chunked_trailing_range_agg,
        trailing_range_agg,
    )

    # deterministic data with gaps, duplicates, and two keys; chunk=16,
    # width=5 -> many chunk boundaries in 0..200
    df = spark.range(0, 400).select(
        (F.col("id") % 2).alias("k"),
        ((F.col("id") * 7) % 200).alias("pos"),
        (F.col("id") * 3 % 11).alias("v"),
    )
    aggs = {"s": F.sum("v"), "c": F.count("v"), "m": F.max("v")}

    def key(rows):
        return sorted((r["k"], r["pos"], r["v"], r["s"], r["c"], r["m"]) for r in rows)

    plain = key(trailing_range_agg(df, "pos", 5, aggs, ("k",)).collect())
    chunked = key(
        chunked_trailing_range_agg(df, "pos", 5, aggs, ("k",), chunk=16).collect()
    )
    assert plain == chunked

    # empty partition_cols (the swap_prices sol-leg shape)
    plain0 = key(
        r
        for r in trailing_range_agg(df.withColumn("k", F.lit(0)), "pos", 5, aggs).collect()
    )
    chunk0 = key(
        chunked_trailing_range_agg(
            df.withColumn("k", F.lit(0)), "pos", 5, aggs, chunk=16
        ).collect()
    )
    assert plain0 == chunk0


def test_fused_frame_features_matches_chain(spark):
    """sampled_frame_features (one Arrow pass, offset-driven reduceat)
    must equal sample_frames -> frame_features row-for-row, including
    NULL/empty blobs and short trailing frames."""
    from cherry_pipelines_spark.operators.multimodal import (
        frame_features,
        sample_frames,
        sampled_frame_features,
    )

    blobs = [
        (1, bytes(range(100))),
        (2, None),
        (3, b""),
        (4, bytes([255] * 33)),  # short tail frame (1 byte)
        (5, b"\x00" * 64),
    ]
    df = spark.createDataFrame(blobs, "media_id long, blob binary")
    cols = ["media_id", "frame_index", "n_frame_bytes",
            "byte_min", "byte_max", "byte_sum", "byte_mean"]
    chained = sorted(
        tuple(r[c] for c in cols)
        for r in frame_features(sample_frames(df, frame_size=32, every_k=2)).collect()
    )
    fused = sorted(
        tuple(r[c] for c in cols)
        for r in sampled_frame_features(df, frame_size=32, every_k=2).collect()
    )
    assert chained == fused and len(fused) > 0


def test_streaming_sessionize_across_batches(spark, tmp_path):
    """Explicit-state sessionization: a session spanning two
    micro-batches merges; a gap inside a batch closes one session; the
    watermark (advanced by a later batch) closes the rest via state
    timeout."""
    from cherry_pipelines_spark.streaming.stateful import streaming_sessionize

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    # coalesce(1): each append must land as ONE file — multi-file commits
    # are non-atomic and the always-on trigger can list a partial set,
    # splitting a logical batch across micro-batches (observed flake)
    mk = lambda rows: spark.createDataFrame(rows, "k string, secs long").select(
        "k", F.timestamp_seconds("secs").alias("ts")
    ).coalesce(1)
    # batch 1: user a events at 100, 105 (one open session; offset from
    # epoch 0 so the initial watermark's late-row filter can't eat them)
    mk([("a", 100), ("a", 105)]).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src).withWatermark("ts", "5 seconds")
    q = (
        streaming_sessionize(stream, "k", "ts", gap_seconds=10)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a@112 extends the open session (112-105<=10); a@140
        # splits; b@600 will advance the watermark next batch
        mk([("a", 112), ("a", 140), ("b", 600)]).write.mode("append").parquet(src)
        q.processAllAvailable()
        mid = {(r["key"], r["session_start"], r["session_end"], r["n_events"])
               for r in spark.table("sess_out").collect()}
        # watermark is already past 140+10 thanks to b@600 (wm=595), so
        # a's second session [140,140] times out on the empty micro-batch
        mk([("c", 2000)]).write.mode("append").parquet(src)
        q.processAllAvailable()
        final = {(r["key"], r["session_start"], r["session_end"], r["n_events"])
                 for r in spark.table("sess_out").collect()}
    finally:
        q.stop()
    # the cross-batch merge: [100,105]+112 -> closed as [100,112] x3
    # when 140 arrived
    assert ("a", 100, 112, 3) in mid
    assert ("a", 140, 140, 1) in final
    # b's session closes once c@2000 pushes the watermark past 610
    assert ("b", 600, 600, 1) in final


def test_streaming_ewma_equals_batch_across_batches(spark, tmp_path):
    """The streaming EWMA over 3 micro-batches must equal the batch
    operator over the union — same fold, state carries the lookback
    buffer across batch boundaries."""
    from cherry_pipelines_spark.operators.windows import ewma as batch_ewma
    from cherry_pipelines_spark.streaming.stateful import streaming_ewma

    src = str(tmp_path / "ewma_src")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(rows, "k string, secs long, v double").select(
        "k", F.timestamp_seconds("secs").alias("ts"), "v"
    ).coalesce(1)
    batches = [
        [("a", 100, 1.0), ("a", 110, 2.0), ("b", 105, 5.0)],
        [("a", 120, 3.0), ("b", 115, 7.0)],
        [("a", 130, 10.0), ("a", 140, 0.0), ("b", 125, 1.0)],
    ]
    mk(batches[0]).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_ewma(stream, "k", "ts", "v", alpha=0.2, lookback=4)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ewma_out")
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            mk(b).write.mode("append").parquet(src)
            q.processAllAvailable()
        got = {
            (r["key"], r["secs"]): r["ewma"]
            for r in spark.table("ewma_out").collect()
        }
    finally:
        q.stop()
    allrows = [(k, s, v) for b in batches for (k, s, v) in b]
    bdf = spark.createDataFrame(allrows, "k string, secs long, v double")
    want = {
        (r["k"], r["secs"]): r["ewma"]
        for r in batch_ewma(
            bdf, ["secs"], "v", alpha=0.2, lookback=4, partition_cols=["k"]
        ).collect()
    }
    assert set(got) == set(want)
    for key in want:
        assert got[key] == pytest.approx(want[key], rel=1e-12), key


def test_streaming_topk_admission_log_across_batches(spark, tmp_path):
    """The streaming top-k admission log over 3 micro-batches must equal
    the batch replay (admitted iff < k prior arrivals in the window beat
    it) — state carries the running top-k across batch boundaries."""
    from cherry_pipelines_spark.streaming.stateful import streaming_topk

    src = str(tmp_path / "topk_src")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(
        rows, "k string, secs long, v double, eid long"
    ).coalesce(1)
    # one window (secs < 3600): admissions with k=2 should be
    # e1(5.0) admit, e2(3.0) admit, e3(4.0) admit (beats 3.0),
    # e4(4.0) NOT (tie with worst 4.0 but larger eid), e5(9.0) admit,
    # e6(1.0) NOT; second window: everything under k admits
    batches = [
        [("a", 100, 5.0, 1), ("a", 110, 3.0, 2)],
        [("a", 120, 4.0, 3), ("a", 130, 4.0, 4)],
        [("a", 140, 9.0, 5), ("a", 150, 1.0, 6), ("a", 4000, 2.0, 7)],
    ]
    mk(batches[0]).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_topk(stream, "k", "secs", "v", "eid", k=2, window_seconds=3600)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("topk_out")
        .option("checkpointLocation", str(tmp_path / "topk_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            mk(b).write.mode("append").parquet(src)
            q.processAllAvailable()
        got = {r["eid"]: (r["key"], r["wstart"], r["value"])
               for r in spark.table("topk_out").collect()}
    finally:
        q.stop()
    assert set(got) == {1, 2, 3, 5, 7}
    assert got[5] == ("a", 0, 9.0)
    assert got[7] == ("a", 3600, 2.0)


def test_streaming_near_dedup_state_carries_across_batches(spark, tmp_path):
    """LSH bucket claims persist across micro-batches: an exact dup of
    a batch-1 document must lose ALL its buckets in batch 2 (even
    though its doc_id is lower than the batch-1 claimant's), while a
    genuinely novel batch-2 document survives.  Also pins the
    Bloom-style posture: buckets are claimed by dropped near-dups
    too."""
    from cherry_pipelines_spark.streaming.stateful import (
        streaming_near_dedup_claims,
    )

    src = str(tmp_path / "nd_src")
    os.makedirs(src)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel = "one two three four five six seven eight nine ten"
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    # batch 1: doc 10 (base) and doc 11 (exact dup of base, same batch)
    mk([(10, base), (11, base)]).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_near_dedup_claims(stream, k=8, bands=4)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("nd_out")
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: doc 5 is an exact dup from batch 1 with a LOWER id —
        # arrival order (not id order) must win; doc 20 is novel
        mk([(5, base), (20, novel)]).write.mode("append").parquet(src)
        q.processAllAvailable()
        claims = spark.table("nd_out").collect()
    finally:
        q.stop()
    fresh_by_doc = {}
    for r in claims:
        fresh_by_doc.setdefault(r["doc_id"], []).append(r["fresh"])
    survivors = {d for d, fl in fresh_by_doc.items() if all(fl)}
    assert len(fresh_by_doc[10]) == 4  # one claim row per band
    assert survivors == {10, 20}
    # 11 lost within batch 1 (id order); 5 lost to batch-1 state
    assert not any(fresh_by_doc[11]) and not any(fresh_by_doc[5])


def test_streaming_near_dedup_kill_resume_matches_batch_oracle(spark, tmp_path):
    """End-to-end restart story (round-10 verdict #6): the claims job
    runs with a REAL checkpointLocation into a parquet sink, is killed
    after batch 1, and a NEW query object resumes from the checkpoint
    to process batch 2.  The survivor view over the collected claims
    must equal the single-shot batch LSH replay over the full corpus —
    i.e. bucket state survives the restart (a batch-2 dup of a batch-1
    doc still loses) and the file sink does not double-write batch-1
    claims on resume."""
    from cherry_pipelines_spark.operators.dedup import _banded
    from cherry_pipelines_spark.streaming.stateful import (
        near_dedup_survivors,
        streaming_near_dedup_claims,
    )

    src = str(tmp_path / "e2e_src")
    sink = str(tmp_path / "e2e_claims")
    ckpt = str(tmp_path / "e2e_ckpt")
    os.makedirs(src)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel = "one two three four five six seven eight nine ten"
    other = "red orange yellow green blue indigo violet black white gray"
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    schema = mk([(0, "x")]).schema

    def run_until_idle():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_near_dedup_claims(stream, k=8, bands=4)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()  # the "kill": the query object is discarded

    # batch 1: two docs + an exact in-batch dup
    mk([(10, base), (11, base), (12, other)]).write.mode("append").parquet(src)
    run_until_idle()
    # batch 2 arrives while no query is running; resume from checkpoint
    mk([(5, base), (20, novel)]).write.mode("append").parquet(src)
    run_until_idle()

    got = sorted(
        r["doc_id"]
        for r in near_dedup_survivors(spark.read.parquet(sink)).collect()
    )
    # batch replay over the full corpus: first into EVERY bucket
    # survives, where "first" is ARRIVAL order (batch order, then
    # doc_id within a batch) — doc 5 arrived AFTER doc 10 claimed its
    # buckets, so the replay must rank by arrival, not raw id
    arrival = {10: 0, 11: 1, 12: 2, 5: 3, 20: 4}
    banded = _banded(
        mk([(10, base), (11, base), (12, other), (5, base), (20, novel)]),
        "text", 8, 4, 3,
    ).collect()
    first = {}
    for r in sorted(banded, key=lambda r: arrival[r["doc_id"]]):
        first.setdefault((r["band"], r["key"]), r["doc_id"])
    losers = {
        r["doc_id"]
        for r in banded
        if first[(r["band"], r["key"])] != r["doc_id"]
    }
    expected = sorted({r["doc_id"] for r in banded} - losers)
    assert got == expected == [10, 12, 20]
    # restart did not double-write batch-1 claims: one row per (doc, band)
    claims = spark.read.parquet(sink)
    assert claims.count() == claims.select("doc_id", "band").distinct().count()


def test_streaming_survivor_stage_kill_resume(spark, tmp_path):
    """Round-11 verdict #5: the survivor aggregation as a SECOND
    streaming query (per-doc stateful agg over the claims file sink —
    the supported form of chaining two applyInPandasWithState stages).
    Both queries are killed between batches and resumed with new query
    objects; the streamed survivor set must equal the batch view over
    the collected claims, with exactly ONE emission per survivor (no
    double-write on resume)."""
    from cherry_pipelines_spark.streaming.stateful import (
        near_dedup_survivors,
        near_dedup_survivors_stream,
        streaming_near_dedup_claims,
    )

    src = str(tmp_path / "ss_src")
    claims_sink = str(tmp_path / "ss_claims")
    surv_sink = str(tmp_path / "ss_surv")
    ckpt_c = str(tmp_path / "ss_ckpt_c")
    ckpt_s = str(tmp_path / "ss_ckpt_s")
    os.makedirs(src)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel = "one two three four five six seven eight nine ten"
    other = "red orange yellow green blue indigo violet black white gray"
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    schema = mk([(0, "x")]).schema

    def run_claims():
        q = (
            streaming_near_dedup_claims(
                spark.readStream.schema(schema).parquet(src), k=8, bands=4
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", claims_sink)
            .option("checkpointLocation", ckpt_c)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def run_survivors():
        claims = spark.readStream.schema(
            "doc_id long, band int, fresh boolean"
        ).parquet(claims_sink)
        q = (
            near_dedup_survivors_stream(claims, bands=4)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", surv_sink)
            .option("checkpointLocation", ckpt_s)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    mk([(10, base), (11, base), (12, other)]).write.mode("append").parquet(src)
    run_claims()
    run_survivors()
    mk([(5, base), (20, novel)]).write.mode("append").parquet(src)
    run_claims()  # NEW query objects resume from both checkpoints
    run_survivors()

    streamed = [r["doc_id"] for r in spark.read.parquet(surv_sink).collect()]
    batch_view = sorted(
        r["doc_id"]
        for r in near_dedup_survivors(spark.read.parquet(claims_sink)).collect()
    )
    assert sorted(streamed) == batch_view == [10, 12, 20]
    assert len(streamed) == len(set(streamed))  # one emission per doc

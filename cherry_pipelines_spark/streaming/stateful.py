"""Custom stateful streaming operators (``applyInPandasWithState``).

The reference needs no streaming state (block data is immutable —
SURVEY §2.7); a continuously-ingesting training-data pipeline does.
Cross-batch exact dedup needs no custom state: Spark's native
``dropDuplicates`` keeps the first occurrence of each key across
micro-batches.  The operators here hold state that no native operator
expresses: sessions closed by event-time timeout, a truncated EWMA,
running top-k admission, and LSH band claims for near-dedup.

Scale shape: state is partitioned by the grouping key — the same hash
shuffle as a groupBy — so state size is O(distinct keys seen) times
the per-key cell.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# ---------------------------------------------------------------------
# Data-adaptive state-store partitioning (round-14, guide §2.2/§5).
#
# A stateful streaming query's shuffle-partition count — fixed by
# ``spark.sql.shuffle.partitions`` at FIRST batch and pinned into the
# checkpoint forever after — is also its state-store count, and every
# micro-batch pays a fixed per-store cost (open + snapshot + commit +
# task schedule) on all N partitions regardless of data.  Tying N to
# the CORE count (the local default) therefore anti-scales: the
# round-13 driver measured stream_stream_join ~1.8x FASTER on 8 cores
# than 32 at sf0.1, purely because fewer cores meant fewer stores.
#
# Measured cost model (STREAM_STATE_COST.json: 6 stateful queries x
# {1,2,4,8,16,32} partitions x {sf0.01, sf0.1}, best-of-2 warm, 32
# cores):
#
#   time(N) ~ G*c_group/N + R*c_row/N + N*c_store + const
#
# with G = state groups (one applyInPandasWithState python invocation
# per group per batch: c_group ~ 1-2 ms), R = stateful-input rows, and
# c_store ~ 15-40 ms.  The optimum is therefore DATA-sized, never
# core-sized: ~16 for 20k single-row groups (near-dedup band buckets),
# ~8 for 100k rows over ~1k groups (sessionize/ewma/ss-join), and the
# measured curves rise on BOTH sides of it (n=1 serializes the python
# per-group work: 33.9 s vs 3.7 s for stream_near_dedup at sf0.1;
# n=32 pays 32 store commits for KBs of state: 6.4 s vs 2.3 s for
# stream_stream_join).
#
# ``adaptive_state_partitions`` picks N = max(ceil(G/GROUPS_PER),
# ceil(R/ROWS_PER)) clamped to [1, spark.sql.shuffle.partitions].  The
# divisors are the measured per-partition capacities on this rig and
# are env-tunable; on a real cluster per-batch R is large, so N rides
# the clamp at the configured shuffle width (200 / AQE-wide posture) —
# the rule only ever REDUCES below that when the state itself is
# small, which is exactly when the fixed store cost dominates.
# Checkpoint compatibility: the count binds at the first batch of a
# FRESH checkpoint; resuming an existing checkpoint keeps its original
# count (Spark reads it back from the offset log), so changing the
# rule never corrupts an in-flight pipeline.
# ---------------------------------------------------------------------

_GROUPS_PER_PARTITION = int(
    os.environ.get("SPARK_GRAFT_STREAM_GROUPS_PER_PARTITION", "1200")
)
_ROWS_PER_PARTITION = int(
    os.environ.get("SPARK_GRAFT_STREAM_ROWS_PER_PARTITION", "12000")
)


def parquet_rows(path: str) -> int | None:
    """Row count of a parquet file (or every ``*.parquet`` directly in
    a directory) from the FOOTER metadata — pure driver-side, zero
    Spark jobs.  Returns None when the footprint can't be read (the
    caller falls back to the session's configured width)."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            total = 0
            for name in os.listdir(path):
                if name.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(path, name)
                    ).metadata.num_rows
            return total
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


def adaptive_state_partitions(
    spark: SparkSession,
    rows: int | None = None,
    groups: int | None = None,
) -> int:
    """State-store partition count sized to the stateful WORKLOAD
    (see the cost model above): ``rows`` = stateful-input rows per
    full pass, ``groups`` = state groups when the caller knows them to
    be of the same order as rows (one python invocation per group).
    Unknown sizes (None) fall back to the session's configured width."""
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        width = spark.sparkContext.defaultParallelism
    if rows is None and groups is None:
        return width
    n = 1
    if rows is not None:
        n = max(n, -(-int(rows) // _ROWS_PER_PARTITION))
    if groups is not None:
        n = max(n, -(-int(groups) // _GROUPS_PER_PARTITION))
    return max(1, min(n, width))


@contextlib.contextmanager
def state_partition_scope(
    spark: SparkSession,
    rows: int | None = None,
    groups: int | None = None,
):
    """Set ``spark.sql.shuffle.partitions`` to the adaptive state
    count for the duration of a streaming query's lifecycle (build →
    start → processAllAvailable → stop) and restore it afterwards.
    The conf binds into the query's first batch / fresh checkpoint;
    batch plans built after the scope exits keep the session width."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(adaptive_state_partitions(spark, rows, groups)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def streaming_sessionize(
    df: DataFrame, key_col: str, ts_col: str, gap_seconds: int
) -> DataFrame:
    """Explicit-state streaming sessionization: the applyInPandasWithState
    form of ``operators/sessionize`` (same ``> gap`` split rule), for
    when the session payload outgrows what ``session_window`` aggregates
    can express (running custom stats, early triggers, side outputs).

    Emits one row per CLOSED session: ``(key, session_start,
    session_end, n_events)`` with start/end in epoch seconds.  A session
    closes when a later event in the same key arrives past the gap, or
    when the event-time watermark passes ``last_event + gap`` (state
    timeout) — so state per key is one open session, O(1), evicted by
    the watermark like native session windows.  The input must carry
    ``withWatermark`` on ``ts_col``; the last open session of a finite
    stream stays unemitted until the watermark moves past it (standard
    append-mode semantics).
    """
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("session_start", T.LongType()),
            T.StructField("session_end", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start", T.LongType()),
            T.StructField("last", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def sessions(
        key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        k = str(key[0])
        closed: list[tuple[str, int, int, int]] = []
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(k, start, last, n)],
                columns=["key", "session_start", "session_end", "n_events"],
            )
            return
        cur = list(state.get) if state.exists else None
        secs_all = []
        for pdf in pdfs:
            if len(pdf):
                # datetime64 unit (ns vs us) depends on the Arrow transfer;
                # normalize through datetime64[s] so the epoch scale can
                # never silently shift with the input resolution
                secs_all.append(
                    pd.Series(pdf[ts_col].to_numpy().astype("datetime64[s]").astype("int64"))
                )
        if secs_all:
            for s in sorted(pd.concat(secs_all).tolist()):
                if cur is None:
                    cur = [s, s, 1]
                elif s - cur[1] > gap_seconds:
                    closed.append((k, cur[0], cur[1], cur[2]))
                    cur = [s, s, 1]
                else:
                    # late-but-within-watermark events from a later
                    # micro-batch can precede the open session's start;
                    # merge them by extending the start backwards
                    cur[0] = min(cur[0], s)
                    cur[1] = max(cur[1], s)
                    cur[2] += 1
        if cur is not None:
            state.update(tuple(cur))
            # close via watermark once no event can extend the session
            state.setTimeoutTimestamp((cur[1] + gap_seconds) * 1000 + 1)
        if closed:
            yield pd.DataFrame(
                closed, columns=["key", "session_start", "session_end", "n_events"]
            )

    return df.groupBy(key_col).applyInPandasWithState(
        sessions,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.2,
    lookback: int = 32,
    id_col: "str | None" = None,
) -> DataFrame:
    """Streaming form of ``operators/windows.ewma``: the truncated
    exponentially-weighted average maintained ACROSS micro-batches —
    state is the last ``lookback - 1`` values per key (a bounded
    double array, the smallest state that reproduces the batch
    operator exactly).

    Equivalence contract (test-pinned): feeding the same rows in
    event-time order through any micro-batch split yields the same
    (key, secs, ewma) rows as the batch operator over the union —
    same left-to-right float fold, same ``(1-alpha)^j`` weights.
    Within a batch rows are processed in (secs) order; cross-batch
    order must be monotone per key (the incremental block-ordered
    ingestion contract, SURVEY §2.7 — not a general out-of-order
    stream)."""
    out_schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("secs", T.LongType())]
        + ([T.StructField("eid", T.LongType())] if id_col else [])
        + [
            T.StructField("value", T.DoubleType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("buf", T.ArrayType(T.DoubleType()))]
    )
    keep = lookback - 1
    # weight table computed ONCE: the inner fold previously evaluated
    # (1-alpha)**j per element per row — lookback pow() calls per input
    # row of pure Python overhead (guide §4).  Same values, same
    # newest-first left-to-right accumulation order, bit-identical.
    weights = [(1.0 - alpha) ** j for j in range(lookback)]

    def fold(
        key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        k = str(key[0])
        buf = list(state.get[0]) if state.exists else []
        rows = []
        parts = []
        for pdf in pdfs:
            if len(pdf):
                secs = (
                    pdf[ts_col].to_numpy().astype("datetime64[s]").astype("int64")
                )
                d = {"s": secs, "v": pdf[value_col].astype(float)}
                if id_col:
                    d["e"] = pdf[id_col].astype("int64")
                parts.append(pd.DataFrame(d))
        if parts:
            order = ["s", "e"] if id_col else ["s"]
            allp = pd.concat(parts).sort_values(order, kind="mergesort")
            eids = allp["e"].tolist() if id_col else [None] * len(allp)
            for s, x, e in zip(allp["s"].tolist(), allp["v"].tolist(), eids):
                window = (buf + [x])[-lookback:]
                acc = 0.0
                for j, v in enumerate(reversed(window)):
                    acc += v * weights[j]
                row = (k, int(s)) + ((int(e),) if id_col else ()) + (float(x), alpha * acc)
                rows.append(row)
                buf.append(x)
                if len(buf) > keep:
                    buf = buf[-keep:]
        state.update((buf,))
        if rows:
            cols = ["key", "secs"] + (["eid"] if id_col else []) + ["value", "ewma"]
            yield pd.DataFrame(rows, columns=cols)

    return df.groupBy(key_col).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_topk(
    df: DataFrame,
    key_col: str,
    secs_col: str,
    value_col: str,
    id_col: str,
    k: int = 3,
    window_seconds: int = 3600,
) -> DataFrame:
    """Streaming top-k as an ADMISSION LOG: per (key, tumbling window),
    emit a row the moment an arriving element enters the running top-k
    (value desc, id asc tie-break).  Emission-on-admit keeps the
    operator append-mode clean — no retractions — and the admitted set
    is exactly {rows whose rank among prior arrivals < k}, which a
    batch engine can replay (the equivalence the oracle checks).

    State per (key, window) is the current top-k — k (value, id) pairs,
    O(k) — partitioned by the same hash shuffle as a groupBy.  Arrival
    order is (secs, id) within a batch and monotone across batches (the
    block-ordered ingestion contract, same as streaming_ewma); a
    production deployment adds an event-time timeout so windows behind
    the watermark evict.

    Output: (key, wstart, eid, value) — one row per admission.
    """
    from pyspark.sql import functions as F

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("wstart", T.LongType()),
            T.StructField("eid", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("vals", T.ArrayType(T.DoubleType())),
            T.StructField("eids", T.ArrayType(T.LongType())),
        ]
    )

    def admit(
        key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        kk, ws = str(key[0]), int(key[1])
        if state.exists:
            vals, eids = list(state.get[0]), list(state.get[1])
        else:
            vals, eids = [], []
        top = sorted(zip(vals, eids), key=lambda t: (-t[0], t[1]))
        rows = []
        parts = []
        for pdf in pdfs:
            if len(pdf):
                parts.append(
                    pd.DataFrame(
                        {
                            "s": pdf[secs_col].astype("int64"),
                            "v": pdf[value_col].astype(float),
                            "e": pdf[id_col].astype("int64"),
                        }
                    )
                )
        if parts:
            allp = pd.concat(parts).sort_values(["s", "e"], kind="mergesort")
            for v, e in zip(allp["v"].tolist(), allp["e"].tolist()):
                wv, we = top[-1] if len(top) == k else (None, None)
                if len(top) < k or v > wv or (v == wv and e < we):
                    rows.append((kk, ws, int(e), float(v)))
                    top.append((float(v), int(e)))
                    top = sorted(top, key=lambda t: (-t[0], t[1]))[:k]
        state.update(([t[0] for t in top], [t[1] for t in top]))
        if rows:
            yield pd.DataFrame(rows, columns=["key", "wstart", "eid", "value"])

    w = window_seconds
    keyed = df.withColumn(
        "_wstart", (F.col(secs_col) - F.pmod(F.col(secs_col), F.lit(w))).cast("long")
    )
    return keyed.groupBy(key_col, "_wstart").applyInPandasWithState(
        admit,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_band_claims(banded: DataFrame) -> DataFrame:
    """Stateful LSH-bucket claims for streaming near-duplicate
    suppression: input is the ``(doc_id, band, key)`` band-rows frame
    (``dedup._banded`` works on streaming frames — shingling and
    minhashing are map-only), output is ``(doc_id, band, fresh)``.

    Each (band, key) bucket holds ONE boolean state cell ("claimed").
    The first document to reach an unclaimed bucket gets ``fresh=true``
    for that band; every later arrival — same micro-batch (higher
    doc_id; within-batch order is pinned to doc_id ascending) or any
    later batch — gets ``fresh=false``.  Buckets are claimed by every
    document INCLUDING ones that turn out to be duplicates (the
    Bloom-style posture: a dropped near-dup's other buckets belong to
    its near-identical twin anyway), which is what makes the decision
    expressible as a pure min-per-bucket replay in SQL.

    A document survives iff ALL its bands are fresh — aggregate
    ``min(fresh)`` per doc_id over the collected claims (done
    downstream; a post-stateful streaming groupBy needs its own
    output-mode story, and the claims stream is already append-clean).

    Scale shape: state is one boolean per DISTINCT bucket ever seen —
    strictly smaller than the O(distinct keys) of exact streaming
    dedup whenever near-dups exist; the shuffle key is the band hash,
    the same key the batch LSH join uses.  For bounded-staleness
    windows swap NoTimeout for an event-time timeout."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("fresh", T.BooleanType()),
        ]
    )
    state_schema = T.StructType([T.StructField("claimed", T.BooleanType())])

    def claim(
        key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        # this function runs once PER (band, key) GROUP — thousands of
        # sub-millisecond invocations per micro-batch — so the hot-path
        # cost is fixed per-call overhead, not data volume (guide §4.4):
        # stay on numpy arrays end-to-end (no per-element Python int()
        # loops, one output frame built from the arrays we already
        # have); numpy itself is imported at module scope, not here
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        ids = pdf["doc_id"].to_numpy()
        fresh = np.zeros(len(ids), dtype=bool)
        if not state.exists:
            # doc_ids are distinct within a (band, key) group (one row
            # per band per doc), so argmin is the unique first arrival
            fresh[int(ids.argmin())] = True
            state.update((True,))
        yield pd.DataFrame(
            {"doc_id": ids, "band": pdf["band"].to_numpy(), "fresh": fresh}
        )

    return banded.groupBy("band", "key").applyInPandasWithState(
        claim,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def near_dedup_survivors(claims: DataFrame) -> DataFrame:
    """The stateless SURVIVOR view over a collected band-claims table:
    a document survives iff it was first into ALL its buckets —
    ``groupBy doc_id having min(fresh)``.  Returns ``(doc_id)``.

    This is the second half of the near-dedup composition, kept OUT of
    the claims query on purpose: Spark rejects chained
    ``applyInPandasWithState`` stages in one query ("Multiple
    applyInPandasWithStates are not supported"), and the claims stream
    is append-clean and exactly-once into a file sink, so the survivor
    verdict is a deterministic stateless view over the claims table,
    re-runnable at any time and automatically correct across restarts
    (the restart story is the CLAIMS job's checkpoint; pinned by the
    kill/resume pytest).  For a fully-streaming pipeline use the
    SUPPORTED two-query chain instead: a SECOND streaming query over
    the claims sink — :func:`near_dedup_survivors_stream`."""
    return (
        claims.groupBy("doc_id")
        .agg(F.min(F.col("fresh").cast("int")).alias("_all_fresh"))
        .filter(F.col("_all_fresh") == 1)
        .select("doc_id")
    )


#: Default LSH band count shared by the claims stage
#: (:func:`streaming_near_dedup_claims`) and the survivor stage
#: (:func:`near_dedup_survivors_stream`).  The two MUST agree — see
#: the BANDS COUPLING note on the survivor stage.
DEFAULT_LSH_BANDS = 4


def near_dedup_survivors_stream(
    claims: DataFrame, bands: int = DEFAULT_LSH_BANDS
) -> DataFrame:
    """STREAMING survivor verdicts over a claims STREAM — the supported
    form of "chain two stateful stages": two independent streaming
    queries, the claims job writing a file sink and this operator
    reading that sink as a file-stream source (the reader trusts the
    sink's ``_spark_metadata`` commit log, so the chain inherits the
    file sink's exactly-once semantics).  One query may not contain
    two ``applyInPandasWithState`` stages; two queries may each
    contain one.

    Emits ``(doc_id)`` when the doc's ``bands``-th claim arrives and
    every claim was fresh — a doc's claims are all emitted in its own
    arrival micro-batch upstream, so normally one batch decides, but
    the count-to-``bands`` state makes the verdict correct even if a
    source option (``maxFilesPerTrigger``) splits a commit across
    triggers.  Claims are append-only facts (a bucket claim never
    retracts), so verdicts are final: no watermark needed, output mode
    append.

    State: ``(seen, ok)`` per doc_id, kept forever under NoTimeout —
    O(#docs) state, WIDER than the claims job's O(#distinct buckets).
    That is the cost of the fully-streaming form and why
    :func:`near_dedup_survivors` (a stateless batch view over the same
    claims table) stays the recommended default; choose this one when
    survivor latency must be streaming-push rather than view-pull, and
    swap NoTimeout for an event-time timeout to bound state in
    bounded-staleness deployments.

    BANDS COUPLING (hard precondition): ``bands`` MUST equal the
    ``bands`` the claims stage was built with (every doc emits exactly
    ``bands`` claim rows).  Pass :data:`DEFAULT_LSH_BANDS` (or one
    shared constant) to BOTH :func:`streaming_near_dedup_claims` and
    this function.  A mismatch is not an error Spark can detect, and
    it fails in opposite directions: ``bands`` TOO SMALL emits the
    verdict before the doc's later claims arrive — if a source option
    like ``maxFilesPerTrigger`` splits a commit across triggers, a
    premature ``fresh`` verdict is UNRETRACTABLE when a non-fresh
    claim lands in the next trigger; ``bands`` TOO LARGE (or a doc
    that emitted fewer claims than declared) means ``seen`` never
    reaches the threshold and the verdict is silently suppressed
    forever.  Either way the output diverges from the batch
    :func:`near_dedup_survivors` view over the same claims table."""
    if bands < 1:
        raise ValueError(
            f"bands must be >= 1 (got {bands}); it must equal the claims "
            "stage's band count — see the BANDS COUPLING docstring note"
        )
    out_schema = T.StructType([T.StructField("doc_id", T.LongType())])
    state_schema = T.StructType(
        [T.StructField("seen", T.IntegerType()), T.StructField("ok", T.BooleanType())]
    )

    def verdict(
        key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        # per-doc_id group — same per-call-overhead regime as `claim`:
        # numpy reductions only, no per-element Python work (guide §4.4)
        n, ok = 0, True
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf) and not pdf["fresh"].to_numpy().all():
                ok = False
        if n == 0:
            return
        seen0, ok0 = state.get if state.exists else (0, True)
        seen, ok = seen0 + n, ok0 and ok
        state.update((seen, ok))
        # exactly one emission per doc: the batch that completes the
        # band count (seen0 < bands <= seen guards replays/overfeeds)
        if ok and seen0 < bands <= seen:
            yield pd.DataFrame({"doc_id": [int(key[0])]})

    return claims.groupBy("doc_id").applyInPandasWithState(
        verdict,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_near_dedup_claims(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    bands: int = DEFAULT_LSH_BANDS,
    ngram: int = 3,
) -> DataFrame:
    """MinHash-LSH band claims over a (streaming) documents frame —
    compose: ``claims -> collect -> groupBy doc_id having min(fresh)``
    for the survivor set.  See :func:`streaming_band_claims`.  When
    chaining into :func:`near_dedup_survivors_stream`, the survivor
    stage's ``bands`` must equal this ``bands`` (shared-constant it —
    see the BANDS COUPLING precondition there)."""
    from cherry_pipelines_spark.operators.dedup import _banded

    if df.isStreaming:
        # fan_out deliberately skips streams, but the CPU-bound
        # shingle+minhash mapInPandas still runs on the SOURCE's input
        # partitions — one core for a single-file micro-batch.  Spread
        # before the map stage; the stateful (band, key) shuffle after
        # it is unchanged.
        try:
            target = df.sparkSession.sparkContext.defaultParallelism
        except Exception:  # pragma: no cover - Spark Connect
            target = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
        df = df.repartition(target)
    return streaming_band_claims(_banded(df, text_col, k, bands, ngram))

"""Probes for the layers the timed loops do not reach: the trailing-window
operator behind ``swap_prices`` and the stateful streaming near-dedup.
Traced runs call them after the timed loop, on small inputs generated
from the seed, and each one also checks its own output.

* :func:`probe_windows` noop-writes ``swap_prices.compute_prices`` over
  a generated ``raydium_swaps`` table (the single-plan backfill form
  that ``swap_prices.run(mode="backfill")`` builds), then checks that
  backfill mode writes the same rows into the same batch partitions as
  the incremental batch loop.
* :func:`probe_stream` runs ``streaming_near_dedup_claims`` over a few
  file micro-batches through ``processAllAvailable``, reads its
  ``StreamingQueryProgress`` records, and checks the survivors against
  a first-arrival replay of the LSH buckets over the whole corpus.
"""

from __future__ import annotations

import collections
import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.workloads import PROBE_REPEATS, parquet_files

SIZES = {
    # swap_prices: slots of generated swaps (200-slot batches in the loop)
    # stream dedup: micro-batches x documents per micro-batch
    "full": {"swap_slots": 1000, "dedup_batches": 4, "dedup_docs": 500},
    "tiny": {"swap_slots": 300, "dedup_batches": 2, "dedup_docs": 50},
}

SWAP_SCHEMA = pa.schema([
    ("block_slot", pa.int64()),
    ("timestamp", pa.int64()),
    ("input_mint", pa.binary()),
    ("output_mint", pa.binary()),
    ("input_amount", pa.int64()),
    ("output_amount", pa.int64()),
])


# ------------------------------------------------------ swap_prices
def gen_swaps(path: str, seed: int, n_slots: int) -> None:
    """A ``raydium_swaps``-shaped table: SOL→USD swaps in every slot
    (their 20-slot windows clear the price threshold), token legs
    against WSOL and the USD coins in both directions, and a few
    zero-amount rows that the pipeline drops."""
    from cherry_pipelines_spark.pipelines.svm import swap_prices as sp

    rng = random.Random(seed)
    tokens = [(1000 + i).to_bytes(32, "big") for i in range(6)]
    rows = []
    for slot in range(1, n_slots + 1):
        ts = 1_700_000_000 + 2 * slot
        for _ in range(rng.randint(1, 3)):
            lamports = rng.randint(1, 20) * 10**9
            usd = lamports * rng.randint(150, 250) // 1000  # 6-decimal USD
            rows.append((slot, ts, sp.WSOL, rng.choice(sp.USD_COINS), lamports, usd))
        for _ in range(rng.randint(0, 4)):
            tok, amount = rng.choice(tokens), rng.randint(1, 10**6) * 10**4
            kind = rng.randrange(3)
            if kind == 0:
                rows.append((slot, ts, tok, sp.WSOL, amount, rng.randint(1, 10**10)))
            elif kind == 1:
                rows.append((slot, ts, rng.choice(sp.USD_COINS), tok, rng.randint(1, 10**9), amount))
            else:
                rows.append((slot, ts, tok, rng.choice(sp.USD_COINS), amount, rng.randint(1, 10**9)))
        if rng.random() < 0.05:
            rows.append((slot, ts, sp.WSOL, sp.USDC, 0, 5))
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({f.name: list(c) for f, c in zip(SWAP_SCHEMA, cols)}, schema=SWAP_SCHEMA),
        path,
    )


def rows_by_partition(table_dir: str) -> collections.Counter:
    """Multiset of (partition directory, row) over a partitioned table."""
    out: collections.Counter = collections.Counter()
    for path in parquet_files(table_dir):
        part = os.path.relpath(os.path.dirname(path), table_dir)
        for r in pq.read_table(path).to_pylist():
            out[(part, tuple(sorted(r.items())))] += 1
    return out


def probe_windows(spark, work: str, seed: int, size: str) -> tuple[dict, list]:
    """``operators.windows_s`` and the backfill-vs-loop check."""
    from cherry_pipelines_spark.pipelines.svm import swap_prices as sp
    from pyspark.sql import functions as F

    base = os.path.join(work, "swap_prices")
    os.makedirs(base)
    src = os.path.join(base, "raydium_swaps.parquet")
    gen_swaps(src, seed, SIZES[size]["swap_slots"])

    # the plan run(mode="backfill") builds for a fresh sink
    start = 1 + sp.WINDOW_RANGE
    last = SIZES[size]["swap_slots"]
    times = []
    for _ in range(PROBE_REPEATS):
        t = time.perf_counter()
        swaps = spark.read.parquet(src).filter(F.col("block_slot") <= last)
        sp.compute_prices(
            spark, swaps, start, last, batch_origin=start,
            batch_step=sp.BATCH_RANGE + 1, chunk=sp.BACKFILL_CHUNK,
        ).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)

    sinks = {mode: os.path.join(base, mode) for mode in ("incremental", "backfill")}
    batches = {mode: sp.run(spark, src, sink, mode=mode) for mode, sink in sinks.items()}
    loop, backfill = (rows_by_partition(os.path.join(s, sp.TABLE_NAME)) for s in sinks.values())
    if batches["incremental"] != batches["backfill"] or batches["backfill"] < 2:
        problem = f"batch counts differ: {batches}"
    elif not loop:
        problem = "the batch loop wrote no rows"
    elif loop != backfill:
        problem = "the two sinks hold different rows"
    else:
        problem = None
    metrics = {"operators.windows_s": (statistics.median(times), "s")}
    return metrics, [("swap_prices backfill equals the batch loop", problem)]


# --------------------------------------------------- stream dedup
def gen_docs(src: str, seed: int, n_batches: int, per_batch: int) -> list[list[tuple[int, str]]]:
    """One parquet file per micro-batch.  About a third of the
    documents repeat an earlier one, within the same batch or across
    batches, some with one word changed.  File modification times are
    set one second apart so the file source takes them in order."""
    rng = random.Random(seed)
    vocab = [f"w{i:04d}" for i in range(3000)]
    texts: list[str] = []
    batches = []
    doc_id = 0
    for b in range(n_batches):
        rows = []
        for _ in range(per_batch):
            doc_id += rng.randint(1, 3)
            if texts and rng.random() < 0.35:
                words = rng.choice(texts).split()
                if rng.random() < 0.5:
                    words[rng.randrange(len(words))] = rng.choice(vocab)
            else:
                words = [rng.choice(vocab) for _ in range(rng.randint(20, 60))]
            text = " ".join(words)
            texts.append(text)
            rows.append((doc_id, text))
        # file order is not doc_id order: within one micro-batch the
        # claims go to the lowest doc_id first
        rng.shuffle(rows)
        path = os.path.join(src, f"batch-{b:03d}.parquet")
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]},
                     schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())])),
            path,
        )
        os.utime(path, (1_600_000_000 + b, 1_600_000_000 + b))
        batches.append(rows)
    return batches


def replay_survivors(spark, batches, k: int, bands: int, ngram: int) -> set[int]:
    """Batch replay of the streaming claims: a bucket belongs to its
    first arrival (batch order, then doc_id), and a document survives
    when it owns every one of its buckets."""
    from cherry_pipelines_spark.operators.dedup import _banded

    arrival = {d: (b, d) for b, rows in enumerate(batches) for d, _ in rows}
    docs = spark.createDataFrame([r for rows in batches for r in rows], "doc_id long, text string")
    owner: dict = {}
    banded = sorted(_banded(docs, "text", k, bands, ngram).collect(), key=lambda r: arrival[r["doc_id"]])
    for r in banded:
        owner.setdefault((r["band"], bytes(r["key"])), r["doc_id"])
    losers = {r["doc_id"] for r in banded if owner[(r["band"], bytes(r["key"]))] != r["doc_id"]}
    return set(arrival) - losers


def probe_stream(spark, work: str, seed: int, size: str) -> tuple[dict, list]:
    """``streaming.*`` metrics from the claims query's progress records,
    and the survivor check."""
    from cherry_pipelines_spark.streaming.stateful import (
        DEFAULT_LSH_BANDS,
        streaming_near_dedup_claims,
    )

    k, bands, ngram = 8, DEFAULT_LSH_BANDS, 3
    base = os.path.join(work, "stream_dedup")
    src = os.path.join(base, "src")
    os.makedirs(src)
    p = SIZES[size]
    batches = gen_docs(src, seed, p["dedup_batches"], p["dedup_docs"])

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_near_dedup_claims(stream, text_col="text", k=k, bands=bands, ngram=ngram)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("perfbench_claims")
        .option("checkpointLocation", os.path.join(base, "checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = [pr for pr in q.recentProgress if pr.numInputRows > 0]
        claims = spark.table("perfbench_claims").collect()
    finally:
        q.stop()

    fresh: dict[int, list[bool]] = {}
    for r in claims:
        fresh.setdefault(r["doc_id"], []).append(r["fresh"])
    n_docs = sum(len(rows) for rows in batches)
    if len(progress) != len(batches):
        problem = f"{len(progress)} micro-batches, expected {len(batches)}"
    elif len(fresh) != n_docs or any(len(f) != bands for f in fresh.values()):
        problem = "claims are not one row per band for every document"
    else:
        got = {d for d, f in fresh.items() if all(f)}
        want = replay_survivors(spark, batches, k, bands, ngram)
        problem = None if got == want else f"{len(got ^ want)} survivors differ from the replay"

    last = progress[-1].stateOperators
    metrics = {
        "streaming.add_batch_ms": (statistics.median(pr.durationMs["addBatch"] for pr in progress), "ms"),
        "streaming.commit_ms": (
            statistics.median(sum(op.commitTimeMs for op in pr.stateOperators) for pr in progress),
            "ms",
        ),
        "streaming.state_rows": (sum(op.numRowsTotal for op in last), "count"),
        "streaming.state_bytes": (sum(op.memoryUsedBytes for op in last), "bytes"),
        "streaming.triggers": (len(progress), "count"),
    }
    return metrics, [("stream dedup survivors equal the replay", problem)]

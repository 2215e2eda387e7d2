"""The benchmark's workloads.  Each one generates its inputs from the
seed, warms the session with untimed operations, then runs timed
operations in a closed loop (the next operation starts only after the
previous one has committed), and finally checks its outputs.

* ``backfill`` — one operation is one pass over the whole generated
  history through two ingest pipelines (orca_swaps for borsh decode
  and the SVM joins, erc20_transfers for ABI decode), one large batch
  each, into fresh sinks.
* ``tail_follow`` — one operation lands one fixed-size increment of new
  slots in the source directories and runs one poll of the tail
  follower for orca_swaps (tip probe, then the pipeline from the sink
  checkpoint to the tip) on a sink that grows from a fixed starting
  state.

Both end with one ``sinks.compact.compact_partitions`` of their
orca_swaps table before the checks read it.
"""

from __future__ import annotations

import collections
import contextlib
import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.trace import Tracer, traced_pipeline

BATCH_COL = "_batch_start"  # the sink's batch partition column
PROBE_REPEATS = 3  # each layer probe's time is the median of this many passes

SIZES = {
    # slots of SVM history (EVM blocks likewise); logs per EVM block
    "full": {"slots": 4000, "logs_per_block": 20, "tail_history": 1000, "tail_increment": 500},
    # the smoke-test size: same code paths, seconds instead of minutes
    "tiny": {"slots": 200, "logs_per_block": 4, "tail_history": 100, "tail_increment": 50},
}


@contextlib.contextmanager
def seeded_generators(seed: int):
    """Point both fixture generators at ``seed`` for the duration."""
    import tests.fixtures_gen as evm_gen
    import tests.svm_fixtures_gen as svm_gen

    saved = svm_gen.SEED, evm_gen.SEED
    svm_gen.SEED = evm_gen.SEED = seed
    try:
        yield svm_gen, evm_gen
    finally:
        svm_gen.SEED, evm_gen.SEED = saved


def parquet_files(root: str) -> dict[str, int]:
    """Every parquet file under ``root`` with its size in bytes."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def read_rows(table_dir: str) -> list[dict]:
    """All rows of a partitioned parquet table, read without Spark (so
    checks add no jobs to the event log).  Partition columns are not
    included."""
    rows: list[dict] = []
    for path in sorted(parquet_files(table_dir)):
        for r in pq.read_table(path).to_pylist():
            r.pop(BATCH_COL, None)
            rows.append(r)
    return rows


def _hashable(v):
    return tuple(_hashable(x) for x in v) if isinstance(v, list) else v


def multiset(rows: list[dict]) -> collections.Counter:
    return collections.Counter(
        tuple((k, _hashable(v)) for k, v in sorted(r.items())) for r in rows
    )


def compact_table(spark, tracer: Tracer, table: str) -> dict[str, int]:
    """``sinks.compact.compact_partitions`` on one sink table, with the
    file counts and bytes it rewrote."""
    from cherry_pipelines_spark.sinks.compact import compact_partitions

    before = parquet_files(table)
    with tracer.span("sinks.compact"):
        report = compact_partitions(spark, table)
    after = parquet_files(table)
    return {
        "files_before": report.files_before,
        "files_after": report.files_after,
        "bytes_rewritten": sum(s for p, s in before.items() if p not in after),
    }


def _svm_pipeline(module, paths, sink_dir):
    return module.build_pipeline(
        paths["instructions"], paths["transactions"], paths["blocks"],
        paths["token_balances"], sink_dir,
    )


# --------------------------------------------------------------- checks
def _b(v):
    return None if v is None else bytes(v)


def _i(v):
    return None if v is None else int(v)


def _same(v):
    return v


# (column, normalizer) compared against the generator's gold orca rows,
# which are keyed by (block_slot, transaction_index)
ORCA_GOLD_FIELDS = [
    ("version", _same), ("amount", _i), ("a_to_b", _same),
    ("sqrt_price_limit", _i), ("input_vault", _b), ("output_vault", _b),
    ("input_amount", _i), ("output_amount", _i), ("found_input", _same),
    ("found_output", _same), ("input_mint", _b), ("output_mint", _b),
    ("whirlpool", _b),
]


def check_orca_gold(rows: list[dict], gold: list[dict]) -> str | None:
    """None when the orca_swaps ``rows`` equal the generator's gold
    rows (and the generator's block table), else why not."""
    if not gold:
        return "generator produced no gold rows"
    if len(rows) != len(gold):
        return f"{len(rows)} rows, gold has {len(gold)}"
    got = {(r["block_slot"], r["transaction_index"]): r for r in rows}
    if len(got) != len(rows):
        return "duplicate (block_slot, transaction_index) keys"
    for g in gold:
        r = got.get((g["block_slot"], g["transaction_index"]))
        if r is None:
            return f"missing row {g['block_slot']}/{g['transaction_index']}"
        for col, norm in ORCA_GOLD_FIELDS:
            if norm(r[col]) != norm(g[col]):
                return f"{col} differs at {g['block_slot']}/{g['transaction_index']}"
        if (
            r["timestamp"] != 1_700_000_000 + g["block_slot"] * 2
            or r["block_height"] != g["block_slot"] + 1000
        ):
            return f"block join differs at {g['block_slot']}"
    return None


def check_erc20(table_dir: str, logs_path: str, blocks_path: str) -> str | None:
    """Recompute the transfers from the raw logs: every Transfer-topic
    log is kept; a 32-byte data word decodes to from/to/amount, any
    other payload (ERC-721 shares the topic) leaves them NULL.  Rows
    are partitioned by chain_id, which must be 1."""
    from cherry_pipelines_spark.functions.crypto import evm_signature_to_topic0

    if any("chain_id=1" not in p.split(os.sep) for p in parquet_files(table_dir)):
        return "rows outside the chain_id=1 partition"
    rows = read_rows(table_dir)
    topic0 = evm_signature_to_topic0("Transfer(address,address,uint256)")
    logs = pq.read_table(logs_path).to_pylist()
    blocks = pq.read_table(blocks_path).to_pylist()
    ts = {b["number"]: b["timestamp"] for b in blocks}
    expected = {}
    for log in logs:
        if log["topic0"] != topic0:
            continue
        ok = len(log["data"]) == 32 and log["topic3"] is None
        expected[(log["block_number"], log["log_index"])] = (
            log["topic1"][12:] if ok else None,
            log["topic2"][12:] if ok else None,
            int.from_bytes(log["data"], "big") if ok else None,
            ts.get(log["block_number"]),
        )
        if ok != bool(log["gt_valid"]):
            return "recomputation disagrees with the generator's ground truth"
    if len(rows) != len(expected):
        return f"{len(rows)} rows, expected {len(expected)}"
    for r in rows:
        exp = expected.get((r["block_number"], r["log_index"]))
        got = (_b(r["from"]), _b(r["to"]), _i(r["amount"]), r["timestamp"])
        if exp is None or got != exp:
            return f"row {r['block_number']}/{r['log_index']} differs"
    return None


# ------------------------------------------------------------ workloads
class Backfill:
    def __init__(self, spark, tracer: Tracer, work: str, seed: int, size: str):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.p = SIZES[size]
        self.last_out: str | None = None

    def generate(self) -> None:
        with seeded_generators(self.seed) as (svm_gen, evm_gen):
            self.gold, self.svm = svm_gen.gen_svm_fixtures(
                os.path.join(self.work, "in", "svm"), n_slots=self.p["slots"]
            )
            self.evm = evm_gen.gen_evm_fixtures(
                os.path.join(self.work, "in", "evm"),
                n_blocks=self.p["slots"],
                logs_per_block=self.p["logs_per_block"],
            )
        self.rows_per_op = (
            pq.read_metadata(self.svm["instructions"]).num_rows
            + pq.read_metadata(self.evm["logs"]).num_rows
        )

    def pipelines(self, out: str):
        from cherry_pipelines_spark.pipelines.evm import erc20_transfers
        from cherry_pipelines_spark.pipelines.svm import orca_swaps

        n = self.p["slots"]
        orca = _svm_pipeline(orca_swaps, self.svm, os.path.join(out, orca_swaps.TABLE_NAME))
        erc = erc20_transfers.build_pipeline(
            self.evm["logs"], self.evm["blocks"],
            os.path.join(out, erc20_transfers.TABLE_NAME), chain_id=1,
        )
        return [(orca, n), (erc, n)]

    def has_next(self) -> bool:
        return True

    def warmup(self) -> None:
        # the first pass pays JVM warm-up; the next few are still up
        # to 30% slower than later passes while the JIT compiles the
        # planner
        for k in range(3):
            self.before_op()
            self.op(f"warmup-{k}")

    def op(self, i) -> int:
        out = self.last_out = os.path.join(self.work, "out", f"op-{i}")
        for pipe, to_block in self.pipelines(out):
            ran = traced_pipeline(pipe, self.tracer).run(
                self.spark, from_block=0, to_block=to_block, batch_size=to_block + 1
            )
            if ran != 1:
                raise RuntimeError(f"{pipe.name} ran {ran} batches, expected 1")
        return self.rows_per_op

    def written(self, i) -> dict[str, int]:
        return parquet_files(os.path.join(self.work, "out", f"op-{i}"))

    def before_op(self) -> None:
        # keep only the newest output: it is the one the checks read
        if self.last_out is not None:
            shutil.rmtree(self.last_out)
            self.last_out = None

    def probe_range(self):
        return [(pipe, 0, n) for pipe, n in self.pipelines(os.path.join(self.work, "probe"))]

    def compact(self) -> dict[str, int]:
        """Compact the last pass's orca_swaps table; the checks then
        read the compacted files."""
        return compact_table(self.spark, self.tracer, os.path.join(self.last_out, "orca_swaps", "orca_swaps"))

    def finish(self) -> list[tuple[str, str | None]]:
        """Checks on the last timed pass's output."""
        out = self.last_out
        checks = []
        rows = read_rows(os.path.join(out, "orca_swaps", "orca_swaps"))
        checks.append(("orca_swaps equals gold", check_orca_gold(rows, self.gold.gold_orca)))
        erc20 = os.path.join(out, "erc20_transfers", "erc20_transfers")
        checks.append(
            ("erc20_transfers equals recomputation",
             check_erc20(erc20, self.evm["logs"], self.evm["blocks"]))
        )
        return checks


SVM_TABLES = {
    "instructions": "block_slot",
    "transactions": "block_slot",
    "blocks": "slot",
    "token_balances": "block_slot",
}


class TailFollow:
    def __init__(self, spark, tracer: Tracer, work: str, seed: int, size: str, seconds: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.p = SIZES[size]
        # one increment per second of the timed region, which no host
        # has come near (an increment takes 2-4 s); two more are used
        # by the warm-up
        self.n_increments = 2 + max(8, seconds)
        self.landed = 0
        self.src = os.path.join(work, "src")
        self.stage = os.path.join(work, "stage")
        self.sink_dir = os.path.join(work, "sink")

    def generate(self) -> None:
        h, inc = self.p["tail_history"], self.p["tail_increment"]
        n_slots = h + self.n_increments * inc
        with seeded_generators(self.seed) as (svm_gen, _):
            self.gold, paths = svm_gen.gen_svm_fixtures(
                os.path.join(self.work, "gen"), n_slots=n_slots
            )
        self.rows: list[int] = []
        for table, col in SVM_TABLES.items():
            t = pq.read_table(paths[table])
            os.makedirs(os.path.join(self.src, table))
            pq.write_table(
                t.filter(pc.less_equal(t[col], h)),
                os.path.join(self.src, table, "history.parquet"),
            )
            for k in range(self.n_increments):
                lo, hi = h + k * inc, h + (k + 1) * inc
                part = t.filter(
                    pc.and_(pc.greater(t[col], lo), pc.less_equal(t[col], hi))
                )
                d = os.path.join(self.stage, str(k))
                os.makedirs(d, exist_ok=True)
                pq.write_table(part, os.path.join(d, f"{table}.parquet"))
                if table == "instructions":
                    self.rows.append(part.num_rows)
        self.paths = {t: os.path.join(self.src, t) for t in SVM_TABLES}

    def pipeline(self, sink_dir: str):
        from cherry_pipelines_spark.pipelines.svm import orca_swaps

        return _svm_pipeline(orca_swaps, self.paths, sink_dir)

    def has_next(self) -> bool:
        return self.landed < self.n_increments

    def _land(self) -> int:
        """Move the next increment into the source directories; each
        rename is atomic, and all four land before the follower polls."""
        k = self.landed
        for table in SVM_TABLES:
            os.rename(
                os.path.join(self.stage, str(k), f"{table}.parquet"),
                os.path.join(self.src, table, f"inc-{k:04d}.parquet"),
            )
        self.landed += 1
        return self.rows[k]

    def warmup(self) -> None:
        h = self.p["tail_history"]
        # the fixed starting sink: the history in one batch
        self.pipeline(self.sink_dir).run(self.spark, from_block=0, to_block=h, batch_size=h + 1)
        for k in range(2):
            self.op(f"warmup-{k}")

    def op(self, i) -> int:
        # One poll of streaming.incremental.follow: probe the tip, then
        # run the pipeline from the sink checkpoint to it.  follow()
        # itself is not called because it never returns when the
        # newest landed slot holds no orca swap: the checkpoint is the
        # anchor table's max block, so every poll re-runs that range.
        rows = self._land()
        pipe = traced_pipeline(self.pipeline(self.sink_dir), self.tracer)
        tip = pipe.source.tip(self.spark)
        ran = pipe.run(
            self.spark, from_block=0, to_block=tip,
            batch_size=100 * self.p["tail_increment"],
        )
        if ran != 1:
            raise RuntimeError(f"{ran} batches for one increment, expected 1")
        return rows

    def before_op(self) -> None:
        self._before = parquet_files(self.sink_dir) if self.tracer.enabled else {}

    def written(self, i) -> dict[str, int]:
        after = parquet_files(self.sink_dir)
        return {p: s for p, s in after.items() if p not in self._before}

    def probe_range(self):
        h, inc = self.p["tail_history"], self.p["tail_increment"]
        hi = h + self.landed * inc
        return [(self.pipeline(os.path.join(self.work, "probe")), hi - inc + 1, hi)]

    def compact(self) -> dict[str, int]:
        return compact_table(self.spark, self.tracer, os.path.join(self.sink_dir, "orca_swaps"))

    def finish(self) -> list[tuple[str, str | None]]:
        """Compacted tail sink == one-shot run of the same range == gold."""
        h, inc = self.p["tail_history"], self.p["tail_increment"]
        last = h + self.landed * inc
        one_shot = os.path.join(self.work, "one_shot")
        self.pipeline(one_shot).run(self.spark, from_block=0, to_block=last, batch_size=last + 1)

        def rows_of(base):
            return read_rows(os.path.join(base, "orca_swaps"))

        tail_rows = rows_of(self.sink_dir)
        checks = [(
            "compacted tail sink equals one-shot run",
            None if multiset(tail_rows) == multiset(rows_of(one_shot))
            else "row multisets differ",
        )]
        gold = [g for g in self.gold.gold_orca if g["block_slot"] <= last]
        checks.append(("tail orca_swaps equals gold", check_orca_gold(tail_rows, gold)))
        return checks

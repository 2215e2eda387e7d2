"""Shape of one tail poll of the SVM pipelines on the SVM fixtures,
counted in Spark jobs per phase (job groups): the tip probe, the
checkpoint read and the source load run none, and the batch write is
one pass with no Python decode.  Also pins the swap tables' output
schemas."""

from __future__ import annotations

import contextlib
import itertools
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from cherry_pipelines_spark.engine.pipeline import PipelineContext
from cherry_pipelines_spark.pipelines.svm import meteora_swaps as met
from cherry_pipelines_spark.pipelines.svm import orca_metadata as meta
from cherry_pipelines_spark.pipelines.svm import orca_swaps as orca
from cherry_pipelines_spark.pipelines.svm import raydium_swaps as ray
from tests.svm_fixtures_gen import gen_svm_fixtures

HISTORY, N_SLOTS = 30, 40
TABLES = {"instructions": "block_slot", "transactions": "block_slot", "blocks": "slot",
          "token_balances": "block_slot"}

# stamped from the tables the swap pipelines wrote before their
# decode became one pass
SCHEMAS = {
    orca: "struct<block_slot:bigint,transaction_index:bigint,output_vault:binary,"
    "input_vault:binary,block_hash:binary,instruction_address:array<int>,"
    "program_id:binary,token_authority:binary,whirlpool:binary,"
    "input_token_account:binary,output_token_account:binary,amount:bigint,"
    "amount_specified_is_input:boolean,other_amount_threshold:bigint,"
    "sqrt_price_limit:decimal(38,0),a_to_b:boolean,version:int,input_amount:bigint,"
    "found_input:boolean,output_amount:bigint,found_output:boolean,input_mint:binary,"
    "output_mint:binary,transaction_signature:binary,block_height:bigint,timestamp:bigint>",
    ray: "struct<block_slot:bigint,transaction_index:bigint,output_vault:binary,"
    "input_vault:binary,block_hash:binary,instruction_address:array<int>,"
    "program_id:binary,payer:binary,pool:binary,input_token_account:binary,"
    "output_token_account:binary,swap_kind:string,max_amount_in:bigint,"
    "amount_out:bigint,amount_in:bigint,minimum_amount_out:bigint,amount:bigint,"
    "other_amount_threshold:bigint,sqrt_price_limit_x64:decimal(38,0),"
    "is_base_input:boolean,input_amount:bigint,found_input:boolean,"
    "output_amount:bigint,found_output:boolean,input_mint:binary,output_mint:binary,"
    "transaction_signature:binary,block_height:bigint,timestamp:bigint>",
}
DECIMALS_SCHEMA = "struct<mint:binary,decimals:int>"

_groups = itertools.count()


@contextlib.contextmanager
def job_group(spark):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    gid = f"tail-poll-{next(_groups)}"
    sc.setJobGroup(gid, gid)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        jobs.extend(sc.statusTracker().getJobIdsForGroup(gid))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="module")
def tail_sources(spark, tmp_path_factory):
    """Source dirs holding the history file and the landed increments,
    the layout a chain-tip follower polls.  The tail lands in as many
    increments as make the scan read as already parallel."""
    d = tmp_path_factory.mktemp("tail_poll")
    _, paths = gen_svm_fixtures(str(d / "gen"), n_slots=N_SLOTS)
    n_inc = max(1, spark.sparkContext.defaultParallelism // 2 - 1)
    bounds = [HISTORY + (N_SLOTS - HISTORY) * k // n_inc for k in range(n_inc + 1)]
    out = {}
    for table, col in TABLES.items():
        t = pq.read_table(paths[table])
        out[table] = str(d / table)
        os.makedirs(out[table])
        pq.write_table(t.filter(pc.less_equal(t[col], HISTORY)),
                       os.path.join(out[table], "history.parquet"))
        for k, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            part = t.filter(pc.and_(pc.greater(t[col], lo), pc.less_equal(t[col], hi)))
            pq.write_table(part, os.path.join(out[table], f"inc-{k:04d}.parquet"))
    return out


def _pipeline(module, src, sink_dir):
    tables = [src["instructions"], src["transactions"], src["blocks"]]
    if module is not meta:  # the one SVM pipeline without token balances
        tables.append(src["token_balances"])
    return module.build_pipeline(*tables, sink_dir)


def _walk(plan):
    """Every node of an executed plan, through AQE stages and reused
    exchanges."""
    stack = [plan]
    while stack:
        n = stack.pop()
        yield n
        name = n.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(n.plan())
        elif name == "ReusedExchangeExec":
            stack.append(n.child())
        it = n.children().iterator()
        while it.hasNext():
            stack.append(it.next())


_PYTHON_NODES = {"MapInPandasExec", "ArrowEvalPythonExec", "BatchEvalPythonExec"}


def _python_nodes(plan) -> int:
    return sum(n.getClass().getSimpleName() in _PYTHON_NODES for n in _walk(plan))


def _has_decode(plan) -> bool:
    """True when a node of ``plan`` outputs the fused decode's ``_kind``."""
    for n in _walk(plan):
        it = n.output().iterator()
        while it.hasNext():
            if it.next().name() == "_kind":
                return True
    return False


# (pipeline, most Spark jobs its batch write may run)
@pytest.mark.parametrize(
    "module, max_write_jobs",
    [(orca, 6), (met, 5), (meta, 3)],
    ids=["orca", "meteora", "orca_metadata"],
)
def test_tail_poll_runs_only_the_write_jobs(spark, tail_sources, tmp_path, module,
                                            max_write_jobs):
    pipe = _pipeline(module, tail_sources, str(tmp_path / "sink"))
    assert pipe.run(spark, 0, HISTORY, batch_size=HISTORY + 1) == 1

    with job_group(spark) as tip_jobs:
        tip = pipe.source.tip(spark)
    with job_group(spark) as checkpoint_jobs:
        start = pipe.sink.next_block(spark)
    with job_group(spark) as read_jobs:
        bundle = pipe.source.read(spark, start, tip)
    assert (tip, tip_jobs, checkpoint_jobs, read_jobs) == (N_SLOTS, [], [], [])

    ctx = PipelineContext(start, tip)
    for step in pipe.steps:
        bundle = step.run(spark, bundle, ctx)
    with job_group(spark) as write_jobs:
        pipe.sink.write(spark, bundle, start, tip)
    assert len(write_jobs) <= max_write_jobs, write_jobs
    assert pipe.sink.next_block(spark) > start

    table = bundle[module.TABLE_NAME]
    table.collect()
    plan = table._jdf.queryExecution().executedPlan()
    text = plan.toString()
    assert "InMemoryRelation" not in text and "InMemoryTableScan" not in text
    assert _python_nodes(plan) == 0
    assert _has_decode(plan)
    for node in _walk(plan):
        if node.getClass().getSimpleName().endswith("JoinExec"):
            sides = node.children().iterator()
            with_decode = 0
            while sides.hasNext():
                with_decode += _has_decode(sides.next())
            assert with_decode <= 1, node.toString()


def _exchanges(plan, partitioning: str) -> set[int]:
    """Ids of the shuffle exchanges in ``plan`` that partition by
    ``partitioning`` (a Catalyst Partitioning class name)."""
    return {
        n.id() for n in _walk(plan)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
        and n.outputPartitioning().getClass().getSimpleName() == partitioning
    }


@pytest.mark.parametrize("module", [orca, met], ids=["orca", "meteora"])
def test_swap_write_plan_decodes_in_one_shuffle(spark, tail_sources, tmp_path, module):
    """The swap table a batch writes decodes in the JVM: no Python node,
    no round-robin spread, and the positional-index window below the
    decode and the adjacency window above it share one hash shuffle."""
    pipe = _pipeline(module, tail_sources, str(tmp_path / "sink"))
    bundle = pipe.source.read(spark, 0, N_SLOTS)
    ctx = PipelineContext(0, N_SLOTS)
    for step in pipe.steps:
        bundle = step.run(spark, bundle, ctx)
    table = bundle[module.TABLE_NAME]
    table.collect()
    plan = table._jdf.queryExecution().executedPlan()
    assert _python_nodes(plan) == 0
    assert _exchanges(plan, "RoundRobinPartitioning") == set()
    windows = [n for n in _walk(plan) if n.getClass().getSimpleName() == "WindowExec"]
    assert len(windows) == 2, plan.toString()
    assert len(set().union(*(_exchanges(w, "HashPartitioning") for w in windows))) == 1, (
        plan.toString()
    )


@pytest.mark.parametrize("module", [orca, ray], ids=["orca", "raydium"])
def test_swap_output_schemas(spark, tail_sources, tmp_path, module):
    pipe = _pipeline(module, tail_sources, str(tmp_path / "sink"))
    pipe.run(spark, 0, N_SLOTS, batch_size=N_SLOTS + 1)
    got = pipe.sink.read_table(spark, module.TABLE_NAME)
    assert got.schema.simpleString() == SCHEMAS[module]
    assert got.count() > 0
    decimals = pipe.sink.read_table(spark, "token_decimals_table")
    assert decimals.schema.simpleString() == DECIMALS_SCHEMA

"""Generated-code budget of the decode pipelines: every whole-stage
codegen method of one orca_swaps batch and one erc20_transfers batch
stays within 8000 bytes of bytecode, so no decode method runs
interpreted: HotSpot does not JIT-compile a larger method (its
``DontCompileHugeMethods`` default), while Spark only abandons
whole-stage codegen above 65535 bytes, so a method in between would be
generated, and run slowly, without any error."""

from __future__ import annotations

import pytest

from cherry_pipelines_spark.engine.pipeline import PipelineContext
from cherry_pipelines_spark.pipelines.evm import erc20_transfers as erc20
from cherry_pipelines_spark.pipelines.svm import orca_swaps as orca
from tests.fixtures_gen import gen_evm_fixtures
from tests.svm_fixtures_gen import gen_svm_fixtures

JIT_MAX_METHOD_BYTES = 8000


def _batch_tables(spark, pipe, start, end):
    bundle = pipe.source.read(spark, start, end)
    ctx = PipelineContext(start, end)
    for step in pipe.steps:
        bundle = step.run(spark, bundle, ctx)
    return bundle


def _max_method_sizes(df) -> list[int]:
    df.collect()
    stages = df._jdf.queryExecution().debug().codegenToSeq()
    return [stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size())]


@pytest.mark.parametrize("pipeline", ["orca_swaps", "erc20_transfers"])
def test_decode_methods_fit_the_jit(spark, tmp_path, pipeline):
    if pipeline == "orca_swaps":
        _, p = gen_svm_fixtures(str(tmp_path / "svm"), n_slots=40)
        pipe = orca.build_pipeline(
            p["instructions"], p["transactions"], p["blocks"], p["token_balances"],
            str(tmp_path / "sink"),
        )
        bundle = _batch_tables(spark, pipe, 0, 40)
    else:
        p = gen_evm_fixtures(str(tmp_path / "evm"))
        pipe = erc20.build_pipeline(p["logs"], p["blocks"], str(tmp_path / "sink"), 1)
        bundle = _batch_tables(spark, pipe, 0, 50)
    for name, df in bundle.items():
        sizes = _max_method_sizes(df)
        assert sizes, name  # the decode ran through whole-stage codegen
        assert max(sizes) <= JIT_MAX_METHOD_BYTES, (name, sizes)

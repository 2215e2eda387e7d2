"""SQL literals for driver-local index metadata.

``similarity._sql_lit`` writes k-means centroids and PQ codebooks into
plans as constants.  These tests pin that every value of the metadata
types round-trips exactly (NaN, ±Inf, -0.0, empty arrays and maps,
NULL elements), that finite values keep their established text, and
that the constant-folded paths give the same rows as the broadcast
joins they replace.
"""

from __future__ import annotations

import math
import struct

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cherry_pipelines_spark.operators.clustering import _local_rows, assign_clusters
from cherry_pipelines_spark.operators.similarity import (
    _frozen_residuals,
    _local_metadata,
    _sql_lit,
    pq_encode,
)

NAN, INF = float("nan"), float("inf")
CENT_T = T.StructType(
    [
        T.StructField("cluster_id", T.LongType()),
        T.StructField("centroid", T.ArrayType(T.DoubleType())),
    ]
)


def _same(a, b, dt) -> bool:
    """Value equality that tells -0.0 from 0.0 and treats NaN as equal
    to NaN (Spark canonicalizes NaN payloads)."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(dt, T.DoubleType):
        if math.isnan(a):
            return math.isnan(b)
        return struct.pack(">d", a) == struct.pack(">d", b)
    if isinstance(dt, T.ArrayType):
        return len(a) == len(b) and all(
            _same(x, y, dt.elementType) for x, y in zip(a, b)
        )
    if isinstance(dt, T.MapType):
        return set(a) == set(b) and all(_same(a[k], b[k], dt.valueType) for k in a)
    if isinstance(dt, T.StructType):
        return all(_same(a[f.name], b[f.name], f.dataType) for f in dt.fields)
    return a == b


_LONGS = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_TYPES = st.recursive(
    st.sampled_from([T.LongType(), T.DoubleType()]),
    lambda inner: st.one_of(
        inner.map(T.ArrayType),
        inner.map(lambda t: T.MapType(T.LongType(), t)),
        st.lists(inner, min_size=1, max_size=3).map(
            lambda ts: T.StructType(
                [T.StructField(f"f{i}", t) for i, t in enumerate(ts)]
            )
        ),
    ),
    max_leaves=4,
)


def _values(dt):
    if isinstance(dt, T.LongType):
        some = _LONGS
    elif isinstance(dt, T.DoubleType):
        some = st.floats(allow_nan=True, allow_infinity=True)
    elif isinstance(dt, T.ArrayType):
        some = st.lists(_values(dt.elementType), max_size=3)
    elif isinstance(dt, T.MapType):
        some = st.dictionaries(_LONGS, _values(dt.valueType), max_size=3)
    else:
        some = st.fixed_dictionaries(
            {f.name: _values(f.dataType) for f in dt.fields}
        )
    return st.one_of(st.none(), some)


@settings(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tv=_TYPES.flatmap(lambda dt: st.tuples(st.just(dt), _values(dt))))
@example(tv=(T.DoubleType(), NAN))
@example(tv=(T.DoubleType(), INF))
@example(tv=(T.DoubleType(), -INF))
@example(tv=(T.DoubleType(), -0.0))
@example(tv=(T.ArrayType(T.DoubleType()), []))
@example(tv=(T.ArrayType(T.DoubleType()), [None, NAN, -0.0]))
@example(tv=(T.MapType(T.LongType(), T.ArrayType(T.DoubleType())), {}))
@example(tv=(T.MapType(T.LongType(), T.ArrayType(CENT_T)), {0: [], 1: None}))
@example(tv=(T.ArrayType(CENT_T), [{"cluster_id": None, "centroid": [INF]}]))
def test_sql_lit_round_trips(spark, tv):
    dt, v = tv
    df = spark.range(1).select(F.expr(_sql_lit(v, dt)).alias("x"))
    assert df.schema["x"].dataType.simpleString() == dt.simpleString()
    got = df.collect()[0]["x"]
    assert _same(got, v, dt), (got, v)


def test_sql_lit_text_is_pinned():
    """Finite values keep the text they always had, so plans built
    from finite metadata do not move; the new forms are casts."""
    cases = [
        (1.5, T.DoubleType(), "1.5D"),
        (1e300, T.DoubleType(), "1e+300D"),
        (-0.0, T.DoubleType(), "-0.0D"),
        (7, T.LongType(), "CAST(7 AS bigint)"),
        (2, T.IntegerType(), "CAST(2 AS int)"),
        (None, T.ArrayType(T.DoubleType()), "CAST(NULL AS array<double>)"),
        ([1.0, -2.25], T.ArrayType(T.DoubleType()), "array(1.0D,-2.25D)"),
        (
            {"cluster_id": 3, "centroid": [0.1]},
            CENT_T,
            "named_struct('cluster_id', CAST(3 AS bigint),'centroid', array(0.1D))",
        ),
        (NAN, T.DoubleType(), "CAST('nan' AS DOUBLE)"),
        (INF, T.DoubleType(), "CAST('inf' AS DOUBLE)"),
        (-INF, T.DoubleType(), "CAST('-inf' AS DOUBLE)"),
        ([], T.ArrayType(T.DoubleType()), "CAST(array() AS array<double>)"),
        (
            {},
            T.MapType(T.LongType(), T.ArrayType(T.DoubleType())),
            "CAST(map() AS map<bigint,array<double>>)",
        ),
        (
            {1: [0.5], 2: None},
            T.MapType(T.LongType(), T.ArrayType(T.DoubleType())),
            "map(CAST(1 AS bigint), array(0.5D),"
            "CAST(2 AS bigint), CAST(NULL AS array<double>))",
        ),
    ]
    for v, dt, text in cases:
        assert _sql_lit(v, dt) == text
    with pytest.raises(TypeError):
        _sql_lit("x", T.StringType())


def _canon(v):
    if isinstance(v, float):
        return repr(v)  # exact, keeps -0.0 apart and NaN equal to NaN
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows(df):
    return sorted(_canon(tuple(r)) for r in df.collect())


def _assert_local(lit, src):
    plan = lit._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert [(f.name, f.dataType.simpleString()) for f in lit.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in src.schema.fields
    ]
    assert _rows(lit) == _rows(src)


def test_literal_path_equals_broadcast_path(spark):
    """Centroids and codebooks holding NaN and ±Inf fold into the plan
    as literals (``_local_metadata``) and give the same rows as the
    broadcast join over a checkpointed copy of the same frame, on NULL,
    ragged and NaN input vectors — so the constant-map lookups never
    miss and need no NULL filter."""
    pts = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 2.0, 1.0, 1.0]),
            (3, None),
            (4, [1.0, 2.0, 3.0]),
            (5, [NAN, 1.0, 0.5, 2.0]),
            (6, [INF, -INF, 2.0, 2.0]),
            (7, [9.0, 9.0, 9.0, 9.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0, 0.0]),
            (1, [1.0, NAN, 1.0, 1.0]),
            (2, [INF, 2.0, -INF, 2.0]),
            (3, [3.0, 3.0, 3.0, 3.0]),
        ],
        "cluster_id long, centroid array<double>",
    )
    books = spark.createDataFrame(
        [
            (0, 0, [0.0, 0.0]),
            (0, 1, [NAN, 1.0]),
            (0, 2, [INF, -INF]),
            (1, 0, [1.0, 1.0]),
            (1, 1, [-INF, 2.0]),
        ],
        "sub long, cluster_id long, centroid array<double>",
    )
    for src in (cents, books):
        _assert_local(_local_metadata(src), src)
        _assert_local(_local_metadata(src.limit(0)), src.limit(0))

    def both(src):
        lit, bc = _local_metadata(src), src.localCheckpoint()
        assert _local_rows(lit) and _local_rows(bc) is None
        return lit, bc

    lit, bc = both(cents)
    a, b = (
        assign_clusters(pts, c, "embedding", "vec_id", method="hof")
        for c in (lit, bc)
    )
    assert _rows(a) == _rows(b)
    assert len(_rows(a)) == 7

    a, b = (
        _frozen_residuals(
            pts, c, "embedding", "vec_id", spread=False, checkpoint=False
        )
        for c in (lit, bc)
    )
    assert _rows(a) == _rows(b)
    assert len(_rows(a)) == 7

    lit, bc = both(books)
    a, b = (pq_encode(pts, c, m=2, dim=4) for c in (lit, bc))
    assert _rows(a) == _rows(b)
    assert len(_rows(a)) == 14

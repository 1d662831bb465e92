"""Type-edge tests: uint64, tagged unions, categorical round trip, and
NestedArray types seeded without the analyzer."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_awkward_spark.core import NestedArray, _to_python
from dask_awkward_spark.operators import reducers as red
from dask_awkward_spark.schema import field_type
from dask_awkward_spark.types import (
    categorical_decode,
    categorical_encode,
    uint64_to_decimal,
    union_encode,
    union_map,
    union_project,
    union_tag,
)


def test_uint64(spark):
    df = spark.createDataFrame([("18446744073709551615",)], ["s"])  # 2^64-1
    got = df.select(uint64_to_decimal(F.col("s")).alias("u")).collect()[0]["u"]
    assert got == Decimal(2**64 - 1)


def test_union_roundtrip(spark):
    # rows: tag 0 -> long payload, tag 1 -> string payload
    df = spark.createDataFrame(
        [(0, 42, None), (1, None, "hi"), (0, 7, None)], ["tag", "num", "txt"]
    )
    u = union_encode(F.col("tag"), [F.col("num"), F.col("txt")])
    out = df.select(
        union_tag(u).alias("t"),
        union_project(u, 0).alias("v0"),
        union_project(u, 1).alias("v1"),
        union_map(u, [lambda c: (c * 2).cast("string"), lambda c: F.upper(c)]).alias("m"),
    ).collect()
    assert [(r["t"], r["v0"], r["v1"], r["m"]) for r in out] == [
        (0, 42, None, "84"),
        (1, None, "hi", "HI"),
        (0, 7, None, "14"),
    ]


def test_categorical_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "red"), (2, "blue"), (3, "red"), (4, "green")], ["id", "color"]
    )
    coded, dictionary = categorical_encode(df, "color")
    assert dictionary.count() == 3
    codes = {r["value"]: r["code"] for r in dictionary.collect()}
    assert codes == {"blue": 0, "green": 1, "red": 2}  # deterministic by value order
    got = {r["id"]: r["color_code"] for r in coded.collect()}
    assert got == {1: 2, 2: 0, 3: 2, 4: 1}
    back = categorical_decode(coded.drop("color"), dictionary, "color_code", "color")
    assert {r["id"]: r["color"] for r in back.collect()} == {
        1: "red",
        2: "blue",
        3: "red",
        4: "green",
    }


def test_categorical_encode_high_cardinality_dense_codes(spark):
    """Codes are the global dense rank by value even when the dictionary
    spans many range partitions (the scale path: partition-local rank +
    offset prefix-sum, no single-partition sort)."""
    from dask_awkward_spark.types import categorical_encode

    vals = [f"v{i:05d}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals for _ in (0, 1)], "s string")
    coded, dictionary = categorical_encode(df, "s")
    d = {r["value"]: r["code"] for r in dictionary.collect()}
    assert d == {v: i for i, v in enumerate(sorted(vals))}
    got = {(r["s"], r["s_code"]) for r in coded.collect()}
    assert got == {(v, i) for i, v in enumerate(sorted(vals))}


def test_categorical_encode_plan_has_no_unpartitioned_window(spark):
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import unpartitioned_windows

    from dask_awkward_spark.types import categorical_encode

    df = spark.createDataFrame([("a",), ("b",), ("a",)], "s string")
    coded, dictionary = categorical_encode(df, "s")
    for frame in (coded, dictionary):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert unpartitioned_windows(plan) == []


# ---- seeded NestedArray types equal the analyzer's --------------------

_INNER = T.StructType([T.StructField("c", T.IntegerType(), False)])
_REC = T.StructType(
    [
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.DoubleType(), True),
        T.StructField("s", _INNER, True),
        T.StructField("l", T.ArrayType(_INNER, False), True),
    ]
)


def _rec(i):
    return {"a": i, "b": None if i % 2 else i / 2, "s": {"c": i}, "l": [{"c": i}]}


def _analyzed_type(df, col):
    """What Catalyst's analyzer says ``col`` over ``df`` is."""
    return df.select(col).schema[0].dataType


def _lambda_projection(col, dt, name):
    """The per-element lambda spelling of a field projection."""
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _lambda_projection(x, dt.elementType, name))
    return col[name]


def _nested(spark, levels):
    """One column ``v`` of ``_REC`` under one list level per entry of
    ``levels`` (its containsNull, outermost first); a level that may hold
    nulls holds a null element."""
    dt, val = _REC, [_rec(1), _rec(2)]
    rows = [val[0], val[1]]
    for contains_null in reversed(levels):
        dt = T.ArrayType(dt, contains_null)
        rows = [[r, None] if contains_null else [r, r] for r in rows] + [[]]
    schema = T.StructType([T.StructField("v", dt, True)])
    return NestedArray(spark.createDataFrame([(r,) for r in rows] + [(None,)], schema))


def _assert_seeded(arr):
    assert arr._dtype is not None
    assert arr._dtype == _analyzed_type(arr._df, arr._col)


@pytest.mark.parametrize(
    "levels", [(), (False,), (True,), (False, False), (True, False), (False, True)],
    ids=["struct", "list", "list-nullelem", "list2", "list2-outernull", "list2-innernull"],
)
def test_projection_seed_equals_analyzer(spark, levels):
    arr = _nested(spark, levels)
    for path in (["a"], ["b"], ["s"], ["s", "c"], ["l"], ["l", "c"]):
        out, dt, col = arr, arr.dtype, arr._col
        for name in path:
            out = out[name]
            col = _lambda_projection(col, dt, name)
            dt = _analyzed_type(arr._df, col)
            _assert_seeded(out)
            # the native extraction types and answers as the lambda did
            assert out._dtype == dt
        assert out.compute() == [_to_python(r[0]) for r in arr._df.select(col).collect()]


def test_projection_no_seed_on_inexact_name(spark):
    arr = _nested(spark, (True,))
    upper = arr["A"]  # the analyzer resolves it case-insensitively
    assert upper._dtype is None
    assert upper.dtype == _analyzed_type(arr._df, _lambda_projection(arr._col, arr.dtype, "A"))
    missing = arr["zz"]
    assert missing._dtype is None
    with pytest.raises(AnalysisException) as native:
        missing.dtype
    with pytest.raises(AnalysisException) as lam:
        _analyzed_type(arr._df, _lambda_projection(arr._col, arr.dtype, "zz"))
    assert str(native.value).splitlines()[0] == str(lam.value).splitlines()[0]


def test_record_projection_types_by_rule(spark):
    rec = _nested(spark, ())[0]
    for name in ("a", "l"):
        out = rec[name]
        assert out._df.schema[0].dataType == field_type(rec._df.schema[0].dataType, name)
    inner = rec["l"]["c"]  # array<struct> -> native extraction
    assert inner._df.schema[0].dataType == T.ArrayType(T.IntegerType(), False)
    assert inner.compute() == [1]


def test_from_parquet_root_seed_equals_analyzer(spark, tmp_path):
    from dask_awkward_spark import from_parquet

    p = str(tmp_path / "t")
    _nested(spark, (True,)).to_df().write.parquet(p)
    for cols in (None, ["v"]):
        arr = from_parquet(spark, p, columns=cols)
        _assert_seeded(arr)
        _assert_seeded(arr["v"]["l"]["c"])


_LEAVES = {
    "int": (T.IntegerType(), [1, 2, None]),
    "long": (T.LongType(), [1, 2, None]),
    "float": (T.FloatType(), [1.5, 2.0, None]),
    "double": (T.DoubleType(), [1.5, 2.0, None]),
    "decimal": (T.DecimalType(10, 2), [Decimal("1.50"), Decimal("2.00"), None]),
}
_SEEDED_REDUCERS = (
    "sum", "prod", "count", "count_nonzero", "min", "max",
    "any", "all", "mean", "var", "std",
)


@pytest.mark.parametrize("leaf", sorted(_LEAVES))
def test_reducer_seed_equals_analyzer(spark, leaf):
    dt, vals = _LEAVES[leaf]
    schema = T.StructType([T.StructField("v", T.ArrayType(dt, True), True)])
    arr = NestedArray(spark.createDataFrame([(vals,), ([],), (None,)], schema))
    for op in _SEEDED_REDUCERS:
        for axis in (1, -1):
            _assert_seeded(getattr(red, op)(arr, axis=axis))
    # kept dims or a masked identity change the type: the analyzer types them
    assert red.sum(arr, axis=1, keepdims=True)._dtype is None
    assert red.max(arr, axis=1, mask_identity=False)._dtype is None
    assert red.argmax(arr, axis=1)._dtype is None

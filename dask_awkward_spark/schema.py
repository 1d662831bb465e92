"""Axis/depth machinery: compile "apply at axis=k" into nested higher-order
functions over Spark array columns.

This is the Spark-native replacement for the reference's axis dispatch
(dask_awkward lib/reducers.py — every reducer branches on axis; lib/core.py
map_partitions applies ak kernels per partition). Here an operator at
``axis >= 1`` becomes a pure Column expression: ``F.transform`` wrappers down
to the target depth, then the leaf expression. No shuffle, no Python — the
whole thing stays inside Catalyst/whole-stage-codegen and scales linearly
with partitions.

Axis convention (matches awkward): axis=0 is the row axis; axis=1 is the
outermost list level inside a row; negative axes count from the innermost
list level (axis=-1 == innermost).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def list_depth(dt: T.DataType) -> int:
    """Number of ArrayType levels along the list spine of ``dt``."""
    d = 0
    while isinstance(dt, T.ArrayType):
        d += 1
        dt = dt.elementType
    return d


def element_type(dt: T.DataType, levels: int = 1) -> T.DataType:
    """Type after stripping ``levels`` ArrayType wrappers."""
    for _ in range(levels):
        if not isinstance(dt, T.ArrayType):
            raise ValueError(f"not a list type at this level: {dt.simpleString()}")
        dt = dt.elementType
    return dt


def field_type(dt: T.DataType, name: str) -> "T.DataType | None":
    """Type of field ``name`` projected through the list levels of ``dt``,
    by Spark's ``GetStructField`` / ``GetArrayStructFields`` type rules
    (the lambda-variable and native spellings type alike): a struct gives
    the field's type, an ``array<struct>`` gives ``array<field>`` whose
    ``containsNull`` is the array's or the field's nullability, and each
    outer list keeps its own ``containsNull``.

    None unless ``name`` is one field's exact name and no other field
    matches it case-insensitively; the analyzer then resolves (or raises)
    instead."""
    if isinstance(dt, T.ArrayType):
        inner = field_type(dt.elementType, name)
        if inner is None:
            return None
        if isinstance(dt.elementType, T.StructType):
            nullable = dt.elementType[name].nullable
            return T.ArrayType(inner, dt.containsNull or nullable)
        return T.ArrayType(inner, dt.containsNull)
    if not isinstance(dt, T.StructType):
        return None
    hits = [f for f in dt.fields if f.name.lower() == name.lower()]
    if len(hits) != 1 or hits[0].name != name:
        return None
    return hits[0].dataType


#: result type of a per-list reducer whatever the (numeric) leaf type
_LIST_REDUCE_TYPES = {
    "count": T.LongType(),
    "count_nonzero": T.LongType(),
    "any": T.BooleanType(),
    "all": T.BooleanType(),
    "mean": T.DoubleType(),
    "var": T.DoubleType(),
    "std": T.DoubleType(),
}


def list_reduce_type(op: str, leaf: T.DataType) -> "T.DataType | None":
    """Type of reducer ``op`` applied to one list of ``leaf`` values (the
    operators.reducers leaf expressions): min/max keep the leaf type,
    sum/prod accumulate in double for fractional and decimal leaves and
    in bigint otherwise. None for a non-numeric leaf or an op without a
    rule here."""
    if not isinstance(leaf, T.NumericType):
        return None
    if op in ("min", "max"):
        return leaf
    if op in ("sum", "prod"):
        frac = isinstance(leaf, (T.DoubleType, T.FloatType, T.DecimalType))
        return T.DoubleType() if frac else T.LongType()
    return _LIST_REDUCE_TYPES.get(op)


def normalize_axis(axis: int, depth: int) -> int:
    """Resolve negative axis against the list depth; validate range.

    Returns an axis in [0, depth] where 0 = rows and k>=1 = k-th list level.
    """
    if axis is None:
        raise ValueError("axis=None must be handled by the caller")
    ax = axis if axis >= 0 else depth + 1 + axis
    if not 0 <= ax <= depth:
        raise ValueError(f"axis {axis} out of range for depth-{depth} column")
    return ax


def bind(expr: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``expr`` ONCE and hand it to ``body`` as a bound lambda
    variable, via a single-element transform wrapper.

    Spark performs no common-subexpression elimination inside
    higher-order-function lambdas: an outer expression referenced in a
    per-element lambda is re-evaluated on EVERY element. For an O(n)
    expression (an aggregate, a transform, a tokenization) that turns a
    linear pass quadratic — measured 6x on shingling at sf0.1. Wrap the
    expensive expression with ``bind`` and reference the lambda variable
    instead."""
    return F.get(F.transform(F.array(expr), body), 0)


def apply_at_depth(col: Column, depth: int, fn: Callable[[Column], Column]) -> Column:
    """Apply ``fn`` to the column nested under ``depth`` list levels.

    depth=0 applies directly; depth=1 maps over the outer list, etc.
    Compiles to nested ``transform()`` higher-order functions — evaluated
    JVM-side per row, embarrassingly parallel.
    """
    if depth <= 0:
        return fn(col)
    return F.transform(col, lambda x: apply_at_depth(x, depth - 1, fn))


def apply_at_depth2(a: Column, b: Column, depth: int, fn: Callable[[Column, Column], Column]) -> Column:
    """Binary variant: zip two congruent nested columns at ``depth`` levels."""
    if depth <= 0:
        return fn(a, b)
    return F.zip_with(a, b, lambda x, y: apply_at_depth2(x, y, depth - 1, fn))


def broadcast_binop(
    a: Column,
    b: Column,
    depth_a: int,
    depth_b: int,
    fn: Callable[[Column, Column], Column],
) -> Column:
    """Element-wise binary op with awkward-style broadcasting.

    Equal depths zip level-by-level; a shallower operand is broadcast into
    the deeper one's lists (the reference gets this from ak broadcasting in
    map_partitions, lib/core.py:1756-1769).

    Documented divergence: same-depth jagged lists of UNEQUAL lengths are
    combined with ``zip_with``, which null-pads the shorter side — awkward
    raises a broadcast error instead. Enforcing the error would cost a
    per-row size assertion in every binop's hot path; callers needing
    strict parity can pre-check ``F.size(a) == F.size(b)`` themselves.
    """
    if depth_a == depth_b:
        return apply_at_depth2(a, b, depth_a, fn)
    if depth_a < depth_b:
        # broadcast `a` into b's outer lists
        return F.transform(b, lambda y: broadcast_binop(a, y, depth_a, depth_b - 1, fn))
    return F.transform(a, lambda x: broadcast_binop(x, b, depth_a - 1, depth_b, fn))

"""Reducers — the two-regime aggregation model.

Spark-native re-expression of dask_awkward lib/reducers.py (19 entry
points) and the tree-reduction driver (lib/core.py:2349-2457):

- ``axis >= 1`` (per-list): pure Column expressions over array columns —
  ``aggregate``/``array_min``/``exists``/... — row-local, no shuffle,
  embarrassingly parallel. This regime matches the reference's
  ``map_partitions(ak.sum, axis=axis)`` fast path.
- ``axis = 0`` / ``None`` (global): ``df.agg`` — Spark's partial+final
  hash aggregation already IS the reference's tree reduction
  (AwkwardTreeReductionLayer, layers/layers.py:409-681), with AQE standing
  in for ``split_every`` tuning.

Empty-list identity semantics (``mask_identity``) follow the reference:
sum/prod/count/any/all have identities (0/1/0/False/True); min/max return
NULL on empty lists by default.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import VALUE_COL, NestedArray, Scalar, align_many
from ..schema import (
    apply_at_depth,
    apply_at_depth2,
    bind,
    element_type,
    list_reduce_type,
    normalize_axis,
)


def _leaf_type(arr: NestedArray) -> T.DataType:
    dt = arr.dtype
    while isinstance(dt, T.ArrayType):
        dt = dt.elementType
    return dt


def _numeric_zero(dt: T.DataType) -> Column:
    return F.lit(0).cast(dt) if not isinstance(dt, T.DoubleType) else F.lit(0.0)


# ---------------- per-list leaf reducers (axis >= 1) ----------------

def _list_sum(c: Column, dt: T.DataType) -> Column:
    # wider accumulator to avoid int overflow at scale; nulls skipped.
    # decimals go to double (bigint would truncate fractions)
    acc = "double" if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)) else "bigint"
    z = F.lit(0).cast(acc)
    return F.aggregate(c, z, lambda a, x: a + F.coalesce(x.cast(acc), F.lit(0).cast(acc)))


def _list_prod(c: Column, dt: T.DataType) -> Column:
    acc = "double" if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)) else "bigint"
    one = F.lit(1).cast(acc)
    return F.aggregate(c, one, lambda a, x: a * F.coalesce(x.cast(acc), one))


def _list_count(c: Column, dt: T.DataType) -> Column:
    return F.size(F.filter(c, lambda x: x.isNotNull())).cast("bigint")


def _list_count_nonzero(c: Column, dt: T.DataType) -> Column:
    return F.size(F.filter(c, lambda x: x.isNotNull() & (x != 0))).cast("bigint")


def _list_mean(c: Column, dt: T.DataType) -> Column:
    n = F.size(F.filter(c, lambda x: x.isNotNull()))
    return F.when(n > 0, _list_sum(c, dt).cast("double") / n)


def _list_var(c: Column, dt: T.DataType, ddof: int = 0) -> Column:
    n = F.size(F.filter(c, lambda x: x.isNotNull()))
    s = _list_sum(c, dt).cast("double")
    ss = F.aggregate(c, F.lit(0.0), lambda a, x: a + F.coalesce(x.cast("double") * x.cast("double"), F.lit(0.0)))
    return F.when(n > ddof, (ss - s * s / n) / (n - ddof))


def _argminmax(c: Column, want_max: bool) -> Column:
    n = F.size(c)
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(F.array().cast("array<int>"))
    nonnull = F.filter(idx, lambda i: F.get(c, i).isNotNull())
    best = F.array_max(c) if want_max else F.array_min(c)
    hit = F.filter(nonnull, lambda i: F.get(c, i) == best)
    return F.when(F.size(hit) > 0, F.get(hit, 0))


_LIST_REDUCERS: dict[str, Callable[[Column, T.DataType], Column]] = {
    "sum": _list_sum,
    "prod": _list_prod,
    "min": lambda c, dt: F.array_min(c),
    "max": lambda c, dt: F.array_max(c),
    "any": lambda c, dt: F.exists(c, lambda x: F.coalesce(x.cast("boolean"), F.lit(False))),
    "all": lambda c, dt: F.forall(c, lambda x: F.coalesce(x.cast("boolean"), F.lit(True))),
    "count": _list_count,
    "count_nonzero": _list_count_nonzero,
    "mean": _list_mean,
    "var": _list_var,
    "std": lambda c, dt: F.sqrt(_list_var(c, dt)),
    "argmin": lambda c, dt: _argminmax(c, want_max=False),
    "argmax": lambda c, dt: _argminmax(c, want_max=True),
    "ptp": lambda c, dt: F.array_max(c) - F.array_min(c),
}

# scalar merge rules for positional (non-innermost-axis) reductions;
# one side may be null when sublist lengths differ (jagged broadcasting).
# Leaves are pre-normalized by _positional_prepare (widened accumulator /
# boolean cast / indicator), so merges operate on uniform types.
_POSITIONAL_MERGE: dict[str, Callable[[Column, Column], Column]] = {
    "sum": lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    "prod": lambda a, b: F.coalesce(a, F.lit(1)) * F.coalesce(b, F.lit(1)),
    "min": lambda a, b: F.when(a.isNull(), b).when(b.isNull(), a).otherwise(F.least(a, b)),
    "max": lambda a, b: F.when(a.isNull(), b).when(b.isNull(), a).otherwise(F.greatest(a, b)),
    "any": lambda a, b: F.coalesce(a, F.lit(False)) | F.coalesce(b, F.lit(False)),
    "all": lambda a, b: F.coalesce(a, F.lit(True)) & F.coalesce(b, F.lit(True)),
}

# ops supported along a non-innermost axis (count/count_nonzero reduce to
# a positional sum of indicators)
_POSITIONAL_OPS = frozenset(_POSITIONAL_MERGE) | {"count", "count_nonzero"}


def _positional_merge_values(a: Column, b: Column, dt: T.DataType, op: str) -> Column:
    """Merge two same-position values; recurses through deeper list levels
    so any depth works."""
    if isinstance(dt, T.ArrayType):
        n = F.greatest(F.coalesce(F.size(a), F.lit(0)), F.coalesce(F.size(b), F.lit(0)))
        idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: _positional_merge_values(F.get(a, i), F.get(b, i), dt.elementType, op)
        )
    return _POSITIONAL_MERGE[op](a, b)


def _retype(dt: T.DataType, leaf: T.DataType) -> T.DataType:
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_retype(dt.elementType, leaf), True)
    return leaf


def _positional_prepare(
    col: Column, sub_dt: T.DataType, op: str
) -> tuple[Column, T.DataType, str]:
    """Normalize leaves so the merge rules are type-stable: widen numeric
    accumulators exactly like the innermost-axis reducers (_list_sum),
    cast any/all inputs to boolean, turn count variants into indicators."""
    from ..schema import list_depth

    leaf = sub_dt
    while isinstance(leaf, T.ArrayType):
        leaf = leaf.elementType
    depth = list_depth(sub_dt)

    def leafwise(fn: Callable[[Column], Column]) -> Column:
        return apply_at_depth(col, depth + 1, fn)

    if op in ("count", "count_nonzero"):
        pred = (
            (lambda x: x.isNotNull())
            if op == "count"
            else (lambda x: x.isNotNull() & (x != 0))
        )
        return (
            leafwise(lambda x: F.when(pred(x), F.lit(1)).otherwise(F.lit(0)).cast("bigint")),
            _retype(sub_dt, T.LongType()),
            "sum",
        )
    if op in ("any", "all"):
        return leafwise(lambda x: x.cast("boolean")), _retype(sub_dt, T.BooleanType()), op
    if op in ("sum", "prod"):
        acc = (
            T.DoubleType()
            if isinstance(leaf, (T.DoubleType, T.FloatType, T.DecimalType))
            else T.LongType()
        )
        return leafwise(lambda x: x.cast(acc)), _retype(sub_dt, acc), op
    return col, sub_dt, op


def _positional_reduce(col: Column, sub_dt: T.DataType, op: str) -> Column:
    """Collapse one list level positionally: fold sublists together
    element-by-element (ragged tails survive on their own)."""
    col, sub_dt, op = _positional_prepare(col, sub_dt, op)
    init = F.lit(None).cast(sub_dt)
    merged = F.aggregate(
        col,
        init,
        lambda acc, l: F.when(acc.isNull(), l).otherwise(
            _positional_merge_values(acc, l, sub_dt, op)
        ),
    )
    # empty outer list reduces to an empty list (ak.sum([], axis=1) == [])
    if isinstance(sub_dt, T.ArrayType):
        merged = F.coalesce(merged, F.array().cast(sub_dt))
    return merged


_GLOBAL_AGGS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "prod": F.product,
    "min": F.min,
    "max": F.max,
    "any": lambda c: F.max(F.coalesce(c.cast("boolean"), F.lit(False))),
    "all": lambda c: F.min(F.coalesce(c.cast("boolean"), F.lit(True))),
    "count": F.count,
    "count_nonzero": lambda c: F.count_if(c != 0),
    "mean": F.avg,
    "var": F.var_pop,
    "std": F.stddev_pop,
    "ptp": lambda c: F.max(c) - F.min(c),
}


def _reduce(
    arr: NestedArray,
    op: str,
    axis: int | None,
    keepdims: bool = False,
    mask_identity: bool | None = None,
) -> NestedArray | Scalar:
    depth = arr.depth
    dt = _leaf_type(arr)
    leaf = _LIST_REDUCERS[op]
    if axis is None and op in ("argmin", "argmax"):
        # uplift over the reference (which raises, lib/core.py:2365-2366):
        # global position of the extreme = min_by/max_by over the row index
        if depth != 0:
            raise NotImplementedError(
                "global argmin/argmax on nested arrays (flatten first)"
            )
        idxed = arr.with_row_index()
        rid = F.col("__row_id__")
        # lexicographic tie-break so the FIRST occurrence wins (ak semantics)
        if op == "argmin":
            key = F.struct(idxed._col.alias("v"), rid.alias("i"))
            agg_expr = F.min_by(rid, key)
        else:
            key = F.struct(idxed._col.alias("v"), (-rid).alias("i"))
            agg_expr = F.max_by(rid, key)
        out = idxed._df.filter(idxed._col.isNotNull()).agg(agg_expr.alias(VALUE_COL))
        return Scalar(out)
    if axis is None and op == "ptp":
        # global ptp = global max - global min (reducing per-row ptps
        # first would lose cross-row extremes)
        gmax = _reduce(arr, "max", None)
        gmin = _reduce(arr, "min", None)
        return gmax - gmin  # lazy Scalar arithmetic
    if (keepdims or mask_identity is not None) and (axis is None or normalize_axis(axis, depth) != depth):
        raise NotImplementedError(
            "keepdims/mask_identity are supported along the innermost axis only"
        )
    if axis is None:
        if op in ("mean", "var", "std"):
            return _global_moments(arr, op)
        # collapse every list level per row, then one global aggregate —
        # the reference's _prepare_axis_none_chunk + tree combine
        col = arr._col
        if depth > 0:
            flat = col
            for _ in range(depth - 1):
                flat = F.flatten(flat)
            col = leaf(flat, dt)
        gagg = _GLOBAL_AGGS[op]
        if depth > 0 and op in ("count", "count_nonzero"):
            gagg = F.sum  # partial counts are summed (reference lib/reducers.py:187-219)
        if depth > 0 and op == "any":
            gagg = lambda c: F.max(c)
        if depth > 0 and op == "all":
            gagg = lambda c: F.min(c)
        agg_col = gagg(col)
        # identity for the zero-row input (ak.sum([]) == 0, prod == 1, ...)
        identities = {"sum": F.lit(0).cast(dt if depth == 0 else "bigint" if not isinstance(dt, (T.DoubleType, T.FloatType)) else "double"),
                      "prod": F.lit(1), "count": F.lit(0).cast("bigint"),
                      "count_nonzero": F.lit(0).cast("bigint"),
                      "any": F.lit(False), "all": F.lit(True)}
        if op in identities:
            agg_col = F.coalesce(agg_col, identities[op])
        out = arr._df.agg(agg_col.alias(VALUE_COL))
        return Scalar(out)
    ax = normalize_axis(axis, depth)
    if ax == 0:
        if depth == 0:
            if op in ("argmin", "argmax"):
                return _reduce(arr, op, None)  # same semantic as axis=None here
            out = arr._df.agg(_GLOBAL_AGGS[op](arr._col).alias(VALUE_COL))
            return Scalar(out)
        # positional combine ACROSS rows (ak.sum([[1,2],[3]], axis=0) ==
        # [4, 2]) — reference non_trivial_reduction, lib/core.py:2349-2457
        # and lib/reducers.py axis=0 grids. Scale shape: posexplode each
        # list level to (p1..pd, leaf) rows, groupBy the position key with
        # the op's global aggregate (one hash shuffle on positions), then
        # reassemble inner levels. The row dimension of the result is the
        # outermost position — jagged tails survive naturally because
        # absent positions simply contribute no rows.
        if op in ("argmin", "argmax"):
            return _axis0_positional_arg(arr, op)
        if op not in _GLOBAL_AGGS:
            raise NotImplementedError(f"{op} along axis=0")
        return _axis0_positional(arr, op)
    if ax < depth:
        # non-innermost axis: positional combine across sublists (awkward's
        # broadcasting reduction — ak.sum([[1,2],[3]], axis=1) == [4, 2])
        if op not in _POSITIONAL_OPS:
            raise NotImplementedError(
                f"{op} along a non-innermost axis (positional combine) is "
                "not supported; supported: " + ", ".join(sorted(_POSITIONAL_OPS))
            )
        sub_dt = element_type(arr.dtype, ax)  # type below the reduced level: array<...>
        return arr._wrap(
            apply_at_depth(
                arr._col, ax - 1, lambda c: _positional_reduce(c, sub_dt, op)
            )
        )
    # innermost list: apply the leaf reducer beneath ax-1 transform levels
    out = arr._wrap(
        apply_at_depth(
            arr._col,
            ax - 1,
            lambda c: _finish_leaf(leaf(c, dt), c, dt, op, keepdims, mask_identity),
        )
    )
    if depth == 1 and not keepdims and mask_identity is None:
        # a row-level leaf: its type has no nested nullability to guess
        out._dtype = list_reduce_type(op, dt)
    return out


def _axis0_positional(arr: NestedArray, op: str) -> NestedArray:
    """Jagged axis=0 reduction: explode every list level with positions,
    aggregate per position key, rebuild inner lists. Output rows are the
    outermost positions in order (one row per position of the longest
    list), so the result is a collection of depth ``arr.depth - 1``."""
    depth = arr.depth
    dt = _leaf_type(arr)
    df = arr.to_df("__x0__")
    for lvl in range(depth):
        df = df.select(
            *[f"__p{i}__" for i in range(lvl)],
            F.posexplode(f"__x{lvl}__").alias(f"__p{lvl}__", f"__x{lvl + 1}__"),
        )
    leaf = F.col(f"__x{depth}__")
    res = _GLOBAL_AGGS[op](leaf)
    if op == "prod" and not isinstance(dt, (T.DoubleType, T.FloatType)):
        res = res.cast("bigint")  # F.product always yields double
    agg = df.groupBy(*[f"__p{i}__" for i in range(depth)]).agg(res.alias("__r__"))
    # rebuild levels below the outermost position (which stays the row dim)
    for lvl in range(depth - 1, 0, -1):
        packed = F.array_sort(
            F.collect_list(F.struct(F.col(f"__p{lvl}__").alias("i"), F.col("__r__").alias("x")))
        )
        agg = agg.groupBy(*[f"__p{i}__" for i in range(lvl)]).agg(
            F.transform(packed, lambda s: s["x"]).alias("__r__")
        )
    # small result (≤ max list width rows): a global sort here is cheap.
    # The outermost position doubles as the row index — expose it under
    # with_row_index's column name so downstream order-sensitive ops skip
    # their eager re-index pass entirely.
    out = agg.orderBy("__p0__").select(
        F.col("__p0__").cast("long").alias("__row_id__"),
        F.col("__r__").alias(VALUE_COL),
    )
    return NestedArray(out, F.col(VALUE_COL))


def _axis0_positional_arg(arr: NestedArray, op: str) -> NestedArray:
    """``argmin``/``argmax`` along axis=0 over jagged rows: for each inner
    position, the OUTER row index attaining the extreme (first occurrence
    wins ties, matching ak tie-breaking; rows lacking the position and
    null leaves simply don't participate). The row index is the
    collection's global row order (``with_row_index`` divisions), i.e.
    rectangular-numpy semantics extended to jagged tails. Reference
    semantics: lib/reducers.py argmin/argmax + non_trivial_reduction
    (lib/core.py:2349-2457).

    Scale shape: identical to ``_axis0_positional`` — posexplode each
    level, ONE hash shuffle on the position key with min_by/max_by
    carrying the row index; no window, no driver loop."""
    depth = arr.depth
    idxed = arr.with_row_index()
    df = idxed._df.select(F.col("__row_id__"), idxed._col.alias("__x0__"))
    for lvl in range(depth):
        df = df.select(
            "__row_id__",
            *[f"__p{i}__" for i in range(lvl)],
            F.posexplode(f"__x{lvl}__").alias(f"__p{lvl}__", f"__x{lvl + 1}__"),
        )
    leaf = F.col(f"__x{depth}__")
    rid = F.col("__row_id__")
    df = df.filter(leaf.isNotNull())
    if op == "argmin":
        res = F.min_by(rid, F.struct(leaf.alias("v"), rid.alias("i")))
    else:  # first occurrence of the max -> max of (v, -rid)
        res = F.max_by(rid, F.struct(leaf.alias("v"), (-rid).alias("i")))
    agg = df.groupBy(*[f"__p{i}__" for i in range(depth)]).agg(res.alias("__r__"))
    for lvl in range(depth - 1, 0, -1):
        packed = F.array_sort(
            F.collect_list(F.struct(F.col(f"__p{lvl}__").alias("i"), F.col("__r__").alias("x")))
        )
        agg = agg.groupBy(*[f"__p{i}__" for i in range(lvl)]).agg(
            F.transform(packed, lambda s: s["x"]).alias("__r__")
        )
    out = agg.orderBy("__p0__").select(
        F.col("__p0__").cast("long").alias("__row_id__"),
        F.col("__r__").alias(VALUE_COL),
    )
    return NestedArray(out, F.col(VALUE_COL))


# identity values for mask_identity=False on reducers whose natural Spark
# result is NULL on empty lists (reference threads mask_identity through
# every reducer; ak defaults: sum/prod/count/any/all False, min/max True).
# Integral leaves keep their integral identity (dtype max/min), matching
# awkward — casting to double ±inf would silently widen the result type.
def reduce_axis0_multi(arr: NestedArray, ops: "list[str]") -> NestedArray:
    """Fused jagged axis=0 reduction: compute SEVERAL stats in ONE
    posexplode pass and ONE hash aggregate on the position keys — the
    Spark-first composition of what would otherwise be N independent
    ``_axis0_positional`` plans zipped by row-index joins (N shuffles and
    N eager divisions passes instead of one of each).

    Supported ops: min, max, sum, count, argmin, argmax. Returns a
    collection of structs with one field per op, in position order, with
    ``__row_id__`` pre-materialized (the outermost position doubles as
    the row index, as in ``_axis0_positional``).

    argmin/argmax are null-safe without a pre-filter: a leading null-flag
    struct field makes non-null leaves always win the min_by/max_by
    comparison, and positions whose leaves are ALL null yield a null arg
    (the unfused composition would desync its row-index zip there)."""
    allowed = {"min", "max", "sum", "count", "argmin", "argmax"}
    bad = [o for o in ops if o not in allowed]
    if bad:
        raise NotImplementedError(f"reduce_axis0_multi: unsupported ops {bad}")
    depth = arr.depth
    if depth != 1:
        raise NotImplementedError("reduce_axis0_multi supports depth-1 collections")
    # NB: plain any() here would hit this module's `any` reducer shadow
    need_rid = len([o for o in ops if o in ("argmin", "argmax")]) > 0
    if need_rid:
        idxed = arr.with_row_index()
        df = idxed._df.select(F.col("__row_id__"), idxed._col.alias("__x0__"))
    else:
        df = arr.to_df("__x0__").select(
            F.lit(0).cast("long").alias("__row_id__"), "__x0__"
        )
    df = df.select("__row_id__", F.posexplode("__x0__").alias("__p0__", "__x1__"))
    leaf = F.col("__x1__")
    rid = F.col("__row_id__")
    aggs = []
    for op in ops:
        if op == "argmin":
            raw = F.min_by(
                rid,
                F.struct(
                    leaf.isNull().cast("int").alias("z"),
                    leaf.alias("v"),
                    rid.alias("i"),
                ),
            )
            aggs.append(F.when(F.min(leaf).isNotNull(), raw).alias(op))
        elif op == "argmax":
            raw = F.max_by(
                rid,
                F.struct(
                    leaf.isNotNull().cast("int").alias("z"),
                    leaf.alias("v"),
                    (-rid).alias("i"),
                ),
            )
            aggs.append(F.when(F.max(leaf).isNotNull(), raw).alias(op))
        else:
            res = _GLOBAL_AGGS[op](leaf)
            aggs.append(res.alias(op))
    agg = df.groupBy("__p0__").agg(*aggs)
    out = agg.orderBy("__p0__").select(
        F.col("__p0__").cast("long").alias("__row_id__"),
        F.struct(*[F.col(o) for o in ops]).alias(VALUE_COL),
    )
    return NestedArray(out, F.col(VALUE_COL))


_INT_RANGES: dict[type, tuple[int, int]] = {
    T.ByteType: (-(1 << 7), (1 << 7) - 1),
    T.ShortType: (-(1 << 15), (1 << 15) - 1),
    T.IntegerType: (-(1 << 31), (1 << 31) - 1),
    T.LongType: (-(1 << 63), (1 << 63) - 1),
}


def _minmax_identity(dt: T.DataType, for_min: bool) -> Column:
    rng = _INT_RANGES.get(type(dt))
    if rng is not None:
        return F.lit(rng[1] if for_min else rng[0]).cast(dt)
    return F.lit(float("inf") if for_min else float("-inf")).cast(
        dt if isinstance(dt, (T.DoubleType, T.FloatType)) else "double"
    )


_EMPTY_IDENTITY: dict[str, Callable[[T.DataType], Column]] = {
    "min": lambda dt: _minmax_identity(dt, for_min=True),
    "max": lambda dt: _minmax_identity(dt, for_min=False),
    "argmin": lambda dt: F.lit(-1),
    "argmax": lambda dt: F.lit(-1),
    "ptp": lambda dt: F.lit(0).cast(dt if isinstance(dt, (T.DoubleType, T.FloatType)) else "bigint"),
}

# reducers whose leaf result already yields an identity on empty lists
# (so mask_identity=True must null them out explicitly)
_HAS_IDENTITY = {"sum", "prod", "count", "count_nonzero", "any", "all"}


def _finish_leaf(
    res: Column, src: Column, dt: T.DataType, op: str, keepdims: bool, mask_identity: bool | None
) -> Column:
    if mask_identity is not None:
        empty = F.size(src) == 0
        if mask_identity and op in _HAS_IDENTITY:
            res = F.when(~empty, res)  # empty -> NULL instead of identity
        elif not mask_identity and op in _EMPTY_IDENTITY:
            res = F.when(empty, _EMPTY_IDENTITY[op](dt)).otherwise(res)
    if keepdims:
        res = F.array(res)  # length-1 list (ak keepdims=True)
    return res


def _global_moments(arr: NestedArray, op: str, ddof: int = 0) -> Scalar:
    """mean/var/std over all elements (any depth incl. 0): per-row
    (sum, count, sumsq) partials, combined by a single global aggregate —
    two-level partial aggregation exactly like Spark's own avg. ddof
    adjusts the variance denominator (n - ddof)."""
    if arr.depth == 0:
        c = arr._col.cast("double")
        s, n, ss = c, F.when(c.isNotNull(), 1).otherwise(0).cast("bigint"), c * c
    else:
        col = arr._col
        for _ in range(arr.depth - 1):
            col = F.flatten(col)
        dt = _leaf_type(arr)
        s = _list_sum(col, dt).cast("double")
        n = F.size(F.filter(col, lambda x: x.isNotNull())).cast("bigint")
        ss = F.aggregate(col, F.lit(0.0), lambda a, x: a + F.coalesce(x.cast("double") * x.cast("double"), F.lit(0.0)))
    agg = arr._df.agg(F.sum(s).alias("s"), F.sum(n).alias("n"), F.sum(ss).alias("ss"))
    nn = F.col("n")
    if op == "mean":
        out = agg.select((F.col("s") / nn).alias(VALUE_COL))
    else:
        v = F.when(
            nn > ddof, (F.col("ss") - F.col("s") * F.col("s") / nn) / (nn - ddof)
        )
        out = agg.select((F.sqrt(v) if op == "std" else v).alias(VALUE_COL))
    return Scalar(out)


def sum(arr: NestedArray, axis: int | None = None, keepdims: bool = False,
        mask_identity: bool | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:517-548"""
    return _reduce(arr, "sum", axis, keepdims, mask_identity)


def prod(arr: NestedArray, axis: int | None = None, keepdims: bool = False,
        mask_identity: bool | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:418-449"""
    return _reduce(arr, "prod", axis, keepdims, mask_identity)


def min(arr: NestedArray, axis: int | None = None, keepdims: bool = False,
        mask_identity: bool | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:369-401"""
    return _reduce(arr, "min", axis, keepdims, mask_identity)


def max(arr: NestedArray, axis: int | None = None, keepdims: bool = False,
        mask_identity: bool | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:293-325"""
    return _reduce(arr, "max", axis, keepdims, mask_identity)


def any(arr: NestedArray, axis: int | None = None, keepdims: bool = False,
        mask_identity: bool | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:71-102"""
    return _reduce(arr, "any", axis, keepdims, mask_identity)


def all(arr: NestedArray, axis: int | None = None, keepdims: bool = False,
        mask_identity: bool | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:37-68"""
    return _reduce(arr, "all", axis, keepdims, mask_identity)


def count(arr: NestedArray, axis: int | None = None, keepdims: bool = False,
        mask_identity: bool | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:187-219"""
    return _reduce(arr, "count", axis, keepdims, mask_identity)


def count_nonzero(arr: NestedArray, axis: int | None = None, keepdims: bool = False,
        mask_identity: bool | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:222-254"""
    return _reduce(arr, "count_nonzero", axis, keepdims, mask_identity)


def mean(arr: NestedArray, axis: int | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:328-358 (axis=0/None is uplift — the
    reference raises there)"""
    return _reduce(arr, "mean", axis)


def var(arr: NestedArray, axis: int | None = None, ddof: int = 0) -> NestedArray | Scalar:
    """reference lib/reducers.py:559-589"""
    if axis is None and ddof != 0:
        return _global_moments(arr, "var", ddof)
    if axis is not None and ddof != 0:
        ax = normalize_axis(axis, arr.depth)
        if ax != arr.depth:
            raise NotImplementedError("var with ddof only along the innermost axis or axis=None")
        dt = _leaf_type(arr)
        return arr._wrap(apply_at_depth(arr._col, ax - 1, lambda c: _list_var(c, dt, ddof)))
    return _reduce(arr, "var", axis)


def std(arr: NestedArray, axis: int | None = None, ddof: int = 0) -> NestedArray | Scalar:
    """reference lib/reducers.py:484-514"""
    if axis is None and ddof != 0:
        return _global_moments(arr, "std", ddof)
    if axis is not None and ddof != 0:
        ax = normalize_axis(axis, arr.depth)
        if ax != arr.depth:
            raise NotImplementedError("std with ddof only along the innermost axis or axis=None")
        dt = _leaf_type(arr)
        return arr._wrap(apply_at_depth(arr._col, ax - 1, lambda c: F.sqrt(_list_var(c, dt, ddof))))
    return _reduce(arr, "std", axis)


def argmin(arr: NestedArray, axis: int | None = 1, keepdims: bool = False,
        mask_identity: bool | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:139-170 (axis>=1 only there; axis=None
    uplift via min_by over a row index would go here)"""
    return _reduce(arr, "argmin", axis, keepdims, mask_identity)


def argmax(arr: NestedArray, axis: int | None = 1, keepdims: bool = False,
        mask_identity: bool | None = None) -> NestedArray | Scalar:
    """reference lib/reducers.py:105-136"""
    return _reduce(arr, "argmax", axis, keepdims, mask_identity)


def ptp(arr: NestedArray, axis: int | None = 1) -> NestedArray | Scalar:
    """max - min (NotImplemented in the reference, lib/reducers.py:452-473 —
    uplift)"""
    return _reduce(arr, "ptp", axis)


def moment(arr: NestedArray, n: int, axis: int | None = 1) -> NestedArray | Scalar:
    """n-th raw moment sum(x^n)/count (NotImplemented in the reference,
    lib/reducers.py:173-184 — uplift)."""
    dt = _leaf_type(arr)
    if axis is None:
        powed = arr._wrap(apply_at_depth(arr._col, arr.depth, lambda c: F.pow(c.cast("double"), F.lit(n))))
        num = _reduce(powed, "sum", None)
        den = _reduce(arr, "count", None)
        return num / den  # lazy Scalar arithmetic
    ax = normalize_axis(axis, arr.depth)
    if ax != arr.depth:
        raise NotImplementedError("moment only along the innermost axis or axis=None")

    def m(c: Column) -> Column:
        cnt = F.size(F.filter(c, lambda x: x.isNotNull()))
        s = F.aggregate(c, F.lit(0.0), lambda a, x: a + F.coalesce(F.pow(x.cast("double"), F.lit(n)), F.lit(0.0)))
        return F.when(cnt > 0, s / cnt)

    return arr._wrap(apply_at_depth(arr._col, ax - 1, m))


def _pair_sums(a: Column, b: Column) -> dict[str, Column]:
    """Sums over pairwise-complete positions only: ragged tails and
    half-null pairs are excluded from EVERY statistic, keeping n/sx/sy/
    sxx/syy/sxy consistent (pairwise-complete-observations semantics)."""
    pairs = F.filter(
        F.zip_with(a, b, lambda x, y: F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))),
        lambda p: p["x"].isNotNull() & p["y"].isNotNull(),
    )
    agg = lambda fn: F.aggregate(pairs, F.lit(0.0), lambda acc, p: acc + fn(p))
    return {
        "n": F.size(pairs),
        "sx": agg(lambda p: p["x"]),
        "sy": agg(lambda p: p["y"]),
        "sxx": agg(lambda p: p["x"] * p["x"]),
        "syy": agg(lambda p: p["y"] * p["y"]),
        "sxy": agg(lambda p: p["x"] * p["y"]),
    }


def covar(a: NestedArray, b: NestedArray, axis: int = 1) -> NestedArray:
    """Per-list population covariance (NotImplemented in the reference,
    lib/reducers.py:257-282 — uplift)."""
    a, b = align_many([a, b])
    ax = normalize_axis(axis, a.depth)
    if ax != a.depth:
        raise NotImplementedError("covar only along the innermost axis")

    def f(x: Column, y: Column) -> Column:
        s = _pair_sums(x, y)
        return F.when(s["n"] > 0, (s["sxy"] - s["sx"] * s["sy"] / s["n"]) / s["n"])

    return a._wrap(apply_at_depth2(a._col, b._col, ax - 1, f))


def corr(a: NestedArray, b: NestedArray, axis: int = 1) -> NestedArray:
    """Per-list Pearson correlation (uplift)."""
    a, b = align_many([a, b])
    ax = normalize_axis(axis, a.depth)
    if ax != a.depth:
        raise NotImplementedError("corr only along the innermost axis")

    def f(x: Column, y: Column) -> Column:
        s = _pair_sums(x, y)
        cov = s["sxy"] - s["sx"] * s["sy"] / s["n"]
        vx = s["sxx"] - s["sx"] * s["sx"] / s["n"]
        vy = s["syy"] - s["sy"] * s["sy"] / s["n"]
        return F.when((s["n"] > 0) & (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))

    return a._wrap(apply_at_depth2(a._col, b._col, ax - 1, f))


def linear_fit(a: NestedArray, b: NestedArray, axis: int = 1) -> NestedArray:
    """Per-list least-squares fit y = intercept + slope*x
    (NotImplemented in the reference — uplift). Returns
    struct<intercept, slope>."""
    a, b = align_many([a, b])
    ax = normalize_axis(axis, a.depth)
    if ax != a.depth:
        raise NotImplementedError("linear_fit only along the innermost axis")

    def f(x: Column, y: Column) -> Column:
        s = _pair_sums(x, y)
        denom = s["n"] * s["sxx"] - s["sx"] * s["sx"]
        slope = (s["n"] * s["sxy"] - s["sx"] * s["sy"]) / denom
        intercept = (s["sy"] - slope * s["sx"]) / s["n"]
        return F.when(
            (s["n"] > 1) & (denom != 0),
            F.struct(intercept.alias("intercept"), slope.alias("slope")),
        )

    return a._wrap(apply_at_depth2(a._col, b._col, ax - 1, f))


def softmax(arr: NestedArray, axis: int = -1) -> NestedArray:
    """exp-normalize per list (NotImplemented in the reference,
    lib/reducers.py:404-415 — uplift)."""
    ax = normalize_axis(axis, arr.depth)
    if ax != arr.depth:
        raise NotImplementedError("softmax only along the innermost axis")
    dt = _leaf_type(arr)

    def sm(c: Column) -> Column:
        # three-level bind: mx, exps, and tot are each O(n) expressions
        # that would otherwise re-evaluate per element inside the lambdas
        # (no CSE inside HOF lambdas — see schema.bind)
        return bind(
            F.array_max(c),
            lambda mx: bind(
                F.transform(c, lambda x: F.exp(x.cast("double") - mx.cast("double"))),
                lambda exps: bind(
                    F.aggregate(exps, F.lit(0.0), lambda a, x: a + x),
                    lambda tot: F.transform(exps, lambda e: e / tot),
                ),
            ),
        )

    return arr._wrap(apply_at_depth(arr._col, ax - 1, sm))

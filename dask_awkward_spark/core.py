"""Core lazy collections: NestedArray / Record / Scalar.

Spark-native re-expression of the reference's collection classes
(dask_awkward lib/core.py:921 ``Array``, :751 ``Record``, :356 ``Scalar``).
Where the reference builds Dask task graphs and simulates schemas with
typetracers, we hold a base ``pyspark.sql.DataFrame`` plus a Column
expression, and the optimizer (column pruning, pushdown, codegen)
replaces the reference's custom optimize pass (lib/optimize.py).

Types are known without touching data, as the reference's typetracer
``_meta`` knows them: constructors that know their output type (a
parquet scan's root, a field projection, a row-level per-list reducer)
seed it from the type rules in ``schema.py``; any other collection asks
Catalyst's analyzer once, on first use of ``dtype`` — a driver round trip
over py4j, which the seeded types skip.

A ``NestedArray`` is a partitioned, lazy collection of (possibly deeply
nested) values: one outer element per DataFrame row, nested levels as
ArrayType/StructType. All element-wise ops compile to pure Column
expressions — no Python in the hot path, no shuffle.
"""

from __future__ import annotations

from enum import Enum
from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import apply_at_depth, broadcast_binop, field_type, list_depth
from .session import local_frame

VALUE_COL = "v"


def _to_python(v: Any) -> Any:
    """Row/array → plain Python values (shared by Record/NestedArray)."""
    if hasattr(v, "asDict"):
        return {k: _to_python(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_to_python(x) for x in v]
    return v


_AK_TYPE_NAMES = {
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "float64",
    "float": "float32",
    "boolean": "bool",
    "string": "string",
    "binary": "bytes",
    "date": "datetime64[D]",
}


def _ak_typestr(dt: T.DataType) -> str:
    """Awkward-flavored rendering of a Spark type: ``var *`` for list
    levels, ``{f: t, ...}`` for records, numpy names for leaves
    (reference typestr, lib/core.py _typestr)."""
    if isinstance(dt, T.ArrayType):
        return f"var * {_ak_typestr(dt.elementType)}"
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name}: {_ak_typestr(f.dataType)}" for f in dt.fields)
        return "{" + inner + "}"
    s = dt.simpleString()
    if s.startswith("timestamp"):
        return "datetime64[us]"
    return _AK_TYPE_NAMES.get(s, s)


def _project_through_lists(col: Column, dt: T.DataType, name: str) -> Column:
    """Project a struct field through any number of list levels.

    At an ``array<struct>`` level ``col[name]`` resolves to Spark's native
    ``GetArrayStructFields`` (generated code, no lambda to build or
    interpret per element); ``F.transform`` wraps only the list levels
    above it. Null lists, null struct elements and result nullability are
    those of the ``transform(x -> x.name)`` spelling, and so is the error
    for a missing field."""
    if isinstance(dt, T.ArrayType) and not isinstance(dt.elementType, T.StructType):
        return F.transform(col, lambda x: _project_through_lists(x, dt.elementType, name))
    return col[name]


def _is_col(x: Any) -> bool:
    return isinstance(x, NestedArray)


def pin_layout(df: DataFrame) -> DataFrame:
    """Pin the physical partition layout iff re-execution could change it.

    Partition-relative row ids are computed in TWO jobs over the same plan
    (eager counts, then windows); under AQE a SHUFFLE-FED plan can coalesce
    into different partition boundaries per execution, desyncing the two
    passes. A plan with no Exchange (pure file scan + narrow ops) has a
    deterministic layout — file splits derive from the listing and
    maxPartitionBytes — so the localCheckpoint materialization is wasted
    cost there. Only pin when the physical plan contains an Exchange.
    """
    try:
        # executedPlan (not sparkPlan): with AQE on, Exchange nodes are
        # inserted during execution preparation, and a shuffle-free plan
        # is not even wrapped in AdaptiveSparkPlan — so this string test
        # exactly identifies plans AQE could re-coalesce
        plan = df._jdf.queryExecution().executedPlan().toString()
        stable = "Exchange" not in plan
    except Exception:  # streaming plans, analysis oddities: pin to be safe
        stable = False
    return df if stable else df.localCheckpoint(eager=True)


def pin_cache_to_result(persisted: DataFrame, result: DataFrame) -> DataFrame:
    """Scope a persisted frame's lifetime to the query result: the cache
    is released (non-blocking unpersist) when the result DataFrame is
    garbage-collected — no module-global DataFrame state, no unbounded
    cache growth across invocations, and the caller never has to manage
    an explicit handle. Only the JVM Dataset is captured by the finalizer
    (not the Python wrapper), so the pin itself keeps nothing alive."""
    import weakref

    jdf = persisted._jdf

    def _release():
        try:
            jdf.unpersist(False)
        except Exception:  # session already stopped — nothing to release
            pass

    weakref.finalize(result, _release)
    return result


class Scalar:
    """Lazy scalar — result of an axis=None/0 reduction.

    Reference: lib/core.py:356. Backed by a 1-row DataFrame; ``compute()``
    collects driver-side. Supports lazy arithmetic between scalars and
    with Python numbers (reference Scalar ops, lib/core.py:620-644).
    """

    def __init__(self, df: DataFrame):
        self._df = df  # single row, single column "v"

    def compute(self) -> Any:
        row = self._df.collect()
        return row[0][0] if row else None

    def to_df(self) -> DataFrame:
        return self._df

    def _binop(self, other: Any, fn: Callable[[Column, Column], Column], swap: bool = False) -> "Scalar":
        a = F.col("a") if not swap else F.col("b")
        b = F.col("b") if not swap else F.col("a")
        left = self._df.select(F.col(VALUE_COL).alias("a"))
        if isinstance(other, Scalar):
            joined = left.crossJoin(other._df.select(F.col(VALUE_COL).alias("b")))
        else:
            joined = left.withColumn("b", F.lit(other))
        return Scalar(joined.select(fn(a, b).alias(VALUE_COL)))

    def __add__(self, o): return self._binop(o, lambda a, b: a + b)
    def __radd__(self, o): return self._binop(o, lambda a, b: a + b, swap=True)
    def __sub__(self, o): return self._binop(o, lambda a, b: a - b)
    def __rsub__(self, o): return self._binop(o, lambda a, b: a - b, swap=True)
    def __mul__(self, o): return self._binop(o, lambda a, b: a * b)
    def __rmul__(self, o): return self._binop(o, lambda a, b: a * b, swap=True)
    def __truediv__(self, o): return self._binop(o, lambda a, b: a / b)
    def __rtruediv__(self, o): return self._binop(o, lambda a, b: a / b, swap=True)
    def __gt__(self, o): return self._binop(o, lambda a, b: a > b)
    def __lt__(self, o): return self._binop(o, lambda a, b: a < b)
    def __ge__(self, o): return self._binop(o, lambda a, b: a >= b)
    def __le__(self, o): return self._binop(o, lambda a, b: a <= b)
    def __mod__(self, o): return self._binop(o, lambda a, b: a % b)
    def __rmod__(self, o): return self._binop(o, lambda a, b: a % b, swap=True)
    def __pow__(self, o): return self._binop(o, lambda a, b: F.pow(a, b))
    def __rpow__(self, o): return self._binop(o, lambda a, b: F.pow(a, b), swap=True)
    def __floordiv__(self, o): return self._binop(o, lambda a, b: F.floor(a / b))
    def __rfloordiv__(self, o): return self._binop(o, lambda a, b: F.floor(a / b), swap=True)

    def __neg__(self) -> "Scalar":
        return Scalar(self._df.select((-F.col(VALUE_COL)).alias(VALUE_COL)))

    def __abs__(self) -> "Scalar":
        return Scalar(self._df.select(F.abs(F.col(VALUE_COL)).alias(VALUE_COL)))

    def __repr__(self) -> str:  # pragma: no cover
        return f"Scalar(lazy, dtype={self._df.schema[0].dataType.simpleString()})"


class Record:
    """Single lazy record (one row), from integer indexing. lib/core.py:751.
    Field access stays lazy: ``arr[5]["x"]`` projects before collecting."""

    def __init__(self, df: DataFrame):
        self._df = df

    def __getitem__(self, name: "str | list") -> "Record":
        dt = self._df.schema[0].dataType
        if isinstance(name, list):
            # multi-field sub-record (reference test_getitem.py
            # test_record_getitem_scalar_results: dr[["x", "y"]])
            def build(col: Column, d: T.DataType) -> Column:
                if isinstance(d, T.ArrayType):
                    return F.transform(col, lambda x: build(x, d.elementType))
                return F.struct(*[col[k].alias(k) for k in name])

            return Record(self._df.select(build(F.col(VALUE_COL), dt).alias(VALUE_COL)))
        return Record(
            self._df.select(_project_through_lists(F.col(VALUE_COL), dt, name).alias(VALUE_COL))
        )

    def __getattr__(self, name: str) -> "Record":
        if name.startswith("_"):
            raise AttributeError(name)
        return self[name]

    @property
    def fields(self) -> list[str]:
        dt = self._df.schema[0].dataType
        while isinstance(dt, T.ArrayType):
            dt = dt.elementType
        return list(dt.fieldNames()) if isinstance(dt, T.StructType) else []

    def compute(self) -> Any:
        rows = self._df.collect()
        if not rows:
            raise IndexError("record index out of range")
        return _to_python(rows[0][0])

    def to_df(self) -> DataFrame:
        return self._df


class NestedArray:
    """Partitioned lazy array of nested values (reference: lib/core.py:921).

    Internally ``(base_df, column_expr)``. Ops between two arrays require a
    shared base DataFrame — the Spark analogue of the reference's
    partition-compatibility check (lib/core.py:2815-2938): congruent columns
    live in the same rows, so element-wise combination is row-local.
    """

    def __init__(self, df: DataFrame, col: Column | str = VALUE_COL):
        self._df = df
        self._col = F.col(col) if isinstance(col, str) else col
        self._dtype: T.DataType | None = None

    # ---------------- metadata (the typetracer analogue) ----------------
    @property
    def dtype(self) -> T.DataType:
        """Output type, known without touching data — the role the
        typetracer meta plays in the reference (lib/core.py:2698). A type
        its constructor seeded comes first; otherwise Catalyst's analyzer
        resolves it once (one driver round trip) and it is kept."""
        if self._dtype is None:
            self._dtype = self._df.select(self._col.alias(VALUE_COL)).schema[0].dataType
        return self._dtype

    @property
    def depth(self) -> int:
        return list_depth(self.dtype)

    @property
    def fields(self) -> list[str]:
        """Field names of the (possibly list-nested) record type.
        Reference: lib/describe.py:8-42."""
        dt = self.dtype
        while isinstance(dt, T.ArrayType):
            dt = dt.elementType
        if isinstance(dt, T.StructType):
            return list(dt.fieldNames())
        return []

    @property
    def npartitions(self) -> int:
        return self._df.rdd.getNumPartitions()

    @property
    def col(self) -> Column:
        """The underlying Column expression (for embedding into wider selects)."""
        return self._col

    def _wrap(self, col: Column) -> "NestedArray":
        out = NestedArray(self._df, col)
        # behavior tag / parameters ride along derived arrays (the
        # reference propagates behaviors through operations)
        if getattr(self, "_name", None) is not None:
            out._name = self._name  # type: ignore[attr-defined]
        if getattr(self, "_parameters", None):
            out._parameters = dict(self._parameters)  # type: ignore[attr-defined]
        return out

    def _check_base(self, other: "NestedArray") -> None:
        if other._df is not self._df:
            raise ValueError(
                "operands derive from different base DataFrames; join them "
                "first (the reference raises IncompatiblePartitions here)"
            )

    def _align(self, other: "NestedArray") -> tuple["NestedArray", "NestedArray"]:
        """Row-index alignment of two collections from different bases —
        the Spark analogue of the reference's partition-compatibility MAYBE
        path (lib/core.py:2815-2938): a row-index equi-join co-locates the
        i-th elements (hash shuffle on the index, scale-safe). The joined
        frame keeps ``__row_id__`` so downstream order-sensitive ops reuse
        the alignment instead of re-indexing."""
        a, b = align_many([self, other])
        return a, b

    # ---------------- projection / getitem ----------------
    def _project_field(self, name: str) -> Column:
        return _project_through_lists(self._col, self.dtype, name)

    def __getitem__(self, key: Any) -> "NestedArray | Record":
        # field projection: arr["x"], possibly through list levels
        if isinstance(key, str):
            out = self._wrap(self._project_field(key))
            out._dtype = field_type(self.dtype, key)
            return out
        # multi-field: arr[["a","b"]] -> struct of the selected fields
        if isinstance(key, list) and key and all(isinstance(k, str) for k in key):
            dt = self.dtype

            def build(col: Column, dt: T.DataType) -> Column:
                if isinstance(dt, T.ArrayType):
                    return F.transform(col, lambda x: build(x, dt.elementType))
                return F.struct(*[col[k].alias(k) for k in key])

            return self._wrap(build(self._col, dt))
        # empty gather list -> empty collection (awkward arr[[]])
        if isinstance(key, list) and not key:
            return NestedArray(self.to_df().limit(0))
        # outer integer-list gather: rows by position, order preserved
        # (reference int-array getitem, lib/core.py:1563-1569 outer branch).
        # awkward raises IndexError on out-of-range indices, so the getitem
        # spelling validates (one extra count on an already-eager path);
        # take(validate=False) remains the explicit cheap opt-out.
        if isinstance(key, list) and all(isinstance(k, int) for k in key):
            return self.take(key, validate=True)
        # boolean / integer mask arrays
        if isinstance(key, NestedArray):
            return self._getitem_array(key)
        # integer row index -> Record (reference lib/core.py:1401-1471);
        # negative indices trigger an eager count, like the reference's
        # normalize_single_outer_inner_index (lib/core.py:2758-2795)
        if isinstance(key, int):
            if key < 0:
                key = self._df.count() + key
                if key < 0:
                    raise IndexError("index out of range")
            idxed = self.with_row_index()
            row_df = idxed._df.filter(F.col("__row_id__") == key).select(
                idxed._col.alias(VALUE_COL)
            )
            dt = self.dtype
            if isinstance(dt, T.ArrayType):
                # the row is a list: its elements become the rows of the
                # result collection, so chains like daa["points"][0][0]
                # work (reference test_record_getitem_scalar_results)
                ex = row_df.select(
                    F.posexplode(F.col(VALUE_COL)).alias("__pos__", VALUE_COL)
                )
                return NestedArray(ex.orderBy("__pos__").select(VALUE_COL))
            if isinstance(dt, T.StructType):
                return Record(row_df)
            # leaf row -> lazy Scalar with arithmetic (reference
            # test_scalar_binop_inv: 0 - daa[0] == -daa[0])
            return Scalar(row_df)
        # row-range slice (reference lib/core.py:1473-1543)
        if isinstance(key, slice):
            return self._getitem_slice(key)
        # arr[...] is the identity (reference test_getitem.py
        # test_single_ellipsis)
        if key is Ellipsis:
            return self._wrap(self._col)
        if isinstance(key, tuple):
            # expand a single Ellipsis into enough full slices that the
            # trailing keys address the LAST axes (reference
            # test_firstarg_ellipsis_2d/3d: daa[..., 1:3] slices the
            # deepest axis). Field strings don't consume an axis.
            if any(k is Ellipsis for k in key):
                if sum(1 for k in key if k is Ellipsis) > 1:
                    raise IndexError("an index can only have a single ellipsis")
                n_axis = sum(
                    1
                    for k in key
                    if k is not Ellipsis
                    and not isinstance(k, str)
                    and not (
                        isinstance(k, list) and k and all(isinstance(s, str) for s in k)
                    )
                )
                fill = (self.depth + 1) - n_axis
                if fill < 0:
                    raise ValueError(
                        "total sliced axes is greater than the array depth"
                    )
                i = key.index(Ellipsis)
                key = key[:i] + (slice(None),) * fill + key[i + 1:]
            return self._getitem_tuple(key)
        raise TypeError(f"unsupported getitem key: {key!r}")

    def _getitem_array(self, key: "NestedArray") -> "NestedArray":
        self, key = align_many([self, key])
        kt = key.dtype
        kdepth = key.depth
        leaf = kt
        while isinstance(leaf, T.ArrayType):
            leaf = leaf.elementType
        is_bool = isinstance(leaf, T.BooleanType)
        if kdepth == 0 and is_bool:
            # outer row filter (reference lib/core.py:1368-1383)
            df = self._df.filter(key._col)
            return NestedArray(df.select(self._col.alias(VALUE_COL)))
        if is_bool:
            # inner per-list filter at the mask's depth
            def inner(a: Column, m: Column) -> Column:
                zipped = F.zip_with(a, m, lambda x, mm: F.struct(x.alias("x"), mm.alias("m")))
                return F.transform(F.filter(zipped, lambda s: s["m"]), lambda s: s["x"])

            def rec(a: Column, m: Column, d: int) -> Column:
                if d == 1:
                    return inner(a, m)
                return F.zip_with(a, m, lambda x, mm: rec(x, mm, d - 1))

            return self._wrap(rec(self._col, key._col, kdepth))
        # integer gather per list (reference lib/core.py:1563-1569);
        # a depth-0 int key picks one element per row: arr[i] == get(arr, i).
        # Negative indices wrap from the end (python/awkward semantics).
        def norm(a: Column, j: Column) -> Column:
            return F.when(j < 0, j + F.size(a)).otherwise(j)

        def gather(a: Column, i: Column, d: int) -> Column:
            if d == 0:
                return F.get(a, norm(a, i))
            if d == 1:
                return F.transform(i, lambda j: F.get(a, norm(a, j)))
            return F.zip_with(a, i, lambda x, jj: gather(x, jj, d - 1))

        return self._wrap(gather(self._col, key._col, kdepth))

    def _getitem_slice(self, key: slice) -> "NestedArray":
        start, stop, step = key.start, key.stop, key.step
        if step is not None and step == 0:
            raise ValueError("slice step cannot be zero")
        if step is not None and step < 0:
            # negative-step row slice (reference delegates to ak slicing,
            # lib/core.py:1545-1583, which supports it): normalize with
            # Python's own slice.indices against an eager count (the same
            # laziness break as negative bounds below), select the touched
            # rows by index arithmetic, and restore the reversed order with
            # a descending orderBy (Catalyst: range repartition + local
            # sort — parallel, no single-task pass).
            n = self._df.count()
            s, e, st = key.indices(n)
            idxed = self.with_row_index()
            rid = F.col("__row_id__")
            cond = (rid <= s) & (rid > e) & (((F.lit(s) - rid) % (-st)) == 0)
            return NestedArray(
                idxed._df.filter(cond)
                .orderBy(rid.desc())
                .select(idxed._col.alias(VALUE_COL))
            )
        if (start is not None and start < 0) or (stop is not None and stop < 0):
            # negative bounds need the row count — eager, like the
            # reference's eager_compute_divisions (lib/core.py:1480)
            n = self._df.count()
            if start is not None and start < 0:
                start = max(n + start, 0)
            if stop is not None and stop < 0:
                stop = max(n + stop, 0)
        idxed = self.with_row_index()
        cond = F.lit(True)
        rid = F.col("__row_id__")
        if start is not None:
            cond = cond & (rid >= start)
        if stop is not None:
            cond = cond & (rid < stop)
        if step is not None and step != 1:
            cond = cond & (((rid - (start or 0)) % step) == 0)
        return NestedArray(idxed._df.filter(cond).select(idxed._col.alias(VALUE_COL)))

    def _getitem_tuple(self, key: tuple) -> "NestedArray":
        """Positional multi-axis getitem: element i of the tuple addresses
        axis i (reference lib/core.py:1545-1583). Field strings don't
        consume an axis and are moved to the front first, so
        ``arr[0, "a"] == arr["a", 0]`` and ``arr[["a"], i, "c"] ==
        arr[["a"], "c", i]`` (field_access_to_front, utils.py:235-275,
        exercised by reference test_getitem.py gh454)."""

        def is_field(k: Any) -> bool:
            return isinstance(k, str) or (
                isinstance(k, list) and bool(k) and all(isinstance(s, str) for s in k)
            )

        key = tuple(sorted(key, key=lambda k: not is_field(k)))
        out: NestedArray = self
        axis = 0
        nested_proj = False  # a ["a","b"]-style projection was applied
        for pos, k in enumerate(key):
            if is_field(k):
                if isinstance(k, str) and nested_proj:
                    # awkward nested projection: after a field-list, a
                    # string projects within EACH kept field, preserving
                    # the record wrapper (reference gh454:
                    # daa[["a"], "c", i] keeps {a: {c}})
                    def within(col: Column, dt: T.DataType, f=k) -> Column:
                        if isinstance(dt, T.ArrayType):
                            return F.transform(col, lambda x: within(x, dt.elementType, f))
                        assert isinstance(dt, T.StructType)
                        return F.struct(
                            *[
                                _project_through_lists(col[sf.name], sf.dataType, f).alias(sf.name)
                                for sf in dt.fields
                            ]
                        )

                    out = out._wrap(within(out._col, out.dtype))
                else:
                    out = out[k]  # type: ignore[assignment]
                    if isinstance(k, list):
                        nested_proj = True
                continue
            if isinstance(k, int):
                if axis == 0:
                    # outer row pick -> Record; fields were already moved
                    # to the front, so anything after would need Record
                    # axis slicing (reference raises there too)
                    if pos != len(key) - 1:
                        raise TypeError(
                            "integer outer index must be the last non-field "
                            "getitem element"
                        )
                    return out[k]  # type: ignore[return-value]
                # inner element pick at this axis: removes the nesting
                # level, so subsequent elements keep addressing the same
                # depth (awkward's axis-consuming integer index). Negative
                # indices wrap; out-of-range yields null (awkward raises —
                # documented divergence, Spark expressions are total).
                def pick(c: Column, i=k) -> Column:
                    j = F.lit(i) + (F.size(c) if i < 0 else F.lit(0))
                    return F.when(c.isNotNull(), F.get(c, j))

                out = out._wrap(apply_at_depth(out._col, axis - 1, pick))
                continue
            if k == slice(None):
                axis += 1
                continue
            if isinstance(k, slice):
                if k.step is not None and k.step == 0:
                    raise ValueError("slice step cannot be zero")
                if axis == 0:
                    out = out._getitem_slice(k)
                else:
                    step = k.step or 1
                    # for a negative step, start=None means "from the end"
                    # — must stay None through to the normalization
                    start = k.start if step < 0 else (k.start or 0)
                    stop = k.stop

                    def inner_slice(c: Column, start=start, stop=stop, step=step) -> Column:
                        n = F.size(c)
                        if step < 0:
                            # Python slice.indices(n) semantics for negative
                            # step, as column expressions: iterate s, s+step,
                            # ... while > e. sequence() natively supports a
                            # negative step, so the index list is row-local.
                            if start is None:
                                s = n - 1
                            elif start < 0:
                                s = F.greatest(n + F.lit(start), F.lit(-1))
                            else:
                                s = F.least(F.lit(start), n - 1)
                            if stop is None:
                                e = F.lit(-1)
                            elif stop < 0:
                                e = F.greatest(n + F.lit(stop), F.lit(-1))
                            else:
                                e = F.least(F.lit(stop), n - 1)
                            idx = F.when(
                                s > e,
                                F.sequence(
                                    s.cast("int"), (e + 1).cast("int"), F.lit(step)
                                ),
                            ).otherwise(F.array().cast("array<int>"))
                            return F.when(
                                c.isNotNull(), F.transform(idx, lambda i: F.get(c, i))
                            )
                        # python-slice normalization with negative bounds
                        s = (
                            F.greatest(n + F.lit(start), F.lit(0))
                            if start < 0
                            else F.lit(start)
                        )
                        if stop is None:
                            e = n
                        elif stop < 0:
                            e = F.greatest(n + F.lit(stop), F.lit(0))
                        else:
                            e = F.lit(stop)
                        e = F.least(e, n)
                        if step == 1:
                            length = F.greatest(e - s, F.lit(0))
                            return F.when(length > 0, F.slice(c, s + 1, length)).otherwise(
                                F.slice(c, 1, 0)
                            )
                        # stepped: gather indices s, s+step, ... below e;
                        # a NULL inner list stays NULL (option-type parity
                        # with the step==1 branch)
                        idx = F.when(e > s, F.sequence(s, e - 1, F.lit(step))).otherwise(
                            F.array().cast("array<int>")
                        )
                        return F.when(
                            c.isNotNull(), F.transform(idx, lambda i: F.get(c, i))
                        )

                    out = out._wrap(apply_at_depth(out._col, axis - 1, inner_slice))
                axis += 1
                continue
            raise TypeError(f"unsupported tuple element {k!r}")
        return out  # type: ignore[return-value]

    def __getattr__(self, name: str) -> Any:
        if name.startswith("_"):
            raise AttributeError(name)
        if name in self.fields:
            return self[name]  # type: ignore[return-value]
        # behavior dispatch (reference lib/core.py:1654-1684)
        from .behaviors import _BehaviorProperty, lookup_behavior

        member = lookup_behavior(getattr(self, "_name", None), name)
        if member is not None:
            if isinstance(member, _BehaviorProperty):
                return member.fn(self)
            if callable(member):
                return lambda *a, **kw: member(self, *a, **kw)
        raise AttributeError(name)

    # ---------------- row machinery ----------------
    def with_row_index(self) -> "NestedArray":
        """Materialize an explicit global row index (the reference's
        divisions analogue, SURVEY §1.1) — only when an order-sensitive op
        needs it.

        Scale path: per-partition local row numbers (parallel windows
        partitioned by spark_partition_id) + an eager per-partition count
        pass to compute offsets — the exact analogue of the reference's
        ``calculate_known_divisions`` (lib/core.py:2460-2484, a deliberate
        laziness break). No single-partition global window."""
        if "__row_id__" in self._df.columns:
            return self
        # memoized per base DataFrame: slice/gather chains over the same
        # base pay the eager per-partition count job ONCE (the analogue of
        # caching known divisions)
        cached = getattr(self._df, "_dak_rowidx_df", None)
        if cached is not None:
            return NestedArray(cached, self._col)
        from pyspark.sql import Window

        # PIN the physical partitioning before assigning partition-relative
        # ids (shuffle-fed plans only — see pin_layout): the eager counts
        # pass and every later job re-execute the plan, and under AQE a
        # SHUFFLE-FED plan can coalesce into different partition boundaries
        # per execution — the offsets then belong to a different layout
        # than the row numbers and row ids silently shift (caught at
        # sf0.1: 312k/500k ids wrong on an orderBy-fed frame). On a real
        # cluster swap localCheckpoint for reliable checkpoint(dir).
        pinned = pin_layout(self._df)
        df = pinned.withColumn("__mono__", F.monotonically_increasing_id()).withColumn(
            "__pid__", F.spark_partition_id()
        )
        # eager divisions: per-partition counts -> cumulative offsets
        counts = {
            r["__pid__"]: r["cnt"]
            for r in df.groupBy("__pid__").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        spark = self._df.sparkSession
        off_df = local_frame(
            spark,
            [(pid, off) for pid, off in offsets.items()] or [(0, 0)],
            "__pid__ int, __off__ long",
        )
        w = Window.partitionBy("__pid__").orderBy("__mono__")
        df = (
            df.withColumn("__local__", F.row_number().over(w) - 1)
            .join(F.broadcast(off_df), "__pid__", "left")
            .withColumn("__row_id__", F.col("__local__") + F.coalesce("__off__", F.lit(0)))
            .drop("__mono__", "__pid__", "__local__", "__off__")
        )
        try:
            self._df._dak_rowidx_df = df  # type: ignore[attr-defined]
            # the eager divisions pass knows the collection length for free;
            # stash it so order-sensitive consumers (unflatten validation)
            # don't pay a second count job
            df._dak_len = acc  # type: ignore[attr-defined]
        except Exception:  # pragma: no cover — frozen DataFrame impls
            pass
        return NestedArray(df, self._col)

    def take(self, indices: list[int], validate: bool = False) -> "NestedArray":
        """Outer integer gather, order preserved. Out-of-range POSITIVE
        indices are silently dropped (inner-join semantics) unless
        ``validate=True``, which pays one eager count to raise IndexError
        like awkward does; negative indices always normalize eagerly
        (the reference's divisions lookup does the same)."""
        key = list(indices)
        if any(k < 0 for k in key):
            n = self._df.count()
            key = [k + n if k < 0 else k for k in key]
            if any(k < 0 for k in key):
                raise IndexError("index out of range")
        idxed = self.with_row_index()
        spark = self._df.sparkSession
        sel = local_frame(
            spark, [(p, i) for p, i in enumerate(key)], "__pos__ long, __idx__ long"
        )
        joined = idxed._df.join(F.broadcast(sel), F.col("__row_id__") == F.col("__idx__"))
        if validate:
            found = joined.count()
            if found != len(key):
                raise IndexError(
                    f"{len(key) - found} gather indices out of range (validate=True)"
                )
        out = joined.orderBy("__pos__").select(idxed._col.alias(VALUE_COL))
        return NestedArray(out)

    def head(self, n: int = 5) -> list:
        return [r[0] for r in self._df.select(self._col.alias(VALUE_COL)).limit(n).collect()]

    def repartition(self, npartitions: int, *cols: str) -> "NestedArray":
        """reference lib/core.py:1031-1118 ``repartition``; hash-shuffle
        when keys given, round-robin otherwise."""
        df = self.to_df()
        return NestedArray(df.repartition(npartitions, *cols) if cols else df.repartition(npartitions))

    def coalesce(self, npartitions: int) -> "NestedArray":
        """n_to_one repartition without a shuffle (reference
        simple_repartition_layer, lib/structure.py:1434-1464)."""
        return NestedArray(self.to_df().coalesce(npartitions))

    def partition(self, i: int) -> "NestedArray":
        """reference ``arr.partitions[i]`` (lib/core.py:1287-1344)."""
        df = self.to_df().withColumn("__pid__", F.spark_partition_id())
        return NestedArray(df.filter(F.col("__pid__") == i).drop("__pid__"))

    def sample(self, fraction: float | None = None, factor: int | None = None,
               seed: int = 42) -> "NestedArray":
        """Row sampling (reference lib/inspect.py:241-273): Bernoulli via
        ``fraction`` or deterministic every-Nth via ``factor``."""
        if factor is not None:
            idxed = self.with_row_index()
            # project away __row_id__: the kept ids (0, factor, 2*factor...)
            # are positions in the PRE-sample frame; leaking them would make
            # downstream order-sensitive ops misread them as current positions
            kept = idxed._df.filter(F.col("__row_id__") % factor == 0)
            return NestedArray(kept.select(idxed._col.alias(VALUE_COL)))
        if fraction is None:
            raise ValueError("pass fraction= or factor=")
        return NestedArray(self.to_df().sample(fraction=fraction, seed=seed))

    # ---------------- element-wise arithmetic ----------------
    def _binop(self, other: Any, fn: Callable[[Column, Column], Column]) -> "NestedArray":
        if _is_col(other):
            if other._df is not self._df:
                l, r = self._align(other)
                return l._binop(r, fn)
            return self._wrap(
                broadcast_binop(self._col, other._col, self.depth, other.depth, fn)
            )
        lit = F.lit(other)
        return self._wrap(apply_at_depth(self._col, self.depth, lambda c: fn(c, lit)))

    def _rbinop(self, other: Any, fn: Callable[[Column, Column], Column]) -> "NestedArray":
        lit = F.lit(other)
        return self._wrap(apply_at_depth(self._col, self.depth, lambda c: fn(lit, c)))

    def __add__(self, o): return self._binop(o, lambda a, b: a + b)
    def __radd__(self, o): return self._rbinop(o, lambda a, b: a + b)
    def __sub__(self, o): return self._binop(o, lambda a, b: a - b)
    def __rsub__(self, o): return self._rbinop(o, lambda a, b: a - b)
    def __mul__(self, o): return self._binop(o, lambda a, b: a * b)
    def __rmul__(self, o): return self._rbinop(o, lambda a, b: a * b)
    def __truediv__(self, o): return self._binop(o, lambda a, b: a / b)
    def __rtruediv__(self, o): return self._rbinop(o, lambda a, b: a / b)
    def __mod__(self, o): return self._binop(o, lambda a, b: a % b)
    def __pow__(self, o): return self._binop(o, lambda a, b: F.pow(a, b))
    def __neg__(self): return self._wrap(apply_at_depth(self._col, self.depth, lambda c: -c))
    def __abs__(self): return self._wrap(apply_at_depth(self._col, self.depth, F.abs))
    def __eq__(self, o): return self._binop(o, lambda a, b: a == b)  # type: ignore[override]
    def __ne__(self, o): return self._binop(o, lambda a, b: a != b)  # type: ignore[override]
    def __lt__(self, o): return self._binop(o, lambda a, b: a < b)
    def __le__(self, o): return self._binop(o, lambda a, b: a <= b)
    def __gt__(self, o): return self._binop(o, lambda a, b: a > b)
    def __ge__(self, o): return self._binop(o, lambda a, b: a >= b)
    def __and__(self, o): return self._binop(o, lambda a, b: a & b)
    def __or__(self, o): return self._binop(o, lambda a, b: a | b)
    def __invert__(self): return self._wrap(apply_at_depth(self._col, self.depth, lambda c: ~c))

    def __hash__(self):  # __eq__ overridden; keep hashable by identity
        return id(self)

    def __len__(self) -> int:
        """Row count — eager, like the reference's ``len(daa)`` which
        triggers a divisions computation (tests/test_core.py test_len)."""
        return self._df.count()

    def __bool__(self) -> bool:
        # __len__ would make truthiness an accidental eager count; dask
        # collections raise here and so do we
        raise TypeError(
            "the truth value of a NestedArray is ambiguous; use len(), "
            "count(), or an explicit comparison"
        )

    def __iter__(self):
        # without this, Python falls back to __getitem__(0), __getitem__(1),
        # ... which never raises IndexError here — an infinite loop of Spark
        # jobs. The reference raises too (tests/test_core.py test_iter).
        raise NotImplementedError(
            "Iteration over a NestedArray collection is not supported; use "
            "compute(), to_local_iterator(), or to_df().toLocalIterator()"
        )

    @property
    def ndim(self) -> int:
        """Number of axes (rows + list levels) — reference ``daa.ndim``."""
        return self.depth + 1

    # ---------------- numpy ufunc dispatch ----------------
    # reference: dak.Array implements __array_ufunc__ by mapping the ufunc
    # over partitions (lib/core.py ufunc protocol; tests/test_ufunc.py).
    # Here known ufuncs compile to the equivalent Column expression at the
    # leaf depth — still zero Python in the hot path.
    _UFUNC_UNARY = {
        "sin": F.sin, "cos": F.cos, "tan": F.tan,
        "arcsin": F.asin, "arccos": F.acos, "arctan": F.atan,
        "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
        "sqrt": F.sqrt, "cbrt": F.cbrt,
        "exp": F.exp, "expm1": F.expm1,
        "log": F.log, "log10": F.log10, "log1p": F.log1p,
        "log2": lambda c: F.log(2.0, c),
        "absolute": F.abs, "fabs": F.abs, "negative": lambda c: -c,
        "floor": F.floor, "ceil": F.ceil,
        "rint": F.bround,  # numpy rint is half-to-even, like bround
        "sign": F.signum, "degrees": F.degrees, "radians": F.radians,
        "isnan": F.isnan,
        "logical_not": lambda c: ~c.cast("boolean"),
    }
    _UFUNC_BINARY = {
        "add": lambda a, b: a + b, "subtract": lambda a, b: a - b,
        "multiply": lambda a, b: a * b, "true_divide": lambda a, b: a / b,
        "divide": lambda a, b: a / b,
        "floor_divide": lambda a, b: F.floor(a / b),
        "power": F.pow, "mod": lambda a, b: a % b,
        "remainder": lambda a, b: a % b,
        "arctan2": F.atan2, "hypot": F.hypot,
        "maximum": F.greatest, "minimum": F.least,
        "fmax": F.greatest, "fmin": F.least,
        "equal": lambda a, b: a == b, "not_equal": lambda a, b: a != b,
        "less": lambda a, b: a < b, "less_equal": lambda a, b: a <= b,
        "greater": lambda a, b: a > b, "greater_equal": lambda a, b: a >= b,
        "logical_and": lambda a, b: a.cast("boolean") & b.cast("boolean"),
        "logical_or": lambda a, b: a.cast("boolean") | b.cast("boolean"),
    }

    def __array_ufunc__(self, ufunc, method, *inputs, **kwargs):
        if method != "__call__":
            # reference raises for .reduce/.accumulate/... spellings too
            raise TypeError(
                f"ufunc method {method!r} is not supported on collections"
            )
        if kwargs.get("out") is not None:
            raise TypeError("out= is not supported on collections")
        name = ufunc.__name__
        if len(inputs) == 1 and name in self._UFUNC_UNARY:
            fn = self._UFUNC_UNARY[name]
            return self._wrap(apply_at_depth(self._col, self.depth, fn))
        if len(inputs) == 2 and name in self._UFUNC_BINARY:
            fn = self._UFUNC_BINARY[name]
            a, b = inputs
            if isinstance(a, NestedArray):
                return a._binop(b, fn)
            return self._rbinop(a, fn)  # scalar/array op collection
        raise TypeError(f"ufunc {name!r} is not supported on collections")

    # ---------------- reducer method spellings ----------------
    # dak.Array exposes reductions as methods too (tests/test_reducers.py
    # exercises both the free-function and attr spellings); field access
    # goes through __getitem__, so these names shadow same-named record
    # fields exactly like the reference's methods do.
    def sum(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.sum(self, axis=axis, **kw)

    def prod(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.prod(self, axis=axis, **kw)

    def min(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.min(self, axis=axis, **kw)

    def max(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.max(self, axis=axis, **kw)

    def mean(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.mean(self, axis=axis, **kw)

    def std(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.std(self, axis=axis, **kw)

    def var(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.var(self, axis=axis, **kw)

    def count(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.count(self, axis=axis, **kw)

    def count_nonzero(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.count_nonzero(self, axis=axis, **kw)

    def any(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.any(self, axis=axis, **kw)

    def all(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.all(self, axis=axis, **kw)

    def argmin(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.argmin(self, axis=axis, **kw)

    def argmax(self, axis=None, **kw):
        from .operators import reducers as _red
        return _red.argmax(self, axis=axis, **kw)

    # ---------------- field mutation ----------------
    def with_field(self, name: str, value: "NestedArray") -> "NestedArray":
        """Add/replace a field (reference lib/structure.py:1056-1087)."""
        self, value = align_many([self, value])

        def add(rec: Column, val: Column, d: int) -> Column:
            if d > 0:
                return F.zip_with(rec, val, lambda r, x: add(r, x, d - 1))
            return rec.withField(name, val)

        return self._wrap(add(self._col, value._col, self.depth))

    def without_field(self, name: str) -> "NestedArray":
        """Drop a field (reference lib/structure.py:1107-1127)."""
        return self._wrap(
            apply_at_depth(self._col, self.depth, lambda r: r.dropFields(name))
        )

    def __setitem__(self, name: str, value: "NestedArray") -> None:
        out = self.with_field(name, value)
        # adopt the result's base too: with_field may have aligned onto a
        # joined frame when value came from a different DataFrame
        self._df, self._col, self._dtype = out._df, out._col, None

    def __delitem__(self, name: str) -> None:
        # reference test_structure.py test_delitem: del arr["field"]
        out = self.without_field(name)
        self._df, self._col, self._dtype = out._df, out._col, None

    # ---------------- escape hatch ----------------
    def map_partitions(self, fn: Callable, schema: T.StructType | str) -> "NestedArray":
        """Arbitrary Python over whole partitions via Arrow batches — the
        analogue of the reference's universal UDF mechanism
        (lib/core.py:2146-2295). Output schema is mandatory, mirroring the
        reference's ``meta=`` when typetracing fails."""
        src = self._df.select(self._col.alias(VALUE_COL))
        return NestedArray(src.mapInArrow(fn, schema))

    # ---------------- materialization ----------------
    def to_df(self, alias: str = VALUE_COL) -> DataFrame:
        return self._df.select(self._col.alias(alias))

    def compute(self) -> list:
        """Collect to Python values (the reference's ``.compute()``)."""
        rows = self.to_df().collect()
        return [_to_python(r[0]) for r in rows]

    to_list = compute

    def persist(self) -> "NestedArray":
        return NestedArray(self._df.persist(), self._col)

    # ------------- metadata views (reference lib/core.py Array props) ----

    @property
    def attrs(self):
        """Immutable metadata mapping (reference ``daa.attrs`` — a
        mappingproxy, so item assignment raises; replace wholesale via
        the setter, test_core.py test_assign_attrs)."""
        from types import MappingProxyType

        return MappingProxyType(getattr(self, "_attrs", {}))

    @attrs.setter
    def attrs(self, value: dict) -> None:
        self._attrs = dict(value)

    @property
    def behavior(self):
        """Immutable view of this array's registered behavior class
        members (reference ``daa.behavior``; registration goes through
        behaviors.register_behavior + with_name)."""
        from types import MappingProxyType

        from .behaviors import behavior_members

        return MappingProxyType(behavior_members(getattr(self, "_name", None)))

    @property
    def form(self) -> dict:
        """Schema-as-data (the reference's ``daa.form`` Form object; here
        the JSON-schema rendering of the Spark type)."""
        from .compat import layout_to_jsonschema

        return layout_to_jsonschema(self)

    @property
    def divisions(self) -> tuple:
        """Unknown divisions, like a freshly-read dask collection:
        (None, ...) with npartitions+1 entries. Materialize real offsets
        with ``calculate_known_divisions`` (an explicitly eager pass)."""
        return (None,) * (self.npartitions + 1)

    def _typestr(self, max: int | None = None) -> str:
        """Awkward-style type string with unknown outer length:
        ``## * var * int64`` (reference lib/core.py _typestr)."""
        inner = _ak_typestr(self.dtype)
        if max is not None and len(inner) > max:
            inner = inner[:max] + "..."
        return f"## * {inner}"

    @property
    def typestr(self) -> str:
        return self._typestr()

    def __str__(self) -> str:
        return (
            f"dask_awkward_spark<lazy, type='{self._typestr()}', "
            f"npartitions={self.npartitions}>"
        )

    def __repr__(self) -> str:  # pragma: no cover
        return f"NestedArray(dtype={self.dtype.simpleString()})"


class PartitionCompatibility(str, Enum):
    """Reference lib/core.py ``PartitionCompatibility`` (YES/MAYBE/NO).
    str-valued so existing ``== "YES"`` comparisons keep working."""

    YES = "YES"
    MAYBE = "MAYBE"
    NO = "NO"


def partition_compatibility(*arrays: NestedArray) -> "PartitionCompatibility":
    """Classify whether collections can be combined element-wise without
    realignment (reference ``partition_compatibility``, lib/core.py:
    2815-2938, which returns YES / MAYBE / NO from known divisions):

    - ``"YES"`` — same base DataFrame: columns live in the same rows.
    - ``"MAYBE"`` — different bases: a row-index equi-join (``align_many``)
      can co-locate them; whether lengths agree is only known at run time
      (the reference's unknown-divisions case).

    Spark never yields the reference's ``NO`` (mismatched partition counts)
    because alignment is by row index, not by partition boundary.
    """
    base = arrays[0]
    same = all(a._df is base._df for a in arrays[1:])
    return PartitionCompatibility.YES if same else PartitionCompatibility.MAYBE


def align_many(arrays: list[NestedArray], strict: bool = True) -> list[NestedArray]:
    """Align collections from different base DataFrames onto one joined
    frame via row-index equi-joins (reference partition_compatibility MAYBE
    path, lib/core.py:2815-2938). Same-base inputs pass through untouched.

    Element order is restored with ``orderBy(__row_id__)`` (Catalyst plans
    it as a range repartition + local sort — parallel, no single task), so
    ``compute()``/``head()`` on the result see element order like the
    reference, not hash-join partition order.

    ``strict=True`` (default) mirrors the reference's broadcast error on
    length mismatch: a full outer join carries presence flags and every
    output column is guarded by a distributed ``assert_true``, so touching
    any value of a mis-sized alignment raises at execution — no eager
    count, no silent truncation. ``strict=False`` keeps the old
    truncate-to-common-prefix inner join."""
    base = arrays[0]
    if all(a._df is base._df for a in arrays):
        return list(arrays)
    idxed = [a.with_row_index() for a in arrays]
    joined = idxed[0]._df.select(
        F.col("__row_id__"),
        idxed[0]._col.alias("__a0__"),
        F.lit(True).alias("__p0__"),
    )
    for i, b in enumerate(idxed[1:], start=1):
        joined = joined.join(
            b._df.select(
                F.col("__row_id__"),
                b._col.alias(f"__a{i}__"),
                F.lit(True).alias(f"__p{i}__"),
            ),
            "__row_id__",
            "full" if strict else "inner",
        )
    joined = joined.orderBy("__row_id__")

    def _tagged(i: int, col: Column) -> NestedArray:
        # behavior tags / parameters survive alignment, as the reference
        # propagates behaviors through its MAYBE compatibility path
        out = NestedArray(joined, col)
        src = arrays[i]
        if getattr(src, "_name", None) is not None:
            out._name = src._name  # type: ignore[attr-defined]
        if getattr(src, "_parameters", None):
            out._parameters = dict(src._parameters)  # type: ignore[attr-defined]
        return out

    if not strict:
        return [_tagged(i, F.col(f"__a{i}__")) for i in range(len(arrays))]
    present = F.lit(True)
    for i in range(len(arrays)):
        present = present & F.col(f"__p{i}__").isNotNull()
    guard = F.assert_true(
        present,
        F.lit("cannot broadcast: collections have different lengths (align_many)"),
    )
    # assert_true yields NULL when the predicate holds and raises otherwise,
    # so when(guard.isNull(), value) passes values through on matched rows
    # and turns any touch of a mismatched alignment into a runtime error
    return [
        _tagged(i, F.when(guard.isNull(), F.col(f"__a{i}__")))
        for i in range(len(arrays))
    ]


def from_column(df: DataFrame, col: Column | str) -> NestedArray:
    return NestedArray(df, col)


def from_lists(spark, data: Iterable[Any], schema: str | T.DataType | None = None) -> NestedArray:
    """In-memory ingestion (reference lib/io/io.py:146-191 ``from_lists``)."""
    rows = [(x,) for x in data]
    if schema is None:
        df = spark.createDataFrame(rows, [VALUE_COL])
    else:
        st = T.StructType([T.StructField(VALUE_COL, schema if isinstance(schema, T.DataType) else T._parse_datatype_string(schema))])  # type: ignore[attr-defined]
        df = spark.createDataFrame(rows, st)
    return NestedArray(df)

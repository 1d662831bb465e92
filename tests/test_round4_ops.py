"""Round-4 additions: negative-step slices, unflatten validation,
map_partitions scalar-arg forwarding (VERDICT r3 items 5-7)."""

from __future__ import annotations

import pytest

from dask_awkward_spark import from_lists
from dask_awkward_spark.operators import structure as st


# ---------------- negative-step inner slices ----------------

INNER = [0, 1, 2, 3, 4, 5, 6]


@pytest.mark.parametrize(
    "sl",
    [
        slice(None, None, -1),
        slice(None, None, -2),
        slice(None, None, -3),
        slice(5, 1, -1),
        slice(5, 1, -2),
        slice(-1, -5, -1),
        slice(-2, None, -2),
        slice(100, None, -2),
        slice(1, 5, -1),  # empty: start below stop with negative step
        slice(0, None, -1),
        slice(None, 0, -2),
        slice(-100, None, -1),  # start clamps below 0 -> empty
    ],
)
def test_negative_step_inner_slice_matches_python(spark, sl):
    a = from_lists(spark, [INNER, [], [7]], "array<bigint>")
    assert a[:, sl].compute() == [INNER[sl], [][sl], [7][sl]]


def test_negative_step_inner_slice_preserves_null(spark):
    a = from_lists(spark, [[0, 1, 2, 3], None], "array<bigint>")
    assert a[:, ::-1].compute() == [[3, 2, 1, 0], None]


def test_negative_step_axis2(spark):
    a = from_lists(spark, [[[1, 2, 3], [4, 5]]], "array<array<bigint>>")
    assert a[:, :, ::-1].compute() == [[[3, 2, 1], [5, 4]]]


# ---------------- negative-step outer (row) slices ----------------

ROWS = [10, 11, 12, 13, 14, 15, 16, 17]


@pytest.mark.parametrize(
    "sl",
    [
        slice(None, None, -1),
        slice(None, None, -3),
        slice(6, 1, -2),
        slice(-1, -6, -1),
        slice(2, 6, -1),  # empty
    ],
)
def test_negative_step_row_slice_matches_python(spark, sl):
    a = from_lists(spark, ROWS, "bigint")
    assert a[sl].compute() == ROWS[sl]


def test_zero_step_row_slice_raises(spark):
    a = from_lists(spark, ROWS, "bigint")
    with pytest.raises(ValueError, match="zero"):
        a[::0]


# ---------------- unflatten counts validation ----------------

def test_unflatten_axis0_sum_mismatch_raises(spark):
    flat = from_lists(spark, [1.0, 2.0, 3.0, 4.0, 5.0], "double")
    with pytest.raises(ValueError, match="sum"):
        st.unflatten(flat, from_lists(spark, [2, 2], "bigint"))  # sums to 4
    with pytest.raises(ValueError, match="sum"):
        st.unflatten(flat, from_lists(spark, [3, 3], "bigint"))  # sums to 6


def test_unflatten_axis0_negative_counts_raise(spark):
    flat = from_lists(spark, [1.0, 2.0, 3.0], "double")
    with pytest.raises(ValueError, match="non-negative"):
        st.unflatten(flat, from_lists(spark, [4, -1], "bigint"))


def test_unflatten_axis0_valid_still_works(spark):
    flat = from_lists(spark, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0], "double")
    cnt = from_lists(spark, [2, 0, 3, 1], "bigint")
    assert st.unflatten(flat, cnt).compute() == [[1.0, 2.0], [], [3.0, 4.0, 5.0], [6.0]]


def test_unflatten_axis1_counts_mismatch_raises_on_compute(spark):
    from pyspark.sql import functions as F

    from dask_awkward_spark.core import NestedArray

    nested = from_lists(spark, [[1, 2, 3, 4, 5]], "array<bigint>")
    bad = NestedArray(nested._df, F.expr("array(2, 2)").cast("array<bigint>"))  # sums to 4
    with pytest.raises(Exception, match="unflatten|ASSERT"):
        st.unflatten(nested, bad, axis=1).compute()


def test_unflatten_axis1_jagged_counts_still_work(spark):
    from pyspark.sql import functions as F

    from dask_awkward_spark.core import NestedArray

    nested = from_lists(spark, [[1, 2, 3, 4, 5]], "array<bigint>")
    cnts = NestedArray(nested._df, F.expr("array(2, 3)").cast("array<bigint>"))
    assert st.unflatten(nested, cnts, axis=1).compute() == [[[1, 2], [3, 4, 5]]]


# ---------------- len / ndim / truthiness ----------------

def test_len_ndim_bool(spark):
    a = from_lists(spark, [[1, 2], [3], []], "array<bigint>")
    assert len(a) == 3  # eager, like the reference's divisions trigger
    assert a.ndim == 2
    flat = from_lists(spark, [1, 2], "bigint")
    assert flat.ndim == 1
    with pytest.raises(TypeError, match="ambiguous"):
        bool(a)


# ---------------- from_map full protocol ----------------

def test_from_map_multi_iterables_args_kwargs(spark):
    """Reference test_from_map_with_args_kwargs semantics: iterables are
    zipped and unpacked, args/kwargs forwarded to every call."""
    from dask_awkward_spark.sources.memory import from_map

    def f(a, b, n, pad_zero=False):
        rows = [(a * n,), (b * n,)]
        return rows + [(0,)] if pad_zero else rows

    out = from_map(spark, f, [1, 2], [10, 20], schema="v bigint", args=(3,))
    assert sorted(r["v"]["v"] for r in out.to_df().collect()) == [3, 6, 30, 60]
    out2 = from_map(
        spark, f, [1], [10], schema="v bigint", args=(3,), pad_zero=True
    )
    assert sorted(r["v"]["v"] for r in out2.to_df().collect()) == [0, 3, 30]


def test_from_map_enumerate_input(spark):
    """Reference test_from_map_enumerate: a single iterable (here an
    enumerate) passes its element whole."""
    from dask_awkward_spark.sources.memory import from_map

    def f(t):
        i, xs = t
        return [((i + 1) * x,) for x in xs]

    out = from_map(spark, f, enumerate([[1, 2], [3]]), schema="v bigint")
    assert sorted(r["v"]["v"] for r in out.to_df().collect()) == [1, 2, 6]


# ---------------- numpy ufunc dispatch + reducer methods ----------------

def test_numpy_ufuncs_dispatch(spark):
    import math

    import numpy as np

    a = from_lists(spark, [[1.0, 4.0], [0.25]], "array<double>")
    assert np.sqrt(a).compute() == [[1.0, 2.0], [0.5]]
    got = np.sin(a).compute()
    want = [[math.sin(1.0), math.sin(4.0)], [math.sin(0.25)]]
    assert all(
        abs(g - w) < 1e-12 for gr, wr in zip(got, want) for g, w in zip(gr, wr)
    )
    b = from_lists(spark, [[2.0, 2.0], [2.0]], "array<double>")
    assert np.add(a, b).compute() == [[3.0, 6.0], [2.25]]
    assert np.maximum(a, b).compute() == [[2.0, 4.0], [2.0]]
    assert np.power(a, 2).compute() == [[1.0, 16.0], [0.0625]]


def test_ufunc_method_raises(spark):
    import numpy as np

    a = from_lists(spark, [1.0, 2.0], "double")
    with pytest.raises(TypeError):
        np.add.reduce(a)


def test_reducer_method_spellings(spark):
    a = from_lists(spark, [[1, 2, 3], [4]], "array<bigint>")
    assert a.sum(axis=1).compute() == [6, 4]
    assert a.max(axis=1).compute() == [3, 4]
    assert a.count(axis=1).compute() == [3, 1]
    assert a.argmin(axis=1).compute() == [0, 0]
    # axis=None total
    assert a.sum(axis=None).compute() == 10


# ---------------- zip list input / delitem ----------------

def test_zip_list_input_tuple_fields(spark):
    """ak.zip over a list makes tuple-records with fields '0', '1'."""
    from dask_awkward_spark.operators import structure as st

    a = from_lists(spark, [1, 2], "bigint")
    b = from_lists(spark, [10, 20], "bigint")
    z = st.zip([a, b])
    assert z.fields == ["0", "1"]
    assert [(r["0"], r["1"]) for r in z.compute()] == [(1, 10), (2, 20)]


def test_delitem_field(spark):
    a = from_lists(
        spark, [{"x": 1, "y": 2}, {"x": 3, "y": 4}], "struct<x:bigint,y:bigint>"
    )
    del a["y"]
    assert a.fields == ["x"]
    assert a.compute() == [{"x": 1}, {"x": 3}]


# ---------------- ellipsis getitem ----------------

def test_ellipsis_identity(spark):
    a = from_lists(spark, [[1, 2], [3]], "array<bigint>")
    assert a[...].compute() == [[1, 2], [3]]


def test_ellipsis_trailing_slice(spark):
    """arr[..., 1:3] slices the DEEPEST axis (reference
    test_firstarg_ellipsis_2d/3d semantics)."""
    a2 = from_lists(spark, [[0, 1, 2, 3], [4, 5]], "array<bigint>")
    assert a2[..., 1:3].compute() == [[1, 2], [5]]
    a3 = from_lists(
        spark, [[[0, 1, 2], [3, 4, 5]]], "array<array<bigint>>"
    )
    assert a3[..., 1:3].compute() == [[[1, 2], [4, 5]]]
    # two trailing keys address the last two axes
    assert a3[..., 0:, 2:4].compute() == [[[2], [5]]]


def test_ellipsis_too_many_axes_raises(spark):
    a = from_lists(spark, [1, 2, 3], "bigint")
    with pytest.raises(ValueError, match="axes"):
        a[..., 0:2, 0:2]
    with pytest.raises(IndexError, match="single ellipsis"):
        a[..., ...]


# ---------------- row-index stability under AQE ----------------

def test_row_index_stable_on_shuffle_fed_plan(spark):
    """with_row_index must assign rank-order ids even when the base plan
    contains an AQE shuffle (orderBy): the eager offsets pass and the
    row-number job re-execute the plan, and without pinning the physical
    layout AQE can re-coalesce between them, silently shifting ids
    (regression: 312k/500k ids wrong at this size before the fix)."""
    from pyspark.sql import functions as F

    from dask_awkward_spark.core import NestedArray

    df = (
        spark.range(0, 200000)
        .select((F.col("id") * 7919 % 200000).alias("k"))
        .orderBy("k")
    )
    idxed = NestedArray(df, F.col("k")).with_row_index()
    assert idxed._df.filter(F.col("__row_id__") != F.col("k")).count() == 0


# ---------------- fused axis-0 multi reducer ----------------

def test_reduce_axis0_multi_matches_unfused(spark):
    from dask_awkward_spark.operators import reducers as red

    data = [[3, 1, 4], [1, 5], [], [9, 2, 6, 5]]
    arr = from_lists(spark, data, "array<bigint>")
    z = red.reduce_axis0_multi(arr, ["min", "max", "count", "sum", "argmin", "argmax"])
    rows = [r[0].asDict() for r in z.to_df().collect()]
    # pos 0: [3,1,9] -> min 1 (row 1), max 9 (row 3)
    assert rows[0] == {"min": 1, "max": 9, "count": 3, "sum": 13, "argmin": 1, "argmax": 3}
    # pos 1: [1,5,2] -> min 1 (row 0), max 5 (row 1)
    assert rows[1] == {"min": 1, "max": 5, "count": 3, "sum": 8, "argmin": 0, "argmax": 1}
    # pos 2: [4,6] -> rows 0 and 3
    assert rows[2] == {"min": 4, "max": 6, "count": 2, "sum": 10, "argmin": 0, "argmax": 3}
    # pos 3: [5] only row 3
    assert rows[3] == {"min": 5, "max": 5, "count": 1, "sum": 5, "argmin": 3, "argmax": 3}


def test_reduce_axis0_multi_ties_first_occurrence(spark):
    from dask_awkward_spark.operators import reducers as red

    arr = from_lists(spark, [[7], [7], [7]], "array<bigint>")
    z = red.reduce_axis0_multi(arr, ["argmin", "argmax"])
    row = z.to_df().collect()[0][0].asDict()
    assert row == {"argmin": 0, "argmax": 0}  # both break ties to first row


def test_reduce_axis0_multi_null_position(spark):
    from dask_awkward_spark.operators import reducers as red

    # position 1 is all-null: stats are null, arg is null (not a null-row id)
    arr = from_lists(spark, [[1, None], [2, None]], "array<bigint>")
    z = red.reduce_axis0_multi(arr, ["min", "count", "argmin", "argmax"])
    rows = [r[0].asDict() for r in z.to_df().collect()]
    assert rows[0] == {"min": 1, "count": 2, "argmin": 0, "argmax": 1}
    assert rows[1] == {"min": None, "count": 0, "argmin": None, "argmax": None}


# ---------------- map_partitions scalar extra args ----------------

def test_map_partitions_scalar_args_forwarded(spark):
    import pyarrow as pa

    from dask_awkward_spark.compat import map_partitions

    def add_k(batches, k):
        for b in batches:
            tbl = pa.Table.from_batches([b])
            col = pa.compute.add(tbl.column("v"), k)
            yield pa.RecordBatch.from_arrays([col.combine_chunks()], ["v"])

    a = from_lists(spark, [1, 2, 3], "bigint")
    out = map_partitions(add_k, a, 10, schema="v bigint")
    assert out.compute() == [11, 12, 13]


def test_map_partitions_positional_schema_still_works(spark):
    import pyarrow as pa

    def double(batches):
        for b in batches:
            tbl = pa.Table.from_batches([b])
            col = pa.compute.multiply(tbl.column("v"), 2)
            yield pa.RecordBatch.from_arrays([col.combine_chunks()], ["v"])

    from dask_awkward_spark.compat import map_partitions

    a = from_lists(spark, [1, 2, 3], "bigint")
    out = map_partitions(double, a, "v bigint")  # trailing positional = schema
    assert out.compute() == [2, 4, 6]


def test_from_delayed_is_lazy_and_executor_side(spark):
    """Construction must not evaluate parts, and evaluation must happen in
    executor tasks (reference keeps foreign partitions lazy,
    lib/io/io.py:195-246). The driver-side marker list stays empty
    throughout: at action time each callable runs against a PICKLED COPY
    in the worker process, so any driver-side execution would be visible
    as an append."""
    from dask_awkward_spark.compat import from_delayed

    ran_on_driver = []

    def make_part(lo):
        def part():
            ran_on_driver.append(lo)
            return [(lo,), (lo + 1,)]

        return part

    arr = from_delayed(spark, [make_part(0), make_part(10)], "v bigint")
    assert ran_on_driver == []  # construction is lazy
    assert sorted(r["v"]["v"] for r in arr.to_df().collect()) == [0, 1, 10, 11]
    assert ran_on_driver == []  # evaluation happened in executors


def test_map_partitions_scalar_args_multi_collection(spark):
    import pyarrow as pa

    from dask_awkward_spark.compat import map_partitions

    def combine(batches, k):
        for b in batches:
            tbl = pa.Table.from_batches([b])
            s = pa.compute.add(
                pa.compute.add(tbl.column("c0"), tbl.column("c1")), k
            )
            yield pa.RecordBatch.from_arrays([s.combine_chunks()], ["v"])

    a = from_lists(spark, [1, 2, 3], "bigint")
    b = from_lists(spark, [10, 20, 30], "bigint")
    out = map_partitions(combine, a, b, 100, schema="v bigint")
    assert sorted(out.compute()) == [111, 122, 133]


def test_calculate_known_divisions(spark):
    import dask_awkward_spark as das

    arr = das.from_lists(spark, list(range(10)), "bigint").repartition(4)
    divs = das.calculate_known_divisions(arr)
    assert divs[0] == 0 and divs[-1] == 10
    assert list(divs) == sorted(divs)
    # reference: len(divisions) == npartitions + 1 (lib/core.py:2460-2484)
    assert len(divs) == arr.npartitions + 1


def test_is_awkward_collection_and_str_namespace(spark):
    import dask_awkward_spark as das

    arr = das.from_lists(spark, [1, 2], "bigint")
    assert das.is_awkward_collection(arr)
    assert das.is_awkward_collection(arr[0])
    assert not das.is_awkward_collection(arr.to_df())
    # reference exposes kernels as dak.str.<kernel> (__init__.py:9)
    out = das.str.upper(das.from_lists(spark, ["ab", "cd"], "string"))
    assert out.compute() == ["AB", "CD"]


def test_tuple_getitem_gh454(spark):
    """Reference test_getitem.py test_multiarg_starting_with_string_gh454:
    field access moves to the front, integer outer index returns the row,
    nested projection after a field-list replaces each kept field's
    content with the projected subfield."""
    import dask_awkward_spark as das

    data = [
        [{"a": {"c": 1}, "b": 5}, {"a": {"c": -2}, "b": -6}],
        [{"a": {"c": 1}, "b": -5}, {"a": {"c": -2}, "b": 6}],
        [],
        [{"a": {"c": -1}, "b": 5}, {"a": {"c": -2}, "b": 6}],
    ]
    arr = das.from_lists(spark, data, "array<struct<a:struct<c:bigint>,b:bigint>>")
    for i in range(4):
        assert (
            arr["a", i].compute()
            == arr[i, "a"].compute()
            == [row["a"] for row in data[i]]
        )
        r3 = arr[["a"], "c", i].compute()
        assert (
            r3
            == arr[["a"], i, "c"].compute()
            == arr[i, ["a"], "c"].compute()
            == [{"a": row["a"]["c"]} for row in data[i]]
        )
        assert (
            arr[["a", "b"], i].compute()
            == arr[i, ["a", "b"]].compute()
            == [{"a": row["a"], "b": row["b"]} for row in data[i]]
        )


def test_tuple_getitem_inner_int(spark):
    """arr[:, i] picks element i per list (axis-consuming integer index);
    negative wraps; too-short lists yield None (awkward raises — documented
    divergence, Spark expressions are total)."""
    import dask_awkward_spark as das

    arr = das.from_lists(spark, [[10, 20, 30], [40], [], [50, 60]], "array<bigint>")
    assert arr[:, 0].compute() == [10, 40, None, 50]
    assert arr[:, -1].compute() == [30, 40, None, 60]
    assert arr[:, 1].compute() == [20, None, None, 60]


def test_record_multifield(spark):
    """Reference test_record_getitem_scalar_results: dr[["x", "y"]]."""
    import dask_awkward_spark as das

    arr = das.from_lists(
        spark,
        [{"x": 1, "y": 2, "z": 3}, {"x": 4, "y": 5, "z": 6}],
        "struct<x:bigint,y:bigint,z:bigint>",
    )
    rec = arr[1]
    assert rec[["x", "y"]].compute() == {"x": 4, "y": 5}
    assert rec["x"].compute() == 4


def test_iter_raises(spark):
    """Reference test_core.py test_iter: iteration must raise, not fall
    back to __getitem__(0), __getitem__(1), ... (an infinite job loop)."""
    import pytest as _pytest

    import dask_awkward_spark as das

    arr = das.from_lists(spark, [[1, 2], [3]], "array<bigint>")
    with _pytest.raises(NotImplementedError, match="Iteration"):
        list(arr)


def test_scalar_from_int_getitem(spark):
    """Reference gh515 (test_scalar_binop_inv): arr[0] of a leaf array is
    a Scalar supporting reflected arithmetic."""
    import dask_awkward_spark as das

    s = das.from_lists(spark, [5, 7], "bigint")[0]
    assert type(s).__name__ == "Scalar"
    assert (0 - s).compute() == -5
    assert (s - 0).compute() == 5
    assert (10 / s).compute() == 2.0


def test_chained_int_getitem(spark):
    """daa["points"][0][0] chains: a list row becomes a collection whose
    rows are its elements (reference test_record_getitem_scalar_results)."""
    import dask_awkward_spark as das

    pts = [
        [{"x": 1, "y": 2}, {"x": 3, "y": 4}],
        [{"x": 5, "y": 6}],
    ]
    arr = das.from_lists(spark, pts, "array<struct<x:bigint,y:bigint>>")
    first_row = arr[0]
    assert first_row.compute() == pts[0]
    rec = first_row[0]
    assert rec["x"].compute() == 1
    assert rec[["x", "y"]].compute() == {"x": 1, "y": 2}


def test_unzip_not_record(spark):
    """Reference test_unzip_not_record: non-record unzips to (self,)."""
    import dask_awkward_spark as das

    arr = das.from_lists(spark, [[1, 2, 3], [4, 5]], "array<bigint>")
    out = das.unzip(arr) if hasattr(das, "unzip") else None
    from dask_awkward_spark.operators.structure import unzip

    out = unzip(arr)
    assert len(out) == 1 and out[0].compute() == [[1, 2, 3], [4, 5]]


def test_pack_sequences_budget_respected(spark):
    """Every pack's start offset honors the budget boundary: a pack's
    token total can overshoot only by its last doc (greedy packing)."""
    from pyspark.sql import functions as F

    from dask_awkward_spark.queries.text import text_pack_sequences

    out = text_pack_sequences(spark, "/root/testdata/sf0.001", budget=512).collect()
    assert out
    for r in out:
        assert r["n_docs"] >= 1
        assert r["first_doc"] <= r["last_doc"]
    # pack ids are dense non-negative per source
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["pack_id"])
    for src, ids in by_src.items():
        assert sorted(ids) == list(range(len(ids))), src


def test_text_queries_compile_without_escape_warnings():
    """The regex literals in queries/text.py are raw strings: compiling
    the module raises no invalid-escape DeprecationWarning (a
    SyntaxWarning on newer Pythons)."""
    import warnings

    import dask_awkward_spark.queries.text as qt

    with open(qt.__file__, encoding="utf-8") as f:
        src = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error", DeprecationWarning)
        warnings.simplefilter("error", SyntaxWarning)
        compile(src, qt.__file__, "exec")


def test_pii_redact_semantics(spark):
    import dask_awkward_spark as das
    from pyspark.sql import functions as F

    from dask_awkward_spark.queries.text import _EMAIL_RE, _LONGNUM_RE

    df = spark.createDataFrame(
        [(1, "mail me at a.b+c@x-y.co or call 12345678 now"), (2, "clean")],
        "doc_id bigint, text string",
    )
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"), _LONGNUM_RE, "<NUM>"
    )
    rows = df.select("doc_id", red.alias("r")).orderBy("doc_id").collect()
    assert rows[0]["r"] == "mail me at <EMAIL> or call <NUM> now"
    assert rows[1]["r"] == "clean"


def test_quantize_int8_bounds(spark):
    """All quantized magnitudes fit int8 (|q| <= 127) and reconstruction
    error is below scale/2 per element by construction."""
    from pyspark.sql import functions as F

    from dask_awkward_spark.queries.similarity import sim_quantize_int8

    out = sim_quantize_int8(spark, "/root/testdata/sf0.001")
    bad = out.filter((F.col("q_l1") > 127 * 64) | (F.col("mse_e9") < 0)).count()
    assert bad == 0
    assert out.count() > 0


def test_metadata_views(spark):
    """Reference Array metadata surface: typestr/str rendering, unknown
    divisions, immutable attrs/behavior mappingproxies (test_dunder_str,
    test_typestr, test_assign_attrs, test_assign_behavior)."""
    import pytest as _pytest

    import dask_awkward_spark as das

    a = das.from_lists(spark, [[{"x": 1, "y": 2.5}]], "array<struct<x:bigint,y:double>>")
    assert a.typestr == "## * var * {x: int64, y: float64}"
    assert str(a).startswith("dask_awkward_spark<lazy, type='## * var * {x:")
    assert a._typestr(max=10).endswith("...")
    assert a.divisions == (None,) * (a.npartitions + 1)
    a.attrs = {"origin": "test"}
    assert dict(a.attrs) == {"origin": "test"}
    with _pytest.raises(TypeError, match="mappingproxy"):
        a.attrs["nope"] = 1
    with _pytest.raises(TypeError, match="mappingproxy"):
        a.behavior["nope"] = 1
    assert isinstance(a.form, dict) and "type" in a.form


def test_scalar_full_arithmetic(spark):
    import dask_awkward_spark as das

    s = das.from_lists(spark, [7], "bigint")[0]
    assert (s % 4).compute() == 3
    assert (10 % s).compute() == 3
    assert (s ** 2).compute() == 49.0
    assert (s // 2).compute() == 3
    assert (-s).compute() == -7
    assert abs(-s).compute() == 7
    assert (s >= 7).compute() is True
    assert (s <= 6).compute() is False


def test_to_arrow_roundtrip(spark):
    import dask_awkward_spark as das

    arr = das.from_lists(spark, [[1, 2], [3]], "array<bigint>")
    tbl = das.to_arrow(arr)
    assert tbl.num_rows == 2
    assert sorted(tbl.column(0).to_pylist()) == [[1, 2], [3]]


def test_fuzz_differential_smoke(spark):
    """30 random filter/group/agg/join recipes hash-agree with DuckDB
    (the full sweep lives in tools/fuzz_differential.py)."""
    import random
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo/tools")
    import fuzz_differential as fz

    rng = random.Random(99)
    con = duckdb.connect()
    for t in fz.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fz.SF_DIR}/{t}.parquet'")
    nan = float("nan")
    for _ in range(30):
        if rng.random() < 0.3:
            lt, rt, lk, rk, where, grp, fn, agg_key, sql = fz.gen_join_query(rng)
            sdf = fz.spark_run_join(spark, lt, rt, lk, rk, where, grp, fn, agg_key)
        else:
            table, where, grp, aggs, sql = fz.gen_query(rng)
            sdf = fz.spark_run(spark, table, where, grp, aggs)
        srows = [tuple(nan if v is None else v for v in r) for r in sdf.collect()]
        odf = con.sql(sql).df()
        orows = [
            tuple(nan if v is None else v for v in r)
            for r in odf.itertuples(index=False, name=None)
        ]
        assert fz.table_hash(sdf.columns, srows) == fz.table_hash(
            list(odf.columns), orows
        ), sql


def test_testutils_assert_eq(spark):
    """Public assert_eq helper (reference lib/testutils.py): engine
    collections vs plain Python, float tolerance, NaN==NaN."""
    import pytest as _pytest

    import dask_awkward_spark as das
    from dask_awkward_spark.testutils import assert_eq, xy_points_rows

    rows = xy_points_rows((2, 0, 1))
    arr = das.from_lists(spark, rows, "array<struct<x:bigint,y:bigint>>")
    assert_eq(arr, rows)
    assert_eq(das.sum(arr["x"], axis=1), [sum(p["x"] for p in r) for r in rows])
    assert_eq(float("nan"), float("nan"))
    with _pytest.raises(AssertionError, match="differ"):
        assert_eq(arr, [])


# ---- dataset management (queries/splits.py) ----


def test_split_assignment_is_partition_invariant(spark):
    """Split membership must be a pure function of doc_id: the same docs
    land in the same splits regardless of physical layout."""
    from dask_awkward_spark.queries.splits import split_train_valid_test

    SF = "/root/testdata/sf0.001"
    base = {r["split"]: (r["n_docs"], r["sum_chars"]) for r in
            split_train_valid_test(spark, SF).collect()}
    assert set(base) == {"train", "valid", "test"}
    n_total = sum(v[0] for v in base.values())
    # 90/5/5 within loose tolerance on a small corpus
    assert base["train"][0] / n_total > 0.8

    # repartitioned input -> identical assignment (hash gate, no RNG)
    docs = spark.read.parquet(f"{SF}/documents.parquet").repartition(13)
    docs.createOrReplaceTempView("___docs_tmp")
    import dask_awkward_spark.queries.text as qt
    from pyspark.sql import functions as F

    u = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    split = (
        F.when(u < "e6666666", F.lit("train"))
        .when(u < "f3333333", F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    re_counts = {r["split"]: r["n"] for r in
                 docs.groupBy(split.alias("split")).agg(F.count(F.lit(1)).alias("n")).collect()}
    assert re_counts == {k: v[0] for k, v in base.items()}


def test_budget_cap_respects_budget(spark):
    """Every source's kept set stops at the first doc whose START offset
    crosses the budget: chars_kept < budget + max single doc length."""
    from dask_awkward_spark.queries.splits import budget_cap_per_source

    SF = "/root/testdata/sf0.001"
    rows = budget_cap_per_source(spark, SF, budget=5000).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from pyspark.sql import functions as F

    max_len = docs.agg(F.max("n_chars")).first()[0]
    assert rows
    for r in rows:
        assert r["chars_kept"] < 5000 + max_len

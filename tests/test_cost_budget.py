"""Per-statement cost budgets, pinned as ceilings. The counts are
noise-free, so a rewrite that adds work fails here instead of hiding in
wall-clock spread; a change that removes some lowers the pin.

DML: the warm Spark-job count of one statement per shape. Every shape
runs against a fresh 200-row table of 4 files (ids 0..199, one id range
per file) and touches ``id < 30``, so pruning keeps one file. Counted
jobs are those of the statement's job group, which also holds the
change-feed write staged on a worker thread.

Nested queries: the number of analyzer fallbacks (``NestedArray.dtype``
resolved by a driver round trip instead of a seeded type) while
planning each nested-scan query shape."""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import functions as F

import dask_awkward_spark as dak
from dask_awkward_spark.core import NestedArray
from dask_awkward_spark.operators import reducers as red
from dask_awkward_spark.operators import structure as st
from dask_awkward_spark.sources.snapshot import (
    _read_manifest,
    _versions,
    snapshot_delete,
    snapshot_merge,
    snapshot_update,
    snapshot_write,
)

_GROUPS = itertools.count()


def _table(spark, tmp_path, name):
    p = str(tmp_path / name)
    snapshot_write(
        spark.range(0, 200, 1, 4).select("id", (F.col("id") * 2).alias("v")), p
    )
    assert len(_read_manifest(p, _versions(p)[-1])["files"]) == 4
    return p


def _source(spark):
    # keys 0..29 match (pruned to the first file), 200..204 insert
    return spark.createDataFrame(
        [(i, -i) for i in itertools.chain(range(30), range(200, 205))],
        "id bigint, v bigint",
    )


def _jobs(spark, stmt) -> int:
    sc = spark.sparkContext
    group = f"dak-cost-budget-{next(_GROUPS)}"
    sc.setJobGroup(group, "cost budget")
    try:
        stmt()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


_WHERE = [("id", "<", 30)]

#: shape -> (statement over (spark, path), warm job ceiling at local[8])
_SHAPES = {
    "delete_cow": (
        lambda s, p: snapshot_delete(s, p, _WHERE),
        2,
    ),
    "delete_mor": (
        lambda s, p: snapshot_delete(s, p, _WHERE, strategy="merge-on-read"),
        3,
    ),
    "update_cow": (
        lambda s, p: snapshot_update(s, p, _WHERE, {"v": F.col("v") + 1}),
        2,
    ),
    "update_cow_rand": (
        lambda s, p: snapshot_update(
            s, p, _WHERE, {"v": (F.rand(7) * 100).cast("bigint")}
        ),
        5,
    ),
    "update_mor": (
        lambda s, p: snapshot_update(
            s, p, _WHERE, {"v": F.col("v") + 1}, strategy="merge-on-read"
        ),
        8,
    ),
    "merge_upsert": (
        lambda s, p: snapshot_merge(s, p, _source(s), on=["id"]),
        17,
    ),
    "merge_clauses": (
        lambda s, p: snapshot_merge(
            s, p, _source(s), on=["id"],
            when_matched=[
                ("s.id < 10", "delete", None),
                (None, "update", {"v": "s.v"}),
            ],
        ),
        18,
    ),
    "merge_nmbs": (
        lambda s, p: snapshot_merge(
            s, p, _source(s), on=["id"],
            when_not_matched_by_source=[("t.id >= 190", "delete", None)],
        ),
        25,
    ),
}


@pytest.fixture(scope="module")
def warm(spark, tmp_path_factory):
    """One DML statement before any is counted: the first statement of
    a session pays one-time plan-cache and class-loading work."""
    p = _table(spark, tmp_path_factory.mktemp("warm"), "t")
    snapshot_update(spark, p, _WHERE, {"v": F.col("v") + 1})


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_dml_job_budget(spark, tmp_path, warm, shape):
    stmt, ceiling = _SHAPES[shape]
    p = _table(spark, tmp_path, shape)
    jobs = _jobs(spark, lambda: stmt(spark, p))
    assert jobs <= ceiling, f"{shape}: {jobs} Spark jobs, budget {ceiling}"


# ---- planning: analyzer fallbacks per nested query shape ---------------


def _events(path):
    """Events with a list of particle records, as parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    part = pa.struct(
        [("pt", pa.float64()), ("eta", pa.float64()), ("charge", pa.int32())]
    )
    for i in range(2):
        ids = list(range(i * 4, i * 4 + 4))
        parts = [
            [{"pt": float(k + j), "eta": -1.0 * j, "charge": 1 - 2 * (j % 2)} for j in range(k % 4)]
            for k in ids
        ]
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()), "parts": pa.array(parts, pa.list_(part))}),
            os.path.join(path, f"part-{i}.parquet"),
        )


def _plan_reduce(arr):
    v = arr["parts"]["pt"]
    return dak.zip({
        "id": arr["id"],
        "s": red.sum(v, axis=1),
        "c": red.count(v, axis=1),
        "m": red.max(v, axis=1),
    }).to_df("r")


def _plan_filter(arr):
    p = arr["parts"]
    return dak.zip({"id": arr["id"], "v": st.num(p[p["pt"] > 1.0], axis=1)}).to_df("r")


def _plan_sort(arr):
    top = st.sort(arr["parts"]["pt"], axis=1, ascending=False)[:, :2]
    return dak.zip({"id": arr["id"], "v": red.sum(top, axis=1)}).to_df("r")


def _plan_axis0_sum(arr):
    return red.sum(st.flatten(arr["parts"]["pt"], axis=1), axis=0).to_df()


#: shape -> (plan over a from_parquet root, analyzer-fallback ceiling);
#: before types were seeded locally these were 7, 7, 6 and 4
_PLANS = {
    "reduce": (_plan_reduce, 0),
    "filter": (_plan_filter, 3),
    "sort": (_plan_sort, 1),
    "axis0_sum": (_plan_axis0_sum, 1),
}


@pytest.mark.parametrize("shape", sorted(_PLANS))
def test_nested_plan_analyzer_budget(spark, tmp_path, monkeypatch, shape):
    plan, ceiling = _PLANS[shape]
    p = str(tmp_path / "ev")
    _events(p)
    resolved = []
    dtype = NestedArray.dtype

    def counting(self):
        if self._dtype is None:
            resolved.append(self)
        return dtype.fget(self)

    monkeypatch.setattr(NestedArray, "dtype", property(counting))
    df = plan(dak.from_parquet(spark, p, columns=["id", "parts"]))
    assert len(resolved) <= ceiling, f"{shape}: {len(resolved)} analyzer fallbacks, budget {ceiling}"
    monkeypatch.undo()
    df.collect()  # the plan still runs


def test_list_projection_is_native(spark, tmp_path):
    """A field projected through one list level is Spark's native
    GetArrayStructFields, not a per-element lambda."""
    p = str(tmp_path / "ev")
    _events(p)
    arr = dak.from_parquet(spark, p)
    plan = arr["parts"]["pt"].to_df()._jdf.queryExecution().analyzed().toJSON()
    assert "GetArrayStructFields" in plan
    assert "LambdaFunction" not in plan

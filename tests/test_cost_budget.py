"""Per-statement cost budgets: the warm Spark-job count of one DML
statement per shape, pinned as a ceiling. Job counts are noise-free, so
a rewrite of the DML pipeline that adds a job fails here instead of
hiding in wall-clock spread; a change that removes one lowers the pin.

Every shape runs against a fresh 200-row table of 4 files (ids 0..199,
one id range per file) and touches ``id < 30``, so pruning keeps one
file. Counted jobs are those of the statement's job group, which also
holds the change-feed write staged on a worker thread."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

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

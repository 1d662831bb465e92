"""Spark jobs a snapshot statement runs, and where they land: the
deletion-vector scan reads under a pinned schema (no inference job), and
a DML commit's concurrent change-feed write runs in the caller's job
group."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dask_awkward_spark.sources.snapshot import (
    _read_manifest,
    _versions,
    snapshot_delete,
    snapshot_read,
    snapshot_update,
    snapshot_write,
)


def _last_job(spark, group=None):
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group) or []
    return max(ids) if ids else -1


def test_dv_scan_runs_no_inference_job(spark, tmp_path):
    p = str(tmp_path / "dv")
    snapshot_write(spark.range(20).select(F.col("id"), (F.col("id") * 2).alias("v")), p)
    snapshot_delete(spark, p, [("id", "<", 5)], strategy="merge-on-read")
    m = _read_manifest(p, _versions(p)[-1])
    dvs = [os.path.join(p, d) for d in m["deletes"]]
    # the DV writer stages exactly the types the reader pins
    assert spark.read.parquet(*dvs).schema.simpleString() == (
        "struct<file:string,pos:bigint>"
    )
    before = _last_job(spark)
    df = snapshot_read(spark, p)
    assert _last_job(spark) == before  # building the read runs no job
    assert sorted(r.id for r in df.collect()) == list(range(5, 20))
    # a second merge-on-read statement over the DV-carrying table
    snapshot_update(
        spark, p, [("id", ">=", 18)], {"v": F.lit(-1)}, strategy="merge-on-read"
    )
    got = sorted((r.id, r.v) for r in snapshot_read(spark, p).collect())
    assert got == [(i, -1 if i >= 18 else 2 * i) for i in range(5, 20)]


def test_change_write_runs_in_callers_job_group(spark, tmp_path):
    """The change-feed write staged on a worker thread carries the
    caller's spark.jobGroup.id: no job of the statement escapes it."""
    p = str(tmp_path / "cdf")
    snapshot_write(spark.range(10).select(F.col("id"), F.lit(0).alias("v")), p)
    sc = spark.sparkContext
    group = "dak-test-change-write"
    ungrouped = _last_job(spark)
    sc.setJobGroup(group, "update with change feed")
    try:
        out = snapshot_update(spark, p, [("id", "<", 3)], {"v": F.lit(1)})
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    assert out["updated_rows"] == 3
    assert _last_job(spark) == ungrouped  # nothing ran outside the group
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
    assert _read_manifest(p, _versions(p)[-1])["changes"]

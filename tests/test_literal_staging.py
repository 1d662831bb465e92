"""Driver-side literal staging (round 13) — _stage_files' pyarrow fast
path for frames whose optimized plan folds to a LocalRelation.

The contract under test: the fast path is INVISIBLE — same committed
rows, same schema, same manifest stats semantics as the Spark-writer
path — and it never fires where its parquet output could diverge from
parquet-mr in a way the engine observes (NaN float stats, non-literal
types, hive layouts, bloom specs)."""

from __future__ import annotations

import math
import shutil

import pytest
from pyspark.sql import functions as F

from dask_awkward_spark.session import local_frame, local_rows_table
import dask_awkward_spark.sources.snapshot as sn
from dask_awkward_spark.sources.snapshot import (
    _read_manifest,
    _versions,
    snapshot_read,
    snapshot_write,
)


def _last_job(spark):
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup() or []
    return max(ids) if ids else -1


def _rows(df):
    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    return sorted(tuple(norm(x) for x in r) for r in df.collect())


def test_literal_write_runs_no_spark_job(spark, tmp_path):
    p = str(tmp_path / "t1")
    lf = local_frame(spark, [(1, "x"), (2, None)], "a bigint, b string")
    before = _last_job(spark)
    snapshot_write(lf, p)
    assert _last_job(spark) == before  # staged driver-side: zero jobs
    assert _rows(snapshot_read(spark, p)) == [(1, "x"), (2, None)]


def test_literal_write_matches_spark_writer_bitwise(spark, tmp_path):
    rows = [
        (1, "x", 2.5, [1, 2], {"k": 1}),
        (-(2**31), "", float("inf"), [], None),
        (7, None, -0.0, None, {"n": None}),
    ]
    schema = (
        "a int, b string, c double, d array<bigint>, e struct<k: int, n: int>"
    )
    pf = str(tmp_path / "fast")
    ps = str(tmp_path / "slow")
    snapshot_write(local_frame(spark, rows, schema), pf)
    codecs = sn._PA_PARQUET_CODEC
    sn._PA_PARQUET_CODEC = {}  # force the Spark writer
    try:
        snapshot_write(local_frame(spark, rows, schema), ps)
    finally:
        sn._PA_PARQUET_CODEC = codecs
    a, b = snapshot_read(spark, pf), snapshot_read(spark, ps)
    assert a.schema == b.schema
    assert _rows(a) == _rows(b)
    # stats envelopes agree: same minmax/nulls keys and values
    ma = list(_read_manifest(pf, 1)["stats"].values())[0]
    mb = list(_read_manifest(ps, 1)["stats"].values())[0]
    assert ma["rows"] == mb["rows"] == 3
    assert ma["minmax"] == mb["minmax"]
    assert ma.get("nulls") == mb.get("nulls")


def test_nan_literal_falls_back_to_spark_writer(spark, tmp_path):
    """parquet-cpp records NaN-EXCLUDING float min/max where parquet-mr
    omits them; the pruning layer trusts omission, so a NaN literal
    frame must take the Spark writer (and record no minmax for the NaN
    column)."""
    p = str(tmp_path / "tnan")
    lf = local_frame(
        spark, [(1, float("nan")), (2, 5.0)], "a bigint, c double"
    )
    before = _last_job(spark)
    snapshot_write(lf, p)
    assert _last_job(spark) > before  # a real Spark write job ran
    stats = list(_read_manifest(p, 1)["stats"].values())[0]
    assert "c" not in stats.get("minmax", {})  # never prune on NaN floats
    got = _rows(snapshot_read(spark, p))
    assert got == [(1, "NaN"), (2, 5.0)]


def test_values_sql_insert_takes_fast_path(spark, tmp_path):
    """INSERT INTO ... VALUES folds to a LocalRelation (no coalesce(1)
    wrapper hiding it) and stages driver-side."""
    from dask_awkward_spark.sources.sqlface import snapshot_sql

    p = str(tmp_path / "tsql")
    tables = {"t": p}
    snapshot_sql(
        spark, f"CREATE TABLE t (id BIGINT, s STRING) LOCATION '{p}'", tables
    )
    before = _last_job(spark)
    snapshot_sql(spark, "INSERT INTO t VALUES (1, 'a'), (2, 'b')", tables)
    assert _last_job(spark) == before
    assert _rows(snapshot_read(spark, p)) == [(1, "a"), (2, "b")]
    head = _versions(p)[-1]
    m = _read_manifest(p, head)
    prev = _read_manifest(p, head - 1)
    # ONE data file added for the two literal rows (no per-row fanout)
    assert len(set(m["files"]) - set(prev["files"])) == 1


def test_timestamp_values_fall_back(spark, tmp_path):
    """Types outside the verified literal set keep the Spark writer."""
    from dask_awkward_spark.sources.sqlface import snapshot_sql

    p = str(tmp_path / "tts")
    tables = {"t": p}
    snapshot_sql(
        spark, f"CREATE TABLE t (ts TIMESTAMP) LOCATION '{p}'", tables
    )
    df = spark.sql(
        "SELECT * FROM (VALUES (TIMESTAMP'2020-03-01 10:00:00') AS v(ts))"
    )
    assert local_rows_table(df) is None
    snapshot_sql(
        spark,
        "INSERT INTO t VALUES (TIMESTAMP'2020-03-01 10:00:00')",
        tables,
    )
    out = snapshot_read(spark, p).collect()
    assert len(out) == 1 and out[0]["ts"].hour == 10


def test_timestamp_values_insert_stages_one_file(spark, tmp_path):
    """A multi-row VALUES insert outside the literal fast path (timestamps)
    still stages ONE data file, not one per row: its analyzed plan is a
    cast projection, so the fan-out guard must read the optimized plan."""
    from dask_awkward_spark.sources.sqlface import snapshot_sql

    p = str(tmp_path / "tts8")
    tables = {"t": p}
    snapshot_sql(
        spark, f"CREATE TABLE t (k BIGINT, ts TIMESTAMP) LOCATION '{p}'", tables
    )
    values = ", ".join(
        f"({i}, TIMESTAMP'2020-03-0{i + 1} 10:00:00')" for i in range(8)
    )
    snapshot_sql(spark, f"INSERT INTO t VALUES {values}", tables)
    head = _versions(p)[-1]
    added = set(_read_manifest(p, head)["files"]) - set(
        _read_manifest(p, head - 1)["files"]
    )
    assert len(added) == 1, added
    got = sorted((r.k, r.ts.day) for r in snapshot_read(spark, p).collect())
    assert got == [(i, i + 1) for i in range(8)]


def test_partitioned_literal_keeps_spark_writer(spark, tmp_path):
    """Hive layout needs the shadow/partitionBy machinery — the fast
    path must not fire, and the layout must come out as usual."""
    p = str(tmp_path / "tpart")
    lf = local_frame(
        spark, [(1, "x"), (2, "y"), (3, "x")], "a bigint, part string"
    )
    before = _last_job(spark)
    snapshot_write(lf, p, partition_by=["part"])
    assert _last_job(spark) > before
    m = _read_manifest(p, 1)
    assert sorted({f.split("/")[1] for f in m["files"]}) == [
        "part=x",
        "part=y",
    ]
    assert _rows(snapshot_read(spark, p, where=[("part", "=", "x")])) == [
        (1, "x"),
        (3, "x"),
    ]


def test_fastpath_file_append_interops_with_spark_files(spark, tmp_path):
    """A table whose versions mix pyarrow-written and Spark-written
    files reads back as one consistent frame."""
    p = str(tmp_path / "tmix")
    snapshot_write(local_frame(spark, [(1, "a")], "a bigint, b string"), p)
    src = spark.range(2, 4).select(
        F.col("id").alias("a"), F.lit("z").alias("b")
    )
    snapshot_write(src, p, mode="append")  # computed frame: Spark writer
    snapshot_write(
        local_frame(spark, [(9, None)], "a bigint, b string"),
        p,
        mode="append",
    )
    assert _rows(snapshot_read(spark, p)) == [
        (1, "a"),
        (2, "z"),
        (3, "z"),
        (9, None),
    ]

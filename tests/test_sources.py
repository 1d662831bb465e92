"""Source/sink round-trip tests (reference tests: test_io.py,
test_parquet.py, test_io_json.py, test_io_text.py)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import dask_awkward_spark as das
from dask_awkward_spark.sources.json import from_json, to_json
from dask_awkward_spark.sources.memory import from_map, to_dataframe
from dask_awkward_spark.sources.parquet import from_parquet, to_parquet
from dask_awkward_spark.sources.text import from_text
from tests.conftest import POINTS


def test_parquet_roundtrip(spark, points, tmp_path):
    path = str(tmp_path / "pts.parquet")
    to_parquet(points, path)
    back = from_parquet(spark, path)
    got = back["v"].compute()
    # row order across files is not guaranteed — compare as multisets
    key = lambda row: json.dumps(row, sort_keys=True)
    assert sorted(got, key=key) == sorted(POINTS, key=key)


def test_parquet_columns_pruned(spark, tmp_path):
    path = str(tmp_path / "li.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    to_parquet(li, path)
    arr = from_parquet(spark, path, columns=["l_orderkey", "l_quantity"])
    assert arr.fields == ["l_orderkey", "l_quantity"]


def test_parquet_report(spark, tmp_path):
    path = str(tmp_path / "li2.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    to_parquet(li.repartition(3), path)
    arr, rep = from_parquet(spark, path, report=True)
    rows = rep.collect()
    assert sum(r["n_rows"] for r in rows) == li.count()
    assert len(rows) == 3


def test_json_line_delimited(spark, tmp_path):
    d = tmp_path / "nd"
    d.mkdir()
    with open(d / "a.json", "w") as f:
        for row in POINTS:
            f.write(json.dumps({"points": row}) + "\n")
    arr = from_json(spark, str(d))
    assert arr["points"]["x"].compute() == [[p["x"] for p in row] for row in POINTS]


def test_json_single_object_per_file(spark, tmp_path):
    d = tmp_path / "sopf"
    d.mkdir()
    with open(d / "one.json", "w") as f:
        json.dump({"record": [1, 2, 3]}, f)
    arr = from_json(spark, str(d), line_delimited=False)
    assert arr["record"].compute() == [[1, 2, 3]]


def test_json_explicit_schema(spark, tmp_path):
    d = tmp_path / "schema"
    d.mkdir()
    with open(d / "a.json", "w") as f:
        f.write('{"v": 1}\n{"v": 2}\n')
    arr = from_json(spark, str(d), schema="v double")
    assert arr["v"].compute() == [1.0, 2.0]


def test_json_sink_roundtrip(spark, jagged, tmp_path):
    path = str(tmp_path / "out.json")
    to_json(jagged.to_df(), path)
    back = from_json(spark, path)
    got = sorted(back["v"].compute(), key=lambda x: (len(x), x))
    exp = sorted([[1, 2, 3], [4, 5], [], [0, 0, 0]], key=lambda x: (len(x), x))
    assert got == exp


def test_text(spark, tmp_path):
    p = tmp_path / "t.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    arr = from_text(spark, str(p))
    assert sorted(arr.compute()) == ["alpha", "beta", "gamma"]


def test_from_map(spark):
    def gen(i):
        for j in range(i):
            yield (i, j)

    arr = from_map(spark, gen, [1, 2, 3], "a int, b int")
    flat = sorted(map(tuple, (tuple(d.values()) for d in arr.compute())))
    assert flat == [(1, 0), (2, 0), (2, 1), (3, 0), (3, 1), (3, 2)]


def test_to_dataframe(points):
    df = to_dataframe(points)
    assert df.columns == ["x", "y"]
    assert df.count() == sum(len(r) for r in POINTS)


def test_behaviors(spark, points):
    from dask_awkward_spark.behaviors import behavior_property, register_behavior
    from dask_awkward_spark.operators.structure import with_name

    @register_behavior("Point")
    class PointBehavior:
        @behavior_property
        def r2(arr):
            return arr["x"] * arr["x"] + arr["y"] * arr["y"]

        def shifted(arr, k):
            return arr["x"] + k

    pts = with_name(points, "Point")
    assert pts.r2.compute() == [
        [p["x"] ** 2 + p["y"] ** 2 for p in row] for row in POINTS
    ]
    assert pts.shifted(10).compute() == [[p["x"] + 10 for p in row] for row in POINTS]


def test_json_report_mode(spark, tmp_path):
    d = tmp_path / "bad"
    d.mkdir()
    with open(d / "a.json", "w") as f:
        f.write('{"v": 1}\nTHIS IS NOT JSON\n{"v": 3}\n')
    arr, bad = from_json(spark, str(d), schema="v bigint", report=True)
    assert sorted(x["v"] for x in arr.compute() if x["v"] is not None) == [1, 3]
    assert bad.count() == 1
    assert "NOT JSON" in bad.collect()[0]["record"]


def test_to_local_iterator(jagged):
    from dask_awkward_spark.sources.memory import to_local_iterator

    got = sorted(map(tuple, to_local_iterator(jagged)))
    from tests.conftest import LISTS

    assert got == sorted(map(tuple, LISTS))


def test_scalar_arithmetic(spark, jagged):
    import dask_awkward_spark as das

    total = das.sum(jagged, axis=None)       # 15
    n = das.count(jagged, axis=None)         # 8
    assert (total + 5).compute() == 20
    assert (total - n).compute() == 7
    assert (total / n).compute() == 15 / 8
    assert (2 * total).compute() == 30
    assert (100 - total).compute() == 85
    assert (total > n).compute() is True


def test_to_parquet_with_prefix(spark, tmp_path):
    """Reference test_parquet.py test_to_parquet_with_prefix: written
    files start with the given prefix instead of part-."""
    import glob
    import os

    import dask_awkward_spark as das

    arr = das.from_lists(spark, [[1, 2], [3]], "array<bigint>")
    out = str(tmp_path / "pq")
    das.to_parquet(arr, out, prefix="data")
    files = [os.path.basename(p) for p in glob.glob(out + "/*.parquet")]
    assert files and all(f.startswith("data-") for f in files)
    back = das.from_parquet(spark, out)["v"]
    assert sorted(back.compute()) == [[1, 2], [3]]


def test_to_parquet_bloom_filter_cols(spark, tmp_path):
    """bloom_filter_cols writes per-column bloom filters: the footer grows
    by roughly the bloom bitset size (pyarrow 16 can't introspect bloom
    offsets, so the size delta is the observable)."""
    import glob
    import os

    from dask_awkward_spark.sources.parquet import to_parquet

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").coalesce(1)
    p_off, p_on = str(tmp_path / "off"), str(tmp_path / "on")
    to_parquet(docs, p_off)
    to_parquet(docs, p_on, bloom_filter_cols={"doc_id": 10_000})
    size = lambda p: sum(os.path.getsize(f) for f in glob.glob(f"{p}/part-*"))  # noqa: E731
    # ndv=10k bloom ~ 16 KiB+; anything clearly nonzero proves it was written
    assert size(p_on) - size(p_off) > 4096


# ---- Python Data Source API (custom IO protocol, reference layers/layers.py:68-155) ----


def _dsgen(n):
    for i in range(n):
        yield {"id": n * 100 + i, "v": float(i), "tag": "t%d" % (i % 3)}


def test_datasource_from_map_partitions(spark):
    """One InputPartition per input descriptor; rows from all partitions."""
    from dask_awkward_spark.sources.datasource import from_datasource

    df = from_datasource(spark, _dsgen, [5, 3, 4], "id bigint, v double, tag string")
    assert df.count() == 12
    assert df.rdd.getNumPartitions() == 3


def test_datasource_filter_pushdown_matches_postfilter(spark):
    """Pushed predicates (comparison + equality + IsNotNull) return the
    same rows Spark would have kept post-filter."""
    from dask_awkward_spark.sources.datasource import from_datasource

    df = from_datasource(spark, _dsgen, [5, 3, 4], "id bigint, v double, tag string")
    got = sorted(r.id for r in df.filter((df.v > 1.0) & (df.tag == "t2")).collect())
    assert got == [302, 402, 502]


def test_datasource_report_shows_source_side_filtering(spark):
    """return_report analogue: per-partition rows_read vs rows_emitted —
    emitted < read proves the filter ran INSIDE read(), not in Spark."""
    from dask_awkward_spark.sources.datasource import from_datasource, read_report

    df = from_datasource(
        spark, _dsgen, [5, 3], "id bigint, v double, tag string", report=True
    )
    data, rep = read_report(df.filter("v >= 1.0"))
    assert data.count() == 6
    rows = {r.partition: (r.rows_read, r.rows_emitted) for r in rep.collect()}
    assert rows == {0: (5, 4), 1: (3, 2)}
    # at least IsNotNull(v) + v >= 1.0 were accepted by pushFilters
    assert all(r.pushed_filters >= 2 for r in rep.collect())


def test_datasource_pushfilters_declines_unsupported(spark):
    """The reader keeps what it can evaluate and hands back the rest;
    Spark re-applies declined filters, so results stay correct either way."""
    from pyspark.sql.datasource import EqualTo, Filter, GreaterThan

    from dask_awkward_spark.sources.datasource import PythonIOReader

    class Unknown(Filter):  # a filter class the reader has never seen
        attribute = ("v",)

    import base64

    from pyspark import cloudpickle
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("id bigint, v double, tag string")
    payload = base64.b64encode(
        cloudpickle.dumps({"fn": _dsgen, "inputs": [2], "report": False})
    ).decode("ascii")
    r = PythonIOReader(schema, {"payload": payload})
    declined = list(
        r.pushFilters([EqualTo(("tag",), "t1"), GreaterThan(("v",), 0.5), Unknown()])
    )
    assert len(declined) == 1 and isinstance(declined[0], Unknown)
    assert len(r.accepted) == 2


def test_datasource_stream_replays_descriptor_log(spark, tmp_path):
    """Streaming twin: descriptors drain as micro-batches (batch_size per
    trigger), fn runs per-partition, every row arrives exactly once."""
    import uuid

    from dask_awkward_spark.sources.datasource import stream_from_datasource

    def gen(n):
        for i in range(n):
            yield {"id": n * 100 + i, "v": float(i)}

    st = stream_from_datasource(spark, gen, [5, 3, 4, 2], "id bigint, v double", batch_size=2)
    name = "st_" + uuid.uuid4().hex[:6]
    q = (
        st.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # at batch_size=2 the 4 descriptors need >= 2 micro-batches
    n_batches = q.lastProgress["batchId"] + 1
    q.stop()
    out = spark.table(name)
    assert out.count() == 14
    assert sorted(r.id for r in out.collect())[:3] == [200, 201, 300]
    assert n_batches >= 2


def test_datasource_sink_commit_protocol(spark, tmp_path):
    """Custom sink: write_fn per partition on executors -> descriptor;
    commit_fn once on the driver with all descriptors (manifest step)."""
    import glob
    import json
    import os

    from dask_awkward_spark.sources.datasource import to_datasource

    out = str(tmp_path)

    def write_part(rows, _out=out):
        import os
        import uuid

        p = os.path.join(_out, f"part-{uuid.uuid4().hex[:8]}.csv")
        n = 0
        with open(p, "w") as fh:
            for r in rows:
                fh.write(f"{r.id},{r.v}\n")
                n += 1
        return {"file": p, "rows": n}

    def commit(descs, _out=out):
        import json
        import os

        with open(os.path.join(_out, "_MANIFEST.json"), "w") as fh:
            json.dump(sorted(descs, key=lambda d: d["file"]), fh)

    df = spark.range(100).selectExpr("id", "id * 2 AS v").repartition(4)
    to_datasource(df, write_part, commit)

    man = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert len(man) == 4
    assert sum(d["rows"] for d in man) == 100
    rows = sorted(
        tuple(map(int, line.split(",")))
        for f in glob.glob(out + "/part-*.csv")
        for line in open(f).read().splitlines()
    )
    assert rows == [(i, 2 * i) for i in range(100)]
    # manifest lists exactly the files that exist (committed set only)
    assert sorted(d["file"] for d in man) == sorted(glob.glob(out + "/part-*.csv"))


def test_datasource_pushdown_removes_plan_filter(spark):
    """Accepted pushFilters are TRUSTED: Spark removes the Filter node
    entirely (rows die inside read()), while an unpushable predicate
    (arithmetic expression) stays as a plan Filter above the scan."""
    from dask_awkward_spark.sources.datasource import from_datasource

    import re

    has_filter_node = lambda plan: re.search(r"\bFilter\b(?!s)", plan)  # noqa: E731
    df = from_datasource(spark, _dsgen, [5, 3], "id bigint, v double, tag string")
    pushed = df.filter("v > 1.0")._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan python_io" in pushed
    assert not has_filter_node(pushed), pushed  # "RuntimeFilters: []" is not a node
    kept = df.filter("v + id > 3")._jdf.queryExecution().executedPlan().toString()
    assert has_filter_node(kept), kept


def test_datasource_stream_sink_per_batch_commit(spark, tmp_path):
    """Streaming function sink: write_fn per task per micro-batch,
    commit_fn(descs, batch_id) once per micro-batch — the transactional
    foreachBatch pattern as a reusable sink. End-to-end: custom stream
    source -> custom stream sink."""
    import glob
    import json

    from dask_awkward_spark.sources.datasource import (
        stream_from_datasource,
        stream_to_datasource,
    )

    out = str(tmp_path)

    def gen(n):
        for i in range(n):
            yield {"id": n * 100 + i, "v": float(i)}

    st = stream_from_datasource(spark, gen, [5, 3, 4], "id bigint, v double", batch_size=1)

    def write_part(rows, _out=out):
        import os
        import uuid

        p = os.path.join(_out, f"data-{uuid.uuid4().hex[:8]}.csv")
        n = 0
        with open(p, "w") as fh:
            for r in rows:
                fh.write(f"{r.id},{r.v}\n")
                n += 1
        return {"file": p, "rows": n}

    def commit(descs, batch_id, _out=out):
        import json
        import os

        with open(os.path.join(_out, f"manifest-{batch_id}.json"), "w") as fh:
            json.dump(descs, fh)

    stream_to_datasource(st, write_part, commit, checkpoint_dir=str(tmp_path / "ckpt"))

    manifests = sorted(glob.glob(out + "/manifest-*.json"))
    assert len(manifests) == 3  # batch_size=1 over 3 descriptors
    per_batch = [sum(d["rows"] for d in json.load(open(m))) for m in manifests]
    assert sorted(per_batch) == [3, 4, 5]
    ids = sorted(
        int(line.split(",")[0])
        for f in glob.glob(out + "/data-*.csv")
        for line in open(f).read().splitlines()
    )
    assert len(ids) == 12 and ids[0] == 300 and ids[-1] == 504


# ---- round-5 hardening: pushdown semantics, report completeness, ----
# ---- sink abort protocol, stream checkpoint recovery ----


def _mk_reader(inputs=(2,), report=False):
    import base64

    from pyspark import cloudpickle
    from pyspark.sql.types import StructType

    from dask_awkward_spark.sources.datasource import REPORT_COL, PythonIOReader

    ddl = "id bigint, v double, tag string" + (f", {REPORT_COL} string" if report else "")
    payload = base64.b64encode(
        cloudpickle.dumps({"fn": _dsgen, "inputs": list(inputs), "report": report})
    ).decode("ascii")
    return PythonIOReader(StructType.fromDDL(ddl), {"payload": payload})


def test_datasource_declines_nan_comparison_filters(spark):
    """Python NaN comparison semantics differ from Spark SQL's (NaN==NaN
    is true in SQL, false in Python) — NaN-valued predicates must be
    handed back so Spark evaluates them natively."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    r = _mk_reader()
    nan = float("nan")
    declined = list(
        r.pushFilters(
            [EqualTo(("v",), nan), GreaterThan(("v",), nan), In(("v",), (1.0, nan))]
        )
    )
    assert len(declined) == 3
    assert r.accepted == []


def test_datasource_in_list_ignores_null_element(spark):
    """SQL: x IN (1, NULL) is never TRUE for x=NULL — a pushed In filter
    must not let null rows through via Python's `None in {...}`."""
    from dask_awkward_spark.sources.datasource import from_datasource

    def gen(n):
        yield {"id": 1, "v": None, "tag": "a"}
        yield {"id": 2, "v": 2.0, "tag": "b"}

    df = from_datasource(spark, gen, [2], "id bigint, v double, tag string")
    got = df.filter(F.col("v").isin(2.0, None)).collect()
    assert [r.id for r in got] == [2]


def test_datasource_declines_report_column_filters(spark):
    """__report__ exists in the DDL schema but not in fn's row dicts;
    pushing a predicate on it would evaluate against None and drop
    every row — it must be declined."""
    from pyspark.sql.datasource import IsNotNull

    from dask_awkward_spark.sources.datasource import REPORT_COL, from_datasource, read_report

    r = _mk_reader(report=True)
    declined = list(r.pushFilters([IsNotNull((REPORT_COL,))]))
    assert len(declined) == 1 and r.accepted == []

    # end-to-end: filtering on __report__ still returns all data rows
    df = from_datasource(spark, _dsgen, [3], "id bigint, v double, tag string", report=True)
    assert df.filter(F.col(REPORT_COL).isNotNull()).count() == 3
    data, rep = read_report(df)
    assert data.count() == 3


def test_datasource_report_covers_fully_filtered_partitions(spark):
    """A partition whose rows all die at the pushed filter must still
    appear in the report (the reference's return_report records every
    partition) — and its sentinel carrier row must NOT leak into data."""
    from dask_awkward_spark.sources.datasource import from_datasource, read_report

    df = from_datasource(
        spark, _dsgen, [5, 3], "id bigint, v double, tag string", report=True
    )
    # id >= 500 kills ALL of partition 1 (ids 300..302) at the source
    data, rep = read_report(df.filter("id >= 500"))
    assert sorted(r.id for r in data.collect()) == [500, 501, 502, 503, 504]
    rows = {r.partition: (r.rows_read, r.rows_emitted) for r in rep.collect()}
    assert rows == {0: (5, 5), 1: (3, 0)}


def test_datasource_sink_abort_fires_commit_does_not(spark, tmp_path):
    """Exactly-once write face: a failing partition must route the
    surviving descriptors to abort_fn for cleanup, and commit_fn (the
    manifest step) must never run."""
    import json

    from dask_awkward_spark.sources.datasource import to_datasource

    committed = tmp_path / "manifest.json"
    aborted = tmp_path / "aborted.json"

    def write_part(rows):
        ids = [r.id for r in rows]
        if 3 in ids:
            raise RuntimeError("injected task failure")
        return {"n": len(ids)}

    def commit(descs):
        committed.write_text(json.dumps(descs))

    def abort(descs):
        aborted.write_text(json.dumps(descs))

    df = spark.range(8).repartition(4)
    with pytest.raises(Exception, match="injected task failure"):
        to_datasource(df, write_part, commit, abort)
    assert not committed.exists(), "commit_fn must not run after a task failure"
    assert aborted.exists(), "abort_fn must receive the partial descriptors"
    assert all(set(d) == {"n"} for d in json.loads(aborted.read_text()))


def test_datasource_sink_rejects_overwrite_mode(spark):
    """save(mode='overwrite') must fail loudly, not silently append."""
    from dask_awkward_spark.sources.datasource import register, _dumps_by_value
    import base64

    register(spark)
    payload = base64.b64encode(
        _dumps_by_value({"fn": None, "write_fn": lambda rows: None})
    ).decode("ascii")
    with pytest.raises(Exception, match="append"):
        (
            spark.range(2)
            .write.format("python_io")
            .option("payload", payload)
            .mode("overwrite")
            .save()
        )


def test_datasource_stream_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restart from checkpoint with a grown descriptor log: the fresh
    reader must resume at the committed offset — no re-emitted (duplicate)
    descriptors, no skipped ones (the round-4 advice finding: driver-local
    _pos restarting at 0 made latestOffset regress behind the commit)."""
    from dask_awkward_spark.sources.datasource import stream_from_datasource

    ckpt, outdir = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def gen(tag):
        yield {"id": tag}

    def run(n_descriptors):
        st = stream_from_datasource(
            spark, gen, list(range(n_descriptors)), "id bigint", batch_size=1
        )
        q = (
            st.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run(4)  # first run drains descriptors 0..3 and commits offset 4
    run(6)  # restart: same checkpoint, log grew to 0..5
    got = sorted(r.id for r in spark.read.parquet(outdir).collect())
    assert got == [0, 1, 2, 3, 4, 5]


def test_stream_to_datasource_cleans_ephemeral_checkpoint(spark, tmp_path, track_mkdtemp):
    """The default (caller gave no checkpoint_dir) must not leak a temp
    dir per call."""
    import os

    from dask_awkward_spark.sources.datasource import (
        stream_from_datasource,
        stream_to_datasource,
    )

    def gen(tag):
        yield {"id": tag}

    st = stream_from_datasource(spark, gen, [1, 2], "id bigint", batch_size=2)
    stream_to_datasource(st, lambda rows: len(list(rows)))
    mine = [p for p in track_mkdtemp if "dakspark_pyio_ckpt_" in p]
    assert mine and not any(os.path.exists(p) for p in mine)


def test_datasource_pushed_ordering_filters_match_spark_nan_semantics(spark):
    """Spark SQL orders NaN above all doubles (NaN > 5.0 is TRUE); a
    pushed GreaterThan must keep NaN rows exactly like the native
    engine would — the accepted filter is trusted and Spark removes its
    own Filter node."""
    from dask_awkward_spark.sources.datasource import from_datasource

    def gen(n):
        yield {"id": 1, "v": float("nan"), "tag": "a"}
        yield {"id": 2, "v": 6.0, "tag": "b"}
        yield {"id": 3, "v": 1.0, "tag": "c"}

    df = from_datasource(spark, gen, [3], "id bigint, v double, tag string")
    native = spark.createDataFrame(
        [(1, float("nan"), "a"), (2, 6.0, "b"), (3, 1.0, "c")], "id bigint, v double, tag string"
    )
    for cond in ("v > 5.0", "v >= 5.0", "v < 5.0", "v <= 5.0"):
        got = sorted(r.id for r in df.filter(cond).collect())
        want = sorted(r.id for r in native.filter(cond).collect())
        assert got == want, cond


def test_scan_partitions_estimate_matches_rdd_probe(spark, tmp_path):
    """r13 (ADVICE r12 items 1-2): the FilePartition-packing estimate
    must equal the exact RDD probe — including under an explicit
    spark.sql.files.minPartitionNum and with non-.parquet-suffixed data
    files in the directory (Spark packs every non-hidden file)."""
    from dask_awkward_spark.sources.tables import scan_partitions_estimate

    p = str(tmp_path / "t")
    spark.range(200_000).selectExpr("id", "id * 2 AS v").repartition(
        7
    ).write.parquet(p)
    # a differently-suffixed data file Spark will still pack
    import glob, shutil

    f0 = sorted(glob.glob(f"{p}/part-*.parquet"))[0]
    shutil.copy(f0, f"{p}/extra.dat")

    def probe():
        return spark.read.parquet(p).rdd.getNumPartitions()

    est = scan_partitions_estimate(spark, p, fallback=lambda: -1)
    assert est == probe(), (est, probe())
    # minPartitionNum drives bytesPerCore when set
    spark.conf.set("spark.sql.files.minPartitionNum", "3")
    try:
        est2 = scan_partitions_estimate(spark, p, fallback=lambda: -1)
        assert est2 == probe(), (est2, probe())
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")


# ---- from_parquet's inferred-schema cache ----


def _last_job(spark):
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup() or []
    return max(ids) if ids else -1


def _jobs_of(spark, fn):
    before = _last_job(spark)
    out = fn()
    return _last_job(spark) - before, out


def _write_nested(path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i in range(3):
        cols = {
            "id": pa.array([i * 10 + j for j in range(4)], pa.int64()),
            "parts": pa.array(
                [[{"pt": float(j), "q": j % 2}] * j for j in range(4)],
                pa.list_(pa.struct([("pt", pa.float64()), ("q", pa.int32())])),
            ),
            "tags": pa.array([["a", "b"][:j] for j in range(4)], pa.list_(pa.string())),
            "meta": pa.array(
                [{"src": f"f{i}", "w": {"v": j}} for j in range(4)],
                pa.struct([("src", pa.string()), ("w", pa.struct([("v", pa.int64())]))]),
            ),
        }
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{i}.parquet"))


def test_from_parquet_warm_read_runs_no_job(spark, tmp_path):
    """A repeated scan of unchanged local files reuses the inferred
    schema (nested structs, list<string>): zero Spark jobs until an
    action, the same schema and answer as plain inference."""
    p = str(tmp_path / "ev")
    _write_nested(p)
    cold, _ = _jobs_of(spark, lambda: from_parquet(spark, p))
    assert cold >= 1  # schema inference is a Spark job
    warm, a = _jobs_of(spark, lambda: from_parquet(spark, p))
    assert warm == 0
    ref = spark.read.parquet(p)
    assert a._df.schema == ref.schema
    assert sorted(a._df.collect()) == sorted(ref.collect())
    b = from_parquet(spark, p, columns=["id", "tags"])
    assert b._df.schema == ref.select("id", "tags").schema
    # the file: URI spelling and a list of files are keyed the same way
    assert _jobs_of(spark, lambda: from_parquet(spark, "file://" + p))[0] == 0
    files = sorted(str(f) for f in (tmp_path / "ev").iterdir())
    from_parquet(spark, files)
    assert _jobs_of(spark, lambda: from_parquet(spark, files))[0] == 0


def _nanos_file(path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    ts = np.array([1, 2, 3], dtype="datetime64[ns]")
    pq.write_table(
        pa.table({"ts": pa.array(ts), "k": pa.array([1, 2, 3])}),
        os.path.join(path, "a.parquet"),
        version="2.6",
        coerce_timestamps=None,
    )


@pytest.mark.parametrize("layout", ["hive", "nanos"])
def test_from_parquet_cached_schema_equals_inference(spark, tmp_path, layout):
    """The cached schema is exactly what plain inference returns for hive
    partition columns and for a TIMESTAMP(NANOS) file read as bigint
    under nanosAsLong."""
    p = str(tmp_path / layout)
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    if layout == "hive":
        spark.range(12).selectExpr(
            "id", "array(cast(id AS string)) AS tags", "id % 3 AS day"
        ).write.partitionBy("day").parquet(p)
    else:
        _nanos_file(p)
        spark.conf.set(nanos, "true")
    try:
        from_parquet(spark, p)
        jobs, arr = _jobs_of(spark, lambda: from_parquet(spark, p))
        ref = spark.read.parquet(p)
        assert jobs == 0
        assert arr._df.schema == ref.schema
        assert sorted(arr._df.collect()) == sorted(ref.collect())
        if layout == "nanos":
            # the inference conf is part of the key: flipping it back
            # takes Spark's own path, which rejects TIMESTAMP(NANOS)
            spark.conf.unset(nanos)
            with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|NANOS"):
                from_parquet(spark, p)
    finally:
        spark.conf.unset(nanos)


def test_from_parquet_sees_changed_files(spark, tmp_path):
    """Every change to the listing re-infers: an overwrite with a new
    schema, an in-place rewrite of one file, and an added file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    to_parquet(spark.range(5).selectExpr("id AS a"), p)
    assert from_parquet(spark, p)._df.columns == ["a"]
    to_parquet(spark.range(5).selectExpr("id AS a", "'x' AS b"), p)
    assert from_parquet(spark, p)._df.columns == ["a", "b"]

    q = str(tmp_path / "one")
    os.makedirs(q)
    f = os.path.join(q, "f.parquet")
    pq.write_table(pa.table({"a": [1]}), f)
    assert from_parquet(spark, q)._df.columns == ["a"]
    pq.write_table(pa.table({"a": [1], "c": [[1.5]]}), f)
    arr = from_parquet(spark, q)
    assert arr._df.schema == spark.read.parquet(q).schema
    assert arr._df.columns == ["a", "c"]

    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert from_parquet(spark, q)._df.columns == ["a", "c"]
        pq.write_table(pa.table({"a": [2], "d": ["z"]}), os.path.join(q, "g.parquet"))
        arr = from_parquet(spark, q)
        assert arr._df.schema == spark.read.parquet(q).schema
        assert sorted(arr._df.columns) == ["a", "c", "d"]
        assert sorted(r.a for r in arr._df.collect()) == [1, 2]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_from_parquet_glob_path_still_infers(spark, tmp_path):
    """A glob is a pattern, not a listing: every call infers, as before."""
    p = str(tmp_path / "g")
    _write_nested(p)
    pattern = os.path.join(p, "part-*.parquet")
    from_parquet(spark, pattern)
    jobs, arr = _jobs_of(spark, lambda: from_parquet(spark, pattern))
    assert jobs >= 1
    assert arr._df.schema == spark.read.parquet(p).schema


def test_from_parquet_schema_cache_threads(spark, tmp_path, monkeypatch):
    """Threads sharing the LRU (shrunk to force evictions) each get their
    own path's inferred schema, and the cache never outgrows its bound."""
    import sys
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    import dask_awkward_spark.sources.parquet as sp

    monkeypatch.setattr(sp, "_SCHEMA_CACHE_SIZE", 2)
    paths = []
    for i in range(4):
        p = str(tmp_path / f"d{i}")
        os.makedirs(p)
        pq.write_table(pa.table({f"c{i}": [i]}), os.path.join(p, "a.parquet"))
        paths.append(p)
    wrong, errors = [], []

    def worker(k):
        try:
            for j in range(4):
                i = (k + j) % len(paths)
                if from_parquet(spark, paths[i])._df.columns != [f"c{i}"]:
                    wrong.append((k, i))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors and not wrong, (errors, wrong)
    assert len(sp._SCHEMA_CACHE) <= 2

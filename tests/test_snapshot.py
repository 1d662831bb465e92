"""Snapshot tables (sources/snapshot.py): atomic commits, time travel,
append isolation, compaction without disturbing readers, vacuum GC,
and the concurrency contract (CAS commits, retention-gated vacuum)."""

from __future__ import annotations

import glob
import os

import pytest

# every test in this module runs under BOTH data-plane backends
# (posix hard-link / object-store copy emulation) — VERDICT r6 item 1
pytestmark = pytest.mark.usefixtures("snapshot_storage_backend")
from pyspark.sql import functions as F

from dask_awkward_spark.sources.snapshot import (
    SnapshotConflictError,
    _commit_manifest,
    snapshot_changes,
    snapshot_compact,
    snapshot_read,
    snapshot_versions,
    snapshot_vacuum,
    snapshot_write,
)


def _rival_manifest(spark, version, parent):
    """A competing writer's (empty) manifest, schema struct<id:bigint>."""
    return {
        "version": version,
        "parent": parent,
        "op": "overwrite",
        "files": [],
        "schema_ddl": "struct<id:bigint>",
        "schema_json": spark.range(1).schema.json(),
        "committed_at": 0,
    }


def test_write_read_overwrite_append_time_travel(spark, tmp_path):
    p = str(tmp_path / "tbl")
    v1 = snapshot_write(spark.range(10), p)
    v2 = snapshot_write(spark.range(10, 15), p, mode="append")
    v3 = snapshot_write(spark.range(100, 103), p, mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == [100, 101, 102]
    assert sorted(r.id for r in snapshot_read(spark, p, version=2).collect()) == list(range(15))
    assert sorted(r.id for r in snapshot_read(spark, p, version=1).collect()) == list(range(10))
    log = snapshot_versions(p)
    assert [m["op"] for m in log] == ["overwrite", "append", "overwrite"]
    assert log[1]["parent"] == 1


def test_commit_race_retries_to_next_version(spark, tmp_path):
    """A competing writer claiming the next version forces a retry —
    nobody's commit is lost or overwritten."""
    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)
    # simulate a concurrent winner for v2
    assert _commit_manifest(p, 2, _rival_manifest(spark, 2, 1))
    v = snapshot_write(spark.range(7), p, mode="overwrite")
    assert v == 3  # retried past the claimed version
    assert snapshot_read(spark, p).count() == 7
    assert snapshot_read(spark, p, version=2).count() == 0  # the rival's empty commit


def test_expect_head_is_compare_and_swap(spark, tmp_path):
    """With expect_head, a moved head raises instead of silently
    committing over the concurrent write."""
    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)
    assert _commit_manifest(p, 2, _rival_manifest(spark, 2, 1))
    with pytest.raises(SnapshotConflictError):
        snapshot_write(spark.range(7), p, mode="overwrite", expect_head=1)
    assert snapshot_versions(p)[-1]["version"] == 2  # nothing committed


def test_append_does_not_rewrite_old_files(spark, tmp_path):
    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10), p)
    before = set(glob.glob(f"{p}/data/*.parquet"))
    snapshot_write(spark.range(10, 20), p, mode="append")
    after = set(glob.glob(f"{p}/data/*.parquet"))
    assert before < after  # old files untouched, new ones added
    assert snapshot_read(spark, p).count() == 20


def test_append_schema_mismatch_refused(spark, tmp_path):
    """Parquet schema drift is refused at commit time, not smeared
    across the file set for footer sampling to resolve at random."""
    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(3), p)
    evolved = spark.range(3).withColumn("label", F.lit("x"))
    with pytest.raises(ValueError, match="append schema mismatch"):
        snapshot_write(evolved, p, mode="append")
    assert len(snapshot_versions(p)) == 1  # nothing committed


def test_read_pins_manifest_schema(spark, tmp_path):
    """snapshot_read scans with the recorded schema — column set and
    types come from the manifest, not from sampling one file."""
    p = str(tmp_path / "tbl")
    df = spark.range(4).withColumn("w", F.col("id").cast("double"))
    snapshot_write(df, p)
    got = snapshot_read(spark, p)
    # names+types pinned (file scans relax nullability — that's Spark's own rule)
    assert got.schema.simpleString() == df.schema.simpleString()
    assert got.count() == 4


def test_compact_new_version_old_reader_unaffected(spark, tmp_path):
    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(1000).repartition(16), p)
    pinned = snapshot_read(spark, p, version=1)  # reader pinned to v1
    v = snapshot_compact(spark, p, target_file_bytes=1 << 30)
    assert v == 2
    assert snapshot_read(spark, p).count() == 1000
    assert pinned.count() == 1000  # v1's files are immutable and still there
    m = snapshot_versions(p)
    assert len(m[-1]["files"]) < len(m[0]["files"])


def test_compact_redoes_after_concurrent_append(spark, tmp_path, monkeypatch):
    """An append landing mid-compact is never lost: the CAS commit
    conflicts and compact restarts from the new head."""
    import dask_awkward_spark.sources.snapshot as snap

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).repartition(8), p)

    real_read = snap._read_manifest
    appended = {"done": False}

    def read_then_append(path, version):
        m = real_read(path, version)
        if not appended["done"]:
            appended["done"] = True
            snapshot_write(spark.range(100, 110), p, mode="append")
        return m

    monkeypatch.setattr(snap, "_read_manifest", read_then_append)
    v = snapshot_compact(spark, p, target_file_bytes=1 << 30)
    monkeypatch.undo()
    # v1 write, v2 concurrent append, v3 compact (restarted once)
    assert v == 3
    assert snapshot_read(spark, p).count() == 110  # appended rows survive


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).repartition(4), p)
    snapshot_write(spark.range(50), p, mode="overwrite")
    n_before = len(glob.glob(f"{p}/data/*.parquet"))
    stats = snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    assert stats["removed_manifests"] == 1
    assert stats["removed_files"] > 0
    assert len(glob.glob(f"{p}/data/*.parquet")) == n_before - stats["removed_files"]
    assert snapshot_read(spark, p).count() == 50  # head intact
    with pytest.raises(ValueError):
        snapshot_read(spark, p, version=1)  # history gone by request


def test_vacuum_retention_protects_fresh_files(spark, tmp_path):
    """Default retention: recently-dereferenced files are NOT deleted,
    and the manifest proving their grace period stays with them (log
    trimming lags file retention, like Delta's log retention)."""
    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).repartition(4), p)
    snapshot_write(spark.range(50), p, mode="overwrite")
    stats = snapshot_vacuum(p, keep_last=1)  # default 24 h retention
    assert stats == {"removed_manifests": 0, "removed_files": 0}
    # the grace period survives REPEATED vacuums: a second run must not
    # fall back to the (old) file mtime once the first trimmed the log
    import glob as _glob
    import time as _time

    old = _time.time() - 2 * 86400
    for f in _glob.glob(f"{p}/data/*.parquet"):
        os.utime(f, (old, old))
    assert snapshot_vacuum(p, keep_last=1)["removed_files"] == 0
    assert snapshot_vacuum(p, keep_last=1)["removed_files"] == 0
    assert snapshot_read(spark, p, version=1).count() == 100  # pinned reader OK


def test_crashed_staging_leaves_no_visible_data(spark, tmp_path, monkeypatch):
    """A crash before commit leaves only unreferenced files — readers of
    the table see nothing new, and vacuum reclaims the garbage."""
    import dask_awkward_spark.sources.snapshot as snap

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)

    def boom(*a, **k):
        raise RuntimeError("crash between stage and commit")

    monkeypatch.setattr(snap, "_commit_manifest", boom)
    with pytest.raises(RuntimeError):
        snapshot_write(spark.range(99), p, mode="overwrite")
    monkeypatch.undo()
    assert snapshot_read(spark, p).count() == 5  # still v1
    stats = snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    assert stats["removed_files"] > 0  # the orphaned staged files
    assert snapshot_read(spark, p).count() == 5


def test_vacuum_sweeps_crashed_staging_dirs(spark, tmp_path, monkeypatch):
    """A write that dies DURING the Spark write leaves a .staging-* dir;
    vacuum (past retention) removes it."""
    import dask_awkward_spark.sources.snapshot as snap

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)
    # plant a crashed staging dir (rmtree in _stage_files never ran)
    os.makedirs(os.path.join(p, ".staging-deadbeef"))
    snapshot_vacuum(p, retain_seconds=0)
    assert not glob.glob(f"{p}/.staging-*")
    snapshot_read(spark, p)  # table unharmed


def test_schema_recorded_and_empty_version_readable(spark, tmp_path):
    p = str(tmp_path / "tbl")
    df = spark.range(3).withColumn("v", F.col("id") * 2.0)
    snapshot_write(df, p)
    m = snapshot_versions(p)[-1]
    assert m["schema_ddl"] == df.schema.simpleString()
    # empty-files version reads back as an empty frame with the schema
    assert _commit_manifest(p, 2, _rival_manifest(spark, 2, 1))
    empty = snapshot_read(spark, p, version=2)
    assert empty.count() == 0
    assert empty.schema.fieldNames() == ["id"]


def test_file_skipping_prunes_and_matches_full_scan(spark, tmp_path):
    """Min/max pruning drops files outside the predicate range, and the
    pruned read returns exactly what an unpruned filter would."""
    from dask_awkward_spark.sources.snapshot import snapshot_scan_report

    p = str(tmp_path / "tbl")
    # 8 files, each covering a disjoint id range (repartitionByRange)
    df = spark.range(8000).withColumn("v", F.col("id") % 7)
    snapshot_write(df.repartitionByRange(8, "id"), p)
    rep = snapshot_scan_report(p, [("id", ">=", 6500)])
    assert rep["total"] == 8 and rep["skipped"] >= 6
    pruned = snapshot_read(spark, p, where=[("id", ">=", 6500)])
    full = snapshot_read(spark, p).filter(F.col("id") >= 6500)
    assert sorted(r.id for r in pruned.collect()) == sorted(r.id for r in full.collect())


def test_file_skipping_ops_semantics(spark, tmp_path):
    """Every pruning operator returns the same rows as the plain filter
    (pruning is an optimization, never a semantic change)."""
    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(1000).repartitionByRange(5, "id"), p)
    cases = [
        [("id", "=", 123)],
        [("id", "<", 40)],
        [("id", "<=", 200)],
        [("id", ">", 960)],
        [("id", ">=", 999)],
        [("id", "in", [3, 999, 5000])],
        [("id", ">=", 100), ("id", "<", 120)],  # ANDed range
        [("id", ">", 99999)],  # empty result, all files skipped
    ]
    base = snapshot_read(spark, p)
    for where in cases:
        got = sorted(r.id for r in snapshot_read(spark, p, where=where).collect())
        cond = None
        for c, op, v in where:
            col = F.col(c)
            e = {"=": col == v, "<": col < v, "<=": col <= v, ">": col > v,
                 ">=": col >= v}.get(op, col.isin(v if isinstance(v, list) else [v]))
            cond = e if cond is None else (cond & e)
        want = sorted(r.id for r in base.filter(cond).collect())
        assert got == want, where


def test_file_skipping_never_unsafe_without_stats(spark, tmp_path):
    """Files with no stats for the predicate column are always scanned."""
    import json as _json
    from dask_awkward_spark.sources.snapshot import _manifest_dir, snapshot_scan_report

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).repartitionByRange(4, "id"), p)
    # strip the stats from the committed manifest
    mf = os.path.join(_manifest_dir(p), "v00000001.json")
    m = _json.load(open(mf))
    m["stats"] = {}
    _json.dump(m, open(mf, "w"))
    rep = snapshot_scan_report(p, [("id", ">=", 99999)])
    assert rep["skipped"] == 0  # no stats -> no pruning, never wrong results
    assert snapshot_read(spark, p, where=[("id", ">=", 50)]).count() == 50


def test_file_skipping_string_and_timestamp(spark, tmp_path):
    """Pruning works on string and timestamp columns (the 100 TB
    time-range case), via the tagged stat encoding."""
    import datetime

    p = str(tmp_path / "tbl")
    df = spark.range(400).select(
        F.concat(F.lit("k"), F.format_string("%03d", F.col("id"))).alias("k"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(hours=F.col("id"))).alias("ts"),
    )
    snapshot_write(df.repartitionByRange(4, "k"), p)
    from dask_awkward_spark.sources.snapshot import snapshot_scan_report

    rep = snapshot_scan_report(p, [("k", ">=", "k350")])
    assert rep["skipped"] >= 2
    cut = datetime.datetime(2026, 1, 15)
    # timestamps MUST actually prune (staged as INT64 micros, naive
    # predicate interpreted in the session tz) — INT96 staging would
    # silently record no stats and make this the 100 TB no-op
    tz = spark.conf.get("spark.sql.session.timeZone")
    rep_ts = snapshot_scan_report(p, [("ts", ">=", cut)], tz=tz)
    assert rep_ts["skipped"] >= 2
    got = snapshot_read(spark, p, where=[("ts", ">=", cut)])
    want = snapshot_read(spark, p).filter(F.col("ts") >= F.lit(cut))
    assert got.count() == want.count() > 0


def test_append_keeps_both_sides_stats(spark, tmp_path):
    """Stats survive append commits: old and new files both prunable."""
    from dask_awkward_spark.sources.snapshot import snapshot_scan_report

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).repartition(1), p)
    snapshot_write(spark.range(1000, 1100).repartition(1), p, mode="append")
    rep = snapshot_scan_report(p, [("id", ">=", 1000)])
    assert rep == {"total": 2, "scanned": 1, "skipped": 1}
    assert snapshot_read(spark, p, where=[("id", ">=", 1000)]).count() == 100


def _descriptor_stream(spark, n):
    from dask_awkward_spark.sources.datasource import stream_from_datasource

    def gen(tag):
        yield {"id": tag}

    return stream_from_datasource(spark, gen, list(range(n)), "id bigint", batch_size=1)


def test_stream_to_snapshot_ingests_batches_atomically(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import stream_to_snapshot

    p = str(tmp_path / "tbl")
    stream_to_snapshot(_descriptor_stream(spark, 4), p)
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == [0, 1, 2, 3]
    log = snapshot_versions(p)
    assert [m["op"] for m in log] == ["append"] * 4  # one atomic commit per batch
    assert log[-1]["stream_batch_id"] == 3


def test_stream_to_snapshot_checkpoint_restart_no_dups_no_gaps(spark, tmp_path):
    """Durable checkpoint + grown source log: restart resumes exactly
    where the committed offset left off."""
    from dask_awkward_spark.sources.snapshot import stream_to_snapshot

    p, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    stream_to_snapshot(_descriptor_stream(spark, 4), p, checkpoint_dir=ckpt)
    stream_to_snapshot(_descriptor_stream(spark, 6), p, checkpoint_dir=ckpt)
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == [0, 1, 2, 3, 4, 5]


def test_stream_to_snapshot_replay_guard_after_lost_checkpoint(spark, tmp_path):
    """Worst-case restart: the CHECKPOINT is gone, so Spark replays every
    micro-batch from 0. With a STABLE app_id (Delta's txnAppId
    contract, round-11 scoping) the manifest watermark makes the
    replay idempotent — already-committed batch ids are skipped, only
    genuinely new ones append."""
    from dask_awkward_spark.sources.snapshot import stream_to_snapshot

    p = str(tmp_path / "tbl")
    stream_to_snapshot(
        _descriptor_stream(spark, 4), p,
        checkpoint_dir=str(tmp_path / "c1"), app_id="pipe",
    )
    # fresh checkpoint, SAME app: batches 0..5 replay over the grown log
    stream_to_snapshot(
        _descriptor_stream(spark, 6), p,
        checkpoint_dir=str(tmp_path / "c2"), app_id="pipe",
    )
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == [0, 1, 2, 3, 4, 5]
    # a DIFFERENT app (the default: checkpoint-derived) is a NEW stream:
    # its batches land even though its ids restart at 0 — new data is
    # never silently swallowed by another stream's watermark
    stream_to_snapshot(
        _descriptor_stream(spark, 2), p, checkpoint_dir=str(tmp_path / "c3")
    )
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == (
        [0, 0, 1, 1, 2, 3, 4, 5]
    )


def test_stream_watermark_survives_compaction(spark, tmp_path):
    """Compaction commits between stream batches must not lose the
    exactly-once watermark (it carries forward through every commit)."""
    from dask_awkward_spark.sources.snapshot import stream_to_snapshot

    p = str(tmp_path / "tbl")
    stream_to_snapshot(
        _descriptor_stream(spark, 3), p,
        checkpoint_dir=str(tmp_path / "c1"), app_id="pipe",
    )
    snapshot_compact(spark, p)
    assert snapshot_versions(p)[-1]["stream_batch_id"] == 2  # carried forward
    snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    # full replay with a lost checkpoint (same app): nothing duplicates
    stream_to_snapshot(
        _descriptor_stream(spark, 3), p,
        checkpoint_dir=str(tmp_path / "c2"), app_id="pipe",
    )
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == [0, 1, 2]


def test_stream_to_snapshot_cleans_ephemeral_checkpoint(spark, tmp_path, track_mkdtemp):
    from dask_awkward_spark.sources.snapshot import stream_to_snapshot

    stream_to_snapshot(_descriptor_stream(spark, 2), str(tmp_path / "tbl"))
    mine = [p for p in track_mkdtemp if "dakspark_snap_ckpt_" in p]
    assert mine and not any(os.path.exists(p) for p in mine)


def test_stream_to_snapshot_background_requires_durable_checkpoint(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import stream_to_snapshot

    with pytest.raises(ValueError, match="durable checkpoint"):
        stream_to_snapshot(_descriptor_stream(spark, 2), str(tmp_path / "tbl"), drain=False)


def test_snapshot_changes_incremental_feed(spark, tmp_path):
    """A consumer remembering its last version reads only the delta."""
    from dask_awkward_spark.sources.snapshot import snapshot_changes

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10), p)
    snapshot_write(spark.range(10, 20), p, mode="append")
    snapshot_write(spark.range(20, 25), p, mode="append")
    assert sorted(r.id for r in snapshot_changes(spark, p, since=1).collect()) == list(range(10, 25))
    assert sorted(r.id for r in snapshot_changes(spark, p, since=1, until=2).collect()) == list(range(10, 20))
    assert snapshot_changes(spark, p, since=3).count() == 0  # caught up
    assert sorted(r.id for r in snapshot_changes(spark, p, since=0).collect()) == list(range(25))


def test_snapshot_changes_refuses_broken_lineage(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_changes

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10), p)
    snapshot_write(spark.range(5), p, mode="overwrite")
    with pytest.raises(ValueError, match="not appends"):
        snapshot_changes(spark, p, since=1)
    # a window that ends before the overwrite is still fine
    assert snapshot_changes(spark, p, since=1, until=1).count() == 0


def test_compact_zorder_tightens_skipping(spark, tmp_path):
    """Streaming-style appends interleave both key ranges in every file
    (no pruning); a Z-order compact re-clusters so both columns prune."""
    from dask_awkward_spark.sources.snapshot import snapshot_scan_report

    p = str(tmp_path / "tbl")
    df = spark.range(4000).select(
        (F.col("id") % 64).alias("x"), (F.col("id") * 37 % 64).alias("y")
    )
    # 4 appends, each spanning the FULL x/y space — min/max useless
    for i in range(4):
        snapshot_write(df, p, mode="append" if i else "overwrite")
    before = snapshot_scan_report(p, [("x", "<", 8), ("y", "<", 8)])
    assert before["skipped"] == 0
    snapshot_compact(spark, p, target_file_bytes=2 << 10, zorder_by=["x", "y"])
    after = snapshot_scan_report(p, [("x", "<", 8), ("y", "<", 8)])
    assert after["total"] > 4 and after["skipped"] > 0
    got = snapshot_read(spark, p, where=[("x", "<", 8), ("y", "<", 8)])
    want = snapshot_read(spark, p).filter((F.col("x") < 8) & (F.col("y") < 8))
    assert got.count() == want.count() > 0  # pruning never changes results


def test_overwrite_resets_stream_watermark(spark, tmp_path):
    """A plain overwrite is a table replacement: a NEW stream attached
    afterwards must not have its early batches swallowed by the old
    stream's watermark."""
    from dask_awkward_spark.sources.snapshot import stream_to_snapshot

    p = str(tmp_path / "tbl")
    stream_to_snapshot(_descriptor_stream(spark, 3), p)
    assert snapshot_versions(p)[-1]["stream_batch_id"] == 2
    snapshot_write(spark.range(5), p, mode="overwrite")  # curated rebuild
    assert snapshot_versions(p)[-1]["stream_batch_id"] is None
    # fresh stream from batch 0 ingests normally
    stream_to_snapshot(_descriptor_stream(spark, 2), p, checkpoint_dir=str(tmp_path / "c2"))
    assert snapshot_read(spark, p).count() == 7  # 5 + 2, nothing swallowed


def test_replayed_batch_raises_inside_commit(spark, tmp_path):
    """The watermark guard lives INSIDE snapshot_write's commit loop, so
    two writers replaying the same micro-batch can never both append."""
    from dask_awkward_spark.sources.snapshot import SnapshotBatchReplayedError

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(3), p, mode="overwrite", stream_batch_id=5)
    with pytest.raises(SnapshotBatchReplayedError):
        snapshot_write(spark.range(3), p, mode="append", stream_batch_id=5)
    with pytest.raises(SnapshotBatchReplayedError):
        snapshot_write(spark.range(3), p, mode="append", stream_batch_id=4)
    assert snapshot_write(spark.range(3), p, mode="append", stream_batch_id=6) == 2


def test_vacuum_times_retention_from_dereference_not_creation(spark, tmp_path):
    """A day-old file dereferenced a moment ago survives the grace
    period (readers may be pinned to the old version); once the
    DEREFERENCING commit is older than the retention, it goes."""
    import glob as _glob
    import json as _json
    import time

    from dask_awkward_spark.sources.snapshot import _manifest_dir

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).repartition(2), p)
    # make v1's data files LOOK two days old (creation time)
    old = time.time() - 2 * 86400
    for f in _glob.glob(f"{p}/data/*.parquet"):
        os.utime(f, (old, old))
    snapshot_write(spark.range(5), p, mode="overwrite")  # dereferences them NOW
    stats = snapshot_vacuum(p, keep_last=1)  # default 24 h retention
    assert stats["removed_files"] == 0  # grace period: deref was seconds ago
    # now backdate the DEREFERENCING commit beyond the retention window
    mf = os.path.join(_manifest_dir(p), "v00000002.json")
    m = _json.load(open(mf))
    m["committed_at"] = old
    _json.dump(m, open(mf, "w"))
    stats = snapshot_vacuum(p, keep_last=1)
    assert stats["removed_files"] > 0
    assert snapshot_read(spark, p).count() == 5  # head untouched


def test_empty_table_errors_are_explicit(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import (
        snapshot_changes,
        snapshot_scan_report,
    )

    p = str(tmp_path / "nope")
    with pytest.raises(FileNotFoundError):
        snapshot_compact(spark, p)
    with pytest.raises(FileNotFoundError):
        snapshot_changes(spark, p, since=0)
    with pytest.raises(FileNotFoundError):
        snapshot_scan_report(p, [("id", ">", 0)])
    snapshot_write(spark.range(3), str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="version 7 not in"):
        snapshot_scan_report(str(tmp_path / "tbl"), [("id", ">", 0)], version=7)


def test_stream_from_snapshot_follows_appends(spark, tmp_path):
    """The change feed as a streaming SOURCE: each committed append
    becomes a micro-batch; a sink table chained via stream_to_snapshot
    ends up with exactly the producer's rows."""
    from dask_awkward_spark.sources.snapshot import (
        stream_from_snapshot,
        stream_to_snapshot,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snapshot_write(spark.range(10), src)
    snapshot_write(spark.range(10, 20), src, mode="append")
    snapshot_write(spark.range(20, 25), src, mode="append")
    st = stream_from_snapshot(spark, src)
    stream_to_snapshot(st, dst, checkpoint_dir=str(tmp_path / "ckpt"))
    assert sorted(r.id for r in snapshot_read(spark, dst).collect()) == list(range(25))
    # more appends land; the SAME checkpoint resumes where it left off
    snapshot_write(spark.range(25, 30), src, mode="append")
    st2 = stream_from_snapshot(spark, src)
    stream_to_snapshot(st2, dst, checkpoint_dir=str(tmp_path / "ckpt"))
    assert sorted(r.id for r in snapshot_read(spark, dst).collect()) == list(range(30))


def test_stream_from_snapshot_start_version_skips_history(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import stream_from_snapshot

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    snapshot_write(spark.range(10), src)
    snapshot_write(spark.range(10, 15), src, mode="append")
    st = stream_from_snapshot(spark, src, start_version=1)  # attach after v1
    q = (
        st.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(10, 15))


def test_stream_from_snapshot_refuses_overwrites(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import stream_from_snapshot

    src = str(tmp_path / "src")
    snapshot_write(spark.range(5), src)
    snapshot_write(spark.range(3), src, mode="overwrite")
    st = stream_from_snapshot(spark, src)
    q = (
        st.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    with pytest.raises(Exception, match="overwrite|append-only"):
        q.processAllAvailable()
        q.stop()


def test_from_snapshot_format_pushdown_prunes_files(spark, tmp_path):
    """spark.read-API face: a plain .filter() prunes files through
    Catalyst's pushFilters — and since every filter is handed back for
    re-application, results always equal the functional read."""
    from dask_awkward_spark.sources.snapshot import from_snapshot

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(8000).repartitionByRange(8, "id"), p)
    df = from_snapshot(spark, p).filter(F.col("id") >= 6500)
    got = sorted(r.id for r in df.collect())
    assert got == list(range(6500, 8000))
    # pruning visible in the plan: fewer partitions scanned than files
    n_parts = df.rdd.getNumPartitions()
    assert n_parts <= 2  # 8 range files, predicate covers the top ~2


def test_from_snapshot_format_time_travel_and_unprunable(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import from_snapshot

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10), p)
    snapshot_write(spark.range(100, 105), p, mode="overwrite")
    assert sorted(r.id for r in from_snapshot(spark, p, version=1).collect()) == list(range(10))
    # residual / unprunable predicates still correct (re-applied by Spark)
    df = from_snapshot(spark, p).filter(F.col("id") % 2 == 0)
    assert sorted(r.id for r in df.collect()) == [100, 102, 104]


def test_snapshot_write_accepts_nested_array(spark, tmp_path):
    from dask_awkward_spark import from_lists

    p = str(tmp_path / "tbl")
    arr = from_lists(spark, [[1, 2], [], [3]], "array<bigint>")
    snapshot_write(arr, p)
    got = snapshot_read(spark, p)
    assert got.count() == 3


@pytest.mark.parametrize("backend", ["posix-link", "conditional-put"])
def test_concurrent_appends_all_land(spark, tmp_path, backend):
    """REAL concurrency (not simulated): 6 threads append through the
    commit protocol at once; every append must land in some version
    order with no lost rows and a contiguous version chain — under BOTH
    commit backends (O_EXCL link and the object-store lock protocol)."""
    from concurrent.futures import ThreadPoolExecutor

    from dask_awkward_spark.sources.snapshot import set_commit_backend

    p = str(tmp_path / "tbl")
    prev = set_commit_backend(backend)
    try:
        snapshot_write(spark.range(0), p)  # empty table creation

        def append(k):
            return snapshot_write(
                spark.range(k * 100, k * 100 + 10), p, mode="append"
            )

        with ThreadPoolExecutor(max_workers=6) as ex:
            got_versions = sorted(ex.map(append, range(6)))
    finally:
        set_commit_backend(prev)
    assert got_versions == [2, 3, 4, 5, 6, 7]  # every writer won exactly one
    rows = sorted(r.id for r in snapshot_read(spark, p).collect())
    assert rows == sorted(x for k in range(6) for x in range(k * 100, k * 100 + 10))
    log = snapshot_versions(p)
    assert [m["version"] for m in log] == list(range(1, 8))  # contiguous


def test_commit_backend_primitive_contract(tmp_path):
    """put_if_absent: exactly one winner under a thread race, loser
    sees the winner's full payload, and a crashed writer's expired lock
    is broken (conditional-put backend only)."""
    import threading

    from dask_awkward_spark.sources.snapshot import (
        ConditionalPutBackend,
        PosixLinkBackend,
    )

    for backend in (PosixLinkBackend(), ConditionalPutBackend()):
        d = tmp_path / backend.name
        d.mkdir()
        final = str(d / "v00000001.json")
        wins = []
        barrier = threading.Barrier(8)

        def claim(k, final=final, backend=backend, barrier=barrier, wins=wins):
            barrier.wait()
            if backend.put_if_absent(final, b'{"writer": %d}' % k):
                wins.append(k)

        ts = [threading.Thread(target=claim, args=(k,)) for k in range(8)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert len(wins) == 1, backend.name
        with open(final, "rb") as f:
            assert f.read() == b'{"writer": %d}' % wins[0], backend.name
        # no stray temp/lock objects survive a completed race
        leftovers = [n for n in os.listdir(d) if n != "v00000001.json"]
        assert leftovers == [], (backend.name, leftovers)

    # expired lock from a crashed holder is broken, fresh lock is honored
    cp = ConditionalPutBackend()
    d2 = tmp_path / "stale"
    d2.mkdir()
    final2 = str(d2 / "v00000002.json")
    lock = d2 / ".lock-v00000002.json"
    lock.touch()
    old = __import__("time").time() - cp.lock_ttl - 5
    os.utime(lock, (old, old))
    assert cp.put_if_absent(final2, b"{}")  # broke the stale lock
    assert not lock.exists()


def test_snapshot_delete_copy_on_write(spark, tmp_path):
    """DELETE rewrites only stat-affected files; untouched files are
    carried byte-identically, old versions still see the deleted rows."""
    from dask_awkward_spark.sources.snapshot import snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(8000).repartitionByRange(8, "id"), p)
    before_files = snapshot_versions(p)[-1]["files"]
    stats = snapshot_delete(spark, p, [("id", ">=", 7000)])
    assert stats["removed_rows"] == 1000
    assert stats["rewritten_files"] <= 2  # only the top range files
    assert stats["carried_files"] >= 6
    after = snapshot_versions(p)[-1]
    assert after["op"] == "delete"
    assert set(before_files) & set(after["files"])  # carried files identical
    assert snapshot_read(spark, p).count() == 7000
    assert snapshot_read(spark, p).filter(F.col("id") >= 7000).count() == 0
    assert snapshot_read(spark, p, version=1).count() == 8000  # time travel
    # no-match delete commits nothing
    stats2 = snapshot_delete(spark, p, [("id", ">", 99999)])
    assert stats2["removed_rows"] == 0 and stats2["version"] == after["version"]


def test_snapshot_delete_requires_predicate_and_keeps_watermark(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10), p, stream_batch_id=4)
    with pytest.raises(ValueError, match="no predicate"):
        snapshot_delete(spark, p, [])
    snapshot_delete(spark, p, [("id", "<", 3)])
    assert snapshot_versions(p)[-1]["stream_batch_id"] == 4  # carried


def test_merge_schema_append_widens_with_nulls(spark, tmp_path):
    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(3), p)
    evolved = spark.range(3, 6).withColumn("label", F.lit("x"))
    snapshot_write(evolved, p, mode="append", merge_schema=True)
    got = snapshot_read(spark, p).orderBy("id").collect()
    assert [r.label for r in got] == [None, None, None, "x", "x", "x"]
    # type change still refused even with merge_schema
    bad = spark.range(6, 9).withColumn("label", F.lit(1.5))
    with pytest.raises(ValueError, match="cannot change column"):
        snapshot_write(bad, p, mode="append", merge_schema=True)
    # next plain append must match the WIDENED schema
    more = spark.range(9, 11).withColumn("label", F.lit("y"))
    snapshot_write(more, p, mode="append")
    assert snapshot_read(spark, p).count() == 8


def test_vacuum_dry_run_touches_nothing(spark, tmp_path):
    import glob as _glob

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).repartition(4), p)
    snapshot_write(spark.range(50), p, mode="overwrite")
    n_files = len(_glob.glob(f"{p}/data/*.parquet"))
    stats = snapshot_vacuum(p, keep_last=1, retain_seconds=0, dry_run=True)
    assert stats["removed_manifests"] == 1 and stats["removed_files"] > 0
    # nothing actually removed
    assert len(_glob.glob(f"{p}/data/*.parquet")) == n_files
    assert len(snapshot_versions(p)) == 2
    # the real run then matches the dry run's report
    real = snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    assert real == stats


def test_snapshot_delete_null_predicate_keeps_null_rows(spark, tmp_path):
    """SQL DELETE semantics: a predicate that evaluates to NULL keeps
    the row (three-valued logic) — plain ~cond would silently drop it."""
    from dask_awkward_spark.sources.snapshot import snapshot_delete

    p = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y"), (4, None)], "id bigint, label string"
    )
    snapshot_write(df.repartition(1), p)
    stats = snapshot_delete(spark, p, [("label", "=", "x")])
    assert stats["removed_rows"] == 1  # only the TRUE match
    left = {(r.id, r.label) for r in snapshot_read(spark, p).collect()}
    assert left == {(2, None), (3, "y"), (4, None)}  # NULL rows survive


def test_snapshot_delete_bad_op_is_explicit(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)
    with pytest.raises(ValueError, match="op must be one of"):
        snapshot_delete(spark, p, [("id", "!=", 3)])


def test_merge_schema_case_insensitive_matching(spark, tmp_path):
    """A case-variant of an existing column is the SAME column (Spark's
    default resolution) — matched, not duplicated."""
    from dask_awkward_spark.sources.snapshot import from_snapshot

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(3), p)
    upper = spark.range(3, 5).select(F.col("id").alias("ID"))
    snapshot_write(upper, p, mode="append", merge_schema=True)
    got = snapshot_read(spark, p)
    assert got.schema.fieldNames() == ["id"]  # old spelling, no duplicate
    # VALUES from the case-variant file must come back, not NULLs —
    # through the native face AND the Python-datasource face
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4]
    assert sorted(r.id for r in from_snapshot(spark, p).collect()) == [0, 1, 2, 3, 4]
    # case-variant with a TYPE change still refused
    bad = spark.range(5, 6).select(F.col("id").cast("double").alias("Id"))
    with pytest.raises(ValueError, match="cannot change column"):
        snapshot_write(bad, p, mode="append", merge_schema=True)


def test_snapshot_format_reads_timestamps(spark, tmp_path):
    """The arrow fast path must deliver timestamp columns correctly
    through both reader faces (unit/tz cast to the declared schema)."""
    from dask_awkward_spark.sources.snapshot import from_snapshot, stream_to_snapshot, stream_from_snapshot

    p, dst = str(tmp_path / "tbl"), str(tmp_path / "dst")
    df = spark.range(5).select(
        "id",
        (F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(hours=F.col("id"))).alias("ts"),
    )
    snapshot_write(df, p)
    got = from_snapshot(spark, p).orderBy("id").collect()
    want = df.orderBy("id").collect()
    assert [r.ts for r in got] == [r.ts for r in want]
    stream_to_snapshot(stream_from_snapshot(spark, p), dst,
                       checkpoint_dir=str(tmp_path / "ck"))
    assert sorted(r.ts for r in snapshot_read(spark, dst).collect()) == sorted(r.ts for r in want)


# ---------------------------------------------------------------- UPDATE


def test_snapshot_update_basic_and_time_travel(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_update

    p = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        "id bigint, tag string, score double",
    )
    snapshot_write(df.repartition(1), p)
    stats = snapshot_update(
        spark, p, [("tag", "=", "a")], {"score": F.col("score") * 2}
    )
    assert stats["updated_rows"] == 2 and stats["version"] == 2
    got = {(r.id, r.score) for r in snapshot_read(spark, p).collect()}
    assert got == {(1, 20.0), (2, 20.0), (3, 60.0)}
    # old version still time-travels to the pre-update rows
    old = {(r.id, r.score) for r in snapshot_read(spark, p, version=1).collect()}
    assert old == {(1, 10.0), (2, 20.0), (3, 30.0)}


def test_snapshot_update_rhs_sees_old_row_and_casts(spark, tmp_path):
    """Swap semantics: every RHS evaluates against the PRE-update row,
    and values cast to the column's existing type (schema stable)."""
    from dask_awkward_spark.sources.snapshot import snapshot_update

    p = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 2, 3)], "a bigint, b bigint, c bigint")
    snapshot_write(df, p)
    snapshot_update(
        spark, p, [("a", "=", 1)], {"a": F.col("b"), "b": F.col("a"), "c": 7.9}
    )
    got = snapshot_read(spark, p)
    assert got.schema.simpleString() == df.schema.simpleString()
    r = got.first()
    assert (r.a, r.b, r.c) == (2, 1, 7)  # swapped; 7.9 cast to bigint


def test_snapshot_update_prunes_and_null_predicate_rows_kept(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_update

    p = str(tmp_path / "tbl")
    lo = spark.createDataFrame([(i, "x") for i in range(5)], "id bigint, t string")
    hi = spark.createDataFrame(
        [(100, None), (101, "y")], "id bigint, t string"
    )
    snapshot_write(lo.repartition(1), p)
    snapshot_write(hi.repartition(1), p, mode="append")
    stats = snapshot_update(spark, p, [("id", ">=", 100)], {"t": F.lit("z")})
    # only the hi file's id-range intersects the predicate
    assert stats["rewritten_files"] == 1 and stats["carried_files"] == 1
    assert stats["updated_rows"] == 2  # NULL t is irrelevant: predicate is on id
    got = dict(
        (r.id, r.t) for r in snapshot_read(spark, p).filter(F.col("id") >= 100).collect()
    )
    assert got == {100: "z", 101: "z"}
    # predicate evaluating to NULL keeps rows unchanged
    stats2 = snapshot_update(spark, p, [("t", "=", "nope")], {"id": 0})
    assert stats2["updated_rows"] == 0


def test_snapshot_update_validates(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_update

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(3), p)
    with pytest.raises(ValueError, match="no predicate"):
        snapshot_update(spark, p, [], {"id": 0})
    with pytest.raises(ValueError, match="unknown columns"):
        snapshot_update(spark, p, [("id", "=", 1)], {"nope": 0})
    with pytest.raises(ValueError, match="no assignments"):
        snapshot_update(spark, p, [("id", "=", 1)], {})


# ----------------------------------------------------------------- MERGE


def _merge_fixture(spark, tmp_path):
    p = str(tmp_path / "tbl")
    tgt = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "id bigint, tag string, v double",
    )
    snapshot_write(tgt.repartition(1), p)
    src = spark.createDataFrame(
        [(2, "B", 20.0), (4, "d", 4.0)], "id bigint, tag string, v double"
    )
    return p, src


def test_snapshot_merge_upsert(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p, src = _merge_fixture(spark, tmp_path)
    stats = snapshot_merge(spark, p, src, on=["id"])
    assert stats["updated_rows"] == 1 and stats["inserted_rows"] == 1
    assert stats["deleted_rows"] == 0
    got = {(r.id, r.tag, r.v) for r in snapshot_read(spark, p).collect()}
    assert got == {(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0), (4, "d", 4.0)}
    # old version pre-merge still readable
    old = {r.id for r in snapshot_read(spark, p, version=1).collect()}
    assert old == {1, 2, 3}


def test_snapshot_merge_delete_matched(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p, src = _merge_fixture(spark, tmp_path)
    stats = snapshot_merge(
        spark, p, src.select("id"), on=["id"],
        when_matched="delete", when_not_matched=None,
    )
    assert stats["deleted_rows"] == 1 and stats["inserted_rows"] == 0
    assert {r.id for r in snapshot_read(spark, p).collect()} == {1, 3}


def test_snapshot_merge_insert_only_never_rewrites(spark, tmp_path):
    """when_matched=None (insert-if-absent): existing files carry."""
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p, src = _merge_fixture(spark, tmp_path)
    stats = snapshot_merge(spark, p, src, on=["id"], when_matched=None)
    assert stats["rewritten_files"] == 0 and stats["inserted_rows"] == 1
    got = {(r.id, r.v) for r in snapshot_read(spark, p).collect()}
    assert got == {(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)}  # id=2 untouched


def test_snapshot_merge_null_keys_insert_and_prune(spark, tmp_path):
    """NULL source keys never match (they insert); disjoint key ranges
    leave target files un-rewritten via manifest pruning."""
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(i, float(i)) for i in range(5)], "id bigint, v double")
        .repartition(1),
        p,
    )
    src = spark.createDataFrame(
        [(None, 99.0), (100, 100.0)], "id bigint, v double"
    )
    stats = snapshot_merge(spark, p, src, on=["id"])
    assert stats["rewritten_files"] == 0  # 100 and NULL can't hit [0,4]
    assert stats["inserted_rows"] == 2 and stats["updated_rows"] == 0
    got = {(r.id, r.v) for r in snapshot_read(spark, p).collect()}
    assert (None, 99.0) in got and (100, 100.0) in got and len(got) == 7


def test_snapshot_merge_ambiguous_source_refused(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p, _ = _merge_fixture(spark, tmp_path)
    dup = spark.createDataFrame(
        [(2, "x", 0.0), (2, "y", 1.0)], "id bigint, tag string, v double"
    )
    with pytest.raises(ValueError, match="ambiguous"):
        snapshot_merge(spark, p, dup, on=["id"])
    # but duplicate NOT-matched source rows simply both insert
    dup2 = spark.createDataFrame(
        [(9, "x", 0.0), (9, "y", 1.0)], "id bigint, tag string, v double"
    )
    stats = snapshot_merge(spark, p, dup2, on=["id"])
    assert stats["inserted_rows"] == 2


def test_snapshot_merge_dup_target_keys_each_updated(spark, tmp_path):
    """Delta parity: two target rows sharing a key both take the one
    source row's values."""
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = str(tmp_path / "tbl")
    tgt = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id bigint, tag string"
    )
    snapshot_write(tgt.repartition(1), p)
    src = spark.createDataFrame([(1, "Z")], "id bigint, tag string")
    stats = snapshot_merge(spark, p, src, on=["id"], when_not_matched=None)
    assert stats["updated_rows"] == 2
    got = sorted((r.id, r.tag) for r in snapshot_read(spark, p).collect())
    assert got == [(1, "Z"), (1, "Z"), (2, "c")]


def test_snapshot_merge_validates(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p, src = _merge_fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="at least one key"):
        snapshot_merge(spark, p, src, on=[])
    with pytest.raises(ValueError, match="when_matched"):
        snapshot_merge(spark, p, src, on=["id"], when_matched="upsert")
    with pytest.raises(ValueError, match="no-op"):
        snapshot_merge(spark, p, src, on=["id"], when_matched=None, when_not_matched=None)
    with pytest.raises(ValueError, match="missing columns"):
        snapshot_merge(spark, p, src.drop("v"), on=["id"])
    # float -> double is a lossless upcast now, implicitly cast (see
    # test_merge_upcasts_narrow_source); genuinely lossy drift refused:
    with pytest.raises(ValueError, match="schema mismatch"):
        snapshot_merge(
            spark, p, src.withColumn("v", F.col("v").cast("string")), on=["id"]
        )
    with pytest.raises(ValueError, match="not in table schema"):
        snapshot_merge(spark, p, src, on=["nope"])


def test_merge_redoes_after_concurrent_append(spark, tmp_path, monkeypatch):
    """An append landing mid-merge is never lost OR missed: the CAS
    commit conflicts, merge restarts from the new head, and a source row
    keyed like the freshly-appended row must UPDATE it on the retry —
    not insert a duplicate next to it."""
    import dask_awkward_spark.sources.snapshot as snap
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(i, "old") for i in range(5)], "id bigint, tag string"),
        p,
    )

    real_read = snap._read_manifest
    appended = {"done": False}

    def read_then_append(path, version):
        m = real_read(path, version)
        if not appended["done"]:
            appended["done"] = True
            snapshot_write(
                spark.createDataFrame([(10, "old")], "id bigint, tag string"),
                p,
                mode="append",
            )
        return m

    monkeypatch.setattr(snap, "_read_manifest", read_then_append)
    src = spark.createDataFrame([(3, "new"), (10, "new")], "id bigint, tag string")
    stats = snapshot_merge(spark, p, src, on=["id"])
    monkeypatch.undo()
    # the retry saw the appended row: both source rows matched, none inserted
    assert stats["updated_rows"] == 2 and stats["inserted_rows"] == 0
    got = sorted((r.id, r.tag) for r in snapshot_read(spark, p).collect())
    assert got == [(0, "old"), (1, "old"), (2, "old"), (3, "new"), (4, "old"), (10, "new")]


def test_concurrent_merges_all_land(spark, tmp_path):
    """REAL concurrency: 4 threads upsert disjoint key ranges at once
    through the CAS loop; every merge lands, no inserts are lost."""
    from concurrent.futures import ThreadPoolExecutor

    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10), p)

    def merge(k):
        src = spark.range(100 * (k + 1), 100 * (k + 1) + 5)
        return snapshot_merge(spark, p, src, on=["id"])["version"]

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = sorted(ex.map(merge, range(4)))
    assert versions == [2, 3, 4, 5]  # every merge won exactly one commit
    rows = sorted(r.id for r in snapshot_read(spark, p).collect())
    want = sorted(
        list(range(10)) + [x for k in range(4) for x in range(100 * (k + 1), 100 * (k + 1) + 5)]
    )
    assert rows == want


# --------------------------------------------------------------- RESTORE


def test_snapshot_restore_rolls_back_and_keeps_history(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_delete, snapshot_restore

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10), p)                      # v1
    snapshot_write(spark.range(10, 15), p, mode="append")   # v2
    snapshot_delete(spark, p, [("id", "<", 5)])             # v3: bad delete
    v = snapshot_restore(p, 2)                              # undo it
    assert v == 4
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == list(range(15))
    # the botched v3 still time-travels until vacuum
    assert snapshot_read(spark, p, version=3).count() == 10
    # restore is metadata-only: no new data files were written
    log = snapshot_versions(p)
    assert log[-1]["op"] == "restore"
    assert set(log[-1]["files"]) == set(log[1]["files"])
    # no-op restore to the current head
    assert snapshot_restore(p, 4) == 4
    with pytest.raises(ValueError, match="not in"):
        snapshot_restore(p, 99)


def test_snapshot_restore_survives_vacuum(spark, tmp_path):
    """The restored head re-references old files, so vacuum must keep
    them even after trimming the version they came from."""
    from dask_awkward_spark.sources.snapshot import snapshot_restore

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(20).repartition(2), p)   # v1
    snapshot_write(spark.range(5), p)                   # v2 overwrite
    snapshot_restore(p, 1)                              # v3 = v1's files
    snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == list(range(20))


def test_snapshot_restore_reverts_stream_watermark(spark, tmp_path):
    """Content is as-of the restored version, so the replay guard is
    too: a micro-batch committed after that version must be allowed to
    land again once restored away."""
    from dask_awkward_spark.sources.snapshot import (
        SnapshotBatchReplayedError,
        snapshot_restore,
    )

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(3), p)                                       # v1
    snapshot_write(spark.range(3, 6), p, mode="append", stream_batch_id=0)  # v2
    snapshot_write(spark.range(6, 9), p, mode="append", stream_batch_id=1)  # v3
    with pytest.raises(SnapshotBatchReplayedError):
        snapshot_write(spark.range(6, 9), p, mode="append", stream_batch_id=1)
    snapshot_restore(p, 2)  # v4: batch 1's rows are gone again
    v = snapshot_write(spark.range(6, 9), p, mode="append", stream_batch_id=1)
    assert v == 5  # the replay lands — its rows are genuinely absent
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == list(range(9))


def test_insert_only_merge_keeps_change_feed_alive(spark, tmp_path):
    """An insert-only merge strictly grows the file set — it commits as
    an append, so change feeds over upsert-maintained tables keep
    working instead of hard-failing on op='merge'."""
    from dask_awkward_spark.sources.snapshot import snapshot_changes, snapshot_merge

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)                              # v1
    snapshot_merge(spark, p, spark.range(100, 103), on=["id"])     # v2: inserts only
    log = snapshot_versions(p)
    assert log[-1]["op"] == "append"
    delta = sorted(r.id for r in snapshot_changes(spark, p, since=1).collect())
    assert delta == [100, 101, 102]
    # a merge that DOES rewrite still stamps op=merge and breaks feeds
    snapshot_merge(spark, p, spark.range(4, 6), on=["id"])         # v3: updates id=4,5->insert? 4 matches
    assert snapshot_versions(p)[-1]["op"] == "merge"
    with pytest.raises(ValueError, match="not appends"):
        snapshot_changes(spark, p, since=1)


def test_merge_key_column_named_count(spark, tmp_path):
    """A key column literally named 'count' must not collide with the
    ambiguity check's aggregate."""
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "count bigint, tag string"), p
    )
    src = spark.createDataFrame([(2, "B"), (3, "c")], "count bigint, tag string")
    stats = snapshot_merge(spark, p, src, on=["count"])
    assert stats["updated_rows"] == 1 and stats["inserted_rows"] == 1
    got = sorted((r["count"], r.tag) for r in snapshot_read(spark, p).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_merge_timestamp_key_prunes_correctly_across_timezones(spark, tmp_path):
    """LTZ bounds collected on the driver are naive SYSTEM-tz datetimes;
    pruning must compare the real instant, or files containing matches
    get pruned and their source rows silently duplicate as inserts."""
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")  # UTC+14
    try:
        p = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [("2026-01-01 00:00:00", 1.0), ("2026-01-01 06:00:00", 2.0)],
            "ts string, v double",
        ).select(F.to_timestamp("ts").alias("ts"), "v")
        snapshot_write(df.repartition(1), p)
        src = df.withColumn("v", F.col("v") + 10)
        stats = snapshot_merge(spark, p, src, on=["ts"])
        # both source rows MATCH existing keys: zero inserts, no dupes
        assert stats["updated_rows"] == 2 and stats["inserted_rows"] == 0
        got = snapshot_read(spark, p)
        assert got.count() == 2
        assert sorted(r.v for r in got.collect()) == [11.0, 12.0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


# ------------------------------------------- MERGE-ON-READ DELETE (DVs)


def test_mor_delete_rewrites_nothing_and_reads_hide_rows(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import from_snapshot, snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(100).repartitionByRange(4, "id"), p)
    files_before = set(glob.glob(f"{p}/data/*.parquet"))
    stats = snapshot_delete(
        spark, p, [("id", ">=", 90)], strategy="merge-on-read"
    )
    assert stats["removed_rows"] == 10
    assert stats["rewritten_files"] == 0 and stats["delete_files"] == 1
    # no data file was rewritten — only the tiny DV file appeared
    assert files_before < set(glob.glob(f"{p}/data/*.parquet"))
    assert snapshot_versions(p)[-1]["files"] == snapshot_versions(p)[0]["files"]
    # both read faces hide the deleted rows
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == list(range(90))
    assert sorted(r.id for r in from_snapshot(spark, p).collect()) == list(range(90))
    # time travel still sees them
    assert snapshot_read(spark, p, version=1).count() == 100
    # filtered read composes with DVs
    got = snapshot_read(spark, p, where=[("id", ">=", 85)])
    assert sorted(r.id for r in got.collect()) == [85, 86, 87, 88, 89]


def test_mor_delete_is_idempotent_and_composes(spark, tmp_path):
    """A repeated delete finds nothing (already-deleted rows are
    invisible to the tagged scan); a second predicate adds a second DV."""
    from dask_awkward_spark.sources.snapshot import snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(50), p)
    s1 = snapshot_delete(spark, p, [("id", "<", 10)], strategy="merge-on-read")
    assert s1["removed_rows"] == 10
    s2 = snapshot_delete(spark, p, [("id", "<", 10)], strategy="merge-on-read")
    assert s2["removed_rows"] == 0 and s2["version"] == s1["version"]  # no commit
    s3 = snapshot_delete(spark, p, [("id", ">=", 45)], strategy="merge-on-read")
    assert s3["removed_rows"] == 5
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == list(range(10, 45))


def test_mor_delete_then_append_update_merge(spark, tmp_path):
    """DVs survive appends (old files keep their skip lists), COW ops
    never resurrect deleted rows, and a deleted key can be re-inserted
    by a merge."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_merge,
        snapshot_update,
    )

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(i, "old") for i in range(10)], "id bigint, tag string"),
        p,
    )
    snapshot_delete(spark, p, [("id", "=", 3)], strategy="merge-on-read")
    snapshot_write(
        spark.createDataFrame([(100, "new")], "id bigint, tag string"), p, mode="append"
    )
    got = sorted(r.id for r in snapshot_read(spark, p).collect())
    assert got == [0, 1, 2, 4, 5, 6, 7, 8, 9, 100]  # 3 still hidden post-append
    # COW update touches every file (predicate on tag) — deleted row must
    # NOT come back, with or without its file being rewritten
    stats = snapshot_update(spark, p, [("tag", "=", "old")], {"tag": F.lit("upd")})
    assert stats["updated_rows"] == 9  # not 10: id=3 is deleted
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == got
    # merge re-inserts the deleted key as a fresh row
    src = spark.createDataFrame([(3, "back")], "id bigint, tag string")
    ms = snapshot_merge(spark, p, src, on=["id"])
    assert ms["inserted_rows"] == 1 and ms["updated_rows"] == 0
    assert (3, "back") in {(r.id, r.tag) for r in snapshot_read(spark, p).collect()}


def test_compact_purges_deletion_vectors(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(1000).repartitionByRange(4, "id"), p)
    snapshot_delete(spark, p, [("id", "<", 100)], strategy="merge-on-read")
    assert snapshot_versions(p)[-1]["deletes"]
    v = snapshot_compact(spark, p, target_file_bytes=1 << 30)
    m = snapshot_versions(p)[-1]
    assert m["version"] == v and not m.get("deletes")  # physically erased
    assert snapshot_read(spark, p).count() == 900
    # vacuum reclaims the now-unreferenced DV file (and old data files)
    stats = snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    assert stats["removed_files"] > 0
    assert snapshot_read(spark, p).count() == 900


def test_vacuum_retains_live_deletion_vectors(spark, tmp_path):
    """A DV referenced by a retained manifest must survive vacuum."""
    from dask_awkward_spark.sources.snapshot import snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(100), p)
    snapshot_delete(spark, p, [("id", "<", 50)], strategy="merge-on-read")
    snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == list(range(50, 100))


def test_reserved_column_names_refused(spark, tmp_path):
    """A user '_metadata' column shadows Spark's file-metadata struct and
    would corrupt merge-on-read deletes — refused at write time."""
    p = str(tmp_path / "tbl")
    bad = spark.range(3).withColumn("_metadata", F.lit("x"))
    with pytest.raises(ValueError, match="reserved"):
        snapshot_write(bad, p)
    bad2 = spark.range(3).withColumn("__dak_pos", F.lit(0))
    with pytest.raises(ValueError, match="reserved"):
        snapshot_write(bad2, p)


def test_mor_delete_pruned_noop_return_contract(spark, tmp_path):
    """The stats-pruned-to-nothing path must include delete_files too."""
    from dask_awkward_spark.sources.snapshot import snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10).repartition(1), p)
    res = snapshot_delete(
        spark, p, [("id", ">=", 10**6)], strategy="merge-on-read"
    )
    assert res == {
        "version": 1,
        "removed_rows": 0,
        "rewritten_files": 0,
        "carried_files": 1,
        "delete_files": 0,
    }


def test_snapshot_read_as_of_timestamp(spark, tmp_path):
    """Wall-clock time travel: as_of resolves to the version that was
    head at that moment (Delta's TIMESTAMP AS OF)."""
    import time as _time

    from dask_awkward_spark.sources.snapshot import snapshot_version_at

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)                     # v1
    t_after_v1 = _time.time()
    _time.sleep(0.05)
    snapshot_write(spark.range(5, 8), p, mode="append")   # v2
    assert snapshot_version_at(p, t_after_v1) == 1
    assert snapshot_version_at(p, _time.time()) == 2
    got = snapshot_read(spark, p, as_of=t_after_v1)
    assert sorted(r.id for r in got.collect()) == list(range(5))
    with pytest.raises(ValueError, match="existed at"):
        snapshot_version_at(p, 1.0)  # 1970: table not born yet
    with pytest.raises(ValueError, match="at most one"):
        snapshot_read(spark, p, version=1, as_of=t_after_v1)
    # datetime form works too
    import datetime

    assert snapshot_version_at(p, datetime.datetime.now()) == 2


# ------------------------------------------ ROW-LEVEL CHANGE FEED (CDF)


def test_cdf_across_append_delete_update_merge(spark, tmp_path):
    """row_level=True stitches inserts (from append files), deletes,
    and update pre/post images across DML versions the file-level feed
    refuses."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_changes,
        snapshot_delete,
        snapshot_merge,
        snapshot_update,
    )

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, v double"), p
    )                                                                       # v1
    snapshot_write(
        spark.createDataFrame([(3, 30.0)], "id bigint, v double"), p, mode="append"
    )                                                                       # v2
    snapshot_delete(spark, p, [("id", "=", 1)])                             # v3 (cow)
    snapshot_update(spark, p, [("id", "=", 2)], {"v": F.col("v") + 1})      # v4
    src = spark.createDataFrame([(3, 300.0), (4, 40.0)], "id bigint, v double")
    snapshot_merge(spark, p, src, on=["id"])                                # v5
    # file-level mode still refuses the DML span
    with pytest.raises(ValueError, match="not append"):
        snapshot_changes(spark, p, since=1)
    feed = snapshot_changes(spark, p, since=1, row_level=True)
    got = sorted((r.id, r.v, r._change_type) for r in feed.collect())
    assert got == [
        (1, 10.0, "delete"),
        (2, 20.0, "update_preimage"),
        (2, 21.0, "update_postimage"),
        (3, 30.0, "insert"),            # the v2 append
        (3, 30.0, "update_preimage"),   # the v5 merge update
        (3, 300.0, "update_postimage"),
        (4, 40.0, "insert"),            # the v5 merge insert
    ]
    # narrower window: just the update version
    only_v4 = snapshot_changes(spark, p, since=3, until=4, row_level=True)
    assert {r._change_type for r in only_v4.collect()} == {
        "update_preimage", "update_postimage"
    }
    # replaying the feed against the since-version reproduces the head:
    # apply deletes/updates/inserts to v1 content
    head = {(r.id, r.v) for r in snapshot_read(spark, p).collect()}
    assert head == {(2, 21.0), (3, 300.0), (4, 40.0)}


def test_cdf_mor_delete_and_overwrite_refusal(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_changes, snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10).repartition(1), p)          # v1
    snapshot_delete(spark, p, [("id", "<", 3)], strategy="merge-on-read")  # v2
    feed = snapshot_changes(spark, p, since=1, row_level=True)
    assert sorted((r.id, r._change_type) for r in feed.collect()) == [
        (0, "delete"), (1, "delete"), (2, "delete")
    ]
    snapshot_write(spark.range(5), p)                          # v3 overwrite
    with pytest.raises(ValueError, match="change feed"):
        snapshot_changes(spark, p, since=1, row_level=True)
    # but a span past the overwrite works again
    snapshot_write(spark.range(100, 102), p, mode="append")    # v4
    feed2 = snapshot_changes(spark, p, since=3, row_level=True)
    assert sorted(r.id for r in feed2.collect()) == [100, 101]


def test_cdf_change_files_survive_vacuum_and_reserved_name(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_changes, snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10).repartition(1), p)
    snapshot_delete(spark, p, [("id", "=", 5)])
    snapshot_vacuum(p, keep_last=2, retain_seconds=0)
    feed = snapshot_changes(spark, p, since=1, row_level=True)
    assert [r.id for r in feed.collect()] == [5]
    with pytest.raises(ValueError, match="reserved"):
        snapshot_write(spark.range(3).withColumn("_change_type", F.lit("x")), p)


def test_cdf_commit_version_orders_reinsertion(spark, tmp_path):
    """_commit_version disambiguates a key deleted then re-inserted in
    the same span (Delta's reason for emitting it)."""
    from dask_awkward_spark.sources.snapshot import snapshot_changes, snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10).repartition(1), p)          # v1
    snapshot_delete(spark, p, [("id", "=", 7)])                # v2
    snapshot_write(spark.range(7, 8), p, mode="append")        # v3
    feed = snapshot_changes(spark, p, since=1, row_level=True)
    rows = sorted(
        (r.id, r._change_type, r._commit_version) for r in feed.collect()
    )
    assert rows == [(7, "delete", 2), (7, "insert", 3)]
    # the LAST change for the key decides: it exists at head
    assert 7 in {r.id for r in snapshot_read(spark, p).collect()}


def test_cdf_change_feed_false_refuses_loudly(spark, tmp_path):
    """A DML committed with change_feed=False (or by a pre-CDF release)
    has no row-level records — the feed must raise, never fabricate
    inserts from the rewritten survivor files."""
    from dask_awkward_spark.sources.snapshot import snapshot_changes, snapshot_delete

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10).repartition(1), p)
    snapshot_delete(spark, p, [("id", "<", 3)], change_feed=False)
    with pytest.raises(ValueError, match="no row-level changes"):
        snapshot_changes(spark, p, since=1, row_level=True)
    # legacy manifest (no 'changes' key at all) behaves the same
    import json as _json

    mf = os.path.join(p, "_manifests", "v00000002.json")
    man = _json.load(open(mf))
    man.pop("changes", None)
    _json.dump(man, open(mf, "w"))
    with pytest.raises(ValueError, match="no row-level changes"):
        snapshot_changes(spark, p, since=1, row_level=True)


def test_cdf_nondeterministic_update_postimage_matches_table(spark, tmp_path):
    """rand() in the RHS: the postimage must be the committed values,
    not an independent re-roll."""
    from dask_awkward_spark.sources.snapshot import snapshot_changes, snapshot_update

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(1, 0.0), (2, 0.0)], "id bigint, v double"), p
    )
    snapshot_update(spark, p, [("id", "=", 1)], {"v": F.rand()})
    table = {(r.id, r.v) for r in snapshot_read(spark, p).collect()}
    post = {
        (r.id, r.v)
        for r in snapshot_changes(spark, p, since=1, row_level=True)
        .filter(F.col("_change_type") == "update_postimage")
        .collect()
    }
    assert post <= table  # the postimage rows ARE committed rows
    assert len(post) == 1


def test_cdf_insert_only_merge_writes_no_change_files(spark, tmp_path):
    """Insert-only merges stamp op=append and write NO change files —
    the feed derives their inserts from the added data files for free."""
    from dask_awkward_spark.sources.snapshot import snapshot_changes, snapshot_merge

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)
    snapshot_merge(spark, p, spark.range(100, 103), on=["id"])
    m = snapshot_versions(p)[-1]
    assert m["op"] == "append" and not m.get("changes")
    feed = snapshot_changes(spark, p, since=1, row_level=True)
    assert sorted((r.id, r._change_type) for r in feed.collect()) == [
        (100, "insert"), (101, "insert"), (102, "insert")
    ]


def test_snapshot_apply_changes_replicates_dml(spark, tmp_path):
    """CDF consumer: a derived table stays in sync with the source
    through appends, updates, deletes, and merges — work proportional
    to the delta, verified over two incremental rounds."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_apply_changes,
        snapshot_delete,
        snapshot_merge,
        snapshot_update,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snapshot_write(
        spark.createDataFrame([(i, float(i)) for i in range(5)], "id bigint, v double"),
        src,
    )                                                            # src v1
    snapshot_write(snapshot_read(spark, src), dst)               # dst = src@1

    # round 1: append + update
    snapshot_write(
        spark.createDataFrame([(10, 10.0)], "id bigint, v double"), src, mode="append"
    )
    snapshot_update(spark, src, [("id", "=", 2)], {"v": F.lit(2.5)})
    r1 = snapshot_apply_changes(spark, src, dst, on=["id"], since=1)
    assert r1["upserted"] == 2 and r1["deleted"] == 0
    assert {(r.id, r.v) for r in snapshot_read(spark, dst).collect()} == {
        (r.id, r.v) for r in snapshot_read(spark, src).collect()
    }

    # round 2: delete + merge + delete-then-reinsert of the same key
    snapshot_delete(spark, src, [("id", "=", 0)])
    snapshot_merge(
        spark, src,
        spark.createDataFrame([(3, 33.0), (20, 20.0)], "id bigint, v double"),
        on=["id"],
    )
    snapshot_delete(spark, src, [("id", "=", 10)])
    snapshot_write(
        spark.createDataFrame([(10, 100.0)], "id bigint, v double"), src, mode="append"
    )
    r2 = snapshot_apply_changes(spark, src, dst, on=["id"], since=r1["until"])
    got = {(r.id, r.v) for r in snapshot_read(spark, dst).collect()}
    want = {(r.id, r.v) for r in snapshot_read(spark, src).collect()}
    assert got == want  # incl. id=10 re-inserted AFTER its delete
    assert (10, 100.0) in got and (0, 0.0) not in got
    assert r2["deleted"] == 1  # only id=0: id=10's net effect is the re-insert

    # idempotent catch-up: nothing new -> no commits
    head_before = snapshot_versions(dst)[-1]["version"]
    r3 = snapshot_apply_changes(spark, src, dst, on=["id"], since=r2["until"])
    assert r3 == {"until": r2["until"], "upserted": 0, "deleted": 0}
    assert snapshot_versions(dst)[-1]["version"] == head_before


def test_snapshot_apply_changes_null_keys_all_insert(spark, tmp_path):
    """Two NULL-key inserts in one span must BOTH replicate — the
    per-key net-effect window would wrongly collapse them to one."""
    from dask_awkward_spark.sources.snapshot import snapshot_apply_changes

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snapshot_write(
        spark.createDataFrame([(1, "a")], "id bigint, tag string"), src
    )
    snapshot_write(snapshot_read(spark, src), dst)
    snapshot_write(
        spark.createDataFrame([(None, "x"), (None, "y")], "id bigint, tag string"),
        src,
        mode="append",
    )
    r = snapshot_apply_changes(spark, src, dst, on=["id"], since=1)
    assert r["upserted"] == 2
    got = sorted(
        [(r2.id, r2.tag) for r2 in snapshot_read(spark, dst).collect()], key=str
    )
    assert got == sorted([(1, "a"), (None, "x"), (None, "y")], key=str)


def test_mor_update_rewrites_nothing(spark, tmp_path):
    """merge-on-read UPDATE: old rows DV'd out, only the patched rows
    append — write cost tracks the UPDATED rows, not the files."""
    from dask_awkward_spark.sources.snapshot import snapshot_update

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(1000).repartitionByRange(4, "id").withColumn(
        "v", F.col("id").cast("double")), p)
    files_v1 = snapshot_versions(p)[-1]["files"]
    stats = snapshot_update(
        spark, p, [("id", "<", 10)], {"v": F.col("v") + 0.5},
        strategy="merge-on-read",
    )
    assert stats["updated_rows"] == 10 and stats["rewritten_files"] == 0
    m = snapshot_versions(p)[-1]
    assert set(files_v1) < set(m["files"]) and m["deletes"]  # superset + DV
    got = snapshot_read(spark, p)
    assert got.count() == 1000
    assert {r.v for r in got.filter(F.col("id") < 10).collect()} == {
        i + 0.5 for i in range(10)
    }
    # time travel unaffected; compaction erases the DV physically
    assert snapshot_read(spark, p, version=1).filter(F.col("id") < 10).count() == 10
    snapshot_compact(spark, p, target_file_bytes=1 << 30)
    assert not snapshot_versions(p)[-1].get("deletes")
    assert snapshot_read(spark, p).count() == 1000
    # CDF recorded both images
    from dask_awkward_spark.sources.snapshot import snapshot_changes

    feed = snapshot_changes(spark, p, since=1, until=2, row_level=True)
    kinds = [r._change_type for r in feed.collect()]
    assert kinds.count("update_preimage") == 10
    assert kinds.count("update_postimage") == 10


def test_mor_update_then_mor_update_same_rows(spark, tmp_path):
    """A second merge-on-read update must see the PATCHED values (its
    scan applies the first update's DV) and never resurrect old rows."""
    from dask_awkward_spark.sources.snapshot import snapshot_update

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id bigint, v double"), p
    )
    snapshot_update(spark, p, [("id", "=", 1)], {"v": F.lit(10.0)},
                    strategy="merge-on-read")
    snapshot_update(spark, p, [("id", "=", 1)], {"v": F.col("v") + 1},
                    strategy="merge-on-read")
    got = {(r.id, r.v) for r in snapshot_read(spark, p).collect()}
    assert got == {(1, 11.0), (2, 2.0)}  # 10.0 + 1, not 1.0 + 1


def test_apply_changes_key_changing_update_removes_old_key(spark, tmp_path):
    """A terminal pre-image (key-changing UPDATE) must delete the old
    key from dst — otherwise dst keeps both the old and new rows."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_apply_changes,
        snapshot_update,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snapshot_write(
        spark.createDataFrame([(1, "a"), (9, "z")], "id bigint, tag string"), src
    )
    snapshot_write(snapshot_read(spark, src), dst)
    snapshot_update(spark, src, [("id", "=", 1)], {"id": F.lit(2)})
    r = snapshot_apply_changes(spark, src, dst, on=["id"], since=1)
    assert r["upserted"] == 1 and r["deleted"] == 1
    got = {(x.id, x.tag) for x in snapshot_read(spark, dst).collect()}
    assert got == {(2, "a"), (9, "z")}  # 1 gone, 2 present — src parity


def test_apply_changes_refuses_unrepresentable_spans(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import (
        snapshot_apply_changes,
        snapshot_delete,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snapshot_write(
        spark.createDataFrame([(None, "x"), (1, "a")], "id bigint, tag string"), src
    )
    snapshot_write(snapshot_read(spark, src), dst)
    # NULL-key delete: nothing to match it by in dst
    snapshot_delete(spark, src, [("tag", "=", "x")])
    with pytest.raises(ValueError, match="NULL-key"):
        snapshot_apply_changes(spark, src, dst, on=["id"], since=1)
    # duplicate keys in one commit: not a unique key
    src2 = str(tmp_path / "src2")
    snapshot_write(spark.createDataFrame([(1, "a")], "id bigint, tag string"), src2)
    snapshot_write(
        spark.createDataFrame([(5, "p"), (5, "q")], "id bigint, tag string"),
        src2, mode="append",
    )
    with pytest.raises(ValueError, match="not a unique key"):
        snapshot_apply_changes(spark, src2, dst, on=["id"], since=1)
    # bad watermark: refused, never silently echoed back
    with pytest.raises(ValueError, match="not a version"):
        snapshot_apply_changes(spark, src2, dst, on=["id"], since=100)
    with pytest.raises(ValueError, match="at least one key"):
        snapshot_apply_changes(spark, src2, dst, on=[], since=1)


def test_apply_changes_chains_with_change_feed(spark, tmp_path):
    """change_feed=True (default) on dst lets replication cascade:
    src -> dst -> dst2."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_apply_changes,
        snapshot_update,
    )

    src, dst, dst2 = (str(tmp_path / n) for n in ("src", "dst", "dst2"))
    snapshot_write(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id bigint, v double"), src
    )
    snapshot_write(snapshot_read(spark, src), dst)
    snapshot_write(snapshot_read(spark, src), dst2)
    snapshot_update(spark, src, [("id", "=", 1)], {"v": F.lit(9.0)})
    r1 = snapshot_apply_changes(spark, src, dst, on=["id"], since=1)
    # cascade: dst's own CDF drives dst2
    snapshot_apply_changes(spark, dst, dst2, on=["id"], since=1)
    want = {(r.id, r.v) for r in snapshot_read(spark, src).collect()}
    assert {(r.id, r.v) for r in snapshot_read(spark, dst2).collect()} == want


# --------------------------------------------------- CHECK CONSTRAINTS


def test_constraint_blocks_bad_writes_everywhere(spark, tmp_path):
    """A registered CHECK constraint rejects violating rows on append,
    overwrite, update, and merge — validated on the STAGED files, and
    NULL passes (SQL CHECK semantics)."""
    from dask_awkward_spark.sources.snapshot import (
        SnapshotConstraintViolation,
        snapshot_add_constraint,
        snapshot_drop_constraint,
        snapshot_merge,
        snapshot_update,
    )

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(1, 10.0), (2, None)], "id bigint, score double"), p
    )
    snapshot_add_constraint(spark, p, "score_pos", [("score", ">=", 0.0)])
    # NULL score passed validation of existing data (CHECK semantics)
    with pytest.raises(SnapshotConstraintViolation, match="score_pos"):
        snapshot_write(
            spark.createDataFrame([(3, -1.0)], "id bigint, score double"),
            p, mode="append",
        )
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_update(spark, p, [("id", "=", 1)], {"score": F.lit(-5.0)})
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_update(spark, p, [("id", "=", 1)], {"score": F.lit(-5.0)},
                        strategy="merge-on-read")
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_merge(
            spark, p,
            spark.createDataFrame([(1, -2.0)], "id bigint, score double"),
            on=["id"],
        )
    # nothing committed by any failed attempt
    assert snapshot_read(spark, p).count() == 2
    # valid writes proceed; NULL inserts pass
    snapshot_write(
        spark.createDataFrame([(4, None), (5, 7.0)], "id bigint, score double"),
        p, mode="append",
    )
    assert snapshot_read(spark, p).count() == 4
    # drop -> violating write allowed again
    snapshot_drop_constraint(p, "score_pos")
    snapshot_write(
        spark.createDataFrame([(6, -1.0)], "id bigint, score double"),
        p, mode="append",
    )
    assert snapshot_read(spark, p).count() == 5


def test_constraint_add_validates_existing_and_feeds_cross(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import (
        SnapshotConstraintViolation,
        snapshot_add_constraint,
        snapshot_changes,
    )

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(10), p)                             # v1
    with pytest.raises(SnapshotConstraintViolation, match="existing row"):
        snapshot_add_constraint(spark, p, "big", [("id", ">=", 5)])
    v = snapshot_add_constraint(spark, p, "nonneg", [("id", ">=", 0)])  # v2
    with pytest.raises(ValueError, match="already exists"):
        snapshot_add_constraint(spark, p, "nonneg", [("id", ">=", 0)])
    snapshot_write(spark.range(10, 12), p, mode="append")          # v3
    # the metadata-only commit is feed-transparent in BOTH modes
    assert sorted(r.id for r in snapshot_changes(spark, p, since=1).collect()) == [10, 11]
    feed = snapshot_changes(spark, p, since=1, row_level=True)
    assert sorted(r.id for r in feed.collect()) == [10, 11]
    # constraints survive compaction and restore
    snapshot_compact(spark, p, target_file_bytes=1 << 30)          # v4
    from dask_awkward_spark.sources.snapshot import snapshot_restore

    snapshot_restore(p, v)                                         # v5
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_write(spark.range(-3, 0), p, mode="append")


def test_constraint_overwrite_and_schema_evolution(spark, tmp_path):
    """Overwrite carrying violating rows is rejected (the constraint
    survives data replacement); a merge_schema append that legally
    omits the constrained column passes — NULL passes CHECK."""
    from dask_awkward_spark.sources.snapshot import (
        SnapshotConstraintViolation,
        snapshot_add_constraint,
    )

    p = str(tmp_path / "tbl")
    snapshot_write(spark.createDataFrame([(1, 5.0)], "id bigint, score double"), p)
    snapshot_add_constraint(spark, p, "pos", [("score", ">=", 0.0)])
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_write(
            spark.createDataFrame([(9, -1.0)], "id bigint, score double"),
            p, mode="overwrite",
        )
    # legal schema-evolving append WITHOUT the constrained column
    snapshot_write(spark.range(100, 102), p, mode="append", merge_schema=True)
    got = snapshot_read(spark, p)
    assert got.filter(F.col("score").isNull()).count() == 2  # null-filled, passed


def test_constraint_datetime_values_roundtrip(spark, tmp_path):
    """Datetime constraint values must work end to end (encoded in the
    JSON manifest, decoded at enforcement) — and unencodable values are
    refused BEFORE any validation scan."""
    import datetime

    from dask_awkward_spark.sources.snapshot import (
        SnapshotConstraintViolation,
        snapshot_add_constraint,
    )

    p = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("2026-06-01 00:00:00",), ("2026-07-01 00:00:00",)], "ts string"
    ).select(F.to_timestamp("ts").alias("ts"))
    snapshot_write(df, p)
    cut = datetime.datetime(2026, 1, 1)
    snapshot_add_constraint(spark, p, "recent", [("ts", ">=", cut)])
    with pytest.raises(SnapshotConstraintViolation, match="recent"):
        snapshot_write(
            spark.createDataFrame([("2020-01-01 00:00:00",)], "ts string")
            .select(F.to_timestamp("ts").alias("ts")),
            p, mode="append",
        )
    ok = spark.createDataFrame([("2026-08-01 00:00:00",)], "ts string").select(
        F.to_timestamp("ts").alias("ts")
    )
    snapshot_write(ok, p, mode="append")
    assert snapshot_read(spark, p).count() == 3
    with pytest.raises(ValueError, match="not\\s+JSON-encodable"):
        snapshot_add_constraint(spark, p, "bad", [("ts", "=", object())])


def test_stream_cdf_emits_dml_changes(spark, tmp_path):
    """row_level=True streams the CDF: DML versions emit their recorded
    change rows (with _change_type/_commit_version) instead of failing,
    and the streamed set equals the batch feed exactly."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_changes,
        snapshot_delete,
        snapshot_merge,
        snapshot_update,
        stream_from_snapshot,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    snapshot_write(
        spark.createDataFrame([(i, float(i)) for i in range(5)], "id bigint, v double"),
        src,
    )                                                                   # v1
    snapshot_write(
        spark.createDataFrame([(10, 10.0)], "id bigint, v double"), src, mode="append"
    )                                                                   # v2
    snapshot_delete(spark, src, [("id", "=", 0)])                       # v3
    snapshot_update(spark, src, [("id", "=", 1)], {"v": F.lit(9.0)})    # v4
    snapshot_merge(
        spark, src,
        spark.createDataFrame([(2, 22.0), (30, 30.0)], "id bigint, v double"),
        on=["id"],
    )                                                                   # v5
    st = stream_from_snapshot(spark, src, start_version=1, row_level=True)
    q = (
        st.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = sorted(
        (r.id, r.v, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    batch = sorted(
        (r.id, r.v, r._change_type, r._commit_version)
        for r in snapshot_changes(spark, src, since=1, row_level=True).collect()
    )
    assert streamed == batch and len(streamed) == 7
    # a plain (non-CDF) stream over the same lineage still refuses
    st2 = stream_from_snapshot(spark, src)
    q2 = (
        st2.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    with pytest.raises(Exception, match="append-only|row_level"):
        q2.processAllAvailable()
        q2.stop()


def test_stream_cdf_refuses_unrecorded_dml(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import (
        snapshot_delete,
        stream_from_snapshot,
    )

    src = str(tmp_path / "src")
    snapshot_write(spark.range(5).repartition(1), src)
    snapshot_delete(spark, src, [("id", "=", 1)], change_feed=False)
    st = stream_from_snapshot(spark, src, row_level=True)
    q = (
        st.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    with pytest.raises(Exception, match="no row-level changes"):
        q.processAllAvailable()
        q.stop()


def test_stream_cdf_survives_schema_evolution(spark, tmp_path):
    """Older change/data files lack a later merge_schema column: the
    CDF stream must null-fill like the batch feed, not crash."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_changes,
        snapshot_delete,
        stream_from_snapshot,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    snapshot_write(spark.range(5).repartition(1), src)                  # v1
    snapshot_delete(spark, src, [("id", "=", 0)])                       # v2
    snapshot_write(
        spark.range(7, 9).withColumn("w", F.lit("x")), src,
        mode="append", merge_schema=True,
    )                                                                   # v3
    st = stream_from_snapshot(spark, src, start_version=1, row_level=True)
    q = (
        st.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = sorted(
        (r.id, r.w, r._change_type) for r in spark.read.parquet(out).collect()
    )
    batch = sorted(
        (r.id, r.w, r._change_type)
        for r in snapshot_changes(spark, src, since=1, row_level=True).collect()
    )
    assert streamed == batch
    assert (0, None, "delete") in streamed  # old change file null-fills w


def test_batch_face_declines_row_level(spark, tmp_path):
    """The spark.read face refuses the streaming-only row_level option
    instead of silently returning all-NULL CDF columns."""
    from dask_awkward_spark.sources.snapshot import SnapshotStreamSource

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(3), p)
    spark.dataSource.register(SnapshotStreamSource)
    with pytest.raises(Exception, match="row_level is a streaming option"):
        (
            spark.read.format("snapshot_stream")
            .option("path", p)
            .option("row_level", "true")
            .load()
            .collect()
        )


def test_apply_changes_refuses_key_reassigning_dup_postimages(spark, tmp_path):
    """A key-reassigning UPDATE that lands TWO update_postimage rows on
    one key in one commit means on= is not a unique key — the net-effect
    window would collapse them arbitrarily, so it must refuse (round-5
    ADVICE: the dup guard only covered inserts)."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_apply_changes,
        snapshot_update,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snapshot_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (9, "z")], "id bigint, tag string"
        ),
        src,
    )
    snapshot_write(snapshot_read(spark, src), dst)
    # both id=1 and id=2 are reassigned to id=5 in ONE commit
    snapshot_update(spark, src, [("id", "<", 3)], {"id": F.lit(5)})
    with pytest.raises(ValueError, match="not a unique key"):
        snapshot_apply_changes(spark, src, dst, on=["id"], since=1)


def test_cdf_vacuumed_gap_raises_descriptive_error(spark, tmp_path):
    """snapshot_changes(row_level=True) across a span whose early
    manifests were vacuumed must raise the 'vacuumed away' ValueError,
    not a raw FileNotFoundError from the walk (round-5 ADVICE)."""
    p = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "id bigint, tag string")
    snapshot_write(df, p)
    snapshot_write(df, p, mode="append")
    snapshot_write(df, p, mode="append")
    snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    with pytest.raises(ValueError, match="vacuumed away"):
        snapshot_changes(spark, p, since=0, row_level=True)


def test_lock_break_is_token_conditioned(tmp_path, monkeypatch):
    """A breaker that renames a SUCCESSOR'S fresh lock (because a faster
    breaker already broke the stale one and a new writer re-acquired in
    the window) must detect the token mismatch, RESTORE the lock, and
    re-poll — never treat the rename as a won break (VERDICT r6 ADVICE:
    two writers in the critical section = silent lost commit)."""
    import time as _time

    import dask_awkward_spark.sources.snapshot as sn

    cp = sn.ConditionalPutBackend()
    cp.acquire_timeout = 0.5  # instance attr: fail fast once re-polling
    final = str(tmp_path / "v00000003.json")
    lock = str(tmp_path / ".lock-v00000003.json")
    with open(lock, "wb") as f:
        f.write(b"stale-crashed-holder")
    old = _time.time() - cp.lock_ttl - 5
    os.utime(lock, (old, old))

    fresh = b"fresh-successor-token"
    real_rename = os.rename
    fired = []

    def rename_spy(src, dst):
        if src == lock and not fired:
            fired.append(1)
            # simulate the race losing window: another breaker broke the
            # stale lock and a successor re-acquired with a fresh token
            # just before OUR rename lands
            with open(src, "wb") as f:
                f.write(fresh)
            os.utime(src)  # fresh mtime: the successor is live
        return real_rename(src, dst)

    monkeypatch.setattr(sn.os, "rename", rename_spy)
    with pytest.raises(TimeoutError):
        cp.put_if_absent(final, b"{}")
    # the successor's lock was restored intact — not unlinked, not left
    # in a grave — and the manifest was never published by the loser
    with open(lock, "rb") as f:
        assert f.read() == fresh
    assert not os.path.exists(final)
    leftovers = [n for n in os.listdir(tmp_path) if ".broken-" in n]
    assert leftovers == []


def test_all_match_refuses_float_columns(spark, tmp_path):
    """The whole-file DELETE fast path must not trust min==max proofs on
    float/double columns: NaN rows are excluded from null_count and
    whether they suppress min/max is parquet-writer-dependent, so a
    min==max file can hide NaN rows that do NOT satisfy `col = v`
    (VERDICT r6 ADVICE). all-match errs safe; may-match is unchanged."""
    from dask_awkward_spark.sources.snapshot import (
        _file_all_match,
        _file_may_match,
        snapshot_delete,
        snapshot_read,
    )

    stats = {
        "rows": 4,
        "nulls": {"x": 0, "k": 0},
        "minmax": {"x": [1.5, 1.5], "k": [7, 7]},
    }
    assert _file_all_match(stats, [("x", "=", 1.5)]) is False  # float: no proof
    assert _file_all_match(stats, [("k", "=", 7)]) is True  # int: provable
    assert _file_may_match(stats, "x", "=", 1.5) is True  # may-match unchanged

    # end-to-end: a delete on a float column still removes exactly the
    # matching rows via the row-level path (NaN row survives col=1.5)
    p = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 1.5), (2, 1.5), (3, float("nan"))], "id bigint, x double"
    ).coalesce(1)
    snapshot_write(df, p)
    stats_out = snapshot_delete(spark, p, [("x", "=", 1.5)])
    assert stats_out["removed_rows"] == 2
    left = snapshot_read(spark, p).collect()
    assert len(left) == 1 and left[0].id == 3


def test_vacuumed_since_raises_descriptive_error(spark, tmp_path):
    """A vacuumed-away `since` version must surface as the descriptive
    re-bootstrap ValueError in BOTH change-feed modes, never a raw
    FileNotFoundError (VERDICT r6 ADVICE — pinned as already covered:
    the (since, u) membership check precedes any manifest read)."""
    from dask_awkward_spark.sources.snapshot import (
        _manifest_dir,
        snapshot_changes,
    )

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)
    for i in range(3):
        snapshot_write(spark.range(5), p, mode="append")
    os.unlink(os.path.join(_manifest_dir(p), "v00000001.json"))
    with pytest.raises(ValueError, match="vacuumed"):
        snapshot_changes(spark, p, since=1, until=3, row_level=True)
    with pytest.raises(ValueError, match="vacuumed"):
        snapshot_changes(spark, p, since=1, until=3)
    with pytest.raises(ValueError, match="vacuumed"):
        snapshot_changes(spark, p, since=0, until=3, row_level=True)


def test_snapshot_view_sql_face(spark, tmp_path):
    """snapshot_view registers a temp view pinned at registration:
    spark.sql reads it, later commits stay invisible, version=/as_of=
    select history, and DVs + hive partitions carry through the SQL
    face transparently (VERDICT r6 item 3)."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_view,
    )

    p = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(100)],
        "id bigint, part string, v double",
    )
    snapshot_write(df, p, partition_by=["part"])  # v1, hive layout
    stats = snapshot_delete(
        spark, p, [("id", "<", 10)], strategy="merge-on-read"
    )  # v2: deletion vectors, no rewrite
    assert stats["rewritten_files"] == 0

    name = f"dak_view_{os.getpid()}"
    got = snapshot_view(spark, p, name)  # pinned at v2 (head now)
    assert got.count() == 90
    # the SQL face applies the DVs and sees the partition column
    row = spark.sql(
        f"SELECT count(*) AS n, min(id) AS lo, count(DISTINCT part) AS np FROM {name}"
    ).first()
    assert (row.n, row.lo, row.np) == (90, 10, 2)

    # a commit AFTER registration must not shift the pinned view
    snapshot_write(
        spark.createDataFrame([(1000, "a", 1.0)], "id bigint, part string, v double"),
        p,
        mode="append",
    )
    assert spark.sql(f"SELECT count(*) AS n FROM {name}").first().n == 90

    # VERSION AS OF: v1 still shows the pre-delete rows
    v1 = f"{name}_v1"
    snapshot_view(spark, p, v1, version=1)
    assert spark.sql(f"SELECT count(*) AS n FROM {v1}").first().n == 100
    # where= prunes at registration without changing answers
    wv = f"{name}_w"
    snapshot_view(spark, p, wv, version=1, where=[("part", "=", "a")])
    assert spark.sql(f"SELECT count(*) AS n FROM {wv}").first().n == 50
    for n in (name, v1, wv):
        spark.catalog.dropTempView(n)


def test_snapshot_view_as_of_and_refresh(spark, tmp_path):
    """as_of= pins by wall clock; re-registering the same name follows
    the head (the documented refresh idiom)."""
    import time as _time

    from dask_awkward_spark.sources.snapshot import snapshot_view

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)
    t_between = _time.time()
    _time.sleep(0.05)
    snapshot_write(spark.range(7), p, mode="overwrite")

    name = f"dak_view_asof_{os.getpid()}"
    snapshot_view(spark, p, name, as_of=t_between)
    assert spark.sql(f"SELECT count(*) AS n FROM {name}").first().n == 5
    snapshot_view(spark, p, name)  # refresh to head
    assert spark.sql(f"SELECT count(*) AS n FROM {name}").first().n == 7
    with pytest.raises(ValueError, match="at most one"):
        snapshot_view(spark, p, name, version=1, as_of=t_between)
    spark.catalog.dropTempView(name)


def test_merge_conditional_clauses(spark, tmp_path):
    """Delta-grammar MERGE: WHEN MATCHED AND cond THEN update/delete
    clauses, first-match-wins, partial-column assignment, fall-through
    rows persist unchanged, and the CDF records exactly the clause-hit
    rows (VERDICT r6 item 6)."""
    from dask_awkward_spark.sources.snapshot import snapshot_changes, snapshot_merge

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame(
            [(i, f"u{i}", float(i * 10)) for i in range(8)],
            "k bigint, name string, bal double",
        ),
        p,
    )
    # CDC-shaped source: extra column drives conditions, table columns
    # partially present (no `name` — partial assignment doesn't need it)
    cdc = spark.createDataFrame(
        [(1, "del", 0.0), (2, "upd", 999.0), (3, "upd", 5.0), (100, "new", 1.0)],
        "k bigint, op string, newbal double",
    )
    stats = snapshot_merge(
        spark,
        p,
        cdc,
        on=["k"],
        when_matched=[
            ("s.op = 'del'", "delete", None),
            ("s.op = 'upd' AND s.newbal > t.bal", "update", {"bal": "s.newbal"}),
        ],
        when_not_matched=None,
    )
    assert (stats["updated_rows"], stats["deleted_rows"], stats["inserted_rows"]) == (1, 1, 0)
    got = {r.k: (r.name, r.bal) for r in snapshot_read(spark, p).collect()}
    assert 1 not in got  # delete clause
    assert got[2] == ("u2", 999.0)  # update clause, name untouched (partial)
    assert got[3] == ("u3", 30.0)  # condition false: fell through, unchanged
    assert 100 not in got  # no not-matched action
    # CDF: exactly the clause-hit rows, nothing for fall-through
    ch = sorted(
        (r.k, r._change_type, r.bal)
        for r in snapshot_changes(spark, p, since=1, row_level=True).collect()
    )
    assert ch == [
        (1, "delete", 10.0),
        (2, "update_postimage", 999.0),
        (2, "update_preimage", 20.0),
    ]
    # first-match-wins: both clauses match k=2; the first applies
    stats2 = snapshot_merge(
        spark,
        p,
        cdc.filter("k = 2"),
        on=["k"],
        when_matched=[
            ("s.op = 'upd'", "update", {"bal": "t.bal + 1"}),
            (None, "delete", None),
        ],
        when_not_matched=None,
    )
    assert (stats2["updated_rows"], stats2["deleted_rows"]) == (1, 0)
    assert snapshot_read(spark, p).filter("k = 2").first().bal == 1000.0


def test_merge_conditional_validations_and_noop(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_merge, snapshot_versions

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(1, 1.0)], "k bigint, bal double"), p
    )
    src = spark.createDataFrame([(1, 2.0)], "k bigint, bal double")
    with pytest.raises(ValueError, match="update|delete"):
        snapshot_merge(spark, p, src, on=["k"], when_matched=[("x", "nope", None)])
    with pytest.raises(ValueError, match="LAST"):
        snapshot_merge(
            spark, p, src, on=["k"],
            when_matched=[(None, "update", None), ("c", "delete", None)],
        )
    with pytest.raises(ValueError, match="key columns"):
        snapshot_merge(
            spark, p, src, on=["k"], when_matched=[("1=1", "update", {"k": "s.k"})]
        )
    with pytest.raises(ValueError, match="no assignments"):
        snapshot_merge(
            spark, p, src, on=["k"], when_matched=[("1=1", "delete", {"bal": "0"})]
        )
    with pytest.raises(ValueError, match="empty"):
        snapshot_merge(spark, p, src, on=["k"], when_matched=[])
    # every matched row falls through every clause: NOTHING rewrites
    head = snapshot_versions(p)[-1]["version"]
    out = snapshot_merge(
        spark, p, src, on=["k"],
        when_matched=[("s.bal < t.bal", "update", {"bal": "s.bal"})],
        when_not_matched=None,
    )
    assert out["version"] == head  # no-op: no commit at all
    assert out["rewritten_rows" if "rewritten_rows" in out else "rewritten_files"] == 0
    # fall-through + insert composes: commits as an APPEND (feed-safe)
    src2 = spark.createDataFrame([(1, 0.5), (9, 9.0)], "k bigint, bal double")
    out2 = snapshot_merge(
        spark, p, src2, on=["k"],
        when_matched=[("s.bal > t.bal", "update", None)],
    )
    assert (out2["updated_rows"], out2["inserted_rows"]) == (0, 1)
    assert snapshot_versions(p)[-1]["op"] == "append"
    # ambiguity (two source rows, one target key) still refused
    dup = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k bigint, bal double")
    with pytest.raises(ValueError, match="ambiguous"):
        snapshot_merge(
            spark, p, dup, on=["k"],
            when_matched=[(None, "update", None)], when_not_matched=None,
        )


def test_merge_conditional_full_row_update_and_insert(spark, tmp_path):
    """Full-row update clause (assignments=None) + insert in one commit;
    widening casts apply to clause-mode sources like legacy merges."""
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "k bigint, name string, bal double"
        ),
        p,
    )
    # int k and float bal: lossless upcasts into bigint/double
    src = spark.createDataFrame(
        [(1, "A", 11.0), (3, "C", 33.0)], "k int, name string, bal float"
    )
    out = snapshot_merge(
        spark, p, src, on=["k"],
        when_matched=[("s.bal > t.bal", "update", None)],
    )
    assert (out["updated_rows"], out["inserted_rows"]) == (1, 1)
    got = {r.k: (r.name, r.bal) for r in snapshot_read(spark, p).collect()}
    assert got[1] == ("A", 11.0) and got[2] == ("b", 2.0) and got[3] == ("C", 33.0)


def test_merge_clause_nondeterministic_assignment_pins_once(spark, tmp_path):
    """A rand() assignment must produce a CDF postimage IDENTICAL to the
    committed rows — conditions AND assignments are pinned to one
    evaluation (round-7 review finding)."""
    from dask_awkward_spark.sources.snapshot import snapshot_changes, snapshot_merge

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(i, 0.0) for i in range(50)], "k bigint, v double"),
        p,
    )
    src = spark.createDataFrame([(i,) for i in range(50)], "k bigint")
    snapshot_merge(
        spark, p, src, on=["k"],
        when_matched=[(None, "update", {"v": "rand()"})],
        when_not_matched=None,
    )
    committed = {r.k: r.v for r in snapshot_read(spark, p).collect()}
    post = {
        r.k: r.v
        for r in snapshot_changes(spark, p, since=1, row_level=True)
        .filter("_change_type = 'update_postimage'")
        .collect()
    }
    assert post == committed  # byte-for-byte the rows that landed


def test_merge_clause_unknown_assignment_column_refused(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = str(tmp_path / "tbl")
    snapshot_write(spark.createDataFrame([(1, 1.0)], "k bigint, v double"), p)
    src = spark.createDataFrame([(1, 2.0)], "k bigint, v double")
    with pytest.raises(ValueError, match="unknown columns"):
        snapshot_merge(
            spark, p, src, on=["k"],
            when_matched=[(None, "update", {"vv": "s.v"})],
            when_not_matched=None,
        )


def test_case_variant_readd_gets_fresh_physical(spark, tmp_path):
    """Re-adding a DROPPED column under a case variant must still get a
    fresh physical name — reads resolve case-insensitively, so reusing
    'A' over retired 'a' would resurrect the dropped bytes (round-7
    review finding)."""
    from dask_awkward_spark.sources import snapshot as snap
    from dask_awkward_spark.sources.snapshot import snapshot_drop_column

    p = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([(1, 123.0)], "k bigint, extra double"), p
    )
    snapshot_drop_column(p, "extra")
    snapshot_write(
        spark.createDataFrame([(2, "fresh")], "k bigint, EXTRA string"),
        p,
        mode="append",
        merge_schema=True,
    )
    cm = snap._read_manifest(p, snap._versions(p)[-1])["column_mapping"]
    assert cm["physical"]["EXTRA"].lower() != "extra"  # never the retired name
    rows = {r.k: r.EXTRA for r in snapshot_read(spark, p).collect()}
    assert rows[1] is None and rows[2] == "fresh"  # old doubles stay buried


def test_tags_pin_versions_and_survive_vacuum(spark, tmp_path):
    """snapshot_tag: named pins readable via tag=, immutable under a
    racing re-tag, and vacuum RETAINS the tagged version (and the log
    above it) until the tag is dropped."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_delete_tag,
        snapshot_tag,
        snapshot_tags,
        snapshot_view,
        snapshot_vacuum,
    )

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), p)  # v1
    assert snapshot_tag(p, "run-a") == 1  # defaults to head
    snapshot_write(spark.range(9), p)  # v2 overwrite
    snapshot_write(spark.range(3), p)  # v3 overwrite
    assert snapshot_tags(p) == {"run-a": 1}
    assert snapshot_read(spark, p, tag="run-a").count() == 5
    # SQL face composes
    name = f"dak_tag_{os.getpid()}"
    snapshot_view(spark, p, name, tag="run-a")
    assert spark.sql(f"SELECT count(*) AS n FROM {name}").first().n == 5
    spark.catalog.dropTempView(name)
    # immutable: re-tagging the name refuses with the pinned version
    with pytest.raises(ValueError, match="already exists"):
        snapshot_tag(p, "run-a", version=3)
    with pytest.raises(ValueError, match="not in"):
        snapshot_read(spark, p, tag="ghost")
    with pytest.raises(ValueError, match="at most one"):
        snapshot_read(spark, p, tag="run-a", version=1)
    # vacuum with zero retention would normally drop v1/v2 — the tag
    # holds them (log contiguity from the oldest tagged version)
    stats = snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    assert stats["removed_manifests"] == 0
    assert snapshot_read(spark, p, tag="run-a").count() == 5
    # drop the tag: the next vacuum reclaims
    snapshot_delete_tag(p, "run-a")
    assert snapshot_tags(p) == {}
    stats = snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    assert stats["removed_manifests"] == 2
    with pytest.raises(ValueError):
        snapshot_read(spark, p, version=1)
    assert snapshot_read(spark, p).count() == 3
    # tag names become object names: validate
    with pytest.raises(ValueError, match="tag name"):
        snapshot_tag(p, "bad/name")


def test_tag_creation_is_atomic_under_race(tmp_path, spark):
    import threading

    from dask_awkward_spark.sources.snapshot import snapshot_tag

    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(3), p)
    snapshot_write(spark.range(4), p)
    wins, errs = [], []
    barrier = threading.Barrier(6)

    def claim(v):
        barrier.wait()
        try:
            snapshot_tag(p, "pin", version=v)
            wins.append(v)
        except ValueError:
            errs.append(v)

    ts = [threading.Thread(target=claim, args=(1 + (k % 2),)) for k in range(6)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(wins) == 1 and len(errs) == 5


def test_convert_adopts_parquet_dir_in_place(spark, tmp_path):
    """snapshot_convert: an existing parquet directory becomes v1
    without copying a byte; the full surface (time travel, pruning,
    DML, vacuum of dereferenced adopted files) applies from then on."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_convert,
        snapshot_delete,
        snapshot_vacuum,
        snapshot_versions,
    )

    p = str(tmp_path / "lake")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartitionByRange(4, "id").write.parquet(p)
    before = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(p)
        for f in fs
        if f.endswith(".parquet")
    )
    assert snapshot_convert(spark, p) == 1
    m = snapshot_versions(p)[-1]
    assert m["op"] == "convert" and len(m["files"]) == len(before)
    # zero bytes copied: the adopted files are EXACTLY the old ones
    after = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(p)
        for f in fs
        if f.endswith(".parquet") and "_manifests" not in r
    )
    assert after == before
    assert snapshot_read(spark, p).count() == 100
    # footer stats were harvested: range predicates prune adopted files
    from dask_awkward_spark.sources.snapshot import snapshot_scan_report

    rep = snapshot_scan_report(p, [("id", "<", 10)])
    assert rep["skipped"] > 0
    # DML works; a partial-file delete REWRITES into data/ beside the
    # adopted files (an in-list can never whole-file all-match here)
    snapshot_delete(spark, p, [("id", "in", list(range(50, 75)))])
    assert snapshot_read(spark, p).count() == 75
    assert snapshot_read(spark, p, version=1).count() == 100  # time travel
    m2 = snapshot_versions(p)[-1]
    assert any(f.startswith("data/") for f in m2["files"])
    # vacuum reclaims DEREFERENCED adopted files (outside data/)
    stats = snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    assert stats["removed_files"] > 0
    assert snapshot_read(spark, p).count() == 75
    # the adopted file the delete rewrote is physically gone
    left = [
        f
        for r, _d, fs in os.walk(p)
        for f in fs
        if f.endswith(".parquet") and "_manifests" not in r and "data" not in r.split(os.sep)
    ]
    assert len(left) < len(before)


def test_convert_refusals(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_convert

    # hive layout whose partition column lives only in dir names
    p = str(tmp_path / "hive")
    spark.range(20).withColumn("part", (F.col("id") % 2).cast("int")).write.partitionBy(
        "part"
    ).parquet(p)
    with pytest.raises(ValueError, match="not stored inside"):
        snapshot_convert(spark, p)
    # already a snapshot table
    q = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), q)
    with pytest.raises(ValueError, match="already a snapshot table"):
        snapshot_convert(spark, q)
    # empty dir
    e = str(tmp_path / "empty")
    os.makedirs(e)
    with pytest.raises(ValueError, match="no parquet files"):
        snapshot_convert(spark, e)


def test_convert_widening_and_duplicate_basenames(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_convert

    # mixed-width generations adopt under the merged wide schema
    p = str(tmp_path / "mixed")
    spark.range(5).select(F.col("id").cast("int").alias("k")).coalesce(1).write.parquet(
        os.path.join(p, "gen1")
    )
    spark.range(5, 9).select(F.col("id").cast("bigint").alias("k")).coalesce(
        1
    ).write.parquet(os.path.join(p, "gen2"))
    snapshot_convert(spark, p)
    got = snapshot_read(spark, p)
    assert got.schema.simpleString() == "struct<k:bigint>"
    assert sorted(r.k for r in got.collect()) == list(range(9))
    # duplicate basenames refuse (deletion vectors address by basename)
    q = str(tmp_path / "dup")
    os.makedirs(os.path.join(q, "a"))
    os.makedirs(os.path.join(q, "b"))
    import shutil as _sh

    src = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(p)
        for f in fs
        if f.endswith(".parquet")
    ][0]
    _sh.copyfile(src, os.path.join(q, "a", "part-0.parquet"))
    _sh.copyfile(src, os.path.join(q, "b", "part-0.parquet"))
    with pytest.raises(ValueError, match="duplicate file basename"):
        snapshot_convert(spark, q)


def test_vacuum_refuses_non_table_directory(spark, tmp_path):
    """Vacuum on a plain parquet directory (no manifest log) must raise,
    never GC the user's files as 'unreferenced' (round-7 third-review
    finding: the whole-root walk made this a mass-delete)."""
    p = str(tmp_path / "plain")
    spark.range(50).write.parquet(p)
    n_before = sum(
        1 for _r, _d, fs in os.walk(p) for f in fs if f.endswith(".parquet")
    )
    with pytest.raises(FileNotFoundError, match="no snapshot manifests"):
        snapshot_vacuum(p, keep_last=1, retain_seconds=0)
    n_after = sum(
        1 for _r, _d, fs in os.walk(p) for f in fs if f.endswith(".parquet")
    )
    assert n_after == n_before  # nothing touched


def test_convert_case_variant_hive_column_adopts(spark, tmp_path):
    """A hive dir whose column is stored inside the files under a case
    VARIANT adopts fine — presence is matched case-insensitively, like
    every read path."""
    from dask_awkward_spark.sources.snapshot import snapshot_convert

    p = str(tmp_path / "lake")
    os.makedirs(os.path.join(p, "part=0"))
    spark.createDataFrame(
        [(1, 0), (2, 0)], "id bigint, Part int"
    ).coalesce(1).write.parquet(os.path.join(p, "part=0", "inner"))
    # move the files up so the layout is part=0/*.parquet
    inner = os.path.join(p, "part=0", "inner")
    for f in os.listdir(inner):
        if f.endswith(".parquet"):
            os.rename(os.path.join(inner, f), os.path.join(p, "part=0", f))
    import shutil as _sh

    _sh.rmtree(inner)
    snapshot_convert(spark, p)
    assert snapshot_read(spark, p).count() == 2


def test_storage_backend_migration_mid_table(spark, tmp_path):
    """A table's on-disk layout is backend-agnostic: written under the
    POSIX plane, it reads/DMLs/compacts/vacuums under the object-copy
    plane (and back) — the lift-to-object-store migration scenario.
    Mixed-backend WRITERS also interleave safely: the commit plane
    serializes versions regardless of which data plane staged them."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_compact,
        snapshot_delete,
        set_storage_backend,
    )

    p = str(tmp_path / "tbl")
    prev = set_storage_backend("posix")
    try:
        snapshot_write(spark.range(100).repartition(4), p)  # posix plane
        set_storage_backend("object-copy")
        snapshot_write(spark.range(100, 120), p, mode="append")  # obj plane
        assert snapshot_read(spark, p).count() == 120
        stats = snapshot_delete(spark, p, [("id", "<", 10)])
        assert stats["removed_rows"] == 10
        set_storage_backend("posix")  # and back
        assert snapshot_read(spark, p).count() == 110
        snapshot_compact(spark, p)
        assert snapshot_read(spark, p).count() == 110
        set_storage_backend("object-copy")
        snapshot_vacuum(p, keep_last=1, retain_seconds=0)
        assert snapshot_read(spark, p).count() == 110
        assert sorted(r.id for r in snapshot_read(spark, p).collect()) == list(
            range(10, 120)
        )
    finally:
        set_storage_backend(prev)


def test_stream_watermarks_are_per_app(spark, tmp_path):
    """txnAppId semantics (round-11 second review): each stream owns
    its own watermark, so another app's commits can never clobber a
    stable app's dedup state — A's lost-checkpoint replay still
    dedupes AFTER B ingested in between."""
    from dask_awkward_spark.sources.snapshot import stream_to_snapshot

    p = str(tmp_path / "tbl")
    stream_to_snapshot(
        _descriptor_stream(spark, 3), p,
        checkpoint_dir=str(tmp_path / "a1"), app_id="A",
    )
    # app B lands its own batches 0..1 (ids restart — must not dedupe)
    stream_to_snapshot(
        _descriptor_stream(spark, 2), p,
        checkpoint_dir=str(tmp_path / "b1"), app_id="B",
    )
    got = sorted(r.id for r in snapshot_read(spark, p).collect())
    assert got == [0, 0, 1, 1, 2]
    # A lost its checkpoint: full replay of 0..3 — only batch 3 is new,
    # even though B's commits came after A's watermark
    stream_to_snapshot(
        _descriptor_stream(spark, 4), p,
        checkpoint_dir=str(tmp_path / "a2"), app_id="A",
    )
    got = sorted(r.id for r in snapshot_read(spark, p).collect())
    assert got == [0, 0, 1, 1, 2, 3]
    # and B's replay over ITS lost checkpoint dedupes too
    stream_to_snapshot(
        _descriptor_stream(spark, 2), p,
        checkpoint_dir=str(tmp_path / "b2"), app_id="B",
    )
    assert snapshot_read(spark, p).count() == 6


def test_legacy_watermark_never_swallows_a_new_app(spark, tmp_path):
    """A pre-app-scoping manifest (single slot, no app id) keeps its
    own replay protection under the '' key but must not swallow the
    first batches of a NEW app attaching after the upgrade."""
    from dask_awkward_spark.sources.snapshot import (
        _read_manifest,
        _versions,
        stream_to_snapshot,
    )

    p = str(tmp_path / "tbl")
    # simulate a legacy table: commit with a batch id but NO app id
    snapshot_write(spark.range(3), p, stream_batch_id=5)
    m = _read_manifest(p, _versions(p)[-1])
    assert m["stream_batch_id"] == 5 and not m.get("stream_app_id")
    # a NEW stream (checkpoint-derived app) starts at batch 0: must land
    stream_to_snapshot(
        _descriptor_stream(spark, 2), p, checkpoint_dir=str(tmp_path / "c1")
    )
    assert snapshot_read(spark, p).count() == 5
    # while a legacy-style writer (no app id) is still deduped at <= 5
    import pytest as _pytest

    from dask_awkward_spark.sources.snapshot import SnapshotBatchReplayedError

    with _pytest.raises(SnapshotBatchReplayedError):
        snapshot_write(spark.range(1), p, mode="append", stream_batch_id=4)


def test_stream_marks_are_bounded(spark, tmp_path, monkeypatch):
    """Review r11 (4th pass): the per-app watermark map caps at
    DAK_SNAPSHOT_STREAM_MARKS_MAX by least-recently-updated eviction —
    N historical ingest runs must not bloat every later manifest
    forever; the most recent apps keep their dedup."""
    import dask_awkward_spark.sources.snapshot as snap_mod
    from dask_awkward_spark.sources.snapshot import (
        _read_manifest,
        _stream_marks,
        _versions,
    )

    monkeypatch.setattr(snap_mod, "_STREAM_MARKS_MAX", 3)
    p = str(tmp_path / "tbl")
    snapshot_write(spark.range(1), p)
    for i in range(6):
        snapshot_write(
            spark.range(1), p, mode="append",
            stream_batch_id=0, stream_app_id=f"app{i}",
        )
    marks = _stream_marks(_read_manifest(p, _versions(p)[-1]))
    assert len(marks) == 3
    assert "app5" in marks  # the latest writer always survives
    # an evicted app may duplicate on replay but is never BLOCKED
    snapshot_write(
        spark.range(1), p, mode="append",
        stream_batch_id=0, stream_app_id="app0",
    )
    assert snapshot_read(spark, p).count() == 8


def test_update_nondeterministic_rhs_postimage_matches_data(spark, tmp_path):
    """r13: the CoW UPDATE consistency pin is skipped only when Spark
    PROVES the plan deterministic — a rand() RHS must still pin one
    evaluation so the postimage records exactly the committed values,
    and current_timestamp() (per-query folded, 'deterministic' to
    Spark) must also keep the pin."""
    from dask_awkward_spark.sources.snapshot import (
        _plan_deterministic,
        snapshot_changes,
        snapshot_read,
        snapshot_update,
        snapshot_write,
    )

    p = str(tmp_path / "ndet")
    snapshot_write(
        spark.range(200).select(F.col("id"), (F.col("id") * 0.5).alias("v")), p
    )
    snapshot_update(spark, p, [("id", "<", 100)], {"v": F.rand(seed=7) + F.lit(100.0)})
    post = {
        r.id: r.v
        for r in snapshot_changes(spark, p, since=1, row_level=True)
        .filter("_change_type = 'update_postimage'")
        .collect()
    }
    data = {r.id: r.v for r in snapshot_read(spark, p).filter("id < 100").collect()}
    assert post == data, "postimage must record the exact committed values"
    # determinism probe: time-valued functions are NOT provably stable
    df = spark.range(3)
    assert _plan_deterministic(df.select((F.col("id") + 1).alias("x")))
    assert not _plan_deterministic(df.select(F.rand().alias("x")))
    assert not _plan_deterministic(df.select(F.current_timestamp().alias("x")))
    assert not _plan_deterministic(df.select(F.expr("now()").alias("x")))


def test_update_current_time_postimage_matches_data(spark, tmp_path):
    """current_time() folds to a new literal in each query, like
    current_timestamp(), so a copy-on-write UPDATE assigning it must keep
    the pin: the postimage records exactly the committed values."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_changes,
        snapshot_read,
        snapshot_update,
        snapshot_write,
    )

    p = str(tmp_path / "ctime")
    snapshot_write(
        spark.range(300).select("id", F.lit("").alias("s")), p
    )
    snapshot_update(
        spark, p, [("id", ">=", 0)], {"s": F.expr("cast(current_time() as string)")}
    )
    post = {
        r.id: r.s
        for r in snapshot_changes(spark, p, since=1, row_level=True)
        .filter("_change_type = 'update_postimage'")
        .collect()
    }
    data = {r.id: r.s for r in snapshot_read(spark, p).collect()}
    assert len(post) == 300 and post == data


@pytest.mark.parametrize(
    "fn",
    [
        "current_timestamp()",
        "now()",
        "current_date()",
        "current_time()",
        "localtimestamp()",
        "current_timezone()",
    ],
)
def test_time_functions_are_not_deterministic(spark, fn):
    """Each expression Spark folds to a per-query literal (the set its
    ComputeCurrentTime rule replaces) keeps the consistency pin."""
    from dask_awkward_spark.sources.snapshot import _plan_deterministic

    assert not _plan_deterministic(spark.range(3).select(F.expr(fn).alias("x")))


def test_time_function_names_elsewhere_are_deterministic(spark):
    """The gate matches expression classes, not text: a string literal
    spelling a time function and a column named ``now`` are stable."""
    from dask_awkward_spark.sources.snapshot import _plan_deterministic

    df = spark.range(3).withColumnRenamed("id", "now")
    assert _plan_deterministic(df.select((F.col("now") + 1).alias("x")))
    assert _plan_deterministic(df.select(F.lit("now()").alias("x")))
    assert _plan_deterministic(
        df.select(F.concat(F.lit("current_time("), F.col("now")).alias("x"))
    )


def test_delete_counts_from_metadata_match_scan(spark, tmp_path):
    """r13: CoW DELETE's pre-rewrite row count comes from manifest
    stats (minus DV positions) — the returned counts must equal the
    old full-scan answer, including under stacked deletion vectors."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_read,
        snapshot_write,
    )

    p = str(tmp_path / "mcount")
    snapshot_write(
        spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("g")), p
    )
    # stack a DV first so the metadata count must subtract positions
    st_mor = snapshot_delete(spark, p, [("g", "=", 3)], strategy="merge-on-read")
    assert st_mor["removed_rows"] == 14 and st_mor["delete_files"] == 1
    st = snapshot_delete(spark, p, [("g", "=", 5)])
    assert st["removed_rows"] == 14
    assert snapshot_read(spark, p).count() == 100 - 14 - 14
    # MOR no-op delete publishes nothing and leaves no stray data files
    import glob as _glob

    before_files = set(_glob.glob(f"{p}/data/*.parquet"))
    st2 = snapshot_delete(
        spark, p, [("g", "=", 3)], strategy="merge-on-read"
    )
    assert st2["removed_rows"] == 0 and st2["version"] == st["version"]
    assert set(_glob.glob(f"{p}/data/*.parquet")) == before_files

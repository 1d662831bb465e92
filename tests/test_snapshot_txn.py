"""Staged transactions (sources/snapshot.py snapshot_txn — VERDICT r10
item 5): commits made inside the context stage in an overlay and
publish as ONE CAS commit per touched table on exit; any failure —
including a crash injected between stage and publish — leaves NO
observable state. snapshot_sql_script(on_error="atomic") rides the
same machinery, and rollback mode now detects lineage replacement
(ADVICE r10)."""

from __future__ import annotations

import glob
import os

import pytest

# every test runs under BOTH data-plane backends (posix / object-copy)
pytestmark = pytest.mark.usefixtures("snapshot_storage_backend")
from pyspark.sql import functions as F

from dask_awkward_spark.sources.snapshot import (
    SnapshotConflictError,
    _read_manifest,
    _versions,
    snapshot_changes,
    snapshot_delete,
    snapshot_read,
    snapshot_txn,
    snapshot_vacuum,
    snapshot_write,
)
from dask_awkward_spark.sources.sqlface import snapshot_sql_script


def test_txn_collapses_to_one_commit(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_write(spark.range(10), p)
    with snapshot_txn():
        snapshot_write(spark.range(10, 20), p, mode="append")
        snapshot_delete(spark, p, [("id", "<", 5)])
        # later staged statements read earlier staged state
        assert snapshot_read(spark, p).count() == 15
        assert _versions(p) == [1, 2, 3]
    assert _versions(p) == [1, 2]  # three staged commits -> ONE published
    m = _read_manifest(p, 2)
    assert m["op"] == "txn" and m["parent"] == 1
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == list(
        range(5, 20)
    )
    # time travel skips the transaction's internals entirely
    assert snapshot_read(spark, p, version=1).count() == 10
    # a collapsed commit may hide deletes/overwrites inside, so BOTH
    # change feeds refuse to cross it loudly (same contract as any
    # non-append op) — never a silently wrong delta
    with pytest.raises(ValueError, match="not appends"):
        snapshot_changes(spark, p, since=1, row_level=True).count()
    with pytest.raises(ValueError, match="not appends"):
        snapshot_changes(spark, p, since=1).count()


def test_txn_single_commit_publishes_verbatim(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_write(spark.range(5), p)
    with snapshot_txn():
        snapshot_write(spark.range(5, 9), p, mode="append")
    m = _read_manifest(p, 2)
    assert m["op"] == "append"  # no collapse needed: full fidelity
    assert snapshot_changes(spark, p, since=1, row_level=True).count() == 4


def test_txn_crash_between_stage_and_publish_leaves_nothing(
    spark, tmp_path
):
    """The VERDICT done-criterion: crash injection between stage and
    publish shows no partial state — on-disk manifests, table rows,
    and created tables are all exactly pre-transaction."""
    p = str(tmp_path / "t")
    p2 = str(tmp_path / "created")
    snapshot_write(spark.range(10), p)
    with pytest.raises(RuntimeError, match="power loss"):
        with snapshot_txn():
            snapshot_write(spark.range(10, 20), p, mode="append")
            snapshot_delete(spark, p, [("id", ">=", 15)])
            snapshot_write(spark.range(3), p2)  # created mid-txn
            # everything above is staged, nothing published:
            real = [
                f
                for f in glob.glob(os.path.join(p, "_manifests", "v*.json"))
            ]
            assert len(real) == 1  # only the pre-txn v1
            raise RuntimeError("power loss")
    assert _versions(p) == [1]
    assert snapshot_read(spark, p).count() == 10
    assert _versions(p2) == []  # the created table never existed
    # forensic trace files were cleaned up
    assert glob.glob(os.path.join(p, "_manifests", ".tmp-txn-*")) == []


def test_txn_publish_cas_aborts_on_moved_head(spark, tmp_path):
    """A concurrent writer advancing the head mid-transaction aborts
    the publish — no half-applied transaction rows."""
    p = str(tmp_path / "t")
    snapshot_write(spark.range(10), p)
    with pytest.raises(SnapshotConflictError, match="moved to v2"):
        with snapshot_txn() as tx:
            snapshot_write(spark.range(10, 20), p, mode="append")
            # rival commits OUTSIDE the transaction (other process):
            # simulate by suspending the overlay
            import dask_awkward_spark.sources.snapshot as snap

            snap._TXN_LOCAL.staged = None
            try:
                snapshot_write(spark.range(100, 103), p, mode="append")
            finally:
                snap._TXN_LOCAL.staged = tx.staged
    # the rival's commit survives; the transaction's rows never landed
    assert sorted(r.id for r in snapshot_read(spark, p).collect()) == (
        list(range(10)) + [100, 101, 102]
    )


def test_txn_refuses_vacuum_and_nesting(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_write(spark.range(5), p)
    with snapshot_txn():
        with pytest.raises(ValueError, match="cannot run inside"):
            snapshot_vacuum(p)
        with pytest.raises(RuntimeError, match="does not nest"):
            with snapshot_txn():
                pass
    # exiting cleanly with no staged work is a no-op
    assert _versions(p) == [1]


def test_atomic_script_all_or_nothing(spark, tmp_path):
    """snapshot_sql_script(on_error='atomic'): the failing script
    publishes NOTHING — unlike rollback mode, no intermediate version
    ever exists, not even a restored-away one."""
    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(10).select(F.col("id").alias("k")), p
    )
    tables = {"t": p}
    with pytest.raises(Exception, match="nothing was published"):
        snapshot_sql_script(
            spark,
            """
            INSERT INTO t SELECT k + 100 AS k FROM t;
            DELETE FROM t WHERE k < 3;
            BROKEN STATEMENT;
            """,
            tables,
            on_error="atomic",
        )
    assert _versions(p) == [1]  # no intermediate commits AT ALL
    assert snapshot_read(spark, p).count() == 10
    # the same script minus the broken tail publishes ONE commit
    out = snapshot_sql_script(
        spark,
        """
        INSERT INTO t SELECT k + 100 AS k FROM t;
        DELETE FROM t WHERE k < 3;
        """,
        tables,
        on_error="atomic",
    )
    assert len(out) == 2
    assert _versions(p) == [1, 2]
    got = sorted(r.k for r in snapshot_read(spark, p).collect())
    assert got == list(range(3, 10)) + list(range(100, 110))


def test_atomic_script_multi_table_and_catalog(spark, tmp_path):
    """CREATE + cross-table fill inside one atomic script: on failure
    the created table AND its catalog registration never existed (the
    catalog is itself a snapshot table, so it stages too)."""
    from dask_awkward_spark.sources.catalog import (
        snapshot_catalog_register,
        snapshot_catalog_tables,
    )

    cat = str(tmp_path / "cat")
    src = str(tmp_path / "src")
    snapshot_write(
        spark.range(20).select(F.col("id").alias("k")), src
    )
    snapshot_catalog_register(spark, cat, "src", src)
    dst_loc = str(tmp_path / "dst")
    script_ok = f"""
        CREATE TABLE dst (k bigint) LOCATION '{dst_loc}';
        INSERT INTO dst SELECT k FROM src WHERE k >= 10;
    """
    with pytest.raises(Exception, match="nothing was published"):
        snapshot_sql_script(
            spark, script_ok + "NOT SQL;", cat, on_error="atomic"
        )
    assert "dst" not in snapshot_catalog_tables(spark, cat)
    assert _versions(dst_loc) == []
    # clean run: table exists, registered, filled
    snapshot_sql_script(spark, script_ok, cat, on_error="atomic")
    assert "dst" in snapshot_catalog_tables(spark, cat)
    assert snapshot_read(spark, dst_loc).count() == 10


def test_atomic_script_refuses_physical_deletion(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_write(spark.range(5), p)
    for stmt in ("VACUUM t", "DROP TABLE t PURGE"):
        with pytest.raises(ValueError, match="cannot be staged"):
            snapshot_sql_script(
                spark, f"DELETE FROM t WHERE id < 0; {stmt};",
                {"t": p}, on_error="atomic",
            )
        assert _versions(p) == [1]  # nothing published either


def test_rollback_detects_lineage_replacement(spark, tmp_path):
    """ADVICE r10 (medium): a script that DROPs PURGE a pre-existing
    table and re-CREATEs it before failing must report the table as
    unrecoverable — not stay silent, and never 'restore' into the new
    lineage."""
    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(7).select(F.col("id").alias("k")), p
    )
    script = f"""
        DROP TABLE t PURGE;
        CREATE TABLE t (k bigint) LOCATION '{p}';
        INSERT INTO t SELECT CAST(1 AS BIGINT) AS k;
        INSERT INTO t SELECT CAST(2 AS BIGINT) AS k;
        NOT SQL;
    """
    with pytest.raises(Exception, match="dropped and recreated") as ei:
        snapshot_sql_script(spark, script, {"t": p}, on_error="rollback")
    # and it must NOT claim a successful restore into the new lineage
    assert "restored t" not in str(ei.value)


# ---- round-11 code-review regressions ----------------------------------


def test_drop_purge_refused_inside_txn_layer_guard(spark, tmp_path):
    """The guard lives at the LAYER (the physical delete site), not
    just the script-face regex — and the regex handles multi-line
    statements too."""
    from dask_awkward_spark.sources.sqlface import snapshot_sql

    p = str(tmp_path / "t")
    snapshot_write(spark.range(5), p)
    with snapshot_txn():
        with pytest.raises(ValueError, match="cannot be staged|cannot PURGE"):
            snapshot_sql(spark, "DROP TABLE t PURGE", {"t": p})
    assert snapshot_read(spark, p).count() == 5  # data untouched
    # multi-line spelling through the atomic script face
    with pytest.raises(ValueError, match="cannot be staged"):
        snapshot_sql_script(
            spark,
            "DELETE FROM t WHERE id < 0;\nDROP TABLE t\nPURGE;",
            {"t": p},
            on_error="atomic",
        )
    assert _versions(p) == [1]


def test_txn_swallowed_create_conflict_does_not_poison_publish(
    spark, tmp_path
):
    """A CAS-losing staged claim that the caller legitimately swallows
    (CREATE IF NOT EXISTS pattern) must not leave an empty chain that
    aborts the whole publish."""
    from dask_awkward_spark.sources.snapshot import SnapshotConflictError

    p = str(tmp_path / "exists")
    p2 = str(tmp_path / "work")
    snapshot_write(spark.range(3), p)
    with snapshot_txn():
        with pytest.raises(SnapshotConflictError):
            # a creating write against an existing table loses its pin
            snapshot_write(spark.range(9), p, expect_head=0, mode="append")
        snapshot_write(spark.range(7), p2)  # real staged work
    # the real work published despite the swallowed conflict
    assert _versions(p2) == [1]
    assert snapshot_read(spark, p2).count() == 7
    assert _versions(p) == [1]


def test_atomic_script_leaves_callers_dict_untouched_on_abort(
    spark, tmp_path
):
    p = str(tmp_path / "t")
    loc2 = str(tmp_path / "t2")
    snapshot_write(spark.range(4).select(F.col("id").alias("k")), p)
    tables = {"t": p}
    with pytest.raises(Exception, match="nothing was published"):
        snapshot_sql_script(
            spark,
            f"CREATE TABLE t2 (k bigint) LOCATION '{loc2}';"
            "DROP TABLE t; BROKEN;",
            tables,
            on_error="atomic",
        )
    # the caller's mapping is exactly as passed: no phantom t2, t intact
    assert tables == {"t": p}
    # success DOES sync mutations (CREATE visible, DROP applied)
    snapshot_sql_script(
        spark,
        f"CREATE TABLE t2 (k bigint) LOCATION '{loc2}';"
        "INSERT INTO t2 SELECT k FROM t; DROP TABLE t;",
        tables,
        on_error="atomic",
    )
    assert tables == {"t2": loc2}
    assert snapshot_read(spark, loc2).count() == 4


def test_rollback_restores_after_inscript_vacuum(spark, tmp_path):
    """An in-script VACUUM trimming OLD manifests must not read as
    lineage replacement: the pre-script head survives (vacuum keeps
    the head), so the failed script still restores to it."""
    p = str(tmp_path / "t")
    snapshot_write(spark.range(5).select(F.col("id").alias("k")), p)
    snapshot_write(
        spark.range(5, 9).select(F.col("id").alias("k")), p, mode="append"
    )
    pre_head = _versions(p)[-1]
    with pytest.raises(Exception) as ei:
        snapshot_sql_script(
            spark,
            "VACUUM t RETAIN 0 HOURS;"
            "DELETE FROM t WHERE k >= 0;"
            "BROKEN;",
            {"t": p},
            on_error="rollback",
        )
    assert f"restored t to v{pre_head}" in str(ei.value)
    assert snapshot_read(spark, p).count() == 9  # rows are back


def test_atomic_script_stages_optimize_and_restore(spark, tmp_path):
    """Maintenance that only COMMITS (OPTIMIZE, RESTORE) stages like
    any DML: an aborted script's compaction never publishes (its files
    sit unreferenced for vacuum), a successful one collapses with the
    rest."""
    p = str(tmp_path / "t")
    for lo in range(0, 40, 10):
        snapshot_write(
            spark.range(lo, lo + 10).select(F.col("id").alias("k")),
            p,
            mode="append" if lo else "overwrite",
        )
    pre = _versions(p)[-1]
    tables = {"t": p}
    with pytest.raises(Exception, match="nothing was published"):
        snapshot_sql_script(
            spark,
            "OPTIMIZE t; DELETE FROM t WHERE k >= 30; BROKEN;",
            tables,
            on_error="atomic",
        )
    assert _versions(p)[-1] == pre  # compaction never published
    out = snapshot_sql_script(
        spark,
        "OPTIMIZE t; DELETE FROM t WHERE k >= 30;",
        tables,
        on_error="atomic",
    )
    assert _versions(p)[-1] == pre + 1  # collapsed to ONE commit
    assert sorted(
        r.k for r in snapshot_read(spark, p).collect()
    ) == list(range(30))
    # RESTORE inside an atomic script is a staged metadata commit too
    snapshot_sql_script(
        spark,
        f"RESTORE TABLE t TO VERSION AS OF {pre};"
        "DELETE FROM t WHERE k < 5;",
        tables,
        on_error="atomic",
    )
    assert sorted(
        r.k for r in snapshot_read(spark, p).collect()
    ) == list(range(5, 40))


def test_txn_append_chain_publishes_as_delta(spark, tmp_path):
    """Scale property: a collapsed append-only transaction's published
    manifest is a DELTA against the real parent (adds only) — the
    prefix-identity fast path survives the collapse, so a txn on a
    1M-file table still commits O(delta) bytes."""
    from dask_awkward_spark.sources.snapshot import _read_manifest_raw

    p = str(tmp_path / "t")
    snapshot_write(spark.range(100).repartition(8), p)
    n_before = len(_read_manifest(p, 1)["files"])
    with snapshot_txn():
        snapshot_write(spark.range(100, 110).coalesce(1), p, mode="append")
        snapshot_write(spark.range(110, 120).coalesce(1), p, mode="append")
    raw = _read_manifest_raw(p, 2)
    assert raw.get("delta_of") == 1  # delta-encoded, not a full rewrite
    assert len(raw["add"]) == 2 and raw.get("remove") == []
    m = _read_manifest(p, 2)
    assert len(m["files"]) == n_before + 2
    assert snapshot_read(spark, p).count() == 120


def test_concurrent_txns_in_two_threads_are_isolated(spark, tmp_path):
    """The overlay is thread-local: two transactions on DIFFERENT
    tables publish independently; neither sees the other's staged
    state."""
    import threading

    pa_, pb = str(tmp_path / "a"), str(tmp_path / "b")
    snapshot_write(spark.range(5), pa_)
    snapshot_write(spark.range(5), pb)
    barrier = threading.Barrier(2, timeout=120)
    errs = []

    def work(path, lo):
        try:
            with snapshot_txn():
                snapshot_write(
                    spark.range(lo, lo + 5), path, mode="append"
                )
                barrier.wait()  # both staged, neither published
                # the OTHER table's staged state is invisible here
                other = pb if path == pa_ else pa_
                assert _versions(other) == [1]
                snapshot_delete(spark, path, [("id", "<", 2)])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=work, args=(pa_, 100))
    t2 = threading.Thread(target=work, args=(pb, 200))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    for p, lo in ((pa_, 100), (pb, 200)):
        assert _versions(p) == [1, 2]
        got = sorted(r.id for r in snapshot_read(spark, p).collect())
        assert got == [2, 3, 4] + list(range(lo, lo + 5))


def test_txn_composes_with_index_build_and_register(spark, tmp_path):
    """The composition story: build an IVF index AND register it in
    the catalog in one all-or-nothing unit — on failure neither the
    index nor its name ever existed."""
    from dask_awkward_spark.functions.simindex import ivf_index_add
    from dask_awkward_spark.sources.catalog import (
        snapshot_catalog_register,
        snapshot_catalog_tables,
    )

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda d: F.sin(F.col("id") * 0.7 + d),
            ).alias("e"),
        )

    cents = [[1.0] * 8, [-1.0] * 8]
    cat = str(tmp_path / "cat")
    idx = str(tmp_path / "idx")
    snapshot_catalog_register(spark, cat, "seed", str(tmp_path / "seed"))
    with pytest.raises(RuntimeError, match="abort"):
        with snapshot_txn():
            ivf_index_add(idx, vecs(0, 50), cents)
            snapshot_catalog_register(spark, cat, "idx", idx)
            raise RuntimeError("abort")
    assert _versions(idx) == []
    assert "idx" not in snapshot_catalog_tables(spark, cat)
    with snapshot_txn():
        ivf_index_add(idx, vecs(0, 50), cents)
        snapshot_catalog_register(spark, cat, "idx", idx)
    assert _versions(idx) == [1]
    assert "idx" in snapshot_catalog_tables(spark, cat)
    from dask_awkward_spark.functions.simindex import ivf_search

    assert ivf_search(spark, idx, vecs(3, 4), k=3, nprobe=2).count() == 3


def test_txn_publish_under_conditional_put_backend(spark, tmp_path):
    """The publish CAS rides whatever commit primitive is selected —
    prove the collapse under the object-store conditional-put backend
    too (the race soak covers it cross-process; this is the in-process
    txn path)."""
    from dask_awkward_spark.sources.snapshot import set_commit_backend

    prev = set_commit_backend("conditional-put")
    try:
        p = str(tmp_path / "t")
        snapshot_write(spark.range(6), p)
        with snapshot_txn():
            snapshot_write(spark.range(6, 12), p, mode="append")
            snapshot_delete(spark, p, [("id", "<", 3)])
        assert _versions(p) == [1, 2]
        assert sorted(
            r.id for r in snapshot_read(spark, p).collect()
        ) == list(range(3, 12))
    finally:
        set_commit_backend(prev)


# ---- cross-table atomic publish (round 12 — VERDICT r11 item 6) ------


class _CrashAfterJournal:
    """Commit-backend wrapper: let the journal create through, then
    raise 'power loss' on the Nth v*.json promotion after it."""

    def __init__(self, inner, crash_at: int):
        self.inner = inner
        self.crash_at = crash_at
        self.journaled = False
        self.promos = 0

    def put_if_absent(self, final, data):
        name = os.path.basename(final)
        if name.startswith("txn-journal-"):
            ok = self.inner.put_if_absent(final, data)
            self.journaled = ok
            return ok
        if self.journaled and name.startswith("v"):
            self.promos += 1
            if self.promos >= self.crash_at:
                raise RuntimeError("power loss mid-promotion")
        return self.inner.put_if_absent(final, data)

    def __getattr__(self, k):
        return getattr(self.inner, k)


def _crash_backend(monkeypatch, crash_at):
    import dask_awkward_spark.sources.snapshot as snap_mod

    wrapped = _CrashAfterJournal(snap_mod._COMMIT_BACKEND, crash_at)
    monkeypatch.setattr(snap_mod, "_COMMIT_BACKEND", wrapped)
    return wrapped


def test_multi_table_crash_between_publishes_recovers_all(
    spark, tmp_path, monkeypatch
):
    """THE r11 done-criterion: a crash BETWEEN two tables' promotions
    — after the journal committed — is completed by the next reader:
    all-or-nothing, with 'all' because the commit point had passed."""
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    snapshot_write(spark.range(5), pa)
    snapshot_write(spark.range(7), pb)
    _crash_backend(monkeypatch, crash_at=2)  # first table lands, then crash
    with pytest.raises(RuntimeError, match="power loss"):
        with snapshot_txn():
            snapshot_write(spark.range(5, 10), pa, mode="append")
            snapshot_write(spark.range(7, 14), pb, mode="append")
    monkeypatch.undo()
    # window state: one table promoted, the other still pending
    promoted = {p: _versions_raw(p) for p in (pa, pb)}
    assert sorted(len(v) for v in promoted.values()) == [1, 2]
    # the next READER of the lagging table replays the journal: both
    # tables now show the whole transaction (rival reader in the window)
    assert snapshot_read(spark, pb).count() == 14
    assert snapshot_read(spark, pa).count() == 10
    assert _versions(pa) == [1, 2] and _versions(pb) == [1, 2]
    # journal and pendings are gone after completion
    for p in (pa, pb):
        assert glob.glob(os.path.join(p, "_manifests", ".tmp-pending-*")) == []
        assert glob.glob(os.path.join(p, "_manifests", "txn-journal-*")) == []


def _versions_raw(path):
    """On-disk v*.json numbers WITHOUT triggering _versions' recovery."""
    return sorted(
        int(os.path.basename(f)[1:-5])
        for f in glob.glob(os.path.join(path, "_manifests", "v*.json"))
    )


def test_multi_table_crash_before_journal_discards_all(
    spark, tmp_path, monkeypatch
):
    """A crash BEFORE the journal create (pendings staged, no decision)
    publishes NOTHING — pendings are inert for readers, and a later
    writer aborts the orphan and proceeds."""
    import dask_awkward_spark.sources.snapshot as snap_mod

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    snapshot_write(spark.range(5), pa)
    snapshot_write(spark.range(7), pb)

    class _CrashOnJournal:
        def __init__(self, inner):
            self.inner = inner

        def put_if_absent(self, final, data):
            if os.path.basename(final).startswith("txn-journal-"):
                raise RuntimeError("power loss at the commit point")
            return self.inner.put_if_absent(final, data)

        def __getattr__(self, k):
            return getattr(self.inner, k)

    monkeypatch.setattr(
        snap_mod, "_COMMIT_BACKEND", _CrashOnJournal(snap_mod._COMMIT_BACKEND)
    )
    with pytest.raises(RuntimeError, match="power loss"):
        with snapshot_txn():
            snapshot_write(spark.range(5, 10), pa, mode="append")
            snapshot_write(spark.range(7, 14), pb, mode="append")
    monkeypatch.undo()
    # nothing visible; the orphaned pendings do not resurrect on read
    assert snapshot_read(spark, pa).count() == 5
    assert snapshot_read(spark, pb).count() == 7
    assert _versions(pa) == [1] and _versions(pb) == [1]
    assert glob.glob(os.path.join(pa, "_manifests", ".tmp-pending-*"))
    # a rival writer needing the slot ABORTS the orphan and proceeds
    snapshot_write(spark.range(100, 103), pa, mode="append")
    assert snapshot_read(spark, pa).count() == 8
    assert glob.glob(os.path.join(pa, "_manifests", ".tmp-pending-*")) == []
    # the abort decision is on disk, so the other table's orphan is
    # GC'd by its next rival too
    snapshot_write(spark.range(100, 103), pb, mode="append")
    assert glob.glob(os.path.join(pb, "_manifests", ".tmp-pending-*")) == []


def test_multi_table_rival_abort_leaves_no_journal(
    spark, tmp_path, monkeypatch
):
    """A rival commit that finds the transaction's pending slot before
    the journal exists claims the decision with an ``aborted`` journal;
    the coordinator then loses its journal create and conflicts — and
    removes that tombstone, so no journal outlives the transaction."""
    import dask_awkward_spark.sources.snapshot as snap_mod

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    snapshot_write(spark.range(5), pa)
    snapshot_write(spark.range(7), pb)
    slot = _versions(pa)[-1] + 1
    fired = []

    class _RivalBeforeJournal:
        def __init__(self, inner):
            self.inner = inner

        def put_if_absent(self, final, data):
            if os.path.basename(final).startswith("txn-journal-") and not fired:
                fired.append(final)
                snap_mod._txn_block_or_help(pa, slot)  # the rival's probe
            return self.inner.put_if_absent(final, data)

        def __getattr__(self, k):
            return getattr(self.inner, k)

    monkeypatch.setattr(
        snap_mod, "_COMMIT_BACKEND", _RivalBeforeJournal(snap_mod._COMMIT_BACKEND)
    )
    with pytest.raises(SnapshotConflictError, match="aborted the transaction"):
        with snapshot_txn():
            snapshot_write(spark.range(5, 10), pa, mode="append")
            snapshot_write(spark.range(7, 14), pb, mode="append")
    monkeypatch.undo()
    assert fired
    assert snapshot_read(spark, pa).count() == 5
    assert snapshot_read(spark, pb).count() == 7
    for p in (pa, pb):
        assert glob.glob(os.path.join(p, "_manifests", "txn-journal-*")) == []
        assert glob.glob(os.path.join(p, "_manifests", ".tmp-pending-*")) == []


def test_multi_table_crash_then_rival_writer_completes(
    spark, tmp_path, monkeypatch
):
    """A rival WRITER hitting the un-promoted slot of a committed
    journal HELPS: it completes the transaction, then its own commit
    retries at the next version — neither update is lost."""
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    snapshot_write(spark.range(5), pa)
    snapshot_write(spark.range(7), pb)
    _crash_backend(monkeypatch, crash_at=2)
    with pytest.raises(RuntimeError, match="power loss"):
        with snapshot_txn():
            snapshot_write(spark.range(5, 10), pa, mode="append")
            snapshot_write(spark.range(7, 14), pb, mode="append")
    monkeypatch.undo()
    lagging = pa if len(_versions_raw(pa)) == 1 else pb
    base = 10 if lagging == pa else 14
    # the rival append lands AFTER the transaction's rows
    snapshot_write(spark.range(1000, 1003), lagging, mode="append")
    assert snapshot_read(spark, lagging).count() == base + 3
    assert _versions(lagging) == [1, 2, 3]
    m2 = _read_manifest(lagging, 2)
    m3 = _read_manifest(lagging, 3)
    assert m2["op"] == "append" and m3["op"] == "append"


def test_multi_table_publish_is_all_or_nothing_vs_moved_head(
    spark, tmp_path
):
    """A head moved between staging and publish aborts the WHOLE
    multi-table transaction before its commit point — no table
    publishes, no pendings or journals linger."""
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    snapshot_write(spark.range(5), pa)
    snapshot_write(spark.range(7), pb)
    with pytest.raises(SnapshotConflictError, match="published so far: nothing"):
        with snapshot_txn():
            snapshot_write(spark.range(5, 10), pa, mode="append")
            snapshot_write(spark.range(7, 14), pb, mode="append")
            # a rival lands a REAL commit on pb while the txn is staged
            # (streaming-thread analogy: overlay is thread-local)
            import threading

            t = threading.Thread(
                target=lambda: snapshot_write(
                    spark.range(50, 53), pb, mode="append"
                )
            )
            t.start()
            t.join()
    assert snapshot_read(spark, pa).count() == 5
    assert snapshot_read(spark, pb).count() == 10  # only the rival's rows
    for p in (pa, pb):
        assert glob.glob(os.path.join(p, "_manifests", ".tmp-pending-*")) == []
        assert glob.glob(os.path.join(p, "_manifests", "txn-journal-*")) == []


def test_vacuum_completes_then_sweeps_txn_leftovers(
    spark, tmp_path, monkeypatch
):
    """vacuum on a crashed-mid-promotion table completes the committed
    journal instead of orphaning it, and sweeps aged abort tombstones."""
    import json as _json

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    snapshot_write(spark.range(5), pa)
    snapshot_write(spark.range(7), pb)
    _crash_backend(monkeypatch, crash_at=2)
    with pytest.raises(RuntimeError, match="power loss"):
        with snapshot_txn():
            snapshot_write(spark.range(5, 10), pa, mode="append")
            snapshot_write(spark.range(7, 14), pb, mode="append")
    monkeypatch.undo()
    lagging = pa if len(_versions_raw(pa)) == 1 else pb
    # age the leftovers past retention, then vacuum the lagging table
    for f in glob.glob(os.path.join(lagging, "_manifests", ".tmp-pending-*")):
        os.utime(f, (1, 1))
    snapshot_vacuum(lagging, retain_seconds=0.0)
    # the committed journal was COMPLETED (v2 exists), never orphaned;
    # v1 was legitimately trimmed by keep_last=1
    assert _versions(lagging)[-1] == 2
    assert snapshot_read(spark, lagging).count() == (10 if lagging == pa else 14)
    assert glob.glob(os.path.join(lagging, "_manifests", ".tmp-pending-*")) == []


def test_two_multi_table_txns_sharing_a_table_serialize(spark, tmp_path):
    """Code-review r12 finding 1: the pending file IS the slot claim —
    a second multi-table transaction staging the same (table, version)
    cannot pass its commit point; exactly one publishes, the other
    conflicts with nothing applied anywhere."""
    import threading

    pa, pb, pc = (str(tmp_path / n) for n in ("a", "b", "c"))
    for p, n in ((pa, 3), (pb, 4), (pc, 5)):
        snapshot_write(spark.range(n), p)
    results = {}

    def run(tag, tables, lo):
        try:
            with snapshot_txn():
                for t in tables:
                    snapshot_write(
                        spark.range(lo, lo + 2), t, mode="append"
                    )
            results[tag] = "ok"
        except (SnapshotConflictError, RuntimeError) as e:
            results[tag] = f"conflict: {e}"

    barrier = threading.Barrier(2)

    def sync_run(tag, tables, lo):
        barrier.wait()
        run(tag, tables, lo)

    t1 = threading.Thread(target=sync_run, args=("A", [pa, pb], 100))
    t2 = threading.Thread(target=sync_run, args=("B", [pb, pc], 200))
    t1.start(); t2.start(); t1.join(); t2.join()
    # at least one committed; a loser applied NOTHING anywhere
    n_a = snapshot_read(spark, pa).count()
    n_b = snapshot_read(spark, pb).count()
    n_c = snapshot_read(spark, pc).count()
    a_ok = results["A"] == "ok"
    b_ok = results["B"] == "ok"
    assert n_a == 3 + (2 if a_ok else 0)
    assert n_b == 4 + (2 if a_ok else 0) + (2 if b_ok else 0)
    assert n_c == 5 + (2 if b_ok else 0)
    for p in (pa, pb, pc):
        assert glob.glob(os.path.join(p, "_manifests", ".tmp-pending-*")) == []


def test_index_table_refuses_raw_writes(spark, tmp_path):
    """Code-review r12 finding 3: raw appends/overwrites (snapshot_write
    or SQL INSERT INTO) on an index table refuse like UPDATE/MERGE —
    the sanctioned paths (ivf ingest/retrain, compact) still work."""
    from dask_awkward_spark.functions.simindex import (
        ivf_index_add,
        ivf_search,
    )
    from dask_awkward_spark.sources.snapshot import snapshot_compact
    from dask_awkward_spark.sources.sqlface import snapshot_sql

    import hashlib

    def cents():
        out = []
        for j in range(4):
            out.append([
                1.0 if hashlib.md5(f"t{j}_{d}".encode()).hexdigest()[0]
                in "89abcdef" else -1.0
                for d in range(8)
            ])
        return out

    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda d: F.sin(F.col("id") * 0.7 + d * 1.3),
        ).alias("e"),
    )
    p = str(tmp_path / "idx")
    ivf_index_add(p, vecs, cents())
    bad = snapshot_read(spark, p).limit(1)
    with pytest.raises(ValueError, match="stale"):
        snapshot_write(bad, p, mode="append")
    with pytest.raises(ValueError, match="stale"):
        snapshot_write(bad, p, mode="overwrite")
    with pytest.raises(ValueError, match="stale"):
        snapshot_sql(
            spark,
            "INSERT INTO idx VALUES (999, 1, array(1.0))",
            {"idx": p},
        )
    # sanctioned paths still work end to end
    ivf_index_add(p, vecs.withColumn("vec_id", F.col("vec_id") + 100), cents())
    snapshot_compact(spark, p)
    got = ivf_search(spark, p, vecs.limit(1), cents(), k=3, nprobe=4)
    assert got.count() == 3


def test_txn_defers_change_staging(spark, tmp_path, monkeypatch):
    """r13: change-feed staging inside a transaction is DEFERRED — a
    multi-statement chain collapses at publish and drops its change
    files, so staging them per statement was a wasted Spark write job
    per DML. Asserted structurally: _stage_changes never runs for a
    collapsing chain, runs exactly once at publish for a single-DML
    chain (whose published version must still serve the row-level CDF),
    and a reader INSIDE the txn forces materialization on demand."""
    import dask_awkward_spark.sources.snapshot as S

    p = str(tmp_path / "t")
    snapshot_write(spark.range(10).withColumn("v", F.col("id") * 2), p)

    calls = []
    orig = S._stage_changes

    def counting(parts, path, compression, column_mapping=None):
        calls.append(len(parts))
        return orig(parts, path, compression, column_mapping)

    monkeypatch.setattr(S, "_stage_changes", counting)

    # collapsing chain: two DMLs, zero change staging ever
    with snapshot_txn():
        snapshot_delete(spark, p, [("id", "<", 3)])
        from dask_awkward_spark.sources.snapshot import snapshot_update

        snapshot_update(spark, p, [("id", ">=", 8)], {"v": F.col("v") + 1})
    assert calls == [], "collapsing chain must never stage change files"
    assert _versions(p) == [1, 2]
    assert _read_manifest(p, 2)["op"] == "txn"
    assert "changes" not in _read_manifest(p, 2)

    # single-DML chain: staged exactly once, AT the publish, and the
    # published commit serves the row-level feed exactly as before
    with snapshot_txn():
        snapshot_delete(spark, p, [("id", "=", 5)])
        assert calls == [], "staging must wait for the publish"
    assert calls == [1]
    chg = snapshot_changes(spark, p, since=2, row_level=True)
    assert [(r.id, r._change_type) for r in chg.collect()] == [(5, "delete")]

    # an in-txn CDF reader forces materialization on demand (the staged
    # version must look exactly as an eager staging would have made it)
    calls.clear()
    with snapshot_txn():
        snapshot_delete(spark, p, [("id", "=", 6)])
        assert calls == []
        rows = snapshot_changes(spark, p, since=3, row_level=True).collect()
        assert [(r.id, r._change_type) for r in rows] == [(6, "delete")]
        assert calls == [1], "reader materializes the deferred staging"
    assert calls == [1], "publish reuses the already-materialized files"

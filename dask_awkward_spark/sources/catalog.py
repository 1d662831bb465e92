"""Persistent name→path catalog for snapshot tables (VERDICT r7 item 6).

``snapshot_view`` registers session-temp views, so every consumer had
to know filesystem paths. The catalog is itself a tiny snapshot table
of ``(name, path, version, tag)`` rows — it gets atomic commits, time
travel ("what did the catalog point at last week"), and CAS conflict
handling for free, and any SQL consumer can read it like any other
table. Entries may pin a version or a tag (:func:`snapshot_tag` pins
survive vacuum), so a catalog name can mean "the reproducible training
snapshot", not just "whatever the head is".

Composition: :func:`snapshot_catalog_tables` feeds
:func:`~dask_awkward_spark.sources.sqlface.snapshot_sql` (SQL DML by
name) and :func:`snapshot_catalog_views` registers every entry as a
pinned temp view (SQL reads by name) — together a SQL-only user needs
exactly one path (the catalog's) to reach every table.

Reference: no counterpart (dask-awkward has no table concept); the
Spark-native analog is a metastore namespace.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = [
    "snapshot_catalog_register",
    "snapshot_catalog_unregister",
    "snapshot_catalog_rename",
    "snapshot_catalog_lookup",
    "snapshot_catalog_list",
    "snapshot_catalog_tables",
    "snapshot_catalog_views",
]

_SCHEMA = (
    "name string, path string, pin_version bigint, pin_tag string, "
    "registered_at double"
)


def snapshot_catalog_register(
    spark: SparkSession,
    catalog_path: str,
    name: str,
    table_path: str,
    version: "int | None" = None,
    tag: "str | None" = None,
    replace: bool = True,
) -> int:
    """Upsert one catalog entry (creates the catalog table on first
    use). ``version=``/``tag=`` pin the name to a fixed snapshot —
    ``tag`` is the durable choice (tagged versions survive vacuum).
    Re-registering an existing name replaces its entry atomically
    (one MERGE commit). Returns the catalog version.

    ``replace=False`` makes the call CREATE-ONLY for foreign entries:
    an existing registration of ``name`` at a DIFFERENT path is never
    clobbered — the merge's update clause is gated on path equality
    (so the commit itself can't take the entry), and the surviving
    entry is re-read afterwards; a foreign path raises ``ValueError``.
    This closes the race where two concurrent ``CREATE TABLE``\\ s of
    the same name at different locations both read an empty catalog
    and the later register silently orphans the earlier table."""
    from .snapshot import (
        SnapshotConflictError,
        snapshot_merge,
        snapshot_write,
        _versions,
    )

    if version is not None and tag is not None:
        raise ValueError("pin by version OR tag, not both")
    row = [(name, table_path, version, tag, time.time())]
    # one-row literal frame as a LocalRelation: a single write task and no
    # Python-worker stage per action (session.local_frame)
    src = local_frame(spark, row, _SCHEMA)
    if not _versions(catalog_path):
        # CAS the creating write on the empty table: two concurrent
        # first registrations of the same name must not BOTH take the
        # blind-append path and duplicate it — the loser falls through
        # to the merge (upsert) below
        try:
            return snapshot_write(src, catalog_path, expect_head=0, mode="append")
        except SnapshotConflictError:
            pass
    assigns = {
        "path": "s.path",
        "pin_version": "s.pin_version",
        "pin_tag": "s.pin_tag",
        "registered_at": "s.registered_at",
    }
    stats = snapshot_merge(
        spark,
        catalog_path,
        src,
        on=["name"],
        when_matched=[
            # create-only: a matched entry updates ONLY when it already
            # points at our path (idempotent re-create); a foreign-path
            # entry matches no clause and stays untouched
            ("s.path = t.path", "update", assigns)
            if not replace
            else (None, "update", assigns)
        ],
        when_not_matched="insert",
    )
    if not replace:
        try:
            cur = snapshot_catalog_lookup(spark, catalog_path, name)
        except KeyError:
            cur = None  # raced with an unregister: nothing clobbered
        if cur is not None and cur["path"] != table_path:
            raise ValueError(
                f"catalog name {name!r} is registered at "
                f"{cur['path']!r} (not {table_path!r}); create-only "
                "registration never clobbers a foreign entry — "
                "DROP/unregister it first or pick another name"
            )
    return stats["version"]


def snapshot_catalog_unregister(
    spark: SparkSession, catalog_path: str, name: str
) -> "dict":
    """Drop one entry (the table itself is untouched)."""
    from .snapshot import snapshot_delete

    return snapshot_delete(spark, catalog_path, [("name", "=", name)])


def snapshot_catalog_rename(
    spark: SparkSession, catalog_path: str, old: str, new: str
) -> int:
    """Rename a catalog entry in ONE atomic commit: a single MERGE
    inserts the entry under the new name AND deletes the old row (a
    ``WHEN NOT MATCHED BY SOURCE`` clause scoped to it) — a reader at
    any catalog version sees the old name or the new one, never both
    or neither. The path and version/tag pins carry over untouched;
    ``registered_at`` re-stamps. Raises ``KeyError`` when ``old`` is
    absent and ``ValueError`` when ``new`` is taken at the check (a
    concurrent registration of ``new`` racing this rename resolves as
    an upsert, the catalog's register semantics). Returns the catalog
    version."""
    from .snapshot import snapshot_merge

    if old == new:
        raise ValueError("old and new catalog name are identical")
    e = snapshot_catalog_lookup(spark, catalog_path, old)  # KeyError if absent
    taken = {x["name"] for x in snapshot_catalog_list(spark, catalog_path)}
    if new in taken:
        raise ValueError(f"catalog name {new!r} is already registered")
    src = local_frame(
        spark, [(new, e["path"], e["pin_version"], e["pin_tag"], time.time())], _SCHEMA
    )
    # Column condition, not a spliced SQL literal: a name containing a
    # quote/backslash must neither break the parse nor (worse) make the
    # delete silently miss and leave BOTH names registered
    stats = snapshot_merge(
        spark,
        catalog_path,
        src,
        on=["name"],
        when_matched="update",
        when_not_matched="insert",
        when_not_matched_by_source=[
            (F.col("t.name") == F.lit(old), "delete", None)
        ],
    )
    return stats["version"]


# Resolved catalog-entry cache, keyed like snapshot.py's manifest
# caches: (path, head version, head manifest's stat signature) — catalog
# content is immutable per committed version, and the stat signature
# (inode+mtime+size / ETag) makes a dropped-and-recreated catalog at the
# same path a different key. Without this, every snapshot_sql statement
# given a catalog path re-ran a full read+sort+collect Spark job
# (~0.2 s) just to resolve names (measured: 14 listings = 2.6 s of
# io_snapshot_ddl's 3.9 s bench time).
_LIST_CACHE: "dict[str, tuple[tuple, list[dict]]]" = {}
_LIST_CACHE_CAP = 8


def _pyarrow_entries(catalog_path: str, head: int) -> "list[dict] | None":
    """Driver-side read of the catalog's visible rows (guide §5 — the
    catalog IS table metadata, and a Spark job launch to list a handful
    of rows is pure per-statement floor: every DDL commit moves the
    head, so the listing cache misses once per statement by design).
    Returns None whenever the head manifest carries anything this plain
    reader can't honor — deletion vectors, a column mapping, an
    unexpected schema — and the Spark read path answers instead.
    Name-sorting parity: Python sorts str by code point, which equals
    the UTF-8 byte order Spark's UTF8String sort uses. Files are read
    through the storage backend (``_fs()``); a file gone in a race, an
    unreadable file or a manifest without ``files`` also answer None."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .snapshot import _fs, _read_manifest

    try:
        m = _read_manifest(catalog_path, head)
        if m.get("deletes") or (m.get("column_mapping") or {}).get(
            "physical"
        ):
            return None
        rows: "list[dict]" = []
        for rel in m["files"]:
            data = _fs().read_bytes(os.path.join(catalog_path, rel))
            rows.extend(pq.read_table(pa.BufferReader(data)).to_pylist())
    except (OSError, pa.ArrowInvalid, KeyError):
        return None
    want = {"name", "path", "pin_version", "pin_tag", "registered_at"}
    if rows and set(rows[0]) != want:
        return None
    rows.sort(key=lambda r: r["name"])
    return rows


def snapshot_catalog_list(spark: SparkSession, catalog_path: str) -> "list[dict]":
    """Every entry, name-sorted. Each dict carries ``name``, ``path``,
    ``pin_version`` / ``pin_tag`` (the snapshot the name is pinned to —
    both None for a head-following entry; tag pins survive vacuum), and
    ``registered_at`` (Unix time of the registering commit)."""
    from .snapshot import _fs, _manifest_file, _txn_overlay, _versions, snapshot_read

    versions = _versions(catalog_path)
    if not versions:
        return []
    head = versions[-1]
    ckey = os.path.abspath(catalog_path)
    staged = _txn_overlay()
    if staged and head in staged.get(ckey, {}):
        # the head is this thread's STAGED (unpublished) catalog commit —
        # nothing on disk to key a shared cache on; read through
        return [
            r.asDict()
            for r in snapshot_read(spark, catalog_path, version=head)
            .orderBy("name")
            .collect()
        ]
    try:
        sig = (head,) + _fs().stat_sig(_manifest_file(catalog_path, head))
        # content-level tiebreaker (ADVICE r12): a backend without inode
        # identity (ObjectCopy: mtime_ns+size only) could serve a stale
        # entry for a dropped-and-recreated catalog whose same-numbered
        # head lands with coincident mtime and byte length. The raw
        # manifest's committed_at stamp (one small uncached read — the
        # manifest CACHE shares the stat keying, so it cannot arbitrate)
        # breaks that tie.
        from .snapshot import _read_small_json

        raw = _read_small_json(_manifest_file(catalog_path, head))
        if raw is None:
            raise OSError("manifest vanished while listing")
        sig = sig + (raw.get("committed_at"),)
    except OSError:
        # listed-then-removed race (rival vacuum/drop): don't cache
        return [
            r.asDict()
            for r in snapshot_read(spark, catalog_path).orderBy("name").collect()
        ]
    hit = _LIST_CACHE.get(ckey)
    if hit is not None and hit[0] == sig:
        return [dict(e) for e in hit[1]]  # callers may mutate their copy
    entries = _pyarrow_entries(catalog_path, head)
    if entries is None:
        entries = [
            r.asDict()
            for r in snapshot_read(spark, catalog_path, version=head)
            .orderBy("name")
            .collect()
        ]
    if len(_LIST_CACHE) >= _LIST_CACHE_CAP and ckey not in _LIST_CACHE:
        try:
            # race-tolerant evict: a rival thread may pop the same first
            # key (or empty the dict) between the len check and here
            _LIST_CACHE.pop(next(iter(_LIST_CACHE)), None)
        except (StopIteration, RuntimeError, KeyError):
            pass
    _LIST_CACHE[ckey] = (sig, entries)
    return [dict(e) for e in entries]


def snapshot_catalog_lookup(
    spark: SparkSession, catalog_path: str, name: str
) -> "dict":
    """One entry by name; KeyError when absent (whether the entry or
    the whole catalog — callers get one exception type to handle)."""
    from .snapshot import _versions

    if not _versions(catalog_path):
        raise KeyError(
            f"no catalog at {catalog_path} (snapshot_catalog_register "
            "creates it on first use)"
        )
    # through the (commit-invalidated) listing cache: a lookup was one
    # pruned Spark read job per call; the cached list answers it
    # driver-side, and a catalog is row-bounded by its table count
    for e in snapshot_catalog_list(spark, catalog_path):
        if e["name"] == name:
            return dict(e)
    raise KeyError(
        f"no catalog entry {name!r} in {catalog_path} "
        f"(snapshot_catalog_register to add one)"
    )


def snapshot_catalog_tables(
    spark: SparkSession, catalog_path: str
) -> "dict[str, str]":
    """name→path map for :func:`~dask_awkward_spark.sources.sqlface
    .snapshot_sql` — SQL DML by catalog name."""
    return {e["name"]: e["path"] for e in snapshot_catalog_list(spark, catalog_path)}


def snapshot_catalog_views(
    spark: SparkSession, catalog_path: str
) -> "dict[str, DataFrame]":
    """Register every catalog entry as a temp view under its catalog
    name, honoring version/tag pins (unpinned entries resolve to the
    head AT REGISTRATION, like :func:`snapshot_view`). Returns the
    name→DataFrame map."""
    from .snapshot import snapshot_view

    out = {}
    for e in snapshot_catalog_list(spark, catalog_path):
        out[e["name"]] = snapshot_view(
            spark,
            e["path"],
            e["name"],
            version=e["pin_version"],
            tag=e["pin_tag"],
        )
    return out

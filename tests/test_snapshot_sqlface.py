"""SQL write path (sources/sqlface.py) + persistent catalog
(sources/catalog.py) — VERDICT r7 items 4 and 6: a SQL-only producer
can INSERT/UPDATE/DELETE a snapshot table through the same atomic
commit machinery, and a catalog name is all a consumer needs."""

from __future__ import annotations

import datetime
import os

import pytest

pytestmark = pytest.mark.usefixtures("snapshot_storage_backend")
from pyspark.sql import functions as F

from dask_awkward_spark.sources.catalog import (
    snapshot_catalog_list,
    snapshot_catalog_lookup,
    snapshot_catalog_register,
    snapshot_catalog_tables,
    snapshot_catalog_unregister,
    snapshot_catalog_views,
)
from dask_awkward_spark.sources.snapshot import (
    snapshot_read,
    snapshot_scan_report,
    snapshot_tag,
    snapshot_vacuum,
    snapshot_versions,
    snapshot_write,
)
from dask_awkward_spark.sources.sqlface import parse_where, snapshot_sql


def _tbl(spark, tmp_path, name="t"):
    p = str(tmp_path / name)
    df = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        F.struct((F.col("id") % 3).alias("g")).alias("meta"),
    )
    snapshot_write(df, p)
    return p


# ---- parse_where: the SQL->triples contract ------------------------


def test_parse_where_grammar():
    assert parse_where("k = 3") == [("k", "=", 3)]
    assert parse_where("k == 3 AND v <= 1.5") == [("k", "=", 3), ("v", "<=", 1.5)]
    assert parse_where("meta.deep.ts > 100") == [("meta.deep.ts", ">", 100)]
    assert parse_where("s = 'it''s'") == [("s", "=", "it's")]
    assert parse_where("k IN (1, 2, 3)") == [("k", "in", [1, 2, 3])]
    assert parse_where("d >= DATE '2020-01-02'") == [
        ("d", ">=", datetime.date(2020, 1, 2))
    ]
    assert parse_where("ts < TIMESTAMP '2020-01-02 03:04:05'") == [
        ("ts", "<", datetime.datetime(2020, 1, 2, 3, 4, 5))
    ]


def test_parse_where_refusals():
    for bad in [
        "k = 1 OR k = 2",
        "k IS NULL",
        "NOT k = 1",
        "upper(s) = 'A'",
        "k BETWEEN 1 AND 2",
        "k = other_col",
        "k <> 1",
        "",
        "k = 1 AND",
    ]:
        with pytest.raises(ValueError):
            parse_where(bad)


# ---- statements ------------------------------------------------------


def test_sql_insert_values_and_select(spark, tmp_path):
    p = _tbl(spark, tmp_path)
    snapshot_sql(
        spark, "INSERT INTO t VALUES (100, 5.0, named_struct('g', 1))", {"t": p}
    )
    spark.range(3).select(
        (F.col("id") + 200).alias("a"),
        F.lit(1.5).alias("b"),
        F.struct(F.lit(2).cast("bigint").alias("g")).alias("c"),
    ).createOrReplaceTempView("sqlface_src")
    snapshot_sql(spark, "INSERT INTO t SELECT a, b, c FROM sqlface_src", {"t": p})
    assert snapshot_read(spark, p).count() == 14
    # positional VALUES literals are store-assigned to the table types
    assert snapshot_read(spark, p, where=[("k", "=", 100)]).first().v == 5.0


def test_sql_insert_column_list_fills_null(spark, tmp_path):
    p = _tbl(spark, tmp_path)
    snapshot_sql(
        spark,
        "INSERT INTO t (k, meta) VALUES (999, named_struct('g', 0))",
        {"t": p},
    )
    row = snapshot_read(spark, p, where=[("k", "=", 999)]).first()
    assert row.v is None and row.meta.g == 0
    with pytest.raises(ValueError, match="unknown columns"):
        snapshot_sql(spark, "INSERT INTO t (nope) VALUES (1)", {"t": p})


def test_sql_insert_overwrite(spark, tmp_path):
    p = _tbl(spark, tmp_path)
    snapshot_sql(
        spark,
        "INSERT OVERWRITE t VALUES (1, 1.0, named_struct('g', 0))",
        {"t": p},
    )
    assert snapshot_read(spark, p).count() == 1
    assert snapshot_read(spark, p, version=1).count() == 10  # time travel


def test_sql_update_delete_nested_where(spark, tmp_path):
    """Nested-leaf predicates in SQL DML go through the same triple
    machinery — including stats pruning."""
    p = _tbl(spark, tmp_path)
    st = snapshot_sql(
        spark, "UPDATE t SET v = v * 10 WHERE meta.g = 1 AND k < 10", {"t": p}
    )
    assert st["updated_rows"] == 3
    got = sorted(
        (r.k, r.v) for r in snapshot_read(spark, p, where=[("meta.g", "=", 1)]).collect()
    )
    assert got == [(1, 20.0), (4, 80.0), (7, 140.0)]
    st = snapshot_sql(spark, "DELETE FROM t WHERE k IN (0, 2)", {"t": p})
    assert st["removed_rows"] == 2 and snapshot_read(spark, p).count() == 8


def test_sql_statement_refusals(spark, tmp_path):
    p = _tbl(spark, tmp_path)
    # DROP TABLE graduated from refusal to statement (round-9 DDL face):
    # it unregisters the name from the passed map (data untouched)
    tables = {"t": p}
    assert snapshot_sql(spark, "DROP TABLE t", tables)["dropped"] == "t"
    assert tables == {}
    for bad in [
        "TRUNCATE TABLE t",
        "DELETE FROM t",  # no WHERE
        "INSERT INTO missing VALUES (1)",
        "DELETE FROM t WHERE k = 1 OR k = 2",
        # MERGE structure refusals: non-equi ON, mismatched keys, a
        # BY-SOURCE clause with no source row to copy, inserts of rows
        # that already exist
        "MERGE INTO t USING src s ON t.k > s.k WHEN MATCHED THEN DELETE",
        "MERGE INTO t USING src s ON t.k = s.j WHEN MATCHED THEN DELETE",
        "MERGE INTO t USING src s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *",
        "MERGE INTO t USING src s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN INSERT",
    ]:
        with pytest.raises(ValueError):
            snapshot_sql(spark, bad, {"t": p})


def test_sql_merge_string_form(spark, tmp_path):
    """MERGE INTO as a SQL string: conditions/assignments flow verbatim
    into snapshot_merge's clause grammar (first-match-wins), source may
    be a subquery, and WHEN NOT MATCHED inserts."""
    p = _tbl(spark, tmp_path)  # k 0..9, v = 2k
    spark.range(8, 12).select(
        F.col("id").alias("k"),
        F.lit(100.0).alias("newv"),
    ).createOrReplaceTempView("merge_src")
    st = snapshot_sql(
        spark,
        """
        MERGE INTO t USING (SELECT k, newv FROM merge_src) s ON t.k = s.k
        WHEN MATCHED AND s.newv > t.v THEN UPDATE SET v = s.newv
        WHEN MATCHED THEN DELETE
        """,
        {"t": p},
    )
    # k=8 (v=16) and k=9 (v=18): newv=100 > both -> updated; none deleted
    assert st["updated_rows"] == 2 and st["deleted_rows"] == 0
    assert st["inserted_rows"] == 0  # no NOT MATCHED clause
    got = dict(
        (r.k, r.v) for r in snapshot_read(spark, p).collect()
    )
    assert got[8] == 100.0 and got[9] == 100.0 and got[0] == 0.0
    # full-row upsert with INSERT: source must carry the whole row
    spark.createDataFrame(
        [(9, 0.5, {"g": 0}), (50, 7.0, {"g": 2})],
        "k bigint, v double, meta struct<g:bigint>",
    ).createOrReplaceTempView("merge_src2")
    st = snapshot_sql(
        spark,
        "MERGE INTO t USING merge_src2 s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT",
        {"t": p},
    )
    assert st["updated_rows"] == 1 and st["inserted_rows"] == 1
    got = dict((r.k, r.v) for r in snapshot_read(spark, p).collect())
    assert got[9] == 0.5 and got[50] == 7.0


def test_sql_insert_respects_schema_mismatch(spark, tmp_path):
    p = _tbl(spark, tmp_path)
    with pytest.raises(ValueError, match="columns"):
        snapshot_sql(spark, "INSERT INTO t VALUES (1, 2.0)", {"t": p})


# ---- catalog ---------------------------------------------------------


def test_catalog_roundtrip_and_views(spark, tmp_path):
    p = _tbl(spark, tmp_path)
    cat = str(tmp_path / "cat")
    snapshot_catalog_register(spark, cat, "t", p)
    assert snapshot_catalog_tables(spark, cat) == {"t": p}
    # re-register replaces (upsert, not duplicate)
    snapshot_catalog_register(spark, cat, "t", p, version=1)
    entries = snapshot_catalog_list(spark, cat)
    assert len(entries) == 1 and entries[0]["pin_version"] == 1
    views = snapshot_catalog_views(spark, cat)
    assert spark.sql("SELECT count(*) AS n FROM t").first().n == 10
    assert set(views) == {"t"}
    snapshot_catalog_unregister(spark, cat, "t")
    assert snapshot_catalog_tables(spark, cat) == {}
    with pytest.raises(KeyError):
        snapshot_catalog_lookup(spark, cat, "t")


class _CountingReads:
    """Delegates to a storage backend, recording every ``read_bytes``."""

    def __init__(self, inner):
        self.inner = inner
        self.reads: "list[str]" = []

    def read_bytes(self, path):
        self.reads.append(path)
        return self.inner.read_bytes(path)

    def __getattr__(self, name):
        return getattr(self.inner, name)


def test_catalog_fast_read_goes_through_storage_backend(spark, tmp_path):
    """The driver-side catalog listing reads each data file once through
    the storage backend, so an object-store port serves it too."""
    from dask_awkward_spark.sources.catalog import _pyarrow_entries
    from dask_awkward_spark.sources.snapshot import _read_manifest, _versions
    from dask_awkward_spark.sources.storage import active, set_storage_backend

    p = _tbl(spark, tmp_path)
    cat = str(tmp_path / "cat")
    snapshot_catalog_register(spark, cat, "t", p)
    snapshot_catalog_register(spark, cat, "u", p, version=1)
    head = _versions(cat)[-1]
    files = [os.path.join(cat, f) for f in _read_manifest(cat, head)["files"]]
    counting = _CountingReads(active())
    prev = set_storage_backend(counting)
    try:
        rows = _pyarrow_entries(cat, head)
    finally:
        set_storage_backend(prev)
    assert [r["name"] for r in rows] == ["t", "u"]
    assert sorted(r for r in counting.reads if r in files) == sorted(files)


def test_catalog_tag_pin_survives_vacuum(spark, tmp_path):
    """A tag-pinned catalog entry keeps resolving after untagged history
    is vacuumed away — the reproducibility story."""
    p = _tbl(spark, tmp_path)
    cat = str(tmp_path / "cat")
    snapshot_tag(p, "gold")  # pins v1
    snapshot_catalog_register(spark, cat, "t_gold", p, tag="gold")
    # move the head twice, then vacuum with zero retention
    snapshot_sql(spark, "INSERT OVERWRITE t VALUES (1, 1.0, named_struct('g', 0))", {"t": p})
    snapshot_sql(spark, "INSERT OVERWRITE t VALUES (2, 2.0, named_struct('g', 0))", {"t": p})
    snapshot_vacuum(p, keep_last=1, retain_seconds=0.0)
    views = snapshot_catalog_views(spark, cat)
    assert views["t_gold"].count() == 10  # still the tagged v1
    assert spark.sql("SELECT min(k) AS k FROM t_gold").first().k == 0


def test_catalog_feeds_sql_dml(spark, tmp_path):
    """The composition the items exist for: catalog name -> SQL DML."""
    p = _tbl(spark, tmp_path)
    cat = str(tmp_path / "cat")
    snapshot_catalog_register(spark, cat, "docs", p)
    tables = snapshot_catalog_tables(spark, cat)
    snapshot_sql(spark, "DELETE FROM docs WHERE k >= 5", tables)
    assert snapshot_read(spark, p).count() == 5


def test_catalog_lookup_fresh_catalog_is_keyerror(spark, tmp_path):
    """A not-yet-created catalog raises the documented KeyError, not a
    raw storage-layer error (review finding)."""
    with pytest.raises(KeyError, match="no catalog"):
        snapshot_catalog_lookup(spark, str(tmp_path / "nope"), "t")


def test_catalog_concurrent_first_register_upserts(spark, tmp_path):
    """Two racing FIRST registrations of the same name must end with
    one entry (review finding: non-atomic create-then-merge could
    duplicate). Deterministic race: the second register sees the
    pre-create state via a patched _versions on its first call."""
    import dask_awkward_spark.sources.catalog as cat_mod
    import dask_awkward_spark.sources.snapshot as snap_mod

    p = _tbl(spark, tmp_path)
    cat = str(tmp_path / "cat")
    real_versions = snap_mod._versions
    state = {"raced": False}

    def versions_hook(path):
        out = real_versions(path)
        if path == cat and not out and not state["raced"]:
            # the rival wins the creating write between our check and
            # our commit
            state["raced"] = True
            snapshot_catalog_register(spark, cat, "t", p, version=1)
        return out if not state["raced"] else real_versions(path)

    # patch only the catalog module's view of _versions
    orig = cat_mod.snapshot_catalog_register.__globals__  # module globals
    import unittest.mock as mock

    with mock.patch.object(snap_mod, "_versions", versions_hook):
        snapshot_catalog_register(spark, cat, "t", p)  # loser must upsert
    entries = snapshot_catalog_list(spark, cat)
    assert len(entries) == 1 and entries[0]["name"] == "t"
    # the loser's (unpinned) registration replaced the rival's pin
    assert entries[0]["pin_version"] is None


def test_changes_view_sql_cdc(spark, tmp_path):
    """A SQL-only CDC consumer: snapshot_changes_view registers the
    delta as a view (Delta's table_changes analog), row-level mode
    included."""
    from dask_awkward_spark.sources.sqlface import snapshot_changes_view

    p = _tbl(spark, tmp_path)  # v1: k 0..9
    snapshot_read(spark, p).selectExpr(
        "k + 100 AS k", "v", "meta"
    ).createOrReplaceTempView("t_src")
    snapshot_sql(spark, "INSERT INTO t SELECT k, v, meta FROM t_src", {"t": p})
    snapshot_sql(
        spark, "INSERT INTO t VALUES (50, 1.0, named_struct('g', 1))", {"t": p}
    )
    snapshot_changes_view(spark, p, "t_delta", since=1)
    got = [r.k for r in spark.sql("SELECT k FROM t_delta ORDER BY k").collect()]
    assert got == [50, 100, 101, 102, 103, 104, 105, 106, 107, 108, 109]
    st = snapshot_sql(spark, "DELETE FROM t WHERE k = 50", {"t": p})
    snapshot_changes_view(
        spark, p, "t_cdf", since=st["version"] - 1, row_level=True
    )
    row = spark.sql("SELECT k, _change_type FROM t_cdf").collect()
    assert [(r.k, r._change_type) for r in row] == [(50, "delete")]


def test_sql_merge_action_kind_mismatch_refused(spark, tmp_path):
    """Second-review regression: WHEN MATCHED THEN INSERT must refuse
    (it used to fall through into an unconditional DELETE), and WHEN
    NOT MATCHED THEN DELETE/UPDATE must refuse (it used to insert)."""
    p = _tbl(spark, tmp_path)
    spark.range(3).selectExpr("id AS k").createOrReplaceTempView("mm_src")
    for bad, msg in [
        ("MERGE INTO t USING mm_src s ON t.k = s.k "
         "WHEN MATCHED THEN INSERT", "not INSERT"),
        ("MERGE INTO t USING mm_src s ON t.k = s.k "
         "WHEN NOT MATCHED THEN DELETE", "only INSERT"),
        ("MERGE INTO t USING mm_src s ON t.k = s.k "
         "WHEN NOT MATCHED THEN UPDATE SET v = 1", "only INSERT"),
    ]:
        with pytest.raises(ValueError, match=msg):
            snapshot_sql(spark, bad, {"t": p})
    assert snapshot_read(spark, p).count() == 10  # nothing executed


def test_sql_merge_three_clause_families(spark, tmp_path):
    """One MERGE statement with all three Delta clause families plus a
    conditional INSERT — conditions flow verbatim; the NOT MATCHED AND
    condition gates insertion only (r9 items 3+6)."""
    p = str(tmp_path / "t3")
    snapshot_write(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
            "k bigint, v string, bal double",
        ),
        p,
    )
    spark.createDataFrame(
        [(2, "B", 200.0), (3, "C", 5.0), (5, "e", 50.0), (6, "f", 3.0)],
        "k bigint, v string, bal double",
    ).createOrReplaceTempView("updates3")
    out = snapshot_sql(
        spark,
        "MERGE INTO t USING updates3 s ON t.k = s.k "
        "WHEN MATCHED AND s.bal > t.bal THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.bal >= 10 THEN INSERT "
        "WHEN NOT MATCHED BY SOURCE AND t.bal < 15 THEN DELETE",
        {"t": p},
    )
    assert out["updated_rows"] == 1  # k=2 (200 > 20); k=3 cond false
    assert out["inserted_rows"] == 1  # k=5; k=6 gated out (3 < 10)
    assert out["deleted_rows"] == 1  # k=1 (10 < 15, not matched by source)
    rows = sorted((r.k, r.v) for r in snapshot_read(spark, p).collect())
    assert rows == [(2, "B"), (3, "c"), (4, "d"), (5, "e")]
    # BY TARGET is an accepted alias for the plain NOT MATCHED form
    out2 = snapshot_sql(
        spark,
        "MERGE INTO t USING updates3 s ON t.k = s.k "
        "WHEN NOT MATCHED BY TARGET THEN INSERT",
        {"t": p},
    )
    assert out2["inserted_rows"] == 1  # k=6 now unconditionally inserted


def test_sql_merge_nms_update_set(spark, tmp_path):
    """Third-family UPDATE SET assigns t-expressions; string form equals
    the Python clause form."""
    p = str(tmp_path / "tu")
    snapshot_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
        ),
        p,
    )
    spark.createDataFrame([(1, "x")], "k bigint, v string").createOrReplaceTempView(
        "srcu"
    )
    out = snapshot_sql(
        spark,
        "MERGE INTO t USING srcu s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(t.v, '!')",
        {"t": p},
    )
    assert out["updated_rows"] == 2
    rows = sorted((r.k, r.v) for r in snapshot_read(spark, p).collect())
    assert rows == [(1, "a"), (2, "b!"), (3, "c!")]


def test_sql_select_with_as_of(spark, tmp_path):
    """SELECT face (r9 item 5): reads by catalog name, VERSION AS OF /
    TIMESTAMP AS OF pins, literals untouched, two pins in one
    statement."""
    p = str(tmp_path / "sel")
    t = {"acct": p}
    snapshot_write(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, bal double"), p
    )  # v1
    snapshot_sql(spark, "INSERT INTO acct VALUES (3, 30.0)", t)  # v2
    assert snapshot_sql(
        spark, "SELECT count(*) AS n FROM acct", t
    ).collect()[0].n == 3
    assert snapshot_sql(
        spark, "SELECT count(*) AS n FROM acct VERSION AS OF 1", t
    ).collect()[0].n == 2
    future = (
        datetime.datetime.now() + datetime.timedelta(seconds=2)
    ).isoformat()
    assert snapshot_sql(
        spark, f"SELECT count(*) AS n FROM acct TIMESTAMP AS OF '{future}'", t
    ).collect()[0].n == 3
    row = snapshot_sql(
        spark,
        "SELECT (SELECT count(*) FROM acct) "
        "- (SELECT count(*) FROM acct VERSION AS OF 1) AS d, "
        "'acct VERSION AS OF 1' AS lit FROM acct LIMIT 1",
        t,
    ).collect()[0]
    assert row.d == 1 and row.lit == "acct VERSION AS OF 1"
    with pytest.raises(ValueError, match="TIMESTAMP AS OF"):
        snapshot_sql(
            spark, "SELECT * FROM acct TIMESTAMP AS OF 'not-a-time'", t
        )


def test_catalog_rename_atomic_roundtrip(spark, tmp_path):
    """snapshot_catalog_rename (r9 item 8): ONE commit moves the entry —
    pins carry over, every catalog version shows exactly one of the two
    names, and refusals cover absent/taken/self names."""
    from dask_awkward_spark.sources.catalog import snapshot_catalog_rename

    p = _tbl(spark, tmp_path)
    cat = str(tmp_path / "cat")
    snapshot_catalog_register(spark, cat, "orders_v1", p, version=1)
    snapshot_catalog_register(spark, cat, "other", p)
    v_before = snapshot_versions(cat)[-1]["version"]
    v = snapshot_catalog_rename(spark, cat, "orders_v1", "orders_gold")
    assert v == v_before + 1  # exactly one commit
    entries = {e["name"]: e for e in snapshot_catalog_list(spark, cat)}
    assert set(entries) == {"orders_gold", "other"}
    assert entries["orders_gold"]["path"] == p
    assert entries["orders_gold"]["pin_version"] == 1  # pin carried
    # time travel: the pre-rename version still shows the old name
    old = {
        r.name
        for r in snapshot_read(spark, cat, version=v_before).collect()
    }
    assert "orders_v1" in old and "orders_gold" not in old
    with pytest.raises(KeyError):
        snapshot_catalog_rename(spark, cat, "nope", "x")
    with pytest.raises(ValueError, match="already registered"):
        snapshot_catalog_rename(spark, cat, "orders_gold", "other")
    with pytest.raises(ValueError, match="identical"):
        snapshot_catalog_rename(spark, cat, "other", "other")


def test_sql_select_double_quoted_literals_and_qualified_refs(spark, tmp_path):
    """Review r9 findings: Spark's default lexer treats double-quoted
    strings as literals (the AS-OF rewrite must not touch them), and a
    rewritten FROM target must stay addressable by its table name."""
    p = str(tmp_path / "sel2")
    t = {"acct": p}
    snapshot_write(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, bal double"), p
    )
    snapshot_sql(spark, "INSERT INTO acct VALUES (3, 30.0)", t)
    row = snapshot_sql(
        spark,
        'SELECT "acct VERSION AS OF 1" AS lit, count(*) AS n FROM acct',
        t,
    ).collect()[0]
    assert row.lit == "acct VERSION AS OF 1" and row.n == 3
    # qualified refs survive the rewrite (the pinned view re-aliases)
    row2 = snapshot_sql(
        spark, "SELECT acct.k FROM acct VERSION AS OF 1 ORDER BY acct.k", t
    ).collect()
    assert [r.k for r in row2] == [1, 2]
    # a user-supplied alias wins (no double alias emitted)
    row3 = snapshot_sql(
        spark, "SELECT a.k FROM acct VERSION AS OF 1 AS a ORDER BY a.k", t
    ).collect()
    assert [r.k for r in row3] == [1, 2]
    row4 = snapshot_sql(
        spark, "SELECT a.k FROM acct VERSION AS OF 1 a WHERE a.k = 2", t
    ).collect()
    assert [r.k for r in row4] == [2]


def test_sql_select_second_review_edges(spark, tmp_path):
    """Second review cycle: apostrophes inside double-quoted literals
    must not desync the bare-name search; OFFSET after an AS-OF pin is
    a clause, not an alias; and a purely historical AS-OF read must not
    register (or clobber) a head-pinned view under the table's name."""
    p = str(tmp_path / "sel3")
    t = {"acct": p}
    snapshot_write(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, bal double"), p
    )
    snapshot_sql(spark, "INSERT INTO acct VALUES (3, 30.0)", t)
    # apostrophe inside a DOUBLE-quoted literal: the scanner must not
    # treat it as opening a single-quoted literal (FROM acct would then
    # be invisible to the bare-name registration)
    row = snapshot_sql(
        spark, 'SELECT "it\'s" AS s1, count(*) AS n FROM acct', t
    ).collect()[0]
    assert row.s1 == "it's" and row.n == 3
    # OFFSET is a clause keyword, not a user alias: qualified refs work
    rows = snapshot_sql(
        spark,
        "SELECT acct.k FROM acct VERSION AS OF 1 ORDER BY acct.k OFFSET 1",
        t,
    ).collect()
    assert [r.k for r in rows] == [2]
    # a pure AS-OF read leaves the user's same-named temp view alone
    spark.createDataFrame([(99,)], "x bigint").createOrReplaceTempView("acct")
    n = snapshot_sql(
        spark, "SELECT count(*) AS n FROM acct VERSION AS OF 1", t
    ).collect()[0].n
    assert n == 2
    assert [r.x for r in spark.sql("SELECT x FROM acct").collect()] == [99], (
        "historical read must not clobber the user's temp view"
    )
    spark.catalog.dropTempView("acct")


def test_sql_maintenance_statements(spark, tmp_path):
    """Delta's maintenance surface as strings: DESCRIBE HISTORY,
    OPTIMIZE (scoped + zorder), VACUUM (retention/keep/dry-run), and
    RESTORE ... VERSION AS OF — all routed to the Python faces."""
    p = str(tmp_path / "mt")
    t = {"m": p}
    snapshot_write(
        spark.range(4).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")),
        p,
    )
    for i in range(4, 8):
        snapshot_sql(spark, f"INSERT INTO m VALUES ({i}, {float(i)})", t)
    hist = snapshot_sql(spark, "DESCRIBE HISTORY m", t)
    ops = [r.op for r in hist.collect()]
    assert ops.count("append") == 4 and "overwrite" in ops
    v = snapshot_sql(spark, "OPTIMIZE m ZORDER BY (k)", t)
    assert isinstance(v, int)
    assert snapshot_read(spark, p).count() == 8
    # scoped OPTIMIZE speaks the same triples
    v2 = snapshot_sql(spark, "OPTIMIZE m WHERE k >= 4", t)
    assert isinstance(v2, int) and snapshot_read(spark, p).count() == 8
    # RESTORE rolls the head back as a NEW commit
    snapshot_sql(spark, "RESTORE TABLE m TO VERSION AS OF 1", t)
    assert snapshot_read(spark, p).count() == 4
    # VACUUM trims history (0-retention via RETAIN 0 HOURS + KEEP LAST 1)
    dry = snapshot_sql(spark, "VACUUM m RETAIN 0 HOURS KEEP LAST 1 DRY RUN", t)
    assert isinstance(dry, dict)
    assert len(snapshot_versions(p)) > 1  # dry run trimmed nothing
    snapshot_sql(spark, "VACUUM m RETAIN 0 HOURS KEEP LAST 1", t)
    assert len(snapshot_versions(p)) == 1
    assert snapshot_read(spark, p).count() == 4
    with pytest.raises(ValueError):
        snapshot_sql(spark, "RESTORE m TO VERSION AS OF 999999", t)


def test_sql_select_tag_as_of(spark, tmp_path):
    """TAG AS OF 'name': the engine's durable pin (survives vacuum) as
    a SQL read suffix."""
    p = str(tmp_path / "tg")
    t = {"acct": p}
    snapshot_write(
        spark.createDataFrame([(1,), (2,)], "k bigint"), p
    )
    snapshot_tag(p, "gold")
    snapshot_sql(spark, "INSERT INTO acct VALUES (3)", t)
    assert snapshot_sql(
        spark, "SELECT count(*) AS n FROM acct TAG AS OF 'gold'", t
    ).collect()[0].n == 2
    assert snapshot_sql(
        spark, "SELECT count(*) AS n FROM acct", t
    ).collect()[0].n == 3
    snapshot_vacuum(p, keep_last=1, retain_seconds=0)  # tag pin survives
    assert snapshot_sql(
        spark, "SELECT count(*) AS n FROM acct TAG AS OF 'gold'", t
    ).collect()[0].n == 2


def test_sql_optimize_empty_zorder_refused(spark, tmp_path):
    p = str(tmp_path / "z")
    snapshot_write(spark.range(3).select(F.col("id").alias("k")), p)
    with pytest.raises(ValueError, match="ZORDER BY"):
        snapshot_sql(spark, "OPTIMIZE z ZORDER BY ( , )", {"z": p})


# ---- column-list MERGE INSERT (round 9 continuation) -------------------


def test_merge_column_list_insert_python_face(spark, tmp_path):
    """('insert', cond, {col: expr}) builds inserted rows from
    expressions over s: unassigned columns NULL, join keys kept from
    the source (key assignment refused), and the source may re-shape
    table columns."""
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = _tbl(spark, tmp_path)  # k 0..9, v = 2k, meta.g = k%3
    src = spark.createDataFrame(
        [(8, 800.0), (20, 2000.0), (30, 5.0)], "k bigint, raw double"
    )
    st = snapshot_merge(
        spark, p, src, on=["k"],
        when_matched=None,
        when_not_matched=("insert", "s.raw > 100.0", {"v": "s.raw / 100"}),
    )
    assert st["inserted_rows"] == 1  # only k=20 passes the gate unmatched
    row = snapshot_read(spark, p).filter("k = 20").first()
    assert row.v == 20.0 and row.meta is None
    with pytest.raises(ValueError, match="may not assign merge key"):
        snapshot_merge(
            spark, p, src, on=["k"], when_matched=None,
            when_not_matched=("insert", None, {"k": "s.k + 1"}),
        )
    with pytest.raises(ValueError, match="unknown columns"):
        snapshot_merge(
            spark, p, src, on=["k"], when_matched=None,
            when_not_matched=("insert", None, {"zzz": "1"}),
        )
    with pytest.raises(ValueError, match="non-empty dict"):
        snapshot_merge(
            spark, p, src, on=["k"], when_matched=None,
            when_not_matched=("insert", None, {}),
        )


def test_merge_column_list_insert_sql_form(spark, tmp_path):
    """MERGE ... WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES
    (exprs) parses and matches the Python face; malformed lists
    refuse."""
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = _tbl(spark, tmp_path)
    p2 = _tbl(spark, tmp_path, "t2")
    spark.createDataFrame(
        [(9, 3.0), (42, 7.0)], "k bigint, raw double"
    ).createOrReplaceTempView("clins_src")
    try:
        st = snapshot_sql(
            spark,
            "MERGE INTO t USING clins_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.raw "
            "WHEN NOT MATCHED AND s.raw > 5.0 THEN "
            "INSERT (v, meta) VALUES (s.raw * 2, named_struct('g', CAST(s.raw AS INT)))",
            {"t": p},
        )
        assert st["updated_rows"] == 1 and st["inserted_rows"] == 1
        row = snapshot_read(spark, p).filter("k = 42").first()
        assert row.v == 14.0 and row.meta.g == 7
        # equivalent Python-face call on a twin table
        st2 = snapshot_merge(
            spark, p2,
            spark.table("clins_src"), on=["k"],
            when_matched=[(None, "update", {"v": "s.raw"})],
            when_not_matched=(
                "insert", "s.raw > 5.0",
                {"v": "s.raw * 2", "meta": "named_struct('g', CAST(s.raw AS INT))"},
            ),
        )
        assert st2["inserted_rows"] == st["inserted_rows"]
        a = sorted(map(str, snapshot_read(spark, p).collect()))
        b = sorted(map(str, snapshot_read(spark, p2).collect()))
        assert a == b
        with pytest.raises(ValueError, match="column list"):
            snapshot_sql(
                spark,
                "MERGE INTO t USING clins_src s ON t.k = s.k "
                "WHEN NOT MATCHED THEN INSERT (v, meta) VALUES (s.raw)",
                {"t": p},
            )
    finally:
        spark.catalog.dropTempView("clins_src")

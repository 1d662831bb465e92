"""One MERGE, three spellings: the ``when_matched`` shorthand, the
explicit one-clause list and the ``snapshot_sql`` MERGE string must
commit the same rows, return the same stats and record the same
row-level change feed (or fail the same way)."""

from __future__ import annotations

import itertools

import pytest

from dask_awkward_spark.sources.snapshot import (
    _versions,
    snapshot_changes,
    snapshot_merge,
    snapshot_read,
    snapshot_write,
)
from dask_awkward_spark.sources.sqlface import snapshot_sql

_VIEWS = itertools.count()

# target: duplicate key 3, keys 0..9
_TARGET = [(k, 10 * k, f"t{k}") for k in range(10)] + [(3, 31, "t3b")]

# source, typed int where the table is bigint (lossless upcast), with an
# extra column, a NULL key (never matches: inserts), matches 2, 3, 8 and
# inserts 40
_SOURCE = [
    (2, -2, "s2", "x"),
    (3, -3, "s3", "y"),
    (8, -8, "s8", "z"),
    (40, -40, "s40", "w"),
    (None, -99, "snull", "n"),
]
_SOURCE_DDL = "k int, v int, name string, op string"


def _target(spark, tmp_path, name):
    p = str(tmp_path / name)
    snapshot_write(
        spark.createDataFrame(_TARGET, "k bigint, v bigint, name string").repartition(2, "k"),
        p,
    )
    return p


def _sorted(rows):
    return sorted(rows, key=lambda r: tuple((x is None, x if x is not None else 0) for x in r))


def _state(spark, p, since):
    """Committed rows and the row-level feed since ``since`` (or the
    error the feed raises), each as a sorted list."""
    rows = _sorted(tuple(r) for r in snapshot_read(spark, p).collect())
    try:
        feed = _sorted(
            (r.k, r.v, r.name, r._change_type)
            for r in snapshot_changes(spark, p, since=since, row_level=True).collect()
        )
    except ValueError as e:
        feed = f"{type(e).__name__}: {e}"
    return rows, feed


def _run(spark, tmp_path, spelling, action, change_feed, source_rows):
    p = _target(spark, tmp_path, f"{spelling}_{action}_{change_feed}")
    v0 = _versions(p)[-1]
    src = spark.createDataFrame(source_rows, _SOURCE_DDL)
    if spelling == "sql":
        view = f"merge_spelling_src_{next(_VIEWS)}"
        src.createOrReplaceTempView(view)
        then = "UPDATE SET *" if action == "update" else "DELETE"
        stats = snapshot_sql(
            spark,
            f"MERGE INTO t USING {view} s ON t.k = s.k "
            f"WHEN MATCHED THEN {then} WHEN NOT MATCHED THEN INSERT *",
            {"t": p},
        )
    else:
        when_matched = action if spelling == "shorthand" else [(None, action, None)]
        stats = snapshot_merge(
            spark, p, src, on=["k"], when_matched=when_matched,
            change_feed=change_feed,
        )
    return stats, _state(spark, p, v0)


def _spellings(change_feed):
    # the SQL face always records the change feed
    return ("shorthand", "list", "sql") if change_feed else ("shorthand", "list")


@pytest.mark.parametrize("change_feed", [True, False])
@pytest.mark.parametrize("action", ["update", "delete"])
def test_merge_spellings_agree(spark, tmp_path, action, change_feed):
    runs = {
        s: _run(spark, tmp_path, s, action, change_feed, _SOURCE)
        for s in _spellings(change_feed)
    }
    ref_stats, (ref_rows, ref_feed) = runs["shorthand"]
    # the statement did what it says: 3 matched keys hit 4 target rows
    hit = 4
    assert ref_stats["inserted_rows"] == 2
    assert ref_stats["updated_rows" if action == "update" else "deleted_rows"] == hit
    assert len(ref_rows) == len(_TARGET) + 2 - (hit if action == "delete" else 0)
    if change_feed:
        assert isinstance(ref_feed, list) and ref_feed
    for s, run in runs.items():
        assert run == runs["shorthand"], f"{s} differs from the shorthand"


@pytest.mark.parametrize("action", ["update", "delete"])
def test_merge_spellings_refuse_ambiguous_source(spark, tmp_path, action):
    dup = _SOURCE + [(8, -88, "s8b", "z")]
    for s in _spellings(True):
        with pytest.raises(ValueError, match="ambiguous"):
            _run(spark, tmp_path, s, action, True, dup)

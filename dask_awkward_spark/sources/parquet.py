"""Parquet scan/sink (reference lib/io/parquet.py:251-427 ``from_parquet``,
:515-721 ``to_parquet``).

Spark-native: row-group splitting is automatic
(``spark.sql.files.maxPartitionBytes``), column projection rides Catalyst
(the ``columns=`` argument becomes a select, and nested-field pruning is on
via ``nestedSchemaPruning``), predicate pushdown is free. The reference's
600-line projection machinery (FromParquetFileWiseFn.project_columns +
unproject_layout) disappears entirely.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..core import NestedArray

#: listings whose inferred schema :func:`from_parquet` remembers (LRU)
_SCHEMA_CACHE_SIZE = 64
_SCHEMA_CACHE: "OrderedDict[tuple, StructType]" = OrderedDict()
_SCHEMA_LOCK = threading.Lock()

#: session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)

#: Hadoop glob metacharacters: a path holding one is a pattern, not a file
_GLOB_CHARS = frozenset("*?[]{}\\")


def _local_path(p: str) -> "str | None":
    """``p`` as a local filesystem path, or None when it is relative (the
    JVM resolves those against its own working directory), a glob, a
    non-``file`` URI, or does not exist."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        if p.startswith("//"):
            if not p.startswith("///"):
                return None  # file://host/... names a remote authority
            p = p[2:]
        if "%" in p:
            return None  # percent-encoded URI: let Spark decode it
    if not os.path.isabs(p) or ":" in p or _GLOB_CHARS.intersection(p):
        return None
    return p if os.path.exists(p) else None


def _file_stats(p: str, out: list) -> bool:
    """Append ``(path, size, mtime_ns, inode)`` for ``p`` and every file
    under it; False when a symlinked directory is met (its contents could
    change without touching anything the walk stats)."""
    if not os.path.isdir(p):
        st = os.stat(p)
        out.append((p, st.st_size, st.st_mtime_ns, st.st_ino))
        return True
    with os.scandir(p) as it:
        for e in it:
            if e.is_dir(follow_symlinks=False):
                if not _file_stats(e.path, out):
                    return False
            elif e.is_symlink() and os.path.isdir(e.path):
                return False
            else:
                st = e.stat()
                out.append((e.path, st.st_size, st.st_mtime_ns, st.st_ino))
    return True


def _listing_signature(spark: SparkSession, paths: "list[str]") -> "tuple | None":
    """What parquet schema inference over ``paths`` depends on: the
    application, the inference-relevant confs and every file's identity
    and stat. None (no caching) unless every path is local and exists."""
    files: list = []
    try:
        for p in paths:
            lp = _local_path(p)
            if lp is None or not _file_stats(lp, files):
                return None
    except OSError:  # a file vanished mid-walk: infer as usual
        return None
    if not files:
        return None
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return (spark.sparkContext.applicationId, confs, tuple(sorted(files)))


def _read_parquet(spark: SparkSession, paths: "list[str]") -> DataFrame:
    """``spark.read.parquet(*paths)``, with the inferred schema of a
    keyed listing (see :func:`from_parquet`) remembered so a repeated
    read of unchanged files runs no inference job."""
    sig = _listing_signature(spark, paths)
    with _SCHEMA_LOCK:
        schema = _SCHEMA_CACHE.get(sig) if sig is not None else None
        if schema is not None:
            _SCHEMA_CACHE.move_to_end(sig)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    # cache only when the files did not move under the inference
    if sig is not None and _listing_signature(spark, paths) == sig:
        with _SCHEMA_LOCK:
            _SCHEMA_CACHE[sig] = df.schema
            while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_SIZE:
                _SCHEMA_CACHE.popitem(last=False)
    return df


def from_parquet(
    spark: SparkSession,
    path: str | list[str],
    columns: list[str] | None = None,
    report: bool = False,
) -> NestedArray | tuple[NestedArray, DataFrame]:
    """Scan parquet into a NestedArray of records.

    ``columns=`` projects eagerly (scan-level pruning); ``report=True``
    returns a second DataFrame of per-file row counts — the analogue of the
    reference's success/failure report records (lib/io/parquet.py:36-61).

    Schema inference runs a Spark job per read, so the inferred
    ``StructType`` (never a DataFrame) is remembered in a module-level LRU
    of ``_SCHEMA_CACHE_SIZE`` (64) listings, and a repeated read of unchanged
    files passes it to ``spark.read.schema`` instead: zero jobs until an
    action. The key is the application id, the session confs in
    ``_INFERENCE_CONFS``, and the sorted ``(path, size, mtime_ns, inode)``
    of every file under ``path``, so an overwrite, an in-place rewrite,
    an added or removed file, or a conf change misses and re-infers. Only
    absolute plain or ``file:`` local paths that exist, hold no glob
    character and reach no symlinked directory are keyed; any other path
    (relative, object stores, HDFS, globs) infers on every call, as
    before.
    """
    df = _read_parquet(spark, path if isinstance(path, list) else [path])
    if columns is not None:
        df = df.select(*columns)
    arr = NestedArray(df, F.struct(*[F.col(c) for c in df.columns]))
    names = [c.lower() for c in df.columns]
    if len(set(names)) == len(names) and not any("." in n or "`" in n for n in names):
        # the struct of the scan's columns has exactly their fields
        arr._dtype = StructType(df.schema.fields)
    if report:
        rep = (
            df.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
        return arr, rep
    return arr


def to_parquet(
    data: NestedArray | DataFrame,
    path: str,
    compression: str = "zstd",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    row_group_size_bytes: int | None = None,
    prefix: str | None = None,
    bloom_filter_cols: dict[str, int] | None = None,
) -> None:
    """Write one file per partition, zstd default — matching the
    reference's defaults (lib/io/parquet.py:525-527; its row_group_size
    arg maps to parquet.block.size here). ``partition_by`` adds
    hive-style partition pruning for downstream scans (uplift).
    ``prefix`` renames the written files from ``part-*`` to ``<prefix>-*``
    (reference lib/io/parquet.py prefix arg; Spark writers hardcode the
    part- stem, so this is a driver-side metadata rename after commit —
    one rename per file, no data movement)."""
    df = data.to_df() if isinstance(data, NestedArray) else data
    w = df.write.mode("overwrite").option("compression", compression)
    if row_group_size_bytes:
        w = w.option("parquet.block.size", row_group_size_bytes)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    for c, ndv in (bloom_filter_cols or {}).items():
        # per-column bloom filters in the footer: at 100 TB a point lookup
        # (x = k) skips every row group whose bloom rejects k — the
        # complement to min/max stats, which only help on sorted/clustered
        # columns (see to_parquet_zordered for the clustered path)
        w = (
            w.option(f"parquet.bloom.filter.enabled#{c}", "true")
            .option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
        )
    w.parquet(path)
    if prefix is not None:
        import os

        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith("part-"):
                    os.rename(
                        os.path.join(root, f),
                        os.path.join(root, prefix + f[len("part"):]),
                    )


def to_bucketed_table(
    data: NestedArray | DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
) -> None:
    """Bucketed parquet table (saveAsTable — bucketing metadata lives in
    the catalog): pre-shuffles once at write time so every later
    equi-join or aggregation on ``bucket_by`` is CO-LOCATED and plans
    with NO Exchange. This is the 100-TB strategy for dimension/fact
    joins repeated across many queries — pay the shuffle once, reuse it
    every query (uplift; the reference has no storage-layout control).
    ``sort_by`` additionally orders within buckets, enabling sort-merge
    joins without a Sort node."""
    df = data.to_df() if isinstance(data, NestedArray) else data
    w = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def zorder_column(
    df: DataFrame, cols: "list[str]", bits: int = 8
) -> "tuple[DataFrame, str]":
    """Append a Morton (Z-order) key column interleaving ``bits``-bit
    rank buckets of each column — the multi-dimensional clustering key.

    Each column is uniformly bucketed into 2^bits cells between its
    min and max (ONE narrow aggregate fetches the bounds; timestamps go
    through epoch micros), then the cells' bits are interleaved
    JVM-side with shift/or expressions — no UDFs. Returns (df, key_name).
    ``bits * len(cols)`` must fit a signed 64-bit key (<= 62).
    """
    from pyspark.sql import types as T

    if bits * len(cols) > 62:
        raise ValueError(f"bits*cols = {bits * len(cols)} exceeds a bigint key")

    def leaf_type(c: str):
        # dotted names address STRUCT leaves (clustering on meta.ts is
        # exactly what makes nested-leaf file skipping tight)
        cur, dt = df.schema, None
        for seg in c.split("."):
            if not isinstance(cur, T.StructType) or seg not in cur.fieldNames():
                raise ValueError(
                    f"zorder column {c!r}: {seg!r} is not a struct field "
                    f"on the way down (schema {df.schema.simpleString()})"
                )
            dt = cur[seg].dataType
            cur = dt
        return dt

    def numeric(c: str) -> Column:
        dt = leaf_type(c)
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        return F.col(c).cast("double")

    bounds = df.agg(
        *[F.min(numeric(c)).alias(f"lo{i}") for i, c in enumerate(cols)],
        *[F.max(numeric(c)).alias(f"hi{i}") for i, c in enumerate(cols)],
    ).first()
    n_cells = 1 << bits
    m = len(cols)
    cells = []
    for i, c in enumerate(cols):
        lo, hi = bounds[f"lo{i}"], bounds[f"hi{i}"]
        if lo is None or hi is None or hi <= lo:
            cells.append(F.lit(0).cast("bigint"))
            continue
        cell = F.width_bucket(numeric(c), F.lit(lo), F.lit(hi), F.lit(n_cells)) - 1
        cells.append(F.least(F.greatest(cell, F.lit(0)), F.lit(n_cells - 1)).cast("bigint"))
    z = F.lit(0).cast("bigint")
    for bit in range(bits):
        for j, cell in enumerate(cells):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(cell, bit).bitwiseAND(F.lit(1)), bit * m + j)
            )
    key = "__zorder__"
    return df.withColumn(key, z), key


def to_zordered_parquet(
    data: NestedArray | DataFrame,
    path: str,
    zorder_by: "list[str]",
    num_files: int = 16,
    bits: int = 8,
    compression: str = "zstd",
) -> None:
    """Z-order-clustered parquet: rows are range-partitioned and sorted by
    the Morton key of ``zorder_by``, so each output file covers a compact
    hyper-rectangle of the key space and its per-column min/max footer
    stats stay TIGHT in every clustered dimension. Scans filtering on any
    subset of ``zorder_by`` then skip most files/row-groups — the
    data-layout strategy for multi-column selective queries at 100 TB,
    where a single-column sort only prunes its own column (uplift; the
    reference has no storage-layout control). One narrow bounds aggregate
    + one range shuffle; the key column is dropped before writing."""
    df = data.to_df() if isinstance(data, NestedArray) else data
    zdf, key = zorder_column(df, zorder_by, bits)
    (
        zdf.repartitionByRange(num_files, F.col(key))
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    partition_by: "list[str] | None" = None,
    compression: str = "zstd",
) -> dict:
    """Dataset maintenance: rewrite a parquet dataset's small files into
    ~``target_file_bytes`` files (uplift; no reference counterpart).

    Streaming sinks and incremental loads leave thousands of small files
    behind; at 100 TB scan cost becomes file-count-bound (one footer
    read + one scheduler task per file) long before it is byte-bound.
    Compaction is the standing maintenance job that fixes it.

    Shape: one narrow size scan of the directory (driver-side listing,
    no data read), a single round-robin ``repartition`` to
    ``ceil(total_bytes / target)`` output tasks (the only shuffle — and
    it moves each byte once), rewrite into a temp dir, then a
    two-rename swap so readers see either the old or the new layout,
    never a half-written one; a crash mid-swap is self-healed by the
    next invocation (the backup dir is kept until the forward rename
    lands and restored/pruned on entry). With ``partition_by`` the rewrite
    repartitions on the partition columns instead, so each output task
    writes whole hive partitions and small files collapse within each.

    Returns ``{"files_before", "files_after", "bytes"}``.
    """
    import math
    import os
    import shutil

    def _files(p: str) -> "list[str]":
        out = []
        for root, _dirs, names in os.walk(p):
            out.extend(os.path.join(root, n) for n in names if n.endswith(".parquet"))
        return out

    tmp = path.rstrip("/") + "__compact_tmp"
    bak = path.rstrip("/") + "__compact_bak"
    # self-heal from a previous crashed run before touching anything:
    # - bak exists, path missing -> died between the two renames; the
    #   backup IS the dataset, restore it
    # - bak exists, path present -> died after the forward rename; the
    #   backup is stale, drop it
    # - a stale tmp is always safe to drop (never renamed into place)
    if os.path.exists(bak):
        if os.path.exists(path):
            shutil.rmtree(bak)
        else:
            os.rename(bak, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)

    before = _files(path)
    total = sum(os.path.getsize(f) for f in before)
    # compressed bytes on disk underestimate in-flight row size; the
    # writer's maxRecordsPerFile is not needed — file count is the knob
    n_out = max(1, math.ceil(total / max(target_file_bytes, 1)))
    df = spark.read.parquet(path)
    w = (
        (df.repartition(n_out, *partition_by) if partition_by else df.repartition(n_out))
        .write.mode("overwrite")
        .option("compression", compression)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    os.rename(path, bak)
    os.rename(tmp, path)
    # the backup is only dropped once the forward rename has succeeded;
    # a crash at any earlier point is repaired by the entry check above
    shutil.rmtree(bak)
    return {"files_before": len(before), "files_after": len(_files(path)), "bytes": total}

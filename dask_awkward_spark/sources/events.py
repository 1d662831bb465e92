"""Adaptive loader for the ``events`` table.

The driver's generator has shipped the ``ts`` column in two different
parquet encodings across rounds:

- ``TIMESTAMP(NANOS)`` — Spark's vectorized reader rejects it unless
  ``spark.sql.legacy.parquet.nanosAsLong=true``, in which case it surfaces
  as a raw ``LongType`` of nanoseconds;
- plain ``timestamp[us]`` (no UTC adjustment) — Spark 4 reads it as
  ``TIMESTAMP_NTZ``.

Everything downstream (batch queries, streaming sources) goes through
:func:`load_events` / :func:`stream_events`, which branch on the *actual*
ingested type and normalize ``ts`` to ``TIMESTAMP_NTZ`` wall-clock values.
The session time zone is pinned to UTC so NTZ <-> instant casts are
wall-clock-preserving and string renderings agree with the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .parquet import _read_parquet


def _ensure_session_conf(spark: SparkSession) -> None:
    # runtime-settable guards: make events readable/comparable even when the
    # caller (e.g. the round driver) built its own SparkSession without our
    # session defaults
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the ingested ``ts`` column to TIMESTAMP_NTZ wall-clock."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.TimestampNTZType):
        return df
    if isinstance(dt, T.LongType):
        # legacy nanos-as-long: exact integer division ns -> us (generator
        # values are microsecond-aligned), then reinterpret as NTZ wall-clock
        # (session tz is UTC, so the cast does not shift the instant)
        return df.withColumn(
            col, F.timestamp_micros(F.expr(f"{col} div 1000")).cast("timestamp_ntz")
        )
    if isinstance(dt, T.TimestampType):
        return df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    raise TypeError(f"unsupported events.{col} type: {dt}")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read of ``events.parquet`` with ``ts`` normalized to NTZ."""
    _ensure_session_conf(spark)
    return _normalize_ts(_read_parquet(spark, [f"{sf_dir}/events.parquet"]))


def events_ingest_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Footer-derived schema of the events file, for the streaming source.

    A batch read costs only the parquet footer; using its schema for
    ``readStream`` means the stream always sees the file's true types
    instead of a hard-coded guess (the round-3 silent-corruption bug).
    """
    _ensure_session_conf(spark)
    return _read_parquet(spark, [f"{sf_dir}/events.parquet"]).schema


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events file with ``ts`` as an instant.

    Delegates to the generic drift-adaptive ``tables.stream_table``
    (ingest with the file's actual footer schema, normalize to the
    canonical NTZ), then casts ``ts`` to TIMESTAMP: withWatermark
    rejects TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — event
    time must be an instant. Under the UTC session zone pinned above the
    cast preserves the wall clock, so window starts render identically
    to the batch/oracle side.
    """
    from .tables import stream_table

    return stream_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def epoch_seconds(col: Column) -> Column:
    """Epoch seconds at microsecond precision for an NTZ timestamp column.

    Matches DuckDB's ``epoch(ts)`` (fractional seconds). ``unix_timestamp``
    truncates to whole seconds and disagrees with the oracle near window
    boundaries; a direct ``cast("double")`` is invalid on TIMESTAMP_NTZ.
    The NTZ -> TIMESTAMP cast is wall-clock-preserving under the UTC
    session zone pinned by the loaders above.
    """
    return F.unix_micros(col.cast("timestamp")) / F.lit(1_000_000.0)

"""Event operators: gap sessions and tumbling hourly counts.

The reference has no stream semantics (SURVEY.md section 2.10) — these are
the standard large-pipeline operators added per the task brief. Each
operator is one expression; ``streaming/jobs.py`` runs the same expression
on a watermarked stream, so Spark emits a session or an hour once the
watermark passes its end and then drops its state.

Numeric note: double sums are not associative, so aggregates over the
``value`` column go through fixed-point micro-units (floor(x*1e6) as bigint)
— bit-stable regardless of partitioning and reproducible in any SQL engine
(double->decimal casts are NOT portable: Spark rounds the shortest decimal
repr, other engines the true binary value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SESSION_GAP_SEC = 1800


def _us(c) -> "F.Column":
    """Epoch micros of a (possibly NTZ) timestamp; session tz is pinned UTC
    so NTZ-as-UTC matches DuckDB's epoch_us on naive timestamps."""
    return F.unix_micros(c.cast("timestamp"))


def sessions(events: DataFrame) -> DataFrame:
    """Gap sessions per user: a new session starts when the time since the
    previous event exceeds ``SESSION_GAP_SEC``. A session window spans
    [first event, last event + gap], and Spark merges the next event's
    window when it starts at or before that end: events exactly the gap
    apart share a session, events 1 µs further apart do not. ``ts`` is
    windowed as it is: a cast would hide a stream's watermark from the
    aggregate."""
    gap = F.session_window("ts", f"{SESSION_GAP_SEC} seconds")
    return (
        events.groupBy("user_id", gap)
        .agg(
            _us(F.min("ts")).alias("session_start_us"),
            _us(F.max("ts")).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("session_window")
    )


def sessionize(events: DataFrame) -> DataFrame:
    """``sessions`` numbered per user in time order (``session_seq`` from 0)."""
    seq = F.row_number().over(
        Window.partitionBy("user_id").orderBy("session_start_us")
    ) - 1
    return sessions(events).select(
        "user_id", seq.alias("session_seq"),
        "session_start_us", "session_end_us", "n_events",
    )


def hour_keys(events: DataFrame) -> DataFrame:
    """The tumbling key: each event's ``hour`` (``date_trunc``) with its
    ``event_type`` and fixed-point value."""
    return events.select(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("bigint").alias("v"),
    )


def hour_counts(keyed: DataFrame) -> DataFrame:
    """Count and fixed-point value sum per (``hour``, event_type) of
    ``hour_keys`` rows."""
    return (
        keyed.groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sum_value_micros"),
        )
        .select(
            _us(F.col("hour")).alias("window_start_us"),
            "event_type", "n", "sum_value_micros",
        )
    )


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling hourly aggregate per (window, event_type)."""
    return hour_counts(hour_keys(events))

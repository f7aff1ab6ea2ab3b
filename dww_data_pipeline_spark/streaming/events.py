"""Structured Streaming surface over the events table (north-star
extension; the reference has no streaming — SURVEY §2.9).

Every aggregation here is written against a generic DataFrame so the
SAME function runs in batch mode (for the DuckDB oracle) and in
streaming mode (readStream + watermark) — Spark's unified API makes
the batch run the correctness oracle for the stream.

Watermark policy: late events older than the watermark are dropped
from open windows; sized for the test data's event cadence but
parameterized for production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """events as a file stream (parquet source). In production this is
    Kafka/Kinesis; the parquet file source exercises identical
    semantics (event-time, watermarks, incremental triggers).

    The file source requires a *directory*, so the single events
    parquet file is staged into a scratch dir via symlink.
    """
    import hashlib
    import os
    import tempfile

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"dww_events_stream_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    # lexists, not exists: a dangling symlink (regenerated sf_dir) must
    # be replaced, and exists() follows the link
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(src, link)

    # nanos-timestamp compat under ANY caller session (see catalog.py)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    # schema must match the file's physical types: ts is INT64 nanos on
    # disk (surfaced as long via nanosAsLong), converted after the scan
    raw_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stage)
    )
    if isinstance(stream.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(stream.schema["ts"].dataType, T.TimestampNTZType):
        # TIMESTAMP(isAdjustedToUTC=false) parquet → NTZ under Spark 4
        # inference; normalize to session-local TIMESTAMP so
        # watermarks/windows/unix_micros see one flavor. The cast is
        # session-timezone-sensitive — pin UTC like catalog.py so the
        # wall-clock values survive ANY caller session.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        stream = stream.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return stream


def tumbling_window_agg(
    events: DataFrame, width: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Per event-type counts + value sums in tumbling event-time
    windows. The sum runs in DECIMAL(18,2) and is cast to double, so
    it is exact and order-independent (st1's oracle formula).
    Batch-identical semantics: on a batch DataFrame the watermark is a
    no-op."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding event-time windows (overlapping) per event type."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )


def session_window_agg(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. (No batch SQL equivalent in the oracle — driver does
    the rows-only check; the pytest suite cross-checks against a
    window-function reimplementation.)"""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_static_enrich_agg(
    events: DataFrame,
    dim: DataFrame,
    key_expr,
    dim_key: str,
    name_col: str,
    width: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-static enrichment + windowed aggregation: join each
    event against a BROADCAST static dimension (re-read per micro-
    batch by Structured Streaming, so slowly-updated dims stay fresh)
    and count per (window, dimension name). ``key_expr`` maps an
    event row to the dimension key. The stream side never shuffles
    for the join — only the windowed aggregation exchanges data."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    joined = src.withColumn("_k", key_expr).join(
        F.broadcast(dim), F.col("_k") == F.col(dim_key)
    )
    return (
        joined.groupBy(F.window("ts", width).alias("win"), name_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL accumulate: the sum is exact, so partition /
            # micro-batch order cannot change the value (float-sum
            # parity rule)
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col(name_col),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Exactly-once event-id dedup within the watermark horizon
    (dropDuplicatesWithinWatermark on streams; dropDuplicates in
    batch)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


# --- streaming count-min sketch ------------------------------------------

CMS_D = 2  # hash rows
CMS_W = 64  # buckets per row


def _cms_bucket(key, row: int):
    """Portable md5-derived bucket (matches the DuckDB oracle's
    arithmetic — the sketch cells ARE the declared result here,
    unlike the execution-internal Bloom hashes)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"scms{row}|"), key.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(CMS_W))


def windowed_cms_cells(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-hour count-min-sketch cells over user_id — the STREAMING
    sketch: a d x w grid of integer counters per event-time window,
    maintained incrementally by the engine's windowed aggregation
    state. The exchange per trigger carries at most d*w cells per
    window per task (map-side combined), never raw events; the
    sketch for any window is complete once the watermark passes its
    end. Runs identically on a batch frame (the oracle path)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    cells = src.select(
        "ts",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row_id"),
                        _cms_bucket(F.col("user_id"), r).alias("bucket"),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("rb"),
    )
    return (
        cells.groupBy(
            F.window("ts", "1 hour").alias("win"),
            F.col("rb.row_id").alias("row_id"),
            F.col("rb.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "row_id",
            "bucket",
            "c",
        )
    )


def session_paths_agg(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Per-session event-type PATH (first 5 events in time order,
    '>'-joined) — the journey string a funnel/paths consumer counts.
    Works identically on a batch frame and a watermarked stream: the
    session_window aggregation collects (ts, event_id, event_type)
    structs (bounded by the session), sorts them IN the row
    (deterministic: struct order = ts, event_id tiebreak), and the
    path is a pure projection. Raw events never shuffle twice."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", "30 minutes")
    sess = src.groupBy(
        F.session_window("ts", gap).alias("w"), "user_id"
    ).agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    return sess.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "user_id",
        F.concat_ws(
            ">",
            F.transform(F.slice("evs", 1, 5), lambda e: e["event_type"]),
        ).alias("path"),
        F.size("evs").alias("n_events"),
    )


def windowed_ab_moments(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-hour, per-arm experiment moments — the STREAMING side of
    ev12's A/B gate: the same deterministic md5 arm assignment, with
    (n, Σx, Σx²) accumulating as exact integers inside watermarked
    windowed-aggregation state (3 counters per arm per open window,
    raw events never buffered). A monitoring consumer derives means,
    variances, and the running Welch t from the finalized windows —
    the moments are associative, so late-window merges are exact.
    Runs identically on a batch frame (the oracle path)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    v = F.floor(F.col("value") * 1e6).cast("long")
    return (
        src.select("ts", arm.alias("arm"), v.alias("v"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("ss"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "arm",
            "n",
            "s",
            F.col("ss").cast("decimal(38,0)").cast("string").alias("ss"),
        )
    )

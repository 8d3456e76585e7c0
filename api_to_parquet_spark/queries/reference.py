"""Reference-parity queries (SURVEY.md §2.1/§2.4/§2.6): the shapes the
reference ships as its declared query surface, answered natively by Spark
over the `events` time-series table (ts≈Timestamp, user_id≈PointId,
event_type≈Project, value≈Value per FIXTURES.md §1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_parquet_spark import ingest
from api_to_parquet_spark.lake import load


def q_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KQL `take 100` / `SELECT TOP 100 *` (reference tests/test.http:49,
    README.md:94) — deterministic variant ordered by event_id.
    Physical plan: TakeOrderedAndProject — no global sort."""
    return load(spark, sf_dir, "events").orderBy("event_id").limit(100)


def q_count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KQL `TelemetryData | count` (reference tests/test.http:62)."""
    return load(spark, sf_dir, "events").agg(F.count("*").alias("n"))


def q_state_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET / state equivalent (reference src/main.go:234-245): monotonic
    max timestamp + last-arrival value, as one partial-aggregatable scan
    (map-side combine, single-row result — scales to any table size)."""
    return load(spark, sf_dir, "events").agg(
        F.max("ts").alias("max_timestamp"),
        F.expr("max_by(ts, event_id)").alias("last_time_generated"),
    )


def q_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch statistics log (reference src/main.go:271-286), grouped
    by event_type as the batch key analogue."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("entries"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard partition scan (reference README.md:94-99, OPENROWSET over
    `.../2023/10/26/19/*.parquet`): a time-range predicate that Catalyst
    pushes to the parquet reader (min/max row-group skipping; directory
    pruning when the lake is partitioned as lake.write_lake does)."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= F.lit("2024-01-26").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-27").cast("timestamp"))
    ).select("event_id", "ts", "user_id", "event_type", "value")


def q_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-fill semantics (SURVEY.md §1.2) at the query surface: JSON
    field extraction with Go-style zero default, never NULL."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.coalesce(
            F.get_json_object("props", "$.k").try_cast("long"), F.lit(0)
        ).alias("k_filled"),
    )


def q_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ingest pipeline (reference POST /, src/main.go:250-298)
    driven from the events table: rows → per-day batch envelopes →
    validate → explode → normalize → per-file stats. The envelope build
    (collect_list per day) mirrors one POST per day; the explode side is
    the engine's real ingest code path."""
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    pts = ev.select(
        day.alias("d"),
        F.struct(
            F.unix_millis("ts").alias("Timestamp"),
            F.lit(0).cast("long").alias("TimeOffsetHours"),
            F.col("user_id").cast("string").alias("PointId"),
            F.lit(0).cast("long").alias("Sequence"),
            F.col("event_type").alias("Project"),
            F.col("value").alias("Value"),
            F.lit("").alias("Res"),
            F.lit(0).cast("long").alias("Quality"),
        ).alias("p"),
    )
    env = pts.groupBy("d").agg(F.collect_list("p").alias("content")).select(
        "content",
        F.date_format("d", "yyyy-MM-dd").alias("id"),
        F.lit("events").alias("source"),
        F.unix_millis(F.col("d")).alias("timeGenerated"),
        F.concat(
            F.lit("events/"), F.date_format("d", "yyyy/MM/dd"), F.lit("/00/batch.parquet")
        ).alias("file"),
    )
    valid, _ = ingest.validate_envelopes(env)
    return ingest.lake_points(valid).groupBy("file").agg(
        F.count("*").alias("n"),
        F.max("Timestamp").alias("max_ts"),
        F.round(F.sum("Value"), 2).alias("sum_value"),
    )


def q_synthetic_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: the reference's synthetic row generators (startup sample
    src/main.go:190-202; load batches tests/main.go:66-92) — Spark-native
    via spark.range + hash-derived fields. Deterministic (md5 of the row
    id, not rand()) so the oracle reproduces it bit-for-bit; swap md5 for
    F.rand()/F.uuid() for true load-gen randomness."""
    n = 1000
    rows = spark.range(n)  # distributed id source, no driver loop
    ids = F.col("id").cast("string")
    return rows.select(
        F.col("id").alias("seq"),
        F.md5(ids).alias("point_id"),
        (
            F.conv(F.substring(F.md5(F.concat(ids, F.lit("v"))), 1, 8), 16, 10)
            .cast("long")
            % 100000
        ).alias("raw_value"),
        (F.col("id") % 24).alias("time_offset_hours"),
    )


def q_json_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: the JSON response sink (reference src/main.go:241-244,324-328)
    — per-type state rows serialized as one JSON string column."""
    stats = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.max(F.unix_millis("ts")).alias("maxTimestamp"),
            F.count("*").alias("entries"),
        )
    )
    return stats.select(
        "event_type",
        F.to_json(
            F.struct(
                F.col("maxTimestamp").alias("maxTimestamp"),
                F.col("entries").alias("entries"),
            )
        ).alias("response"),
    )


QUERIES = {
    "take": q_take,
    "synthetic_batch": q_synthetic_batch,
    "json_response": q_json_response,
    "count_rows": q_count_rows,
    "state_get": q_state_get,
    "batch_stats": q_batch_stats,
    "partition_pruned_scan": q_partition_pruned_scan,
    "zero_fill": q_zero_fill,
    "ingest_roundtrip": q_ingest_roundtrip,
}

ORACLE = {
    "take": "SELECT * FROM events ORDER BY event_id LIMIT 100",
    "synthetic_batch": (
        "SELECT i AS seq, md5(i::VARCHAR) AS point_id,"
        " ('0x' || substr(md5(i::VARCHAR || 'v'), 1, 8))::BIGINT % 100000"
        "   AS raw_value,"
        " i % 24 AS time_offset_hours"
        " FROM generate_series(0, 999) t(i)"
    ),
    "json_response": (
        "SELECT event_type, to_json(struct_pack("
        "   maxTimestamp := max(epoch_ms(ts)),"
        "   entries := count(*)))::VARCHAR AS response"
        " FROM events GROUP BY event_type"
    ),
    "count_rows": "SELECT count(*) AS n FROM events",
    "state_get": (
        "SELECT max(ts) AS max_timestamp, arg_max(ts, event_id) AS last_time_generated"
        " FROM events"
    ),
    "batch_stats": (
        "SELECT event_type, count(*) AS entries, min(ts) AS first_ts,"
        " max(ts) AS last_ts, ROUND(SUM(value), 2) AS sum_value"
        " FROM events GROUP BY event_type"
    ),
    "partition_pruned_scan": (
        "SELECT event_id, ts, user_id, event_type, value FROM events"
        " WHERE ts >= TIMESTAMP '2024-01-26' AND ts < TIMESTAMP '2024-01-27'"
    ),
    "zero_fill": (
        "SELECT event_id,"
        " COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k_filled"
        " FROM events"
    ),
    "ingest_roundtrip": (
        "SELECT 'events/' || strftime(date_trunc('day', ts), '%Y/%m/%d')"
        " || '/00/batch.parquet' AS file,"
        " count(*) AS n, max(epoch_ms(ts)) AS max_ts,"
        " ROUND(SUM(value), 2) AS sum_value"
        " FROM events GROUP BY 1"
    ),
}

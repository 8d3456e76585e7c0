"""Ingest pipeline: envelope validation → explode → normalize.

Re-expresses the reference's POST / handler (/root/reference/src/main.go:250-298)
as pure DataFrame→DataFrame functions. Each stage is declarative so Catalyst
can fuse the whole pipeline into one whole-stage-codegen pass per batch; no
driver-side loops, no Python UDFs.

Reference bugs intentionally NOT reproduced (SURVEY.md §7):
- empty-`content` panic (src/main.go:278) → clean rejection here;
- process-kill on write error (src/main.go:308-310) → per-batch errors.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from api_to_parquet_spark import state
from api_to_parquet_spark.schemas import (
    ENVELOPE_SCHEMA,
    PARTITION_COLUMNS,
    ZERO_FILL,
)


def parse_envelopes(raw_json: DataFrame, json_col: str = "value") -> DataFrame:
    """Parse a DataFrame of raw JSON strings into typed envelopes.

    Spark-side equivalent of BindJSON (reference src/main.go:250-255):
    `from_json` with the static ENVELOPE_SCHEMA — no inference, bad
    documents become NULL envelopes and fall out in validation.
    """
    return raw_json.select(
        F.from_json(F.col(json_col), ENVELOPE_SCHEMA).alias("env")
    ).select("env.*")


def valid_envelope_predicate() -> Column:
    """Required-field predicates (reference src/main.go:256-278).

    file != "", timeGenerated != 0, id != "" — plus non-empty content,
    which the reference *intends* (it logs size) but panics on.
    """
    return (
        F.col("file").isNotNull()
        & (F.col("file") != "")
        & F.col("timeGenerated").isNotNull()
        & (F.col("timeGenerated") != 0)
        & F.col("id").isNotNull()
        & (F.col("id") != "")
        & F.col("content").isNotNull()
        & (F.size("content") > 0)
    )


def validate_envelopes(envelopes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split envelopes into (valid, rejected). Both lazy; one predicate,
    evaluated twice — at scale prefer a single pass + partitioned write
    when both sides are materialized."""
    pred = valid_envelope_predicate()
    return envelopes.filter(pred), envelopes.filter(~pred)


_LINEAGE = ["batch_id", "batch_source", "time_generated", "file"]


def _lineage(envelopes: DataFrame) -> DataFrame:
    """Envelope fields renamed to the lineage columns every point carries."""
    return envelopes.select(
        F.col("id").alias("batch_id"),
        F.col("source").alias("batch_source"),
        F.col("timeGenerated").alias("time_generated"),
        "file",
        "content",
    )


def _explode(env: DataFrame, *keep: str) -> DataFrame:
    """One row per `content` point: lineage, point fields, then `keep`.

    One explode, no shuffle: this runs map-side wherever each envelope
    lives, which is what makes ingest embarrassingly parallel at 100 TB.
    """
    return env.select(
        *_LINEAGE, F.explode("content").alias("p"), *keep
    ).select(*_LINEAGE, "p.*", *keep)


def explode_points(envelopes: DataFrame) -> DataFrame:
    """Envelope → raw fact rows (no zero fill, no partitions), for the
    streaming state aggregations, whose grouping keys keep NULL apart
    from ""."""
    return _explode(_lineage(envelopes))


def normalize_points(points: DataFrame) -> DataFrame:
    """Apply Go zero-value semantics (SURVEY.md §1.2): absent JSON fields
    are zero-filled, never NULL — strings → "", numerics → 0."""
    return points.fillna(ZERO_FILL)


def derive_partitions(points: DataFrame) -> DataFrame:
    """Derive the lake partition columns from the envelope `file` path.

    The reference's path contract (README.md:5) is
    `<source>/YYYY/MM/DD/HH/<name>.parquet`; rows whose `file` doesn't
    match fall back to source="unknown" and zero time parts so they land
    in a quarantine-ish partition instead of failing the batch.
    """
    pat = r"^([^/]+)/(\d{4})/(\d{2})/(\d{2})/(\d{2})/[^/]+$"
    src = F.regexp_extract("file", pat, 1)
    # try_cast: non-matching paths yield '' which is not ANSI-castable
    return (
        points.withColumn("source", F.when(src != "", src).otherwise(F.lit("unknown")))
        .withColumn("year", F.regexp_extract("file", pat, 2).try_cast("int"))
        .withColumn("month", F.regexp_extract("file", pat, 3).try_cast("int"))
        .withColumn("day", F.regexp_extract("file", pat, 4).try_cast("int"))
        .withColumn("hour", F.regexp_extract("file", pat, 5).try_cast("int"))
        .withColumn("file_key", F.md5("file"))
        .fillna({"year": 0, "month": 0, "day": 0, "hour": 0})
    )


def lake_points(valid: DataFrame) -> DataFrame:
    """Valid envelopes → normalized, partitioned points: what every lake
    sink writes. The partition columns depend only on the envelope's
    `file`, so they are derived once per envelope, before the explode
    (per point, the 10x80k load spent ~1.4 s of a 3.2 s parse pass on
    regexp_extract + md5). `_lineage` has already moved the envelope's
    `source` to batch_source, so the path-derived `source` cannot clash."""
    env = derive_partitions(_lineage(valid))
    return normalize_points(_explode(env, *PARTITION_COLUMNS))


def ingest_batch(raw_json: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full ingest plan: raw JSON → (normalized partitioned points, rejected).

    Equivalent of the reference's POST / pipeline through the parquet
    writer (src/main.go:250-298), minus the sink — callers hand the
    points to commit_points.
    """
    valid, rejected = validate_envelopes(parse_envelopes(raw_json))
    return lake_points(valid), rejected


def commit_points(
    spark: SparkSession,
    points: DataFrame,
    write: Callable[[DataFrame], object],
    state_path: str,
) -> Row:
    """Commit one micro-batch, the body every ingest route shares:
    `write(points)` lands the data, then state.update_state merges the
    batch and its new row is returned. The points are persisted, so the
    JSON parse runs once for both. Data goes before state: a crash in
    between replays the batch, and the per-key overwrite is idempotent."""
    points = points.persist()
    try:
        write(points)
        return state.update_state(spark, state_path, points)
    finally:
        points.unpersist()


def batch_stats(points: DataFrame) -> DataFrame:
    """Per-batch statistics the reference logs (src/main.go:271-286):
    row count, first/last positional timestamp, and max timestamp."""
    return points.groupBy("batch_id", "file").agg(
        F.count("*").alias("entries"),
        F.min("Timestamp").alias("first_timestamp"),
        F.max("Timestamp").alias("last_timestamp"),
        F.max("Timestamp").alias("max_timestamp"),
    )

"""Structured Streaming mode: the reference's unbounded sequence of POSTed
micro-batches (SURVEY.md §2.9) as a streaming query.

- ST1 (running max) / ST2 (last-write-wins): streaming aggregation whose
  state lives in the Structured Streaming state store, checkpointed;
  single-writer semantics — strictly stronger than the reference's
  non-atomic Redis read-compare-write across replicas.
- ST3 (idempotent replay / per-file overwrite): one foreachBatch body
  for both ingest streams, committing through ingest.commit_points — the
  same persist → write → state merge the service's POST runs — with
  `lake.write_lake` (partition overwrite) or `snapshots.commit_batch`
  (per-`file`-key manifest commit) as the writer, so a replayed
  micro-batch overwrites instead of duplicating.
- ST4 extensions: event-time watermark + tumbling-window aggregation
  (absent in the reference, standard for late data at scale).

The batch and streaming paths share the exact same DataFrame transforms
(ingest.py) — one logical pipeline, two triggers.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from api_to_parquet_spark import ingest, lake


def read_envelope_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-drop source: each line is one JSON envelope (one POST).
    Swap for a Kafka source in production — everything downstream is
    identical."""
    raw = spark.readStream.schema("value STRING").text(input_dir)
    return ingest.parse_envelopes(raw)


def _start_commit_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint: str,
    available_now: bool,
    state_path: str,
    write: Callable[[DataFrame], object],
) -> StreamingQuery:
    """The foreachBatch body both ingest streams share: validate →
    lake_points → ingest.commit_points with the stream's writer. A
    micro-batch without a valid envelope commits nothing."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        valid, _rejected = ingest.validate_envelopes(batch_df)
        if not valid.isEmpty():
            ingest.commit_points(
                spark, ingest.lake_points(valid), write, state_path
            )

    writer = (
        read_envelope_stream(spark, input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    lake_path: str,
    state_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """The reference's POST / loop as one streaming query: parse →
    validate → normalize → partitioned lake overwrite + control-table
    merge, per micro-batch. foreachBatch gives exactly-once-per-batch
    sinks via the checkpointed batch id + idempotent partition
    overwrite."""
    return _start_commit_stream(
        spark, input_dir, checkpoint, available_now, state_path,
        lambda points: lake.write_lake(points, lake_path, mode="overwrite"),
    )


def start_snapshot_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    snapshot_root: str,
    state_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming ingest committing through the manifest snapshot layer
    (snapshots.py): every micro-batch's per-`file`-key replace becomes
    ONE atomic manifest commit, so lake readers can never observe a
    half-written trigger — strictly stronger than both the reference's
    blob overwrite and the plain foreachBatch writer above. Replays of a
    checkpointed batch id re-commit the same keys idempotently (new
    version, same rows)."""
    from api_to_parquet_spark import snapshots

    return _start_commit_stream(
        spark, input_dir, checkpoint, available_now, state_path,
        lambda points: snapshots.commit_batch(spark, snapshot_root, points),
    )


def start_state_stream(
    spark: SparkSession, input_dir: str, query_name: str = "ingest_state"
) -> StreamingQuery:
    """ST1+ST2 as a pure streaming aggregation: global running max over
    all point timestamps and last-write-wins timeGenerated, maintained by
    the state store and queryable from the in-memory sink:
    ``spark.sql(f"SELECT * FROM {query_name}")``."""
    envelopes = read_envelope_stream(spark, input_dir)
    valid, _ = ingest.validate_envelopes(envelopes)
    points = ingest.explode_points(valid)
    agg = points.agg(
        F.max("Timestamp").alias("max_timestamp"),
        F.expr("max_by(time_generated, time_generated)").alias(
            "last_time_generated_by_value"
        ),
        F.last("time_generated").alias("last_time_generated"),
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def start_per_key_state_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint: str,
    query_name: str = "per_key_state",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Custom stateful operator: per-PointId running max timestamp and
    point count across micro-batches, via applyInPandasWithState — the
    extension point for stateful logic Spark's built-in aggregates can't
    express (the reference's global max, src/main.go:315-322, generalized
    per key).

    Scale shape: state is partitioned by PointId across the state store
    (RocksDB provider on a real cluster), updates arrive Arrow-batched per
    group, and only changed keys are emitted per trigger (update mode).
    Not SQL-expressible → rows-only correctness; semantics are asserted in
    tests/test_streaming.py."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    reader = spark.readStream.schema("value STRING")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    envelopes = ingest.parse_envelopes(reader.text(input_dir))
    valid, _ = ingest.validate_envelopes(envelopes)
    points = ingest.explode_points(valid)

    def update(key, pdf_iter, state: GroupState):
        (point_id,) = key
        max_ts, n = state.get if state.exists else (None, 0)
        for pdf in pdf_iter:
            if len(pdf):
                batch_max = int(pdf["Timestamp"].max())
                max_ts = batch_max if max_ts is None or batch_max > max_ts else max_ts
                n += len(pdf)
        state.update((max_ts, n))
        yield pd.DataFrame(
            {"point_id": [point_id], "max_timestamp": [max_ts], "n_points": [n]}
        )

    out = points.groupBy("PointId").applyInPandasWithState(
        update,
        "point_id STRING, max_timestamp BIGINT, n_points BIGINT",
        "max_timestamp BIGINT, n_points BIGINT",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_transform_with_state_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint: str,
    query_name: str = "tws_state",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Same per-key running max + count as start_per_key_state_stream,
    on the transformWithStateInPandas API (Spark 4): typed state
    variables (ValueState here; ListState/MapState and event/processing
    timers available) managed by the state store instead of one opaque
    GroupState tuple. This is the forward-looking custom-stateful surface
    — richer TTL/timer semantics and composable state — and it REQUIRES
    the RocksDB state store provider, which is the 100 TB deployment
    choice anyway (bounded executor memory, changelog checkpointing);
    the session is cloned so the provider flip stays scoped to this
    query's session.

    Environment gate: the PySpark<->JVM state protocol for this API rides
    on protobuf, which is not a pyspark hard dependency — raise a clear
    error where `google.protobuf` is unavailable instead of the opaque
    "driver worker crashed" the stream would otherwise die with.
    applyInPandasWithState (start_per_key_state_stream) is the
    dependency-free twin."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "transformWithStateInPandas requires the google.protobuf"
            " package (PySpark state-server protocol); use"
            " start_per_key_state_stream on environments without it"
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "max_ts BIGINT, n BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            (point_id,) = key
            max_ts, n = (
                self._agg.get() if self._agg.exists() else (None, 0)
            )
            for pdf in rows:
                if len(pdf):
                    m = int(pdf["Timestamp"].max())
                    max_ts = m if max_ts is None or m > max_ts else max_ts
                    n += len(pdf)
            self._agg.update((max_ts, n))
            yield pd.DataFrame(
                {
                    "point_id": [point_id],
                    "max_timestamp": [max_ts],
                    "n_points": [n],
                }
            )

        def close(self) -> None:
            pass

    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    reader = s2.readStream.schema("value STRING")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    envelopes = ingest.parse_envelopes(reader.text(input_dir))
    valid, _ = ingest.validate_envelopes(envelopes)
    points = ingest.explode_points(valid)
    out = points.groupBy("PointId").transformWithStateInPandas(
        statefulProcessor=RunningMax(),
        outputStructType="point_id STRING, max_timestamp BIGINT,"
        " n_points BIGINT",
        outputMode="Update",
        timeMode="None",
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint: str,
    query_name: str = "dedup_stream",
) -> StreamingQuery:
    """Streaming exact dedup: drop envelopes whose batch `id` was already
    seen within the watermark horizon (dropDuplicatesWithinWatermark) —
    the content-dedup the reference README *claims* ("uses a cache ... to
    avoid duplicate writes", README.md:3,138) but never implements
    (SURVEY.md §2.9: only blob-overwrite-by-key exists). The watermark
    bounds state: duplicate ids older than the horizon age out of the
    state store, so state stays O(ids per hour), not O(all ids ever)."""
    envelopes = read_envelope_stream(spark, input_dir)
    valid, _ = ingest.validate_envelopes(envelopes)
    deduped = (
        valid.withColumn(
            "arrival_ts", F.timestamp_millis(F.col("timeGenerated"))
        )
        .withWatermark("arrival_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["id"])
    )
    counts = ingest.explode_points(deduped).agg(
        F.count("*").alias("n_points"),
        # exact distinct is unsupported on streams; HLL sketch instead
        F.approx_count_distinct("batch_id").alias("n_batches"),
    )
    return (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


EVENTS_STREAM_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
    " event_type STRING, value DOUBLE, props STRING"
)


def start_stream_stream_join(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    query_name: str = "attribution",
) -> StreamingQuery:
    """Stream-stream inner join: attribute each purchase to the views by
    the same user in the preceding hour. Both sides carry event-time
    watermarks and the join condition bounds the time skew, so the state
    store retains only one hour of views per user — bounded state at any
    scale (an unbounded stream-stream join would grow state forever)."""
    src = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    views = (
        src.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        F.expr(
            "user_id = v_user_id"
            " AND view_ts <= purchase_ts"
            " AND view_ts >= purchase_ts - INTERVAL 1 HOUR"
        ),
    ).select("event_id", "user_id", "purchase_ts", "view_ts", "view_value")
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(events_stream: DataFrame) -> DataFrame:
    """Watermarked tumbling-window aggregation (late data tolerated up to
    1 hour; state for closed windows is dropped — bounded state at any
    scale). Batch twin: queries/windows.q_tumbling_window_agg."""
    return (
        events_stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def start_windowed_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    query_name: str = "windowed_counts",
) -> StreamingQuery:
    """Run the watermarked windowed agg over a parquet file stream of
    events rows (append-mode parquet drops)."""
    stream = spark.readStream.schema(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type STRING, value DOUBLE, props STRING"
    ).parquet(events_dir)
    return (
        windowed_event_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def kql_stream(spark: SparkSession, text: str) -> DataFrame:
    """Run a KQL pipe over STREAMING temp views — the reference's
    POST /query surface (src/main.go:88-116) extended to live data,
    which the reference cannot do at all (its ADX pool sees only
    already-landed blobs).

    The translation is the same one batch uses (`kql_to_sql`); what a
    stream can execute is decided by Spark's analyzer, which makes the
    subset explicit rather than silently wrong:

    - stateless stages (where/project/extend/parse/parse-kv/mv-expand/
      scalar functions) stream in append mode;
    - `summarize … by bin(ts, …), …` becomes a grouped streaming
      aggregation (epoch-floor bucketing — the same expression the
      batch path emits — is a valid streaming grouping key; pair with
      update/complete output mode downstream);
    - batch-only shapes fail loudly BEFORE any data is processed:
      pivot/bag_unpack's discovery collect raises here (streaming
      child cannot be collected); sort/top/serialize pass analysis
      but Spark's UnsupportedOperationChecker rejects them at stream
      start.

    The caller owns watermarking: apply `.withWatermark` on the source
    DataFrame BEFORE registering the view when append-mode windowed
    output is wanted (the translator never injects one — that is a
    data-latency policy, not query semantics)."""
    from api_to_parquet_spark.queries.kql import kql_to_sql

    return spark.sql(kql_to_sql(text, spark))

"""Stateful scalar aggregates: lastTimeGenerated + monotonic maxTimestamp.

Re-expresses the reference's Redis-backed state (/root/reference/src/main.go:313-322,
src/cache.go) as a single-row parquet control table merged per batch. The
reference's read-compare-write races across replicas; a single merge job per
micro-batch is strictly stronger (SURVEY.md §1.5). Streaming mode maintains
the same two scalars in the Structured Streaming state store
(streaming.py) — this module is the batch twin.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType(
    [
        # lastTimeGenerated: last-write-wins (src/main.go:313)
        T.StructField("last_time_generated", T.LongType(), True),
        # maxTimestamp: monotonic running max (src/main.go:315-322)
        T.StructField("max_timestamp", T.LongType(), True),
    ]
)


def read_state(spark: SparkSession, state_path: str) -> Row:
    """GET / equivalent (reference src/main.go:234-245). A missing
    control table is the empty state; any other read failure raises, so
    update_state never merges a batch into a state it could not read."""
    try:
        rows = spark.read.schema(STATE_SCHEMA).parquet(state_path).collect()
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        rows = []
    if not rows:
        return Row(last_time_generated=None, max_timestamp=None)
    return rows[0]


def update_state(spark: SparkSession, state_path: str, points: DataFrame) -> Row:
    """Merge one ingested batch into the control table.

    last_time_generated ← the batch's arrival-order-latest timeGenerated
    (last-write-wins); max_timestamp ← greatest(stored, batch max),
    monotonic. One tiny agg job over the batch + a single-row write —
    no full-lake scan, so cost is independent of lake size.
    """
    batch_tg, batch_max = points.agg(
        F.max("time_generated"), F.max("Timestamp")
    ).collect()[0]
    prev = read_state(spark, state_path)
    maxes = [m for m in (prev["max_timestamp"], batch_max) if m is not None]
    new = Row(
        last_time_generated=(
            prev["last_time_generated"] if batch_tg is None else batch_tg
        ),
        max_timestamp=max(maxes, default=None),
    )
    spark.createDataFrame([new], STATE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(state_path)
    return new

"""Control-table state fixtures: monotonic_max + last_write_wins
(FIXTURES.md §4; reference src/main.go:313-322)."""

from __future__ import annotations

import json

import pytest

from api_to_parquet_spark import ingest, state


def _batch(spark, ts_values, time_generated):
    payload = json.dumps(
        {
            "content": [{"Timestamp": t, "Value": 1.0} for t in ts_values],
            "id": "b",
            "source": "s",
            "timeGenerated": time_generated,
            "file": "s/2023/01/01/00/x.parquet",
        }
    )
    pts, _ = ingest.ingest_batch(spark.createDataFrame([(payload,)], ["value"]))
    return pts


def test_monotonic_max(spark, tmp_path):
    path = str(tmp_path / "state")
    state.update_state(spark, path, _batch(spark, [100], time_generated=1))
    row = state.update_state(spark, path, _batch(spark, [50], time_generated=2))
    assert row["max_timestamp"] == 100  # never decreases
    row = state.update_state(spark, path, _batch(spark, [150], time_generated=3))
    assert row["max_timestamp"] == 150


def test_last_write_wins(spark, tmp_path):
    """lastTimeGenerated tracks arrival order, not value order."""
    path = str(tmp_path / "state")
    state.update_state(spark, path, _batch(spark, [1], time_generated=999))
    row = state.update_state(spark, path, _batch(spark, [2], time_generated=5))
    assert row["last_time_generated"] == 5
    assert state.read_state(spark, path)["last_time_generated"] == 5


def test_empty_state(spark, tmp_path):
    row = state.read_state(spark, str(tmp_path / "nope"))
    assert row["max_timestamp"] is None


def test_unreadable_state_raises_and_is_not_rewritten(spark, tmp_path):
    """Only a MISSING control table reads as empty: a corrupt one must
    raise, or update_state would write the batch max as the new
    max_timestamp and silently break monotonicity."""
    path = tmp_path / "state"
    path.mkdir()
    bad = path / "part-0.parquet"
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        state.read_state(spark, str(path))
    with pytest.raises(Exception):
        state.update_state(spark, str(path), _batch(spark, [100], 1))
    assert [p.name for p in path.iterdir()] == ["part-0.parquet"]
    assert bad.read_bytes() == b"not a parquet file"

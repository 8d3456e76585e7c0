"""Lake writer/reader fixtures: partitioned layout, partition pruning,
per-file overwrite replay (FIXTURES.md §4 replay_same_file)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from api_to_parquet_spark import ingest, lake


def _points(spark, file, values, time_generated=1000):
    payload = json.dumps(
        {
            "content": [{"Timestamp": 1000 + i, "Value": float(v)} for i, v in enumerate(values)],
            "id": "b",
            "source": "s",
            "timeGenerated": time_generated,
            "file": file,
        }
    )
    pts, _ = ingest.ingest_batch(spark.createDataFrame([(payload,)], ["value"]))
    return pts


def test_partitioned_roundtrip_and_pruning(spark, tmp_path):
    lake_path = str(tmp_path / "lake")
    pts = _points(spark, "factory-1/2023/10/26/19/a.parquet", [1, 2, 3])
    lake.write_lake(pts, lake_path)
    pts2 = _points(spark, "factory-2/2023/10/26/20/b.parquet", [4])
    lake.write_lake(pts2, lake_path, mode="append")

    back = lake.read_partition(spark, lake_path, "factory-1", 2023, 10, 26, 19)
    assert back.count() == 3
    # partition pruning: physical plan must carry partition filters
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    allrows = lake.read_lake(spark, lake_path)
    assert allrows.count() == 4


def test_dynamic_partition_overwrite_replay(spark, tmp_path):
    """Re-ingesting a batch for the same `file` key replaces only that
    batch (idempotent replay), leaving others untouched."""
    lake_path = str(tmp_path / "lake")
    lake.write_lake(_points(spark, "f1/2023/10/26/19/a.parquet", [1, 2]), lake_path)
    lake.write_lake(
        _points(spark, "f2/2023/10/26/19/z.parquet", [9]), lake_path, mode="append"
    )
    # replay file key f1/.../a.parquet with different content
    lake.write_lake(_points(spark, "f1/2023/10/26/19/a.parquet", [5]), lake_path)
    back = lake.read_lake(spark, lake_path)
    assert back.filter(F.col("source") == "f1").count() == 1
    assert back.filter(F.col("source") == "f2").count() == 1


def test_distinct_file_keys_coexist_in_same_partition(spark, tmp_path):
    """Two POSTs into the same hour but different `file` keys must BOTH
    survive an overwrite-mode write (reference: one blob per POST;
    overwrite is per `file` key, not per hour)."""
    lake_path = str(tmp_path / "lake")
    lake.write_lake(_points(spark, "f1/2023/10/26/19/a.parquet", [1, 2]), lake_path)
    lake.write_lake(_points(spark, "f1/2023/10/26/19/b.parquet", [3]), lake_path)
    back = lake.read_lake(spark, lake_path).filter(
        (F.col("source") == "f1") & (F.col("hour") == 19)
    )
    assert back.count() == 3


def test_per_file_overwrite_parity(spark, tmp_path):
    """FIXTURES.md replay_same_file: same `file` key ⇒ second batch fully
    replaces the first, no duplicate rows (reference README.md:88)."""
    root = str(tmp_path / "files")
    key = "factory-1/2023/10/26/19/a.parquet"
    lake.write_batch_files(_points(spark, key, [1, 2, 3]), root)
    lake.write_batch_files(_points(spark, key, [7]), root)
    back = spark.read.parquet(f"{root}/{key}")
    vals = [r["Value"] for r in back.collect()]
    assert vals == [7.0]


def test_write_batch_files_intra_batch_last_write_wins(spark, tmp_path):
    """Two envelopes for the same file key inside ONE micro-batch: the
    lake keeps only the later (max timeGenerated) envelope's rows — the
    reference applies them as sequential POSTs, never a union."""
    import json

    key = "s/2023/10/26/19/a.parquet"

    def env(ts_values, tg):
        return (
            json.dumps(
                {
                    "content": [
                        {"Timestamp": t, "Value": float(t)}
                        for t in ts_values
                    ],
                    "id": f"b{tg}",
                    "source": "s",
                    "timeGenerated": tg,
                    "file": key,
                }
            ),
        )

    raw = spark.createDataFrame([env([1, 2], 1), env([99], 2)], ["value"])
    points, _ = ingest.ingest_batch(raw)
    lake.write_batch_files(points, str(tmp_path / "lake"))
    rows = spark.read.parquet(str(tmp_path / "lake" / key)).collect()
    assert [r["Timestamp"] for r in rows] == [99]


def _envelope(file, ts_values, time_generated):
    return json.dumps(
        {
            "content": [{"Timestamp": t, "Value": float(t)} for t in ts_values],
            "id": f"b{time_generated}",
            "source": "s",
            "timeGenerated": time_generated,
            "file": file,
        }
    )


def multi_partition_points(spark):
    """Three keys, one replayed inside the batch, spread over four input
    partitions: returns (keys, points, {key: winning timestamps})."""
    keys = [f"s/2023/10/26/{h}/k.parquet" for h in (19, 20, 21)]
    envs = [
        _envelope(keys[0], [1, 2], 1),
        _envelope(keys[1], [3], 1),
        _envelope(keys[0], [9], 2),
        _envelope(keys[2], [4, 5, 6], 1),
    ]
    raw = spark.createDataFrame([(e,) for e in envs], ["value"]).repartition(4)
    points, _ = ingest.ingest_batch(raw)
    assert points.rdd.getNumPartitions() == 4
    return keys, points, {keys[0]: [9], keys[1]: [3], keys[2]: [4, 5, 6]}


def test_write_batch_files_one_part_file_per_key(spark, tmp_path):
    """A multi-partition batch still lands as exactly one part file per
    key: no empty part file from an input partition without the key."""
    keys, points, want = multi_partition_points(spark)
    root = tmp_path / "lake"
    assert sorted(lake.write_batch_files(points, str(root))) == keys
    for key in keys:
        assert len(list((root / key).glob("part-*.parquet"))) == 1
        rows = spark.read.parquet(str(root / key)).collect()
        assert sorted(r["Timestamp"] for r in rows) == want[key]

"""Seeded envelope generator for the lake benchmark.

Each envelope has the reference generator's shape: an 8-field point row
(Timestamp, TimeOffsetHours, PointId, Sequence, Project, Value, Res,
Quality) inside an `{content, id, source, timeGenerated, file}` batch.
Envelope `i` of a run depends only on `(seed, i)`, so a run's inputs do
not depend on how many operations fit in its time window.

The expected per-key aggregates are computed here, in numpy and plain
Python, from the generator's own arrays. The program under test only
ever sees the JSON body.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass

import numpy as np

# 2024-03-01T00:00:00Z in epoch milliseconds; the lake keys sit in this day
BASE_MS = 1_709_251_200_000
# how far each envelope's time window advances, and how far it may jitter
# back: the jitter is wider than the step, so some batches end below the
# running maximum and the monotonic-max contract is actually exercised
STEP_MS = 60_000
JITTER_MS = 300_000
POINT_SPACING_MS = 250
PROJECTS = ["alpha", "beta", "gamma", "delta"]
POINT_IDS = 64


@dataclass(frozen=True)
class Summary:
    """What the lake must hold for one key after this envelope lands."""

    count: int
    seq_sum: int
    ts_min: int
    ts_max: int
    value_sum: float


@dataclass(frozen=True)
class Envelope:
    index: int
    id: str
    key: str
    time_generated: int
    body: bytes
    summary: Summary


def lake_keys(count: int) -> list[str]:
    """Fixed `file` keys in the reference's `<source>/YYYY/MM/DD/HH/<name>`
    layout; the workloads cycle over them so the lake size levels off."""
    return [
        f"plant-{k % 2}/2024/03/01/{k:02d}/batch-{k}.parquet"
        for k in range(count)
    ]


def columns(seed: int, index: int, points: int) -> dict[str, np.ndarray]:
    """The point columns of envelope `index`, in posting order."""
    rng = np.random.default_rng([seed, index])
    start = BASE_MS + index * STEP_MS + int(rng.integers(-JITTER_MS, JITTER_MS))
    order = rng.permutation(points)
    return {
        "Timestamp": start + order.astype(np.int64) * POINT_SPACING_MS,
        "TimeOffsetHours": rng.integers(-12, 13, points),
        "PointId": rng.integers(0, POINT_IDS, points),
        "Sequence": index * points + order.astype(np.int64),
        "Project": rng.integers(0, len(PROJECTS), points),
        "Value": np.round(rng.normal(50.0, 15.0, points), 6),
        "Quality": rng.choice(np.array([0, 64, 192]), points),
    }


def summarize(cols: dict[str, np.ndarray]) -> Summary:
    ts = cols["Timestamp"]
    return Summary(
        count=int(ts.size),
        seq_sum=int(cols["Sequence"].sum()),
        ts_min=int(ts.min()),
        ts_max=int(ts.max()),
        value_sum=math.fsum(cols["Value"].tolist()),
    )


def make(seed: int, index: int, key: str, points: int) -> Envelope:
    cols = columns(seed, index, points)
    content = [
        {
            "Timestamp": ts,
            "TimeOffsetHours": off,
            "PointId": f"pt-{pid:03d}",
            "Sequence": seq,
            "Project": PROJECTS[proj],
            "Value": val,
            "Res": "1s",
            "Quality": q,
        }
        for ts, off, pid, seq, proj, val, q in zip(
            cols["Timestamp"].tolist(),
            cols["TimeOffsetHours"].tolist(),
            cols["PointId"].tolist(),
            cols["Sequence"].tolist(),
            cols["Project"].tolist(),
            cols["Value"].tolist(),
            cols["Quality"].tolist(),
        )
    ]
    time_generated = BASE_MS + index * 1_000 + 1
    env_id = f"env-{seed}-{index}"
    body = json.dumps(
        {
            "content": content,
            "id": env_id,
            "source": key.split("/", 1)[0],
            "timeGenerated": time_generated,
            "file": key,
        }
    ).encode("utf-8")
    return Envelope(index, env_id, key, time_generated, body, summarize(cols))

"""Output checks for the lake benchmark.

Every check compares a reply of the service with values the generator
computed on its own (`envelopes.Summary`), never with another Spark
result. Each returns a list of failure messages; empty means correct.
They take plain decoded JSON so the self-tests can feed them corrupted
replies without a Spark session.
"""

from __future__ import annotations

import math

from envelopes import Envelope, Summary

# sum(Value) is the only floating-point aggregate; Spark adds the doubles
# in another order than math.fsum
VALUE_REL_TOL = 1e-9

LAKE_QUERY = (
    "TelemetryData | summarize n = count(), seq = sum(Sequence),"
    " t0 = min(Timestamp), t1 = max(Timestamp), v = sum(Value) by file"
)
LAKE_COLUMNS = ["file", "n", "seq", "t0", "t1", "v"]


def visible_query(key: str) -> str:
    """The round trip's read-back of one key; `key` is generated, never
    user input, and holds no quote."""
    return (
        f"TelemetryData | where file == '{key}'"
        " | summarize n = count(), t1 = max(Timestamp)"
    )


VISIBLE_COLUMNS = ["n", "t1"]


def _is_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def v1_rows(reply: dict, columns: list[str]) -> tuple[list[list], list[str]]:
    """Rows of a Kusto v1 reply, after checking its column names."""
    try:
        table = reply["Tables"][0]
        names = [c["ColumnName"] for c in table["Columns"]]
        rows = table["Rows"]
    except (KeyError, IndexError, TypeError):
        return [], [f"not a v1 table reply: {str(reply)[:200]}"]
    if names != columns:
        return [], [f"columns {names} != {columns}"]
    return rows, []


def check_post_reply(reply: dict, env: Envelope, running_max: int) -> list[str]:
    """POST / echoes the batch and returns the running maximum, which
    never decreases."""
    want = {
        "id": env.id,
        "timeGenerated": env.time_generated,
        "maxTimestamp": running_max,
    }
    if reply != want:
        return [f"POST {env.key}: reply {reply} != {want}"]
    return []


def check_state(reply: dict, last_time_generated: int, running_max: int) -> list[str]:
    """GET / reports the last posted batch's timeGenerated and the
    running maximum Timestamp over every batch posted."""
    want = {"lastTimeGenerated": last_time_generated, "maxTimestamp": running_max}
    if reply != want:
        return [f"GET /: reply {reply} != {want}"]
    return []


def check_visible(reply: dict, key: str, want: Summary) -> list[str]:
    """The query right after a POST sees exactly that POST's rows."""
    rows, errs = v1_rows(reply, VISIBLE_COLUMNS)
    if errs:
        return errs
    if len(rows) != 1:
        return [f"read-back of {key}: {len(rows)} rows, want 1"]
    n, t1 = rows[0]
    if not (_is_int(n) and _is_int(t1)) or (n, t1) != (want.count, want.ts_max):
        return [
            f"read-back of {key}: (count, max Timestamp) = {(n, t1)},"
            f" want {(want.count, want.ts_max)}"
        ]
    return []


def check_lake(reply: dict, expected: dict[str, Summary]) -> list[str]:
    """Each key holds exactly the last envelope posted to it, and no
    other key exists."""
    rows, errs = v1_rows(reply, LAKE_COLUMNS)
    if errs:
        return errs
    got = {}
    for row in rows:
        if row[0] in got:
            errs.append(f"key {row[0]} appears twice")
        got[row[0]] = row[1:]
    for key in sorted(set(got) - set(expected)):
        errs.append(f"unexpected key {key} in the lake")
    for key, want in sorted(expected.items()):
        if key not in got:
            errs.append(f"key {key} missing from the lake")
            continue
        n, seq, t0, t1, v = got[key]
        exact = (want.count, want.seq_sum, want.ts_min, want.ts_max)
        if not all(_is_int(x) for x in (n, seq, t0, t1)) or (n, seq, t0, t1) != exact:
            errs.append(
                f"key {key}: (count, sum Sequence, min/max Timestamp) ="
                f" {(n, seq, t0, t1)}, want {exact}"
            )
        if not isinstance(v, (int, float)) or not math.isclose(
            v, want.value_sum, rel_tol=VALUE_REL_TOL
        ):
            errs.append(f"key {key}: sum(Value) = {v}, want {want.value_sum}")
    return errs

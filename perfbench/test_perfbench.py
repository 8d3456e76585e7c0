"""Self-tests for the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import types
from dataclasses import replace

import checks
import envelopes
from spans import Span, Spans, layer_times, self_ms, tail

KEYS = envelopes.lake_keys(2)


def v1(columns, rows):
    return {
        "Tables": [
            {
                "TableName": "Table_0",
                "Columns": [{"ColumnName": c} for c in columns],
                "Rows": rows,
            }
        ]
    }


def lake_reply(expected: dict[str, envelopes.Summary]) -> dict:
    return v1(
        checks.LAKE_COLUMNS,
        [
            [k, s.count, s.seq_sum, s.ts_min, s.ts_max, s.value_sum]
            for k, s in expected.items()
        ],
    )


def decoded_summary(body: bytes) -> envelopes.Summary:
    """Aggregates recomputed from the JSON the service receives."""
    content = json.loads(body)["content"]
    ts = [p["Timestamp"] for p in content]
    return envelopes.Summary(
        count=len(content),
        seq_sum=sum(p["Sequence"] for p in content),
        ts_min=min(ts),
        ts_max=max(ts),
        value_sum=math.fsum(p["Value"] for p in content),
    )


def expected_lake(seed=7, points=50):
    envs = [envelopes.make(seed, i, KEYS[i % 2], points) for i in range(4)]
    return envs, {e.key: e.summary for e in envs[-2:]}


# --- generator -----------------------------------------------------------


def test_envelopes_are_seeded_and_summaries_match_the_body():
    a = envelopes.make(3, 5, KEYS[0], 200)
    assert a.body == envelopes.make(3, 5, KEYS[0], 200).body
    assert a.body != envelopes.make(4, 5, KEYS[0], 200).body
    assert a.summary == decoded_summary(a.body)
    env = json.loads(a.body)
    assert set(env["content"][0]) == {
        "Timestamp", "TimeOffsetHours", "PointId", "Sequence",
        "Project", "Value", "Res", "Quality",
    }
    assert (env["file"], env["timeGenerated"], env["id"]) == (
        a.key, a.time_generated, a.id
    )


def test_some_batches_end_below_the_running_max():
    maxima = [envelopes.make(1, i, KEYS[0], 10).summary.ts_max for i in range(40)]
    assert any(b < max(maxima[:i]) for i, b in enumerate(maxima) if i)


# --- checks accept correct replies and reject corrupted ones ---------------


def test_lake_check_accepts_the_expected_lake():
    _, expected = expected_lake()
    assert checks.check_lake(lake_reply(expected), expected) == []


def test_lake_check_tolerates_only_summation_order_in_value_sum():
    _, expected = expected_lake()
    key = KEYS[0]
    s = expected[key]
    reply = lake_reply({**expected, key: replace(s, value_sum=s.value_sum * (1 + 1e-12))})
    assert checks.check_lake(reply, expected) == []
    reply = lake_reply({**expected, key: replace(s, value_sum=s.value_sum + 0.5)})
    assert checks.check_lake(reply, expected)


def test_lake_check_rejects_one_changed_row():
    envs, expected = expected_lake()
    env = json.loads(envs[-1].body)
    for field, delta in (("Sequence", 1), ("Timestamp", -10**7), ("Value", 0.25)):
        content = [dict(p) for p in env["content"]]
        content[3][field] += delta
        corrupted = decoded_summary(json.dumps({"content": content}).encode())
        reply = lake_reply({**expected, envs[-1].key: corrupted})
        assert checks.check_lake(reply, expected), field


def test_lake_check_rejects_missing_stale_extra_and_duplicate_keys():
    envs, expected = expected_lake()
    missing = {k: v for k, v in expected.items() if k != KEYS[1]}
    assert checks.check_lake(lake_reply(missing), expected)
    stale = {**expected, envs[0].key: envs[0].summary}
    assert checks.check_lake(lake_reply(stale), expected)
    extra = {**expected, "plant-9/2024/03/01/09/x.parquet": envs[0].summary}
    assert checks.check_lake(lake_reply(extra), expected)
    dup = lake_reply(expected)
    dup["Tables"][0]["Rows"].append(dup["Tables"][0]["Rows"][0])
    assert checks.check_lake(dup, expected)


def test_lake_check_rejects_wrong_columns_and_float_counts():
    _, expected = expected_lake()
    reply = lake_reply(expected)
    reply["Tables"][0]["Columns"][1]["ColumnName"] = "count_"
    assert checks.check_lake(reply, expected)
    reply = lake_reply(expected)
    reply["Tables"][0]["Rows"][0][1] = float(reply["Tables"][0]["Rows"][0][1])
    assert checks.check_lake(reply, expected)
    assert checks.check_lake({"error": "boom"}, expected)


def test_visible_check_rejects_stale_or_partial_reads():
    envs, _ = expected_lake()
    new, old = envs[2], envs[0]  # same key, old was overwritten by new
    ok = v1(checks.VISIBLE_COLUMNS, [[new.summary.count, new.summary.ts_max]])
    assert checks.check_visible(ok, new.key, new.summary) == []
    stale = v1(checks.VISIBLE_COLUMNS, [[old.summary.count, old.summary.ts_max]])
    assert checks.check_visible(stale, new.key, new.summary)
    partial = v1(checks.VISIBLE_COLUMNS, [[new.summary.count - 1, new.summary.ts_max]])
    assert checks.check_visible(partial, new.key, new.summary)
    assert checks.check_visible(v1(checks.VISIBLE_COLUMNS, []), new.key, new.summary)


def test_post_and_state_checks():
    env = envelopes.make(1, 2, KEYS[0], 20)
    reply = {"id": env.id, "timeGenerated": env.time_generated, "maxTimestamp": 900}
    assert checks.check_post_reply(reply, env, 900) == []
    assert checks.check_post_reply({**reply, "maxTimestamp": 899}, env, 900)
    assert checks.check_post_reply({**reply, "id": "other"}, env, 900)
    state = {"lastTimeGenerated": env.time_generated, "maxTimestamp": 900}
    assert checks.check_state(state, env.time_generated, 900) == []
    assert checks.check_state({**state, "lastTimeGenerated": 1}, env.time_generated, 900)
    assert checks.check_state({**state, "maxTimestamp": 0}, env.time_generated, 900)


# --- report arithmetic ------------------------------------------------------


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert tail(list(range(10))) is None
    assert tail(list(range(11))) == (0, 100 / 11)
    values = list(range(100, 0, -1))  # 1..100, unsorted
    value, pct = tail(values)
    assert (value, pct) == (90, 90.0)
    assert sum(v > value for v in values) == 10
    value, pct = tail(list(range(1, 38)))
    assert sum(v > value for v in range(1, 38)) == 10 and pct == 100 * 27 / 37


def span(sid, start, end, parent=None, name="x"):
    return Span(sid, name, start, end, parent, "c1.post")


def test_self_time_subtracts_the_union_of_children_within_the_span():
    parent = span(1, 0.0, 10.0)
    kids = [span(2, 1.0, 3.0, 1), span(3, 2.0, 5.0, 1), span(4, 8.0, 12.0, 1)]
    assert math.isclose(self_ms(parent, kids), 4000.0)
    assert math.isclose(self_ms(parent, []), 10000.0)
    assert math.isclose(self_ms(parent, [span(5, 11.0, 12.0, 1)]), 10000.0)


def test_layer_times_sums_total_and_self_per_name():
    spans = [
        span(1, 0.0, 1.0, None, "a"),
        span(2, 0.2, 0.5, 1, "b"),
        span(3, 2.0, 3.0, None, "a"),
    ]
    lt = layer_times(spans)
    assert lt["a"]["calls"] == 2
    assert math.isclose(lt["a"]["ms"], 2000.0)
    assert math.isclose(lt["a"]["self_ms"], 1700.0)
    assert math.isclose(lt["b"]["self_ms"], 300.0)


def test_install_wraps_at_call_time_and_uninstall_restores():
    class Service:
        def route(self, x):
            return module.inner(x) + 1

    def inner(x):
        return 2 * x

    module = types.SimpleNamespace(inner=inner)
    original_route = Service.route
    rec = Spans()
    rec.request = "c3.post"
    rec.install([(module, "inner", "m.inner"), (Service, "route", "svc.route")])
    assert Service().route(5) == 11
    rec.uninstall()
    assert module.inner is inner and Service.route is original_route
    assert Service().route(5) == 11
    by_name = {s.name: s for s in rec.records}
    assert set(by_name) == {"m.inner", "svc.route"}
    assert by_name["m.inner"].parent == by_name["svc.route"].id
    assert by_name["svc.route"].parent is None
    assert all(s.request == "c3.post" for s in rec.records)

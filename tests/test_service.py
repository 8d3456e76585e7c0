"""HTTP service parity: reference routes exercised over real HTTP
(stdlib client against an ephemeral-port server thread)."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

from api_to_parquet_spark import service


def _post(url: str, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(url: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _envelope(file: str, ts_values, time_generated: int) -> dict:
    return {
        "content": [
            {"PointId": f"p{t % 3}", "Timestamp": t, "Value": float(t)}
            for t in ts_values
        ],
        "id": "batch-1",
        "source": "s",
        "timeGenerated": time_generated,
        "file": file,
    }


@pytest.fixture
def server(spark, tmp_path):
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state")
    )
    httpd = service.make_server(svc)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}", svc
    httpd.shutdown()


def test_ingest_state_replay_roundtrip(spark, server):
    base, svc = server
    key = "factory-1/2023/10/26/19/a.parquet"
    status, body = _post(base + "/", _envelope(key, [100, 300, 200], 7))
    assert status == 200
    assert body == {"id": "batch-1", "timeGenerated": 7, "maxTimestamp": 300}

    status, st = _get(base + "/")
    assert (status, st["lastTimeGenerated"], st["maxTimestamp"]) == (200, 7, 300)

    # replay the same file key with fewer rows: overwrite (no dup rows),
    # state stays monotonic on max, last-write-wins on timeGenerated
    status, body = _post(base + "/", _envelope(key, [150], 9))
    assert status == 200 and body["maxTimestamp"] == 300
    rows = spark.read.parquet(f"{svc.lake_root}/{key}").collect()
    assert [r["Timestamp"] for r in rows] == [150]
    _, st = _get(base + "/")
    assert (st["lastTimeGenerated"], st["maxTimestamp"]) == (9, 300)


def test_failed_write_returns_500_and_keeps_state(server, monkeypatch):
    """An engine error in the commit is a 500 reply, not a dropped
    connection; the server keeps answering and the state is untouched
    (data is written before state, and the write failed)."""
    from api_to_parquet_spark import lake

    base, _ = server
    key = "factory-1/2023/10/26/19/a.parquet"
    assert _post(base + "/", _envelope(key, [100], 7))[0] == 200

    def fail(*args, **kwargs):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(lake, "write_batch_files", fail)
    status, body = _post(base + "/", _envelope(key, [999], 8))
    assert status == 500 and "injected write failure" in body["error"]
    status, st = _get(base + "/")
    assert (status, st["lastTimeGenerated"], st["maxTimestamp"]) == (200, 7, 100)


def test_failed_state_read_returns_500(server, monkeypatch):
    from api_to_parquet_spark import state

    base, _ = server

    def fail(*args, **kwargs):
        raise RuntimeError("injected read failure")

    monkeypatch.setattr(state, "read_state", fail)
    status, body = _get(base + "/")
    assert status == 500 and "injected read failure" in body["error"]


def test_reference_error_contract(server):
    base, _ = server
    env = _envelope("f/2024/01/01/00/a.parquet", [1], 5)
    for field, fragment in [
        ("file", "property file is empty"),
        ("timeGenerated", "property timeGenerated is empty"),
        ("id", "property id is empty"),
    ]:
        bad = {**env, field: "" if field != "timeGenerated" else 0}
        status, body = _post(base + "/", bad)
        assert status == 400 and fragment in body["error"]
    # empty content: clean 400 where the reference panics (main.go:278)
    status, body = _post(base + "/", {**env, "content": []})
    assert status == 400 and "content" in body["error"]


def test_api_key_gate(spark, tmp_path):
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"), api_key="s3cret"
    )
    httpd = service.make_server(svc)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        status, body = _get(base + "/")
        assert status == 401 and body["error"] == "unauthorized"
        status, _ = _get(base + "/?key=s3cret")
        assert status == 200
    finally:
        httpd.shutdown()


def test_query_route_runs_kql_natively(spark, server):
    base, svc = server
    key = "factory-1/2023/10/26/19/a.parquet"
    _post(base + "/", _envelope(key, [100, 300, 200], 7))
    from api_to_parquet_spark import lake

    lake.read_batch_tree(spark, svc.lake_root, "factory-1").createOrReplaceTempView(
        "TelemetryData"
    )
    status, body = _post(base + "/query", {"db": "x", "csl": "TelemetryData | count"})
    assert status == 200
    t0 = body["Tables"][0]
    assert t0["TableName"] == "Table_0"
    assert t0["Columns"] == [
        {"ColumnName": "Count", "DataType": "Int64", "ColumnType": "long"}
    ]
    assert t0["Rows"] == [[3]]
    status, body = _post(
        base + "/query",
        {"csl": "TelemetryData | where Timestamp >= 200 | project PointId, Timestamp | sort by Timestamp asc"},
    )
    assert status == 200
    t0 = body["Tables"][0]
    assert [c["ColumnName"] for c in t0["Columns"]] == ["PointId", "Timestamp"]
    assert [r[1] for r in t0["Rows"]] == [200, 300]
    # fork is supported since round 4 — it returns labeled branches
    status, body = _post(base + "/query", {"csl": "TelemetryData | fork (count) (take 1)"})
    assert status == 200 and len(body["Tables"][0]["Rows"]) == 2
    # `consume` is supported since round 8: empty result, 200
    status, body = _post(base + "/query", {"csl": "TelemetryData | consume"})
    assert status == 200 and body["Tables"][0]["Rows"] == []
    # the engine-native shape stays reachable behind ?format=simple
    status, body = _post(
        base + "/query?format=simple", {"csl": "TelemetryData | count"}
    )
    assert status == 200 and body["rows"] == [{"Count": 3}]
    status, body = _post(base + "/query", {"csl": "TelemetryData | egest"})
    assert status == 400 and "unsupported" in body["error"]
    # `evaluate python` exec()s caller code — the HTTP surface never
    # enables it (round-7 advice: parity with ADX's default-disabled,
    # sandboxed plugin; here there is no sandbox, so it stays off)
    status, body = _post(
        base + "/query",
        {
            "csl": "TelemetryData | evaluate python(typeof(*),"
            " 'import os; os.system(\"true\"); result = df')"
        },
    )
    assert status == 400 and "disabled" in body["error"]


def test_query_route_sql_dialect(spark, tmp_path):
    """sql_dialect='sql' runs the body as raw Spark SQL instead of KQL."""
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"),
        sql_dialect="sql",
    )
    status, body = svc.query(
        json.dumps({"csl": "SELECT 1 AS one, 'x' AS s"}).encode()
    )
    assert status == 200 and body["Tables"][0]["Rows"] == [[1, "x"]]
    status, body = svc.query(
        json.dumps({"csl": "SELECT 1 AS one, 'x' AS s"}).encode(),
        fmt="simple",
    )
    assert status == 200 and body["rows"] == [{"one": 1, "s": "x"}]
    status, body = svc.query(json.dumps({"csl": "SELECT * FROM nope"}).encode())
    assert status == 400 and "nope" in body["error"]
    status, body = svc.query(b"not json")
    assert status == 400


def test_query_route_explain(spark, server):
    """{"explain": true} returns the physical plan (Kusto's
    `.show queryplan` twin) — pushed filters visible to the caller."""
    base, svc = server
    key = "factory-1/2023/10/26/19/a.parquet"
    _post(base + "/", _envelope(key, [100, 300], 7))
    from api_to_parquet_spark import lake

    lake.read_batch_tree(spark, svc.lake_root).createOrReplaceTempView(
        "TelemetryData"
    )
    status, body = _post(
        base + "/query",
        {"csl": "TelemetryData | where Timestamp >= 200 | count",
         "explain": True},
    )
    assert status == 200 and "Scan parquet" in body["plan"]
    assert "PushedFilters" in body["plan"]


def test_query_truncation_flag(spark, tmp_path, monkeypatch):
    """Responses over the row cap carry Kusto's partial-results signal
    (a root Exceptions entry in the v1 envelope; "truncated": true in
    ?format=simple); at-or-under the cap carries no flag — so a client
    can distinguish "exactly cap rows" from "truncated"."""
    monkeypatch.setattr(service, "_QUERY_ROW_CAP", 50)
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"),
        sql_dialect="sql",
    )
    status, body = svc.query(
        json.dumps({"csl": "SELECT id FROM range(51)"}).encode()
    )
    assert status == 200
    assert "E_QUERY_RESULT_SET_TOO_LARGE" in body["Exceptions"][0]
    assert len(body["Tables"][0]["Rows"]) == 50
    status, body = svc.query(
        json.dumps({"csl": "SELECT id FROM range(50)"}).encode()
    )
    assert status == 200
    assert "Exceptions" not in body
    assert len(body["Tables"][0]["Rows"]) == 50
    status, body = svc.query(
        json.dumps({"csl": "SELECT id FROM range(51)"}).encode(),
        fmt="simple",
    )
    assert status == 200
    assert body["truncated"] is True and len(body["rows"]) == 50


def test_query_kusto_v1_envelope_types(spark, tmp_path):
    """Round-9 verdict #2: the default /query response is the Kusto
    REST v1 envelope the reference's clients parse (the reference
    returns ADX's body verbatim, src/main.go:113-114): Tables/
    TableName/Columns/Rows, positional row ARRAYS (not dicts), the
    v1 .NET DataType names (bool -> SByte), ISO-8601 Z datetimes with
    7-digit fractions, timespan strings, and inline dynamic values."""
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"),
        sql_dialect="sql",
    )
    status, body = svc.query(
        json.dumps(
            {
                "csl": "SELECT 1 AS i, CAST(1.5 AS DOUBLE) AS r,"
                " 'x' AS s, true AS b,"
                " TIMESTAMP'2024-01-02 03:04:05.123456' AS ts,"
                " array(1, 2) AS dyn,"
                " INTERVAL '1 02:03:04.5' DAY TO SECOND AS dur"
            }
        ).encode()
    )
    assert status == 200
    assert list(body) == ["Tables"]
    t0 = body["Tables"][0]
    assert t0["TableName"] == "Table_0"
    assert t0["Columns"] == [
        {"ColumnName": "i", "DataType": "Int32", "ColumnType": "int"},
        {"ColumnName": "r", "DataType": "Double", "ColumnType": "real"},
        {"ColumnName": "s", "DataType": "String", "ColumnType": "string"},
        {"ColumnName": "b", "DataType": "SByte", "ColumnType": "bool"},
        {
            "ColumnName": "ts",
            "DataType": "DateTime",
            "ColumnType": "datetime",
        },
        {"ColumnName": "dyn", "DataType": "Object", "ColumnType": "dynamic"},
        {
            "ColumnName": "dur",
            "DataType": "TimeSpan",
            "ColumnType": "timespan",
        },
    ]
    assert t0["Rows"] == [
        [
            1,
            1.5,
            "x",
            True,
            "2024-01-02T03:04:05.1234560Z",
            [1, 2],
            "1.02:03:04.5000000",
        ]
    ]


def test_query_v1_type_mapping_refinements(spark, tmp_path):
    """Round-10 advice: decimal columns carry the .NET SqlTypes name
    (SqlDecimal, not Decimal), and EVERY day-time interval variant —
    not just the exact 'interval day to second' simpleString — maps to
    TimeSpan, matching the [d.]hh:mm:ss cell encoding. Year-month
    intervals have no ADX scalar type and stay dynamic."""
    assert service._kusto_column("d", "decimal(18,2)") == {
        "ColumnName": "d",
        "DataType": "SqlDecimal",
        "ColumnType": "decimal",
    }
    for st in (
        "interval day to second",
        "interval hour to second",
        "interval day",
        "interval minute",
    ):
        assert service._kusto_column("t", st)["DataType"] == "TimeSpan", st
    assert (
        service._kusto_column("ym", "interval year to month")["DataType"]
        == "Object"
    )
    # end-to-end: a decimal cell through /query
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"),
        sql_dialect="sql",
    )
    status, body = svc.query(
        json.dumps(
            {"csl": "SELECT CAST(1.25 AS DECIMAL(10,2)) AS d,"
             " INTERVAL '02:03:04' HOUR TO SECOND AS dur"}
        ).encode()
    )
    assert status == 200
    cols = body["Tables"][0]["Columns"]
    assert cols[0]["DataType"] == "SqlDecimal"
    assert cols[1] == {
        "ColumnName": "dur",
        "DataType": "TimeSpan",
        "ColumnType": "timespan",
    }
    assert body["Tables"][0]["Rows"] == [["1.25", "02:03:04"]]


def test_kusto_value_naive_datetime_is_driver_local():
    """Round-10 advice (medium): collect() yields TIMESTAMP cells as
    NAIVE datetimes in the DRIVER's OS-local timezone
    (TimestampType.fromInternal uses datetime.fromtimestamp), so the Z
    encoding must first recover the instant via the local-time
    assumption instead of stamping naive wall time as-if-UTC. Pin a
    non-UTC TZ and check the offset is applied; TIMESTAMP_NTZ cells
    (ntz=True) are wall-clock and encode verbatim."""
    import datetime as dt
    import os
    import time

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Etc/GMT-5"  # fixed UTC+5, no DST
    time.tzset()
    try:
        naive = dt.datetime(2026, 1, 1, 12, 0, 0, 250000)
        assert (
            service._kusto_value(naive)
            == "2026-01-01T07:00:00.2500000Z"
        )
        assert (
            service._kusto_value(naive, ntz=True)
            == "2026-01-01T12:00:00.2500000Z"
        )
        aware = dt.datetime(
            2026, 1, 1, 12, 0, 0,
            tzinfo=dt.timezone(dt.timedelta(hours=2)),
        )
        assert (
            service._kusto_value(aware) == "2026-01-01T10:00:00.0000000Z"
        )
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_query_join_collision_suffixes_v1_columns(spark, tmp_path):
    """Round-10 verdict #5: a KQL join whose right side collides with
    a left column must surface ADX's suffixed names (value, value1) in
    the v1 Columns — for both the terminal-duplicate shape (fast plan
    analyzes clean, duplicate output names trigger the clash retry)
    and the later-reference shape (UNRESOLVED_COLUMN value1 triggers
    it)."""
    spark.sql("SELECT 1 AS k, 10 AS value").createOrReplaceTempView(
        "svc_jl"
    )
    spark.sql("SELECT 1 AS k, 20 AS value").createOrReplaceTempView(
        "svc_jr"
    )
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state")
    )
    status, body = svc.query(
        json.dumps(
            {"csl": "svc_jl | join kind=inner (svc_jr) on k"}
        ).encode()
    )
    assert status == 200
    names = [c["ColumnName"] for c in body["Tables"][0]["Columns"]]
    assert names == ["k", "value", "value1"]
    assert body["Tables"][0]["Rows"] == [[1, 10, 20]]
    status, body = svc.query(
        json.dumps(
            {
                "csl": "svc_jl | join kind=inner (svc_jr) on k"
                " | project value, value1"
            }
        ).encode()
    )
    assert status == 200
    names = [c["ColumnName"] for c in body["Tables"][0]["Columns"]]
    assert names == ["value", "value1"]


def test_query_round11_surface_through_service(spark, tmp_path):
    """Round-11 battery surfaces through the wire path: a commented
    multi-line dashboard paste (with a // inside a string), a
    table('T') reference, and a negative-timespan cell encoding in
    the v1 envelope."""
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state"),
    )
    spark.sql(
        "SELECT * FROM VALUES (1, 'a//b'), (2, 'plain') AS t(k, s)"
    ).createOrReplaceTempView("svc_r11")
    status, body = svc.query(
        json.dumps(
            {
                "csl": "table('svc_r11') // the table\n"
                "| where s == 'a//b' // url-ish literal survives\n"
                "| project k, s;",
            }
        ).encode()
    )
    assert status == 200
    assert body["Tables"][0]["Rows"] == [[1, "a//b"]]
    # negative timespan cell: TimeSpan column, sign-carrying encoding
    status, body = svc.query(
        json.dumps({"csl": "print t = totimespan('-01:30:00')"}).encode()
    )
    assert status == 200
    t0 = body["Tables"][0]
    assert t0["Columns"][0]["DataType"] == "TimeSpan"
    cell = t0["Rows"][0][0]
    assert cell.startswith("-") and "1:30:00" in cell, cell


def test_query_round11_extension_surfaces(spark, tmp_path):
    """Round-11 extension-session surfaces through /query: the
    partition operator with a subpipe (hint stripped, per-key top),
    search boolean term combinations, has with a column term, real
    literals as doubles (v1 DataType Double, not SqlDecimal), and a
    to*() null on malformed input instead of an HTTP 400."""
    spark.sql(
        "SELECT id, kind, CAST(v AS DOUBLE) AS v FROM VALUES"
        " (1, 'view', 10.0), (2, 'view', 30.0), (3, 'click', 20.0),"
        " (4, 'click', 5.0), (5, 'click', 7.0) AS t(id, kind, v)"
    ).createOrReplaceTempView("svc_r11")
    svc = service.LakeService(
        spark, str(tmp_path / "lake"), str(tmp_path / "state")
    )
    status, body = svc.query(
        json.dumps(
            {
                "csl": "svc_r11 | partition hint.strategy=shuffle by"
                " kind (top 1 by v | project kind, v)"
                " | sort by kind asc"
            }
        ).encode()
    )
    assert status == 200
    assert body["Tables"][0]["Rows"] == [["click", 20.0], ["view", 30.0]]
    # real literal arithmetic is DOUBLE on the wire
    status, body = svc.query(
        json.dumps({"csl": "print x = 0.1 + 0.2"}).encode()
    )
    assert status == 200
    col = body["Tables"][0]["Columns"][0]
    assert col["DataType"] == "Double" and col["ColumnType"] == "real"
    assert body["Tables"][0]["Rows"][0][0] == 0.30000000000000004
    # search combos + has-column through the service path
    status, body = svc.query(
        json.dumps(
            {
                "csl": 'search in (svc_r11) kind:"view" or'
                ' kind:"click" | count'
            }
        ).encode()
    )
    assert status == 200 and body["Tables"][0]["Rows"] == [[5]]
    status, body = svc.query(
        json.dumps(
            {"csl": "svc_r11 | where kind has kind | count"}
        ).encode()
    )
    assert status == 200 and body["Tables"][0]["Rows"] == [[5]]
    # malformed to*() input is a null cell, not an error
    status, body = svc.query(
        json.dumps({"csl": "print x = toint('12.5')"}).encode()
    )
    assert status == 200 and body["Tables"][0]["Rows"] == [[None]]

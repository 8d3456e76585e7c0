"""Round-15: the Arrow-batched series_decompose kernels must reproduce
the retired pure-SQL emission bit-for-bit.

The sessionless `kql_to_sql(text, None)` still emits the original
higher-order-function SQL (no session to register a UDF on), so it is
the in-repo reference twin: every case below runs the SAME KQL through
both paths on the SAME session and compares results exactly
(NaN-aware, NULL-exact, bitwise on doubles via struct packing).
"""

from __future__ import annotations

import math
import struct

import pytest

from api_to_parquet_spark.queries.kql import kql, kql_to_sql

# (name, y literal elements as SQL text, period arg text)
CASES = [
    ("bench shape 14x7", "1.0,5.0,2.0,6.0,1.0,0.0,3.0,2.0,6.0,1.0,7.0,2.0,0.0,4.0", "7"),
    ("spike constant iqr0", "5.0,5.0,5.0,5.0,5.0,50.0,5.0,5.0", "2"),
    ("len shorter than period", "3.0,1.0", "7"),
    ("single element", "42.0", "3"),
    ("period one", "9.0,8.0,7.5,1.0", "1"),
    ("with nulls", "1.0,null,3.0,4.0,5.0,6.0", "2"),
    ("all null elems", "null,null,null", "2"),
    ("with nan", "1.0,2.0,double('NaN'),4.0,5.0,6.0", "2"),
    ("autodetect seasonal", "10.0,2.0,5.0,1.0,10.0,2.0,5.0,1.0,10.0,2.0,5.0,1.0,10.0,2.0,5.0,1.0,10.0,2.0,5.0,1.0", "-1"),
    ("autodetect no season", "1.0,9.0,2.0,7.0,3.5,8.2,0.5,6.6", "-1"),
    ("autodetect zero series", "0.0,0.0,0.0,0.0,0.0,0.0", "-1"),
    ("negatives and zeros", "-3.0,0.0,-0.0,2.5,-3.0,0.0,-0.0,2.5,-3.0,0.0", "4"),
]


def _canon(v):
    """Exact, hashable form: doubles bitwise, recursing into lists."""
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _run_both(spark, body: str):
    """Run one KQL text through the UDF path (kql with session) and the
    pure-SQL path (sessionless kql_to_sql), return both row lists."""
    arrow = kql(spark, body).collect()
    sql = spark.sql(kql_to_sql(body, None)).collect()
    return arrow, sql


def _assert_rows_equal(arrow, sql):
    assert len(arrow) == len(sql)
    for ra, rs in zip(arrow, sql):
        assert list(ra.asDict().keys()) == list(rs.asDict().keys())
        for col in ra.asDict():
            assert _canon(ra[col]) == _canon(rs[col]), (
                f"column {col}: {ra[col]!r} != {rs[col]!r}"
            )


@pytest.mark.parametrize("name,elems,period", CASES, ids=[c[0] for c in CASES])
def test_decompose_anomalies_kernel_matches_sql(spark, name, elems, period):
    spark.sql(
        f"SELECT array({elems}) AS y"
    ).createOrReplaceTempView("sda_probe_t")
    body = (
        "sda_probe_t | extend (an, sc, bl) ="
        f" series_decompose_anomalies(y, {period})"
    )
    arrow, sql = _run_both(spark, body)
    _assert_rows_equal(arrow, sql)


@pytest.mark.parametrize("name,elems,period", CASES, ids=[c[0] for c in CASES])
def test_decompose_kernel_matches_sql(spark, name, elems, period):
    spark.sql(
        f"SELECT array({elems}) AS y"
    ).createOrReplaceTempView("sda_probe_t")
    body = (
        "sda_probe_t | extend (bl, se, tr, re) ="
        f" series_decompose(y, {period})"
    )
    arrow, sql = _run_both(spark, body)
    _assert_rows_equal(arrow, sql)


def test_decompose_anomalies_custom_k_matches_sql(spark):
    spark.sql(
        "SELECT array(1.0,5.0,2.0,6.0,1.0,0.0,3.0,2.0,6.0,1.0) AS y"
    ).createOrReplaceTempView("sda_probe_t")
    body = (
        "sda_probe_t | extend (an, sc, bl) ="
        " series_decompose_anomalies(y, 2, 3.0)"
    )
    arrow, sql = _run_both(spark, body)
    _assert_rows_equal(arrow, sql)


def test_null_array_input_matches_sql(spark):
    spark.sql(
        "SELECT CAST(NULL AS ARRAY<DOUBLE>) AS y"
    ).createOrReplaceTempView("sda_probe_t")
    body = (
        "sda_probe_t | extend (an, sc, bl) ="
        " series_decompose_anomalies(y, 3)"
    )
    arrow, sql = _run_both(spark, body)
    _assert_rows_equal(arrow, sql)


def test_empty_series_raises_on_both_paths(spark):
    """The SQL emission's discrete quantile indexes element 0 on an
    empty series (INVALID_INDEX_OF_ZERO under ANSI); the kernel raises
    the equivalent error instead of silently diverging."""
    spark.sql("SELECT array() AS y").createOrReplaceTempView(
        "sda_probe_t"
    )
    body = (
        "sda_probe_t | extend (an, sc, bl) ="
        " series_decompose_anomalies(y, 3)"
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|INDEX_OF_ZERO"):
        kql(spark, body).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|INDEX_OF_ZERO"):
        spark.sql(kql_to_sql(body, None)).collect()


def test_decompose_empty_series_matches_sql(spark):
    """Plain series_decompose on an empty series: the linefit's
    `icept / n` is NULL / 0.0, which Spark ANSI evaluates to NULL (a
    NULL numerator is checked before the zero divisor), so both paths
    return a row instead of raising."""
    spark.sql("SELECT array() AS y").createOrReplaceTempView(
        "sda_probe_t"
    )
    body = "sda_probe_t | extend (bl, se, tr, re) = series_decompose(y, 3)"
    arrow, sql = _run_both(spark, body)
    assert len(sql) == 1
    _assert_rows_equal(arrow, sql)


def test_arrow_path_plan_shape(spark):
    """The session path must evaluate the chain in ONE ArrowEvalPython
    node — Arrow-batched, never pickled rows, no duplicated UDF eval."""
    spark.sql(
        "SELECT array(1.0,2.0,3.0,4.0,5.0,6.0) AS y"
    ).createOrReplaceTempView("sda_probe_t")
    df = kql(
        spark,
        "sda_probe_t | extend (an, sc, bl) ="
        " series_decompose_anomalies(y, 3)",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1

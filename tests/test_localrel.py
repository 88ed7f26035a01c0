"""values_df (sources/localrel.py) must be a bit-exact drop-in for
spark.createDataFrame over bounded driver-side lists — same rows, same
column names/types — while planning as a pure-JVM LocalRelation (no
Python-RDD scan stage).  The bench queries broadcast these tiny frames,
so the r13 optimization swaps every bounded createDataFrame(list) for
it; these tests lock the equivalence per literal type."""

from __future__ import annotations

import datetime

import pytest

from urban_mobility_data_lakehouse_spark.sources.localrel import values_df

CASES = [
    # (rows, schema)
    (
        [(1, "a'b\\c", 2.5), (2, None, float("nan")), (None, "", -0.0)],
        "i long, s string, d double",
    ),
    (
        [(datetime.date(2024, 1, 3), True, 7), (datetime.date(2024, 2, 29), False, None)],
        "dt date, b boolean, n int",
    ),
    (
        [(0, [1.5e-300, -2.0, float("inf")], [1, 2]), (1, [], None)],
        "k long, arr array<double>, ia array<int>",
    ),
    (
        [([[1.0, 2.0], [3.5]],)],
        "cbs array<array<double>>",
    ),
]


@pytest.mark.parametrize("rows,schema", CASES)
def test_values_df_matches_createdataframe(spark, rows, schema):
    a = values_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema or [
        (f.name, f.dataType) for f in a.schema.fields
    ] == [(f.name, f.dataType) for f in b.schema.fields]

    def norm(df):
        return sorted(
            (tuple(str(v) for v in r) for r in df.collect()),
        )

    assert norm(a) == norm(b)


def test_values_df_plans_as_local_relation(spark):
    df = values_df(spark, [(1, 2.0)], "a long, b double")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan or "OneRowRelation" in plan
    assert "PythonRDD" not in plan and "ExistingRDD" not in plan


def test_values_df_empty_rows(spark):
    df = values_df(spark, [], "a long, b string")
    assert df.collect() == []
    assert [f.name for f in df.schema.fields] == ["a", "b"]
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"


def test_values_df_fallback_above_cap(spark):
    rows = [(i,) for i in range(10)]
    df = values_df(spark, rows, "a long", max_rows=5)
    assert sorted(r["a"] for r in df.collect()) == list(range(10))


def test_values_df_exact_doubles_roundtrip(spark):
    import struct as st

    vals = [0.1, 1e-17, 2.0**-1074, 1.7976931348623157e308, -1234.5678e-9]
    rows = [(i, v) for i, v in enumerate(vals)]
    got = {
        r["i"]: r["v"]
        for r in values_df(spark, rows, "i int, v double").collect()
    }
    for i, v in enumerate(vals):
        assert st.pack("<d", got[i]) == st.pack("<d", v)


def test_values_df_rejects_coercion_via_fallback(spark):
    import pytest as _pt

    with _pt.raises(TypeError):  # falls back to createDataFrame, which raises
        values_df(spark, [(2.9,)], "a long").collect()
    # int-in-string: createDataFrame ACCEPTS it, so the fallback must
    # reproduce that legacy behavior rather than raise
    a = values_df(spark, [(1,)], "a string").collect()
    b = spark.createDataFrame([(1,)], "a string").collect()
    assert a == b


def test_values_df_timestamp_takes_fallback(spark):
    # non-null timestamps must go through createDataFrame (OS-tz
    # semantics), not a session-tz TIMESTAMP literal
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    a = values_df(spark, [(ts,)], "t timestamp").collect()
    b = spark.createDataFrame([(ts,)], "t timestamp").collect()
    assert a == b


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_values_df_strings_read_the_same_under_parser_confs(spark, escaped):
    # quotes and backslashes must not depend on escapedStringLiterals,
    # and `${...}` must not be replaced by variable substitution
    texts = ["it's a\\b", "${spark.app.name}", "${env:HOME}", "plain", ""]
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        rows = values_df(
            spark, list(enumerate(texts)), "i int, s string"
        ).collect()
    finally:
        spark.conf.set(key, prev)
    assert [r["s"] for r in sorted(rows)] == texts


def test_values_df_decimal_gate(spark):
    from decimal import Decimal

    got = values_df(
        spark, [(0, Decimal("1.25")), (1, 3), (2, 2.5)],
        "i int, d decimal(10,2)",
    ).collect()
    assert [r["d"] for r in sorted(got)] == [
        Decimal("1.25"), Decimal("3.00"), Decimal("2.50"),
    ]
    # a NaN decimal takes the fallback too, which reads it as NULL
    nan = values_df(spark, [(Decimal("NaN"),)], "d decimal(10,2)")
    assert nan.collect()[0]["d"] is None
    # mistyped or quote-bearing values never reach the SQL parser: they
    # take the createDataFrame fallback, which raises TypeError
    for bad in ("1') AS c0 UNION SELECT ('9", "abc", True, float("inf")):
        with pytest.raises(TypeError):
            values_df(spark, [(bad,)], "d decimal(10,2)").collect()

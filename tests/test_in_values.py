"""The serving path's parsed ``IN`` filter (``query._in_values``) must
select exactly the rows a plain ``Column.isin`` selects, for any string
or bigint value and under either setting of the SQL parser's
backslash-escape handling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikitfidf_spark.index.query import _in_values, _sql_lit

TRICKY = [
    "plain",
    "it's",
    "back\\slash",
    'dq"uote',
    "\\'",
    "line\nbreak",
    "tab\there",
    "naïve_日本語_€",
    "",
    "'); DROP TABLE postings; --",
    "${env:HOME}",
    "${spark.app.name}",
    "x' OR '1'='1",
    "trailing\\",
]
DECOYS = ["its", "backslash", "dquote", "'", "linebreak", "naive", " ", "DROP", "HOME"]

BIG_IDS = [
    0, 1, -1,
    2**31, -(2**31) - 1, 2**31 - 1,
    2**62 + 12345, -(2**62) - 777,
    -9223372036854775808, 9223372036854775807,
    -8070450532247928832, 7378697629483820646,
]


@pytest.fixture(params=["false", "true"])
def escaped_literals(spark, request):
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, old)


def test_in_values_round_trips_strings(spark, escaped_literals):
    df = spark.createDataFrame([(v,) for v in TRICKY + DECOYS], "term string")
    for want in (TRICKY, TRICKY[1::2], ["it's"], ["${env:HOME}"]):
        got = sorted(r["term"] for r in df.filter(_in_values("term", want)).collect())
        ref = sorted(r["term"] for r in df.filter(F.col("term").isin(want)).collect())
        assert got == ref == sorted(want)


def test_in_values_round_trips_bigints(spark, escaped_literals):
    decoys = sorted({v + 2 for v in BIG_IDS if v < 2**63 - 2} - set(BIG_IDS))
    df = spark.createDataFrame([(v,) for v in BIG_IDS + decoys], "doc_id long")
    for want in (BIG_IDS, BIG_IDS[::3]):
        got = sorted(r["doc_id"] for r in df.filter(_in_values("doc_id", want)).collect())
        ref = sorted(r["doc_id"] for r in df.filter(F.col("doc_id").isin(want)).collect())
        assert got == ref == sorted(want)


def test_sql_lit_forms():
    assert _sql_lit("abc") == "'abc'"
    assert _sql_lit("a'b") == "CAST(X'612762' AS STRING)"
    assert _sql_lit(-5) == "-5L"
    # an empty value list selects nothing instead of failing to parse
    assert str(_in_values("term", [])) == str(F.lit(False))

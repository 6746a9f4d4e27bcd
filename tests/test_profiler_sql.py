"""The profiler's SQL string literals: the regexes it embeds in RLIKE
strings must match exactly what ``Column.rlike`` matches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_data_pipeline_spark.profiling import patterns as P
from ai_data_pipeline_spark.profiling.profiler import sql_str

PROBES = [
    # digits and numbers
    "0", "1", "42", "-17", "3.14", ".5", "1e10", "-2.5E-3", "1,234.56", "$1,000",
    # emails
    "a.b@example.com", "x_y@foo-bar.io", "not-an-email@", "User+tag@Mail.ORG",
    # dates
    "2024-01-31", "1/2/2024", "2024/1/2", "2024-01-31 12:34:56",
    "2024-01-31T12:34:56.789", "Jan 5, 2024", "September 30 1999",
    # phones
    "(555) 123-4567", "+1 555-123-4567", "+4915112345678", "555.123.4567",
    # booleans
    "t", "f", "T", "on", "OFF", "yes", "No", "y", "N", "true", "FALSE",
    # identifiers and codes
    "123e4567-e89b-12d3-a456-426614174000", "AB-1234", "ABC", "A12",
    # backslashes and quotes
    "\\", "\\d", "a\\d", "5\\5", "\\d{4}", "'", "it's", "''", "\\'",
    # blanks and text
    "", " ", "12 34", "abc", "hello world",
]


@pytest.mark.parametrize("literal", ["plain", "a\\b", "\\", "it's", "'\\'", "\\d{4}-\\d{2}", "%_"])
def test_sql_str_round_trips(spark, literal):
    assert spark.sql(f"SELECT {sql_str(literal)} AS v").collect()[0]["v"] == literal


def test_sql_rlike_matches_column_rlike_for_every_pattern(spark):
    probes = spark.createDataFrame([(i, v) for i, v in enumerate(PROBES)], "i int, v string")
    cols = []
    for _, name, rx in P.PATTERNS:
        cols.append(F.col("v").rlike(rx).alias(f"col_{name}"))
        cols.append(F.expr(f"v RLIKE {sql_str(rx)}").alias(f"sql_{name}"))
    rows = probes.select("i", *cols).orderBy("i").collect()
    for _, name, _ in P.PATTERNS:
        by_column = [r[f"col_{name}"] for r in rows]
        by_sql = [r[f"sql_{name}"] for r in rows]
        assert by_sql == by_column, name
        assert any(by_column), f"no probe matches {name}"

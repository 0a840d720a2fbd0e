"""The fixed-point helpers against hand-written DuckDB text.

``cents_sql`` and ``scaled_ratio_sql`` hold the only definition of the
two rules the money operators share with their oracles. These tests
pin the exact SQL text they emit and check that Spark evaluating it
agrees with DuckDB evaluating the oracle's spelling, on the inputs
where the rules matter: half-up ties and negatives on DOUBLE and
DECIMAL columns, and a ratio whose ``num * 10000`` does not fit BIGINT.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ensembl_lakehouse_spark.functions.fixed import cents_sql, scaled_ratio_sql

TIES = ["0.005", "2.675", "-0.005", "-2.675", "1.125", "1.005", "-1.5", "0"]


def test_cents_sql_text():
    assert cents_sql("o_totalprice") == (
        "CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    )
    assert cents_sql("l_discount", 10000) == (
        "CAST(floor(l_discount * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    )
    assert cents_sql("l_quantity", 1) == (
        "CAST(floor(l_quantity + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    )


def test_scaled_ratio_sql_text():
    assert scaled_ratio_sql("tax_cents", "revenue_cents") == (
        "CAST((CAST(tax_cents AS DECIMAL(38,0)) * 10000) "
        "DIV revenue_cents AS BIGINT)"
    )
    assert scaled_ratio_sql("rev_cents", "SUM(rev_cents) OVER ()", 120000) == (
        "CAST((CAST(rev_cents AS DECIMAL(38,0)) * 120000) "
        "DIV SUM(rev_cents) OVER () AS BIGINT)"
    )


def test_cents_half_up_matches_duckdb(spark):
    schema = StructType([
        StructField("i", LongType()),
        StructField("x_d", DoubleType()),
        StructField("x_m", DecimalType(12, 3)),
    ])
    rows = [(i, float(v), Decimal(v)) for i, v in enumerate(TIES)]
    got = {
        r.i: (r.d, r.m)
        for r in spark.createDataFrame(rows, schema)
        .select(
            "i",
            F.expr(cents_sql("x_d")).alias("d"),
            F.expr(cents_sql("x_m")).alias("m"),
        )
        .collect()
    }
    values = ", ".join(
        f"({i}, CAST({v} AS DOUBLE), CAST({v} AS DECIMAL(12,3)))"
        for i, v in enumerate(TIES)
    )
    want = {
        i: (d, m)
        for i, d, m in duckdb.sql(
            "SELECT i,"
            " CAST(floor(x_d * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT),"
            " CAST(floor(x_m * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
            f" FROM (VALUES {values}) t(i, x_d, x_m)"
        ).fetchall()
    }
    assert got == want
    # DECIMAL inputs carry exact ties: half rounds up, toward +inf
    assert [got[i][1] for i in range(len(TIES))] == [
        1, 268, 0, -267, 113, 101, -150, 0
    ]
    # DOUBLE 1.005 * 100 is 100.49999999999999: the rule rounds the
    # double product as computed, in both engines
    assert got[TIES.index("1.005")][0] == 100


def test_scaled_ratio_survives_bigint_overflow(spark):
    cases = [
        (9_000_000_000_000_000_000, 7_000_003),
        (-9_000_000_000_000_000_000, 7_000_003),
        (123_456_789, 1_000_000),
    ]
    assert cases[0][0] * 10000 > 2**63
    df = spark.createDataFrame(
        [(i, n, d) for i, (n, d) in enumerate(cases)],
        "i long, num long, den long",
    )
    got = {
        r.i: r.bp
        for r in df.select(
            "i", F.expr(scaled_ratio_sql("num", "den")).alias("bp")
        ).collect()
    }
    values = ", ".join(f"({i}, {n}, {d})" for i, (n, d) in enumerate(cases))
    want = dict(
        duckdb.sql(
            "SELECT i, CAST((CAST(num AS HUGEINT) * 10000) // den AS BIGINT)"
            f" FROM (VALUES {values}) t(i, num, den)"
        ).fetchall()
    )
    assert got == want
    # truncation toward zero, exact in arbitrary precision
    exact = {
        i: (abs(n) * 10000 // d) * (1 if n >= 0 else -1)
        for i, (n, d) in enumerate(cases)
    }
    assert got == exact

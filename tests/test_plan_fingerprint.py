"""The plan-fingerprint gate (tools/plan_fingerprint.py) is only a gate
if equal code gives equal hashes and a changed expression does not.

Two cold builds must hash the same, including queries whose plans
pass through process memos or per-session counters: the tiling cutoff
memo (``orders_rfm_segments``), the distinct-aggregate rewrite
(``profile_table``), pyspark's fresh lambda names (``bm25_search``),
and report queries built on the fixed-point helpers. Changing one
helper argument must change the hash.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from ensembl_lakehouse_spark.functions import fixed
from ensembl_lakehouse_spark.operators import reports
from tests.conftest import SF_DIR
from tools.plan_fingerprint import build_fingerprint, normalise

STABLE = [
    "orders_rfm_segments",
    "profile_table",
    "bm25_search",
    "revenue_yoy",
    "discount_band_lift",
    "tax_band_revenue",
]


def test_normalise_strips_session_counters():
    a = "Project [x_12#40L, plan_id=7] lambdafunction(x_12#40, y_13#41)"
    b = "Project [x_3#9L, plan_id=2] lambdafunction(x_3#9, y_4#10)"
    assert normalise(a) == normalise(b)
    assert normalise("a#1 + b#2") != normalise("a#1 - b#2")


@pytest.mark.parametrize("name", STABLE)
def test_two_cold_builds_hash_equal(spark, name):
    build = entry.queries()[name]
    assert build_fingerprint(spark, build, SF_DIR) == build_fingerprint(
        spark, build, SF_DIR
    )


def test_helper_argument_change_changes_hash(spark, monkeypatch):
    build = entry.queries()["revenue_concentration"]
    before = build_fingerprint(spark, build, SF_DIR)

    def cents_x1000(x, scale=100):
        return fixed.cents_sql(x, 1000 if scale == 100 else scale)

    monkeypatch.setattr(reports, "cents_sql", cents_x1000)
    assert build_fingerprint(spark, build, SF_DIR) != before

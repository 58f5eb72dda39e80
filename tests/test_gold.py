"""A4/A5 gold cost rollups over a hand-built flat cost-table frame (the
``cost_table_rows`` shape), every expected value worked out by hand."""

from __future__ import annotations

import pytest

from pdfextractor_spark.pipeline.gold import (
    gold_cost_summary, gold_pattern_usage, gold_report_costs,
)

FLAT = "url string, table_id string, pattern_id string, conf double, r double, c double"
ROWS = [
    # a report with no tables: explode_outer's all-null row
    ("u0", None, None, None, None, None),
    # two tables of one pattern: within 1% (0.5/100.5), and 10/190 > 5%
    # with conf 1.5 clipped to 1
    ("u1", "t1", "p1", 0.9, 100.0, 100.5),
    ("u1", "t2", "p1", 1.5, 200.0, 190.0),
    # a table without a pattern id (still one of the report's tables),
    # and r > 0 with c = 0: p2 never has both totals
    ("u2", "t3", None, 0.7, 50.0, 40.0),
    ("u2", "t4", "p2", 0.8, 30.0, 0.0),
]


@pytest.fixture(scope="module")
def flat(spark):
    return spark.createDataFrame(ROWS, FLAT)


def _dicts(df):
    return [r.asDict() for r in df.collect()]


def test_pattern_usage(flat):
    got = _dicts(gold_pattern_usage(flat))
    assert got == [
        {"pattern_id": "p1", "cnt": 2, "total_reported": 300.0,
         "total_computed": 290.5, "weighted_computed": pytest.approx(100.5 * 0.9 + 190.0),
         "with_reported_totals": 2, "total_with_both": 2, "within_1pct": 1,
         "within_5pct": 1, "sum_discrepancy": 9.5, "pct_within_1pct": 0.5,
         "pct_within_5pct": 0.5, "avg_discrepancy": 4.75},
        {"pattern_id": "p2", "cnt": 1, "total_reported": 30.0,
         "total_computed": 0.0, "weighted_computed": 0.0,
         "with_reported_totals": 1, "total_with_both": 0, "within_1pct": 0,
         "within_5pct": 0, "sum_discrepancy": 0.0, "pct_within_1pct": 0.0,
         "pct_within_5pct": 0.0, "avg_discrepancy": None},
    ]


def test_report_costs(flat):
    got = sorted(_dicts(gold_report_costs(flat)), key=lambda r: r["url"])
    assert got == [
        {"url": "u0", "tables": 0, "total_reported": 0.0, "total_computed": 0.0,
         "tables_with_costs": 0, "total_computed_weighted": 0.0, "discrepancy": 0.0},
        {"url": "u1", "tables": 2, "total_reported": 300.0, "total_computed": 290.5,
         "tables_with_costs": 2, "total_computed_weighted": pytest.approx(280.45),
         "discrepancy": 9.5},
        {"url": "u2", "tables": 2, "total_reported": 80.0, "total_computed": 40.0,
         "tables_with_costs": 2, "total_computed_weighted": pytest.approx(28.0),
         "discrepancy": 40.0},
    ]


def test_cost_summary(flat):
    assert _dicts(gold_cost_summary(flat)) == [
        {"report_count": 3, "reports_with_costs": 2, "total_reported": 380.0,
         "total_computed": 330.5, "total_computed_weighted": pytest.approx(308.45)},
    ]


def test_cost_summary_without_tables_is_zero(flat):
    assert _dicts(gold_cost_summary(flat.where("table_id IS NULL"))) == [
        {"report_count": 1, "reports_with_costs": 0, "total_reported": 0.0,
         "total_computed": 0.0, "total_computed_weighted": 0.0},
    ]

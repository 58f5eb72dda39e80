"""Silver stage: bronze raw text -> structured ExtractedReport rows.

One Arrow-batched ``mapInPandas`` runs the whole per-document pipeline
(sectionize -> goals/BMPs/activities -> cost tables -> finalize) — the
reference's multi-pass enrichment collapses into a single stage because each
row carries its full document text (SURVEY §3.3).
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .schema import SILVER_SCHEMA

__all__ = ["extract_silver", "report_to_silver_row"]


def report_to_silver_row(url: str, lang: str | None, rep: dict) -> dict:
    """Flatten a full report dict into the typed silver row."""
    s = rep["summary"]
    goals = [
        {
            "id": g.get("id"), "title": g.get("title"), "status": g.get("status"),
            "pollutant": g.get("pollutant"),
            "reduction_percent": _f(g.get("reductionPercent")),
            "baseline_value": _f(g.get("baselineValue")),
            "target_value": _f(g.get("targetValue")),
            "deadline_year": g.get("deadlineYear"),
            "responsible": g.get("responsible"),
            "confidence": _f(g.get("confidence")),
            "is_primary": bool(g.get("isPrimary")) if g.get("isPrimary") is not None else False,
            "primary_reason": g.get("primaryReason"),
        }
        for g in rep["goals"]
    ]
    bmps = [
        {
            "id": b.get("id"), "name": b.get("name"), "category": b.get("category"),
            "quantity": _f(b.get("quantity")), "unit": b.get("unit"), "verb": b.get("verb"),
            "confidence": _f(b.get("confidence")), "source": b.get("source"),
        }
        for b in rep["bmps"]
    ]
    activities = [
        {
            "id": a.get("id"), "description": a.get("description"), "verb": a.get("verb"),
            "frequency": a.get("frequency"), "due_year": a.get("dueYear"),
            "responsible": a.get("responsible"), "cost_value": _f(a.get("costValue")),
            "confidence": _f(a.get("confidence")),
        }
        for a in rep["activities"]
    ]
    tables = [
        {
            "id": t.get("id"), "title": t.get("title"), "pattern_id": t.get("patternId"),
            "pattern_confidence": _f(t.get("patternConfidence")),
            "total_reported": _f(t.get("totalReported")),
            "total_computed": _f(t.get("totalComputed")),
            "discrepancy": _f(t.get("discrepancy")),
            "rows": [
                {
                    "name": r.get("name"), "quantity": _f(r.get("quantity")), "unit": r.get("unit"),
                    "unit_cost": _f(r.get("unitCost")), "total_cost": _f(r.get("totalCost")),
                    "landowner_match": _f(r.get("landownerMatch")),
                }
                for r in (t.get("rows") or [])
            ],
        }
        for t in (rep.get("bmpCostTablesNormalized") or [])
    ]
    meta = rep.get("metadata") or {}
    return {
        "url": url,
        "lang": lang,
        "total_goals": int(s["totalGoals"]),
        "total_bmps": int(s["totalBMPs"]),
        "total_activities": int(s["totalActivities"]),
        "primary_goals": int(s["primaryGoals"]),
        "total_metrics": int(s["totalMetrics"]),
        "completion_rate": float(s["completionRate"]),
        "avg_goal_confidence": float(s["avgGoalConfidence"]),
        "strong_goals": int(s["strongGoals"]),
        "goals": goals,
        "bmps": bmps,
        "activities": activities,
        "monitoring_count": len(rep.get("monitoring") or []),
        "outreach_count": len(rep.get("outreach") or []),
        "geography_count": len(rep.get("geographicAreas") or []),
        "cost_tables": tables,
        "fallback_goal_heuristic_used": bool(meta.get("fallbackGoalHeuristicUsed")),
        "bmp_fallback_applied": bool(meta.get("bmpFallbackApplied")),
        "report_json": json.dumps(rep, ensure_ascii=False, default=str),
        "error": None,
    }


def _f(v):
    return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else None


_EMPTY = {
    "total_goals": 0, "total_bmps": 0, "total_activities": 0, "primary_goals": 0,
    "total_metrics": 0, "completion_rate": 0.0, "avg_goal_confidence": 0.0, "strong_goals": 0,
    "goals": [], "bmps": [], "activities": [], "monitoring_count": 0, "outreach_count": 0,
    "geography_count": 0, "cost_tables": [], "fallback_goal_heuristic_used": False,
    "bmp_fallback_applied": False, "report_json": None,
}


def build_report_row(url: str, lang: str | None, raw_text: str | None,
                     mode: str = "exact", bmp_filter: bool = False,
                     classify: bool = False) -> dict:
    from ..extraction.classifier import classify_ambiguous
    from ..extraction.report import build_structured_report
    from ..extraction.sections import extract_sections, naive_sectionize
    from ..extraction.textutil import slugify

    if raw_text is None:
        return {"url": url, "lang": lang, **_EMPTY, "error": "no raw text"}
    try:
        sections = naive_sectionize(raw_text) if mode == "naive" else extract_sections(raw_text)
        if classify:
            # opt-in, mirroring the reference's key-gated hook between
            # sectionize and build (routes/process.js:66)
            sections = classify_ambiguous(sections)
        rep = build_structured_report(
            sections, source_id=slugify(url), source_file=url, raw_text=raw_text, bmp_filter=bmp_filter
        )
        return report_to_silver_row(url, lang, rep)
    except Exception as e:  # swallow-and-continue: errors are data, not crashes
        return {"url": url, "lang": lang, **_EMPTY, "error": f"{type(e).__name__}: {e}"}


def _silver_batches_factory(mode: str, bmp_filter: bool, classify: bool = False):
    def _silver_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                build_report_row(url, lang, raw_text if isinstance(raw_text, str) else None,
                                 mode=mode, bmp_filter=bmp_filter, classify=classify)
                for url, lang, raw_text in zip(pdf["url"], pdf["lang"], pdf["raw_text"])
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in SILVER_SCHEMA.fields])
    return _silver_batches


def extract_silver(bronze_df: DataFrame, mode: str = "exact", bmp_filter: bool = False,
                   classify: bool = False) -> DataFrame:
    cols = bronze_df.select("url", "lang", "raw_text")
    return cols.mapInPandas(_silver_batches_factory(mode, bmp_filter, classify), schema=SILVER_SCHEMA)

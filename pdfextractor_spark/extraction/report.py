"""Report builder orchestration (operators E8-E10, J1-J3, A1-A3).

Mirrors backend/services/reportBuilder.js. One deliberate behavioral change
(documented in SURVEY §7): the reference reads bronze JSON *files* for its
deterministic-slice / raw-stream / BMP-list fallbacks and silently no-ops when
the file is missing; here the row carries its own ``raw_text``, so those
fallbacks always see the document text (pass ``raw_text=None`` to reproduce
the file-missing behavior).
"""

from __future__ import annotations

import re

from .activities import extract_activities, parse_geography, parse_monitoring, parse_outreach
from .bmps import extract_bmps, filter_bmps, strip_cost_tail
from .costtables import MONEY, _HAS_DOLLAR, _MONEY_RX, parse_cost_tables_with_patterns
from .goals import extract_goals, _poll_group
from .rules import POLLUTANT_TERMS
from .textutil import infer_status, js_parse_float, money_to_number, split_newlines, split_sentences

__all__ = ["parse_cost_table", "build_structured_report", "finalize_report"]

_MULTI_FUND_HEADER = re.compile(r"Practice\s+Producer\s+NRCS\s+(EPA-?MDEQ|EPA\s*MDEQ)\s+Total", re.I)

# Precompiled hot-path patterns (identical semantics to the inline literals
# they replace; build_structured_report runs once per document in the fused
# UDF and per-call ``re.search(str, ...)``/``re.compile`` overhead was ~5% of
# the extraction stage).
_RX_WS = re.compile(r"\s+")
_RX_GOAL_WORD = re.compile(r"goal", re.I)
_RX_WATERSHED_DOT = re.compile(r"watershed\.", re.I)
_RX_WATERSHED_DOT_END = re.compile(r"watershed\.$", re.I)
_RX_USE_OF_END = re.compile(r"use of$", re.I)
_RX_ULT_BRING = re.compile(r"The ultimate goal is to bring about", re.I)
_RX_QOL_WATERSHED_DOT = re.compile(r"quality of life in the watershed\.", re.I)
_RX_BMP_PRACTICES = re.compile(r"best management practices", re.I)
_RX_OVERALL_QOL = re.compile(r"overall quality of life", re.I)
_RX_GOAL_PREFIX = re.compile(r"^\s*goal[:\-]", re.I)
_RX_GOAL_COLON = re.compile(r"\bgoal:", re.I)
_RX_FIRST_SENT = re.compile(r"^[\s\S]*?\.")
_RX_SEMANTIC_GOAL = re.compile(
    r"(ultimate goal|overall goal|primary objective|main objective|intended outcome|mission is to)", re.I
)
_RX_GOAL_STARTER_DESC = re.compile(
    r"(The ultimate goal|The overall goal|The primary objective|Our goal|The goal|The objective)", re.I
)
_RX_AS_COMMA = re.compile(r"^as,\s+", re.I)
_RX_AS_WORD = re.compile(r"^as\s+", re.I)
_RX_COST_ESTIMATE = re.compile(r"cost estimate", re.I)


def _pf(s):
    return js_parse_float(s.replace(",", "")) if isinstance(s, str) else js_parse_float(s)


def _canonicalize_unit_full(u):
    from .textutil import canonicalize_unit

    return canonicalize_unit(u, full=True)


# ---------------------------------------------------------------------------
# Legacy parseWindow kinds (reportBuilder.js:168-609)
# ---------------------------------------------------------------------------


# Precompiled legacy-parser patterns (identical literals to the inline
# re.* calls they replace; these loops run per candidate line).
_R_TOTAL_EST_PROJ = re.compile(r"Total Estimated Project Cost", re.I)
_R_ROW_MONEY_PAIR = re.compile(r"(.*?)(" + MONEY + r")(?:\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?))?\s*$")
_R_LEAD_DASH = re.compile(r"^[-•]+\s*")
_R_SIZE_OR_NA = re.compile(r"(\b[0-9][0-9,]*\b.*@|\b[0-9][0-9,]*\b|N/A)")
_R_TRAIL_COLON = re.compile(r":+$")
_R_LEAD_BMPS = re.compile(r"^BMPs\s*", re.I)
_R_MONEY_TOK = re.compile(r"\$[0-9,.]+")
_R_NUM_TOK = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)")
_R_WS_SPLIT = re.compile(r"\s+")
_R_LOW_DO = re.compile(r"Low DO/Organic", re.I)
_R_PARTICIPANTS = re.compile(r"^Participants", re.I)
_R_MULTI_WS = re.compile(r"\s{2,}")
_R_FEET_END = re.compile(r"\(feet\)$", re.I)
_R_FEET_PAREN = re.compile(r"feet\)", re.I)
_R_BELL_HDR = re.compile(r"Practice\s+Area Affected\s+BMP Cost\s+BMP Total", re.I)
_R_MONEY_GRP = re.compile(r"\$([0-9][0-9,]*(?:\.[0-9]{2})?)")
_R_TABLE82 = re.compile(r"Table\s*8\.2|Technical Assistance", re.I)
_R_NON_NUMDOT = re.compile(r"[^0-9.]")
_R_UNITCOST_GRP = re.compile(r"\$([0-9][0-9,]*(?:\.[0-9]+)?)")
_R_ITEM_COST_HDR = re.compile(r"Item\s+Cost", re.I)
_R_TOTAL_MONEY = re.compile(r"^Total\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)", re.I)
_R_NAME_MONEY = re.compile(r"^(.*?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$")
_R_PHASE1_HDR = re.compile(r"BMPs\s*Amount\s*Estimated Cost", re.I)
_R_TOTAL_ANYMONEY = re.compile(r"^Total.*\$([0-9][0-9,]*(?:\.[0-9]{2})?)", re.I)
_R_PHASE1_END = re.compile(r"Technical Assistance|Education and Outreach|Monitoring|Project Management", re.I)
_R_BOOTHS_HDR = re.compile(r"Code\s+Practice\s+Units\s+Cost", re.I)
_R_TOTAL_MONEY2 = re.compile(r"^Total\s*\$([0-9][0-9,]*(?:\.[0-9]{2})?)", re.I)
_R_BOOTHS_END = re.compile(r"In addition to these costs|Element|Activity.*Estimated Cost", re.I)
_R_NON_UNIT = re.compile(r"[^a-z0-9_]")
_R_BMPS_STAR = re.compile(r"BMPs\*", re.I)
_R_SIZE_AMOUNT = re.compile(r"Size/Amount", re.I)
_R_TOTAL_EST_PH1 = re.compile(r"Total Estimated (Phase 1 )?Cost", re.I)
_R_ELEMENT_AI = re.compile(r"^Element\s+[a-i]:", re.I)
_R_ACT_KEYWORDS = re.compile(
    r"\b(Fencing|Water Facilities|Heavy Use Areas|Stream Crossings|Ponds|Sediment Basins"
    r"|Nutrient Management|Critical Area Planting|Establishment|Forage|Biomass|Education"
    r"|Monitoring|Project Management)\b",
    re.I,
)


def _legacy_activity_match(all_lines):
    rows = []
    reported_total = reported_match_total = None
    merged = [
        line
        for line in all_lines
        if line and line.strip() and _HAS_DOLLAR.search(line)
        and _R_ACT_KEYWORDS.search(line)
    ]
    for raw_line in merged:
        if not raw_line:
            continue
        if _R_TOTAL_EST_PROJ.search(raw_line):
            dollars = _MONEY_RX.findall(raw_line)
            if len(dollars) > 0:
                reported_total = _pf(dollars[0].replace("$", ""))
            if len(dollars) > 1:
                reported_match_total = _pf(dollars[1].replace("$", ""))
            continue
        line = raw_line.strip()
        if _R_BMPS_ONLY.match(line):
            continue
        if not _HAS_DOLLAR.search(line):
            continue
        m = _R_ROW_MONEY_PAIR.search(line)
        if not m:
            continue
        left = _R_LEAD_DASH.sub("", m.group(1).strip())
        est_cost = m.group(2)
        match_cost = ("$" + m.group(3)) if m.group(3) else None
        sm = _R_SIZE_OR_NA.search(left)
        name = left
        size_part = ""
        if sm:
            name = left[: sm.start()].strip()
            size_part = left[sm.start() :].strip()
        name = _R_TRAIL_COLON.sub("", _R_LEAD_BMPS.sub("", name)).strip()
        if not name:
            continue
        rows.append({"Activity": name, "Size/Amount": size_part, "Estimated Cost": est_cost, "Landowner Match": match_cost})
    if not rows:
        return None
    norm_rows = []
    sum_est = sum_match = 0.0
    for r in rows:
        name = r["Activity"]
        size_text = r["Size/Amount"] or ""
        est = r["Estimated Cost"]
        match_val = r["Landowner Match"]
        quantity = unit = unit_cost = total_cost = landowner_match = None
        if est:
            num = _pf(est.replace("$", ""))
            if num is not None:
                total_cost = num
                sum_est += num
        if match_val:
            num = _pf(match_val.replace("$", ""))
            if num is not None:
                landowner_match = num
                sum_match += num
        at_parts = size_text.split("@")
        if len(at_parts) > 1:
            ucm = _R_MONEY_TOK.search(at_parts[1])
            if ucm:
                uc = _pf(ucm.group(0).replace("$", ""))
                if uc is not None:
                    unit_cost = uc
        before_at = at_parts[0]
        if before_at:
            qm = _R_NUM_TOK.search(before_at)
            if qm:
                quantity = _pf(qm.group(1))
                remainder = before_at[qm.start() + len(qm.group(1)) :].strip()
                toks = [t for t in _R_WS_SPLIT.split(remainder) if t]
                if toks:
                    unit = toks[0].rstrip(".")
        if quantity is not None and unit_cost is not None and (total_cost is None or total_cost == 0):
            total_cost = quantity * unit_cost
        from .textutil import canonicalize_unit

        unit_canonical = canonicalize_unit(unit, full=True)
        norm_rows.append({"name": name, "rawSize": size_text, "rawCost": est, "quantity": quantity,
                          "unit": unit_canonical, "unitRaw": unit, "unitCost": unit_cost,
                          "totalCost": total_cost, "landownerMatch": landowner_match})
    discrepancy = (reported_total - sum_est) if reported_total is not None else None
    match_discrepancy = (reported_match_total - sum_match) if reported_match_total is not None else None
    return {
        "table": {"columns": ["Activity", "Size/Amount", "Estimated Cost", "Landowner Match"], "rows": rows,
                  "total": reported_total, "landownerMatchTotal": reported_match_total},
        "normalized": {"rows": norm_rows, "totalReported": reported_total, "totalComputed": sum_est,
                       "landownerMatchReported": reported_match_total, "landownerMatchComputed": sum_match,
                       "discrepancy": discrepancy, "matchDiscrepancy": match_discrepancy},
    }


def _legacy_practice_costs(all_lines, start_idx):
    window = all_lines[start_idx : start_idx + 80]
    rows = []
    reported_total = None
    j = 0
    while j < len(window) and not _HAS_DOLLAR.search(window[j] or ""):
        j += 1
    collected = []
    while j < len(window):
        line = window[j]
        if not line:
            collected.append(line)
            j += 1
            continue
        if _R_LOW_DO.search(line):
            break
        if _R_PARTICIPANTS.match(line):
            break
        if _R_TOTAL_ONLY.match(line.strip()):
            for k in range(j + 1, len(window)):
                dl = window[k]
                if dl and _HAS_DOLLAR.search(dl):
                    m = _MONEY_RX.search(dl)
                    if m:
                        reported_total = _pf(m.group(0).replace("$", ""))
                    break
            break
        collected.append(line)
        j += 1
    merged = []
    i2 = 0
    while i2 < len(collected):
        line = collected[i2]
        if not line:
            i2 += 1
            continue
        if not _HAS_DOLLAR.search(line) and i2 + 1 < len(collected) and collected[i2 + 1] and _HAS_DOLLAR.search(collected[i2 + 1]):
            line = line + " " + collected[i2 + 1].strip()
            i2 += 1
        merged.append(line)
        i2 += 1
    row_re = re.compile(r"^(.*?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s+([0-9][0-9,]*)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$")
    for raw in merged:
        m = row_re.match(raw)
        if not m:
            continue
        name = _R_MULTI_WS.sub(" ", m.group(1).strip())
        if _R_FEET_END.search(name) and not _R_FEET_PAREN.search(name):
            name += " (feet)"
        rows.append({"Practice": name, "Unit Cost w/Installation": "$" + m.group(2),
                     "Number of Units": m.group(3), "Total Cost": "$" + m.group(4)})
    if not rows:
        return None
    norm_rows = []
    computed = 0.0
    for r in rows:
        unit_cost = _pf(r["Unit Cost w/Installation"].replace("$", ""))
        quantity = _pf(r["Number of Units"])
        total_cost = _pf(r["Total Cost"].replace("$", ""))
        if total_cost is not None:
            computed += total_cost
        norm_rows.append({"name": r["Practice"], "quantity": quantity, "unit": None, "unitRaw": None,
                          "unitCost": unit_cost, "totalCost": total_cost,
                          "rawSize": (str(r["Number of Units"]) + " units") if r["Number of Units"] is not None else "",
                          "rawCost": r["Total Cost"]})
    return {
        "table": {"columns": ["Practice", "Unit Cost w/Installation", "Number of Units", "Total Cost"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm_rows, "totalReported": reported_total, "totalComputed": computed,
                       "discrepancy": (reported_total - computed) if reported_total is not None else None},
    }


_LEGACY_BELL_ROW = re.compile(
    r"^(.*?)\s+([0-9][0-9,]*(?:\.[0-9]+)?)\s+(feet|acres|structures|each)\s+"
    r"\$([0-9][0-9,]*(?:\.[0-9]+)?)\s*(?:/\s*\w+)?\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$"
)


def _legacy_bell_creek(all_lines, start_idx):
    window = all_lines[start_idx : start_idx + 40]
    rows = []
    reported_total = None
    j = 0
    while j < len(window) and not _R_BELL_HDR.search(window[j] or ""):
        j += 1
    j += 1
    while j < len(window):
        line = window[j]
        j += 1
        if not line or not line.strip():
            continue
        if _R_TOTAL_ONLY.match(line.strip()):
            for k in range(j, len(window)):
                dl = window[k]
                if dl and _HAS_DOLLAR.search(dl):
                    m = _R_MONEY_GRP.search(dl)
                    if m:
                        reported_total = _pf(m.group(1))
                    break
            break
        if _R_TABLE82.search(line):
            break
        m = _LEGACY_BELL_ROW.match(line)
        if m:
            unit = m.group(3)
            abbrev = {"feet": "ft", "acres": "ac", "structures": "ea", "each": "ea"}.get(unit, unit)
            rows.append({"Practice": m.group(1).strip(),
                         "Area Affected": m.group(2).replace(",", "") + " " + unit,
                         "BMP Cost": "$" + m.group(4).replace(",", "") + "/" + abbrev,
                         "BMP Total": "$" + m.group(5).replace(",", "")})
    if not rows:
        return None
    norm_rows = []
    computed = 0.0
    for r in rows:
        area_text = r["Area Affected"] or ""
        quantity = js_parse_float(_R_NON_NUMDOT.sub("", area_text))
        cost_text = r["BMP Cost"] or ""
        ucm = _R_UNITCOST_GRP.search(cost_text)
        unit_cost = _pf(ucm.group(1)) if ucm else None
        total_cost = _pf(r["BMP Total"].replace("$", ""))
        if total_cost is not None:
            computed += total_cost
        unit = ("ft" if "feet" in area_text else "ac" if "acres" in area_text else
                "each" if "each" in area_text else "structures" if "structures" in area_text else None)
        norm_rows.append({"name": r["Practice"], "quantity": quantity, "unit": unit, "unitRaw": unit,
                          "unitCost": unit_cost, "totalCost": total_cost, "rawSize": area_text, "rawCost": r["BMP Total"]})
    return {
        "table": {"columns": ["Practice", "Area Affected", "BMP Cost", "BMP Total"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm_rows, "totalReported": reported_total, "totalComputed": computed,
                       "discrepancy": (reported_total - computed) if reported_total is not None else None},
    }


def _legacy_tech_assistance(all_lines, start_idx):
    window = all_lines[start_idx : start_idx + 20]
    rows = []
    reported_total = None
    j = 0
    while j < len(window) and not _R_ITEM_COST_HDR.search(window[j] or ""):
        j += 1
    j += 1
    while j < len(window):
        line = window[j]
        j += 1
        if not line or not line.strip():
            continue
        if _R_TOTAL_MONEY.match(line):
            m = _R_MONEY_GRP.search(line)
            if m:
                reported_total = _pf(m.group(1))
            break
        m = _R_NAME_MONEY.match(line)
        if m:
            rows.append({"Item": m.group(1).strip(), "Cost": "$" + m.group(2)})
    if not rows:
        return None
    norm_rows = []
    computed = 0.0
    for r in rows:
        total_cost = _pf(r["Cost"].replace("$", ""))
        if total_cost is not None:
            computed += total_cost
        norm_rows.append({"name": r["Item"], "quantity": None, "unit": None, "unitRaw": None, "unitCost": None,
                          "totalCost": total_cost, "rawSize": "N/A", "rawCost": r["Cost"]})
    return {
        "table": {"columns": ["Item", "Cost"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm_rows, "totalReported": reported_total, "totalComputed": computed,
                       "discrepancy": (reported_total - computed) if reported_total is not None else None},
    }


_LEGACY_PHASE1_ROW = re.compile(
    r"^(.*?)\s+([0-9][0-9,]*(?:\.[0-9]+)?)\s+(each|ac|cy|ft|acres)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$"
)


def _legacy_phase1(all_lines, start_idx):
    window = all_lines[start_idx : start_idx + 30]
    rows = []
    reported_total = None
    j = 0
    while j < len(window) and not _R_PHASE1_HDR.search(window[j] or ""):
        j += 1
    j += 1
    while j < len(window):
        line = window[j]
        j += 1
        if not line or not line.strip():
            continue
        if _R_TOTAL_ANYMONEY.match(line):
            m = _R_MONEY_GRP.search(line)
            if m:
                reported_total = _pf(m.group(1))
            break
        if _R_PHASE1_END.search(line):
            break
        m = _LEGACY_PHASE1_ROW.match(line)
        if m:
            rows.append({"BMPs": m.group(1).strip(),
                         "Amount": m.group(2).replace(",", "") + " " + m.group(3),
                         "Estimated Cost": "$" + m.group(4).replace(",", "")})
    if not rows:
        return None
    norm_rows = []
    computed = 0.0
    for r in rows:
        amount_text = r["Amount"] or ""
        quantity = js_parse_float(_R_NON_NUMDOT.sub("", amount_text))
        unit = ("each" if "each" in amount_text else "ac" if "ac" in amount_text else
                "cy" if "cy" in amount_text else (amount_text.split(" ")[-1] if amount_text else None))
        total_cost = _pf(r["Estimated Cost"].replace("$", ""))
        if total_cost is not None:
            computed += total_cost
        unit_cost = (total_cost / quantity) if (quantity is not None and quantity > 0 and total_cost is not None) else None
        norm_rows.append({"name": r["BMPs"], "quantity": quantity, "unit": unit, "unitRaw": unit,
                          "unitCost": unit_cost, "totalCost": total_cost, "rawSize": amount_text,
                          "rawCost": r["Estimated Cost"]})
    return {
        "table": {"columns": ["BMPs", "Amount", "Estimated Cost"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm_rows, "totalReported": reported_total, "totalComputed": computed,
                       "discrepancy": (reported_total - computed) if reported_total is not None else None},
    }


_LEGACY_BOOTHS_ROW = re.compile(
    r"^([0-9]+)\s+(.*?)\s+(ac|ft|ea|each|cuyd|sqft|gal|no)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s+"
    r"([0-9][0-9,]*(?:\.[0-9]+)?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$"
)


def _legacy_booths(all_lines, start_idx):
    window = all_lines[start_idx : start_idx + 50]
    rows = []
    reported_total = None
    j = 0
    while j < len(window) and not _R_BOOTHS_HDR.search(window[j] or ""):
        j += 1
    j += 1
    while j < len(window):
        line = window[j]
        j += 1
        if not line or not line.strip():
            continue
        if _R_TOTAL_MONEY2.match(line):
            m = _R_MONEY_GRP.search(line)
            if m:
                reported_total = _pf(m.group(1))
            break
        if _R_BOOTHS_END.search(line):
            break
        m = _LEGACY_BOOTHS_ROW.match(line)
        if m:
            rows.append({"Code": m.group(1), "Practice": m.group(2).strip(), "Units": m.group(3),
                         "Cost": "$" + m.group(4), "Estimated Units": m.group(5), "Total": "$" + m.group(6)})
    if not rows:
        return None
    norm_rows = []
    computed = 0.0
    unit_map = {"each": "each", "ea": "each", "ac": "acre", "acre": "acre", "acres": "acre",
                "ft": "ft", "feet": "ft", "foot": "ft", "lf": "linear_ft",
                "cuyd": "cu_yd", "cy": "cu_yd", "sqft": "sq_ft", "gal": "gal", "no": "each"}
    for r in rows:
        unit_text = r["Units"]
        unit_cost = _pf(r["Cost"].replace("$", ""))
        quantity = _pf(r["Estimated Units"])
        total_cost = _pf(r["Total"].replace("$", ""))
        if total_cost is not None:
            computed += total_cost
        raw_u = unit_text.lower().rstrip(".") if unit_text else None
        unit = unit_map.get(raw_u, _R_NON_UNIT.sub("", raw_u or "")) if raw_u else None
        norm_rows.append({"name": f"{r['Code']} - {r['Practice']}", "quantity": quantity, "unit": unit,
                          "unitRaw": unit_text, "unitCost": unit_cost, "totalCost": total_cost,
                          "rawSize": f"{r['Estimated Units']} {unit_text}", "rawCost": r["Total"]})
    return {
        "table": {"columns": ["Code", "Practice", "Units", "Cost", "Estimated Units", "Total"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm_rows, "totalReported": reported_total, "totalComputed": computed,
                       "discrepancy": (reported_total - computed) if reported_total is not None else None},
    }


def _legacy_default(all_lines, start_idx):
    """full_project / phase1 / generic window parse (reportBuilder.js:531-608)."""
    window = all_lines[start_idx : start_idx + 110]
    header_idx = -1
    for k, l in enumerate(window):
        if l and _R_BMPS_STAR.search(l) and _R_SIZE_AMOUNT.search(l):
            header_idx = k
            break
    total_idx = -1
    for k, l in enumerate(window):
        if l and _R_TOTAL_EST_PH1.search(l):
            total_idx = k
            break
    rows = []
    reported_total = None
    j = header_idx + 1 if header_idx != -1 else 1
    while j < len(window):
        line = window[j]
        j += 1
        if not line:
            continue
        if _R_ELEMENT_AI.match(line):
            break
        if re.search(r"Cost Estimate:", line, re.I) and (j - 1) > 3:
            break
        if re.search(r"Total Estimated (Phase 1 )?Cost", line, re.I):
            m = re.search(r"\$[0-9,]+(\.[0-9]{2})?", line)
            if m:
                num = _pf(m.group(0).replace("$", ""))
                if num is not None:
                    reported_total = num
            break
        raw = line.strip()
        if "$" not in raw:
            continue
        money_matches = _MONEY_RX.findall(raw)
        if not money_matches:
            continue
        last_money = money_matches[-1]
        last_idx = raw.rfind(last_money)
        left = raw[:last_idx].strip()
        cost = last_money
        left = re.sub(re.escape(last_money) + "$", "", left).strip()
        name = left
        size_amount = ""
        sm = re.search(r"(\b[0-9][0-9,]*\b|N/A|@)", left, re.I)
        if sm:
            name = left[: sm.start()].strip()
            size_amount = left[sm.start() :].strip()
        name = re.sub(r"\*+$", "", name).strip()
        if not name or re.match(r"^Total Estimated", name, re.I):
            continue
        if len(re.split(r"\s+", name)) > 10 and "@" not in size_amount and not re.search(r"\b[0-9]", size_amount):
            continue
        rows.append({"BMP": name, "Size/Amount": size_amount, "Estimated Cost": cost})
    if not rows:
        return None
    seen = set()
    cleaned = []
    for r in rows:
        key = r["BMP"].lower()
        if key in seen:
            continue
        seen.add(key)
        cleaned.append(r)
    norm_rows = []
    computed_total = 0.0
    for r in cleaned:
        name = r["BMP"]
        size_text = r["Size/Amount"] or ""
        cost_text = r["Estimated Cost"] or ""
        quantity = unit = unit_cost = total_cost = None
        tm = re.search(r"\$[0-9,.]+", cost_text)
        if tm:
            num = _pf(tm.group(0).replace("$", ""))
            if num is not None:
                total_cost = num
        at_parts = size_text.split("@")
        if len(at_parts) > 1:
            ucm = _R_MONEY_TOK.search(at_parts[1])
            if ucm:
                uc = _pf(ucm.group(0).replace("$", ""))
                if uc is not None:
                    unit_cost = uc
        before_at = at_parts[0]
        if before_at:
            qm = _R_NUM_TOK.search(before_at)
            if qm:
                quantity = _pf(qm.group(1))
                remainder = before_at[qm.start() + len(qm.group(1)) :].strip()
                toks = [t for t in _R_WS_SPLIT.split(remainder) if t and not re.match(r"^(each|@)$", t, re.I)]
                if toks:
                    unit = toks[0].rstrip(".")
        if quantity is not None and unit_cost is not None and (total_cost is None or total_cost == 0):
            total_cost = quantity * unit_cost
        if total_cost is not None:
            computed_total += total_cost
        norm_rows.append({"name": name, "rawSize": size_text, "rawCost": cost_text, "quantity": quantity,
                          "unit": _canonicalize_unit_full(unit), "unitRaw": unit, "unitCost": unit_cost,
                          "totalCost": total_cost})
    discrepancy = (reported_total - computed_total) if (reported_total is not None and computed_total) else None
    return {
        "table": {"columns": ["BMP", "Size/Amount", "Estimated Cost"], "rows": cleaned, "total": reported_total},
        "normalized": {"rows": norm_rows, "totalReported": reported_total,
                       "totalComputed": computed_total or None, "discrepancy": discrepancy},
    }


def _legacy_parse_window(all_lines, start_idx, kind):
    if kind == "activity_match":
        return _legacy_activity_match(all_lines)
    if kind == "practice_costs":
        return _legacy_practice_costs(all_lines, start_idx)
    if kind == "bell_creek_bmps":
        return _legacy_bell_creek(all_lines, start_idx)
    if kind == "tech_assistance":
        return _legacy_tech_assistance(all_lines, start_idx)
    if kind == "phase1_bmps":
        return _legacy_phase1(all_lines, start_idx)
    if kind == "booths_creek_bmps":
        return _legacy_booths(all_lines, start_idx)
    return _legacy_default(all_lines, start_idx)


_LEGACY_PATTERN_ID = {
    "bell_creek_bmps": "bell_creek_format",
    "phase1_bmps": "phase1_bmps_format",
    "booths_creek_bmps": "booths_creek_format",
    "practice_costs": "practice_costs_format",
    "activity_match": "activity_match_format",
    "full_project": "full_project_estimate",
    "phase1": "phase1_estimate",
    "tech_assistance": "tech_assistance_format",
}
_LEGACY_CONFIDENCE = {
    "bell_creek_bmps": 0.85,
    "phase1_bmps": 0.8,
    "booths_creek_bmps": 0.85,
    "practice_costs": 0.75,
    "activity_match": 0.7,
    "full_project": 0.65,
    "phase1": 0.65,
    "tech_assistance": 0.6,
}


_LG_FULL_PROJECT = re.compile(r"^\s*Cost Estimate:\s*Full Project Implementation", re.I)
_LG_PHASE1 = re.compile(r"^\s*Cost Estimate:\s*Phase 1 Implementation", re.I)
_LG_ACTIVITY_MATCH = re.compile(r"Activity.*Size.*Amount.*Estimated Cost.*Landowner Match", re.I)
_LG_PRACTICE_ONLY = re.compile(r"^Practice\s*$", re.I)
_LG_UNIT_COST = re.compile(r"Unit Cost", re.I)
_LG_TOTAL_COST = re.compile(r"Total Cost", re.I)
_LG_TABLE_AG_BMP = re.compile(r"Table.*Agricultural.*Best Management Practice", re.I)
_LG_PRACTICE_UNIT_TOTAL = re.compile(r"Practice.*Unit Cost.*Total Cost", re.I)
_LG_TABLE_319 = re.compile(r"Table.*Funded.*319.*Project.*Budget.*BMPs", re.I)
_LG_TABLE_TECH = re.compile(r"Table.*Technical Assistance", re.I)
_LG_BELL_HEADER = re.compile(r"Practice\s+Area Affected\s+BMP Cost\s+BMP Total", re.I)
_LG_PHASE1_BMPS = re.compile(r"BMPs\s*Amount\s*Estimated Cost", re.I)
_LG_BOOTHS = re.compile(r"Code\s+Practice\s+Units\s+Cost.*Estimated.*Units.*Total", re.I)
_LG_PROVIDED_BELOW = re.compile(r"Provided below is an estimate of project BMP costs", re.I)
_LG_CODE_PRACTICE = re.compile(r"Code\s+Practice\s+Units\s+Cost", re.I)


def parse_cost_table(sections: dict, raw_text: str | None = None) -> dict:
    """Integration layer: registry pass + impl-budget merge + legacy detection
    (ref: reportBuilder.js:39-655). ``raw_text`` replaces the reference's
    ``__RAW_WHOLE_TEXT__`` global side-channel."""
    bmp_cost_table = None
    bmp_cost_table_normalized = None
    bmp_cost_tables: list[dict] = []
    bmp_cost_tables_normalized: list[dict] = []
    try:
        all_lines = []
        for v in sections.values():
            if isinstance(v, list):
                all_lines.extend(v)
        raw_lines_arg = split_newlines(raw_text) if raw_text else None
        # "nrcs" is a required literal of _MULTI_FUND_HEADER — gating the
        # scans with a C-level substring check is a pure optimization
        if not any(l and "nrcs" in l.lower() and _MULTI_FUND_HEADER.search(l) for l in all_lines):
            if raw_lines_arg:
                header_idx = -1
                for k, l in enumerate(raw_lines_arg):
                    if l and "nrcs" in l.lower() and _MULTI_FUND_HEADER.search(l):
                        header_idx = k
                        break
                if header_idx != -1:
                    all_lines = all_lines + raw_lines_arg[max(0, header_idx - 1) : header_idx + 25]
        if not all_lines:
            return {"bmpCostTable": None, "bmpCostTableNormalized": None,
                    "bmpCostTables": [], "bmpCostTablesNormalized": []}
        # Registry pass mutates all_lines by appending unseen raw lines (the
        # reference mutates the shared array in-place); replicate the merge
        # here so the legacy detection below sees the same expanded list.
        if raw_lines_arg:
            seen = set(all_lines)
            for l in raw_lines_arg:
                if l and l not in seen:
                    all_lines.append(l)
        pattern_parsed = parse_cost_tables_with_patterns(all_lines, None)
        for p in pattern_parsed:
            norm = p.get("normalized") or {}
            bmp_cost_tables.append({"id": p["id"], "title": p["title"], "table": p["table"],
                                    "patternId": norm.get("patternId"),
                                    "patternConfidence": norm.get("patternConfidence")})
            bmp_cost_tables_normalized.append({"id": p["id"], "title": p["title"], **norm})
        # Merge multiple implementation_plan_coded_budget tables (operator A2)
        impl_tables = [t for t in bmp_cost_tables_normalized if t.get("patternId") == "implementation_plan_coded_budget"]
        if len(impl_tables) > 1:
            merged_key = "implementation_plan_coded_budget_merged"
            seen_codes: dict[str, dict] = {}
            merged_rows: list[dict] = []
            total_reported_agg = 0.0
            total_computed_agg = 0.0
            for t in impl_tables:
                for r in t.get("rows") or []:
                    code_key = str(r.get("code") or r.get("Code") or "") + "|" + str(r.get("section") or r.get("Section") or "")
                    existing = seen_codes.get(code_key)
                    if existing is not None:
                        add = lambda v: v if isinstance(v, (int, float)) else 0
                        existing["totalCost"] = add(existing.get("totalCost")) + add(r.get("totalCost"))
                    else:
                        merged_rows.append(dict(r))
                        seen_codes[code_key] = merged_rows[-1]
                if isinstance(t.get("totalReported"), (int, float)):
                    total_reported_agg += t["totalReported"]
                if isinstance(t.get("totalComputed"), (int, float)):
                    total_computed_agg += t["totalComputed"]
            merged_normalized = {
                "id": merged_key, "title": "Implementation Plan Budget (Merged)",
                "patternId": "implementation_plan_coded_budget", "patternConfidence": 0.72,
                "rows": merged_rows,
                "totalReported": total_reported_agg or None,
                "totalComputed": total_computed_agg or None,
                "discrepancy": (total_reported_agg - total_computed_agg)
                if (total_reported_agg and total_computed_agg) else None,
            }
            bmp_cost_tables = [t for t in bmp_cost_tables if t.get("patternId") != "implementation_plan_coded_budget"]
            bmp_cost_tables_normalized = [t for t in bmp_cost_tables_normalized
                                          if t.get("patternId") != "implementation_plan_coded_budget"]
            bmp_cost_tables.append({"id": merged_key, "title": merged_normalized["title"],
                                    "table": {"columns": ["Code", "Description", "Amount", "Section"],
                                              "rows": merged_rows, "total": merged_normalized["totalReported"]},
                                    "patternId": "implementation_plan_coded_budget", "patternConfidence": 0.72})
            bmp_cost_tables_normalized.append(merged_normalized)
        # Legacy detection loop (reportBuilder.js:117-161). Every trigger
        # below needs one of the gate keywords (practice, activit, table,
        # bmp, code, cost; case-insensitive), so non-matching lines skip
        # all twelve regexes (pure optimization, identical semantics).
        table_starts = []
        for i, l in enumerate(all_lines):
            if not l:
                continue
            # the gate keywords as C-level substring tests — a
            # case-insensitive regex scan per line was ~10x the cost
            _ll = l.lower()
            if ("cost" not in _ll and "table" not in _ll and "practice" not in _ll
                    and "bmp" not in _ll and "activit" not in _ll and "code" not in _ll):
                continue
            if _LG_FULL_PROJECT.match(l):
                table_starts.append({"index": i, "kind": "full_project", "title": l.strip()})
            elif _LG_PHASE1.match(l):
                table_starts.append({"index": i, "kind": "phase1", "title": l.strip()})
            elif _LG_ACTIVITY_MATCH.search(l):
                table_starts.append({"index": i, "kind": "activity_match", "title": l.strip()})
            elif _LG_PRACTICE_ONLY.match(l):
                lookahead = " ".join(str(x) for x in all_lines[i : i + 6])
                if _LG_UNIT_COST.search(lookahead) and _LG_TOTAL_COST.search(lookahead):
                    table_starts.append({"index": i, "kind": "practice_costs",
                                         "title": "Projected Costs for Agricultural BMPs"})
            elif _LG_TABLE_AG_BMP.search(l):
                lookahead = " ".join(str(x) for x in all_lines[i : i + 10])
                if _LG_PRACTICE_UNIT_TOTAL.search(lookahead):
                    table_starts.append({"index": i, "kind": "practice_costs", "title": l.strip()})
            elif _LG_TABLE_319.search(l):
                table_starts.append({"index": i, "kind": "bell_creek_bmps", "title": l.strip()})
            elif _LG_TABLE_TECH.search(l):
                table_starts.append({"index": i, "kind": "tech_assistance", "title": l.strip()})
            elif _LG_BELL_HEADER.search(l):
                table_starts.append({"index": i, "kind": "bell_creek_bmps", "title": "Bell Creek BMP Budget"})
            elif _LG_PHASE1_BMPS.search(l):
                table_starts.append({"index": i, "kind": "phase1_bmps", "title": "Phase 1 Implementation BMPs"})
            elif _LG_BOOTHS.search(l):
                table_starts.append({"index": i, "kind": "booths_creek_bmps", "title": "BMP Cost Estimates"})
            elif _LG_PROVIDED_BELOW.search(l):
                for j in range(i + 1, min(i + 10, len(all_lines))):
                    if _LG_CODE_PRACTICE.search(all_lines[j] or ""):
                        table_starts.append({"index": j, "kind": "booths_creek_bmps", "title": "BMP Cost Estimates"})
                        break
        if not table_starts and not bmp_cost_tables:
            idx = -1
            for k, l in enumerate(all_lines):
                if l and _RX_COST_ESTIMATE.search(l):
                    idx = k
                    break
            if idx == -1:
                return {"bmpCostTable": None, "bmpCostTableNormalized": None,
                        "bmpCostTables": [], "bmpCostTablesNormalized": []}
            table_starts.append({"index": idx, "kind": "generic", "title": all_lines[idx].strip()})
        for start in table_starts:
            parsed = None
            try:
                parsed = _legacy_parse_window(all_lines, start["index"], start["kind"])
            except Exception:
                parsed = None
            if parsed:
                tid = ("full_project_implementation" if start["kind"] == "full_project"
                       else "phase1_implementation" if start["kind"] == "phase1" else "cost_table")
                new_cols_sig = "|".join((parsed.get("table") or {}).get("columns") or []).lower()
                exists = any(
                    "|".join(((t.get("table") or {}).get("columns")) or []).lower() == new_cols_sig
                    and t.get("title") == start["title"]
                    for t in bmp_cost_tables
                )
                if not exists:
                    pattern_id = _LEGACY_PATTERN_ID.get(start["kind"])
                    pattern_conf = _LEGACY_CONFIDENCE.get(start["kind"], 0.5 if pattern_id else None)
                    bmp_cost_tables.append({"id": tid, "title": start["title"], "table": parsed["table"],
                                            "patternId": pattern_id, "patternConfidence": pattern_conf})
                    bmp_cost_tables_normalized.append({"id": tid, "title": start["title"],
                                                       "patternId": pattern_id, "patternConfidence": pattern_conf,
                                                       **parsed["normalized"]})
        if bmp_cost_tables:
            primary = next((t for t in bmp_cost_tables if t["id"] == "full_project_implementation"), bmp_cost_tables[0])
            primary_norm = next((t for t in bmp_cost_tables_normalized if t["id"] == primary["id"]),
                                bmp_cost_tables_normalized[0])
            bmp_cost_table = primary
            bmp_cost_table_normalized = primary_norm
    except Exception:
        pass  # swallow, like the reference
    return {"bmpCostTable": bmp_cost_table, "bmpCostTableNormalized": bmp_cost_table_normalized,
            "bmpCostTables": bmp_cost_tables, "bmpCostTablesNormalized": bmp_cost_tables_normalized}


# ---------------------------------------------------------------------------
# finalizeReport (reportBuilder.js:658-884)
# ---------------------------------------------------------------------------

_DOLLAR_LINE_RE = re.compile(r"^([A-Z][A-Za-z &/]+?)\s+\$[0-9,]{3,}(?:\.[0-9]{2})?$")
_SKIP_COST_ROW = re.compile(r"^(total|technical assistance|education and outreach|monitoring|project management)$", re.I)
_R_TRAIL_STARS = re.compile(r"\*+$")
_R_BMPS_ONLY = re.compile(r"^bmps\*?$", re.I)
_R_TOTAL_ONLY = re.compile(r"^total$", re.I)
_R_CAT_AQUATIC = re.compile(r"aquatic|fisher", re.I)
_R_CAT_AGRI = re.compile(r"ag\s*bmp|agric|crop", re.I)
_R_CAT_INVASIVE = re.compile(r"noxious|invasive", re.I)


def finalize_report(goals, sections, source_id, source_file, fallback_goal_heuristic_used=False,
                    cost_artifacts=None, raw_text=None, bmp_filter=False):
    ca = cost_artifacts or {}
    bmp_cost_table = ca.get("bmpCostTable")
    bmp_cost_table_normalized = ca.get("bmpCostTableNormalized")
    bmp_cost_tables = ca.get("bmpCostTables")
    bmp_cost_tables_normalized = ca.get("bmpCostTablesNormalized")
    bmps = extract_bmps(sections.get("BMPs") or [])
    bmp_fallback_applied = False
    # --- 1. Cost-table derived BMP injection (J1). NOTE: the reference checks
    # ``ct.rows`` on wrapper objects whose rows live under ``ct.table.rows`` —
    # the injection is therefore a no-op as shipped; preserved for parity.
    cost_tables_for_injection = bmp_cost_tables if bmp_cost_tables else ([bmp_cost_table] if bmp_cost_table else [])
    for ct in cost_tables_for_injection:
        if not (ct and isinstance(ct.get("rows"), list)):
            continue
        existing_lower = {b["name"].lower() for b in bmps}
        for r in ct["rows"]:
            raw_name = r.get(ct["columns"][0]) if ct.get("columns") else None
            if not raw_name:
                continue
            name = _R_TRAIL_STARS.sub("", raw_name).strip()
            if not name or _R_BMPS_ONLY.match(name) or _SKIP_COST_ROW.match(name):
                continue
            lower = name.lower()
            if lower in existing_lower:
                continue
            bmps.append({"id": f"B{len(bmps) + 1}", "name": name, "category": "General", "keyword": None,
                         "quantity": None, "unit": None, "verb": None, "confidence": 0.32,
                         "source": f"cost_table_row:{ct['id']}:{name}"})
            existing_lower.add(lower)
        cost_row_names = [
            n for n in (_R_TRAIL_STARS.sub("", (r.get(ct["columns"][0]) or "")).strip() for r in ct["rows"])
            if n and not _R_BMPS_ONLY.match(n) and not _SKIP_COST_ROW.match(n)
        ]
        # "cost_table_row:" has no regex metachars — substring test is exact
        injected = {b["name"].lower() for b in bmps if "cost_table_row:" in (b.get("source") or "")}
        for n in cost_row_names:
            lower = n.lower()
            if lower not in injected:
                bmps.append({"id": f"B{len(bmps) + 1}", "name": n, "category": "General", "keyword": None,
                             "quantity": None, "unit": None, "verb": None, "confidence": 0.28,
                             "source": f"cost_table_row_late:{n}"})
                injected.add(lower)
    # --- 2. Summary dollar-line mining when BMP section sparse (J2)
    if len(bmps) < 3:
        all_section_lines = [l for v in sections.values() for l in (v if isinstance(v, list) else []) if isinstance(l, str)]
        existing_lower = {b["name"].lower() for b in bmps}
        for line in all_section_lines:
            if "$" not in line:  # '$' is a required literal of the pattern
                continue
            m = _DOLLAR_LINE_RE.match(line.strip())
            if not m:
                continue
            name = m.group(1).strip()
            if _R_TOTAL_ONLY.match(name):
                continue
            lower_name = name.lower()
            if lower_name in existing_lower:
                existing = next((b for b in bmps if b["name"].lower() == lower_name), None)
                if existing:
                    existing["confidence"] = min(0.9, max(existing.get("confidence") or 0.3, 0.55))
                    if "summary_line:" not in (existing.get("source") or ""):
                        existing["source"] = ((existing.get("source") + "|") if existing.get("source") else "") + f"summary_line:{line.strip()}"
                continue
            category = "General"
            if _R_CAT_AQUATIC.search(name):
                category = "Aquatic"
            if _R_CAT_AGRI.search(name):
                category = "Agriculture"
            if _R_CAT_INVASIVE.search(name):
                category = "Invasive Species"
            bmps.append({"id": f"B{len(bmps) + 1}", "name": name, "category": category, "keyword": None,
                         "quantity": None, "unit": None, "verb": None, "confidence": 0.25,
                         "source": f"summary_line:{line.strip()}"})
            existing_lower.add(name.lower())
    # --- Optional post-filter pass (P3)
    bmp_rejected: list[dict] = []
    if bmp_filter:
        try:
            filtered, rejected = filter_bmps(bmps)
            bmps = [{**b, "id": f"B{i + 1}"} for i, b in enumerate(filtered)]
            bmp_rejected = rejected
        except Exception:
            pass
    # --- Multi-source confidence promotion (J3)
    for b in bmps:
        src = b.get("source") or ""
        if "cost_table_row:" in src and "summary_line:" in src:
            b["confidence"] = max(b.get("confidence") or 0, 0.6)
    # --- Name cleanup: strip leaked cost tails
    any_stripped = False
    for b in bmps:
        original = b["name"]
        cleaned = strip_cost_tail(original)
        if cleaned != original:
            b["originalName"] = original
            b["name"] = cleaned
            b["source"] = ((b.get("source") + "|") if b.get("source") else "") + "name_cost_tail_trim"
            any_stripped = True
    if any_stripped:
        seen = set()
        dedup = []
        for b in bmps:
            k = (b.get("name") or "").lower()
            if not k or k in seen:
                continue
            seen.add(k)
            dedup.append(b)
        bmps = dedup
    for i, b in enumerate(bmps):
        b["id"] = f"B{i + 1}"
    # --- Bronze raw-text BMP list mining (E6) — row-carried raw_text
    if not bmps and not (sections.get("BMPs")) and source_id and raw_text:
        try:
            m = re.search(r"(These\s+BMPs\s+include[^\n]*:|These\s+BMPs\s+will[^\n]*:|The\s+BMPs\s+include[^\n]*:)", raw_text, re.I)
            if m:
                start_idx = m.start() + len(m.group(0))
                slice_ = raw_text[start_idx : start_idx + 1200]
                lines = [l.strip() for l in split_newlines(slice_) if l.strip()]
                collected = []
                for line in lines:
                    if re.match(r"^\s*(?:[•\-*]\s+)?[A-Z][A-Za-z0-9 /&()'-]{2,}$", re.sub(r"[,;:.]+$", "", line)):
                        name = re.sub(r"[,;:.]+$", "", re.sub(r"^([•\-*]\s+)", "", line)).strip()
                        if re.match(r"^(Total|Summary)$", name, re.I):
                            break
                        if len(re.split(r"\s+", name)) > 12:
                            continue
                        collected.append(name)
                        continue
                    if collected and "." in line:
                        break
                if collected:
                    seen = set()
                    for n in collected:
                        lower = n.lower()
                        if lower in seen:
                            continue
                        seen.add(lower)
                        bmps.append({"id": f"B{len(bmps) + 1}", "name": n, "category": "General",
                                     "keyword": None, "quantity": None, "unit": None, "verb": None,
                                     "confidence": 0.22, "source": "bronze_fallback:list"})
                    bmp_fallback_applied = True
        except Exception:
            pass
    if bmp_fallback_applied:
        for i, b in enumerate(bmps):
            b["id"] = f"B{i + 1}"
    impl_lines = sections.get("Implementation")
    if impl_lines is None:
        impl_lines = sections.get("Activities")
    activities = extract_activities(impl_lines or [])
    implementation = [
        {"id": re.sub(r"^A", "I", a["id"], count=1), "description": a["description"],
         "date": f"{a['dueYear']}-01-01" if a["dueYear"] else None, "target": None, "achieved": None,
         "source": a["source"]}
        for a in activities
    ]
    monitoring = parse_monitoring(sections.get("Monitoring") or [])
    outreach = parse_outreach(sections.get("Outreach") or [])
    geographic_areas = parse_geography(sections.get("Geography") or [])
    goal_completed = sum(1 for g in goals if g.get("status") == "completed")
    goal_in_progress = sum(1 for g in goals if g.get("status") == "in_progress")
    goal_planned = sum(1 for g in goals if g.get("status") == "planned")
    avg_goal_confidence = (sum(g.get("confidence") or 0 for g in goals) / len(goals)) if goals else 0
    bmp_category_counts: dict[str, int] = {}
    for b in bmps:
        bmp_category_counts[b["category"]] = bmp_category_counts.get(b["category"], 0) + 1
    summary = {
        "totalGoals": len(goals),
        "totalBMPs": len(bmps),
        "totalActivities": len(activities),
        "primaryGoals": sum(1 for g in goals if g.get("isPrimary")),
        "completionRate": (goal_completed / len(goals)) if goals else 0,
        "totalMetrics": len(monitoring),
        "goalStatus": {
            "completed": goal_completed,
            "inProgress": goal_in_progress,
            "planned": goal_planned,
            "pctCompleted": (goal_completed / len(goals)) if goals else 0,
            "pctInProgress": (goal_in_progress / len(goals)) if goals else 0,
            "pctPlanned": (goal_planned / len(goals)) if goals else 0,
        },
        "bmpCategories": bmp_category_counts,
        "avgGoalConfidence": avg_goal_confidence,
        "strongGoals": sum(1 for g in goals if (g.get("confidence") or 0) >= 0.7),
    }
    return {
        "id": source_id or None,
        "summary": summary,
        "goals": goals,
        "mainGoals": [g for g in goals if g.get("isPrimary")],
        "bmps": bmps,
        "bmpRejected": bmp_rejected if bmp_rejected else None,
        "bmpCostTable": bmp_cost_table,
        "bmpCostTableNormalized": bmp_cost_table_normalized,
        "bmpCostTables": bmp_cost_tables or None,
        "bmpCostTablesNormalized": bmp_cost_tables_normalized or None,
        "activities": activities,
        "implementation": implementation,
        "monitoring": monitoring,
        "outreach": outreach,
        "geographicAreas": geographic_areas,
        "generatedAt": None,  # deterministic: excluded from parity (FIXTURES.md §2)
        "metadata": {
            "sourceId": source_id,
            "sourceFile": source_file,
            "enrichmentVersion": 3,
            "fallbackGoalHeuristicUsed": fallback_goal_heuristic_used,
            "bmpFallbackApplied": bmp_fallback_applied,
            "costPatternsDetected": [
                {"id": t.get("patternId"), "title": t.get("title"),
                 "confidence": t.get("patternConfidence"),
                 "totalReported": t.get("totalReported"), "totalComputed": t.get("totalComputed")}
                for t in (bmp_cost_tables_normalized or []) if t and t.get("patternId")
            ],
        },
    }


# ---------------------------------------------------------------------------
# buildStructuredReport (reportBuilder.js:886-1210)
# ---------------------------------------------------------------------------

_BRONZE_NORM = [
    (re.compile(r"[“”]"), '"'),
    (re.compile(r"â€œ|â|ΓÇ£"), '"'),
    (re.compile(r"â€|ΓÇ¥"), '"'),
    (re.compile(r"â€™|ΓÇÖ", re.I), "'"),
    (re.compile(r"â€“|â€”|ΓÇô"), "-"),
    (re.compile(r"\s+"), " "),
]

_STREAM_FALLBACK_NORM = [
    (re.compile(r"[“”]"), '"'),
    (re.compile(r"â€œ|â"), '"'),
    (re.compile(r"â€"), '"'),
    (re.compile(r"â€™"), "'"),
    (re.compile(r"\s+"), " "),
]


def _apply(s, chain):
    for rx, rep in chain:
        s = rx.sub(rep, s)
    return s


def _maybe_pass3(report: dict, raw_text: str | None, enabled: bool) -> dict:
    """Optional pass-3 aggressive cost-cluster enrichment: only fires when
    the report has NO normalized cost tables, exactly like the reference's
    enrich_silver_costs_pass3.js gating."""
    if enabled and raw_text:
        from .pass3 import enrich_report_pass3

        enrich_report_pass3(report, raw_text)
    return report


def build_structured_report(sections: dict, source_id=None, source_file=None,
                            raw_text: str | None = None, bmp_filter: bool = False,
                            raw_tables: bool = True, enrich_pass3: bool = False) -> dict:
    """``raw_tables`` controls whether the cost-table scan also sees the raw
    (unsectioned) lines. In the reference those lines flow in only through
    the ``__RAW_WHOLE_TEXT__`` global, which ONLY rebuild_single_report.js
    sets — the /process route and batch scripts run the scan on sectioned
    lines alone, while the E8/E6/E7 raw-text fallbacks read the bronze file
    from disk and do see the raw text. Default True (our fused engine feeds
    the whole document; supersedes the reference's enrichment re-passes);
    pass False to reproduce the reference's shipped silver exactly."""
    # Cost-table artifacts up front (independent of goal path)
    cost_artifacts = parse_cost_table(sections, raw_text=raw_text if raw_tables else None)

    # --- Deterministic raw-text slice for primary goal (E8) -------------------
    precomputed_goals = None
    if source_id and raw_text:
        try:
            lower = raw_text.lower()
            start = lower.find("the ultimate goal is to bring about")
            if start != -1:
                slice_ = raw_text[start : start + 1500]
                end_pos = slice_.lower().find("watershed.")
                if end_pos != -1:
                    sentence = _apply(slice_[: end_pos + len("watershed.")], _BRONZE_NORM).strip()
                    if _RX_GOAL_WORD.search(sentence) and _RX_WATERSHED_DOT_END.search(sentence):
                        precomputed_goals = [{
                            "id": "G1", "title": sentence, "status": infer_status(sentence),
                            "pollutant": _poll_group(sentence), "parameter": _poll_group(sentence),
                            "reductionPercent": None, "baselineValue": None, "baselineUnit": None,
                            "targetValue": None, "targetUnit": None, "achievedValue": None,
                            "achievedUnit": None, "loadReductionValue": None, "loadReductionUnit": None,
                            "deadline": None, "deadlineYear": None, "baselineYear": None,
                            "achievedYear": None, "targetYear": None, "responsible": None,
                            "source": sentence, "confidence": 0.95, "isPrimary": True,
                            "primaryReason": "bronze_direct_slice", "description": sentence,
                            "originalSentence": sentence,
                            "shortTitle": sentence if len(sentence) <= 140
                            else " ".join(_RX_WS.split(sentence)[:14]) + "…",
                        }]
        except Exception:
            pass
    if precomputed_goals:
        return _maybe_pass3(
            finalize_report(precomputed_goals, sections, source_id, source_file, False,
                            cost_artifacts, raw_text=raw_text, bmp_filter=bmp_filter),
            raw_text, enrich_pass3)

    goal_source_lines = list(sections["Goals"]) if sections.get("Goals") is not None else []
    has_truncated_ultimate = any(
        _RX_ULT_BRING.search(l) and _RX_USE_OF_END.search(l.strip())
        for l in goal_source_lines
    )
    if has_truncated_ultimate:
        all_lines = [l for v in sections.values() if isinstance(v, list) for l in v]
        if all_lines:
            goal_source_lines = goal_source_lines + all_lines
            seen = set()
            deduped = []
            for l in goal_source_lines:
                if l in seen:
                    continue
                seen.add(l)
                deduped.append(l)
            goal_source_lines = deduped
        all_raw = "\n".join(l for v in sections.values() if isinstance(v, list) for l in v)
        norm = _apply(all_raw, _STREAM_FALLBACK_NORM)
        start_idx = norm.lower().find("the ultimate goal is to bring about")
        if start_idx != -1:
            window = norm[start_idx : start_idx + 600]
            end_match = _RX_QOL_WATERSHED_DOT.search(window) or _RX_WATERSHED_DOT.search(window)
            if end_match:
                end_pos = window.lower().find(end_match.group(0).lower()) + len(end_match.group(0))
                sentence = window[:end_pos].strip()
                if _RX_BMP_PRACTICES.search(sentence) and _RX_OVERALL_QOL.search(sentence):
                    goal_source_lines.append(sentence)
    goals = extract_goals(goal_source_lines)
    # --- Raw-text streaming fallback for single truncated goal ----------------
    if len(goals) == 1 and _RX_USE_OF_END.search(goals[0]["title"]) and source_id and raw_text:
        try:
            raw = raw_text.replace("\r", "")
            lower = raw.lower()
            idx = lower.find("the ultimate goal")
            if idx == -1:
                idx = lower.find("overall goal")
            if idx == -1:
                idx = lower.find("primary goal")
            if idx == -1:
                idx = lower.find(" goal ")
            if idx != -1:
                slice_ = raw[idx : idx + 1000]
                sm = _RX_FIRST_SENT.match(slice_)
                if sm:
                    sentence = _apply(sm.group(0), _STREAM_FALLBACK_NORM).strip()
                    if _RX_GOAL_WORD.search(sentence) and _RX_WATERSHED_DOT.search(sentence):
                        g0 = goals[0]
                        g0["title"] = sentence
                        g0["source"] = sentence
                        g0["description"] = sentence
                        g0["originalSentence"] = sentence
                        g0["shortTitle"] = sentence if len(sentence) <= 140 else " ".join(_RX_WS.split(sentence)[:14]) + "…"
                        g0["confidence"] = max(g0.get("confidence") or 0.5, 0.85)
                        g0["primaryReason"] = g0.get("primaryReason") or "raw_stream_fallback"
                        g0["isPrimary"] = True
        except Exception:
            pass
    # --- Fallback goal heuristics (E7) ----------------------------------------
    fallback_goal_heuristic_used = False
    if not goals:
        candidate_sections = ["Monitoring", "Implementation", "Activities", "BMPs", "Outreach"]
        candidate_lines = []
        for sec in candidate_sections:
            for line in sections.get(sec) or []:
                if _RX_GOAL_PREFIX.match(line) or _RX_GOAL_COLON.search(line):
                    candidate_lines.append(line)
        if candidate_lines:
            fb_goals = extract_goals(candidate_lines)
            if fb_goals:
                goals.extend(fb_goals)
                fallback_goal_heuristic_used = True
        if not goals:
            broad_candidates = []
            for sec in sections:
                for line in sections.get(sec) or []:
                    if _RX_GOAL_WORD.search(line):
                        for s in split_sentences(line):
                            if _RX_GOAL_WORD.search(s):
                                broad_candidates.append(s.strip())
            if broad_candidates:
                broad_goals = extract_goals(broad_candidates)
                if broad_goals:
                    goals.extend(broad_goals)
                    fallback_goal_heuristic_used = True
        if not goals and isinstance(sections.get("uncategorized"), list):
            semantic_patterns = _RX_SEMANTIC_GOAL
            semantic_lines = []
            for line in sections.get("uncategorized") or []:
                if semantic_patterns.search(line):
                    for s in split_sentences(line):
                        if semantic_patterns.search(s):
                            semantic_lines.append(s.strip())
            if semantic_lines:
                sem_goals = extract_goals(semantic_lines)
                if sem_goals:
                    goals.extend(sem_goals)
                    fallback_goal_heuristic_used = True
    # --- Description / shortTitle enrichment ----------------------------------
    if goals:
        starter_regex = _RX_GOAL_STARTER_DESC
        for g in goals:
            original_sentence = g["title"]
            extended = (
                g["fullParagraph"]
                if g.get("fullParagraph") and len(g["fullParagraph"]) > len(original_sentence)
                else original_sentence
            )
            g["description"] = extended
            g["originalSentence"] = original_sentence
            if not starter_regex.search(g["description"][:160]):
                match = starter_regex.search(g["description"])
                if match and match.start() > 0:
                    g["description"] = g["description"][match.start() :].strip()
            g["description"] = _RX_AS_COMMA.sub("", g["description"])
            g["description"] = _RX_AS_WORD.sub("", g["description"])
            base_short = (
                original_sentence if len(original_sentence) <= 140
                else " ".join(_RX_WS.split(original_sentence)[:14]) + "…"
            )
            if base_short:
                g["shortTitle"] = base_short
    return _maybe_pass3(
        finalize_report(goals, sections, source_id, source_file, fallback_goal_heuristic_used,
                        cost_artifacts, raw_text=raw_text, bmp_filter=bmp_filter),
        raw_text, enrich_pass3)

"""Cost-table pattern registry (declarative scan operators).

17 registered patterns + legacy inline kinds, preserving the reference's
ordering, window sizes, thresholds, and subsumption-dedupe exactly.
Refs: backend/services/patterns/costTablePatterns.js (registry + driver),
backend/services/reportBuilder.js:117-655 (legacy kinds + integration).

Interface per pattern: ``(id, header_test(line, all_lines, i) -> bool,
parse(all_lines, start_index) -> dict | None)`` where the parse result carries
``table`` (raw columns/rows) and ``normalized`` (rows with name/quantity/unit/
unitCost/totalCost..., totals, discrepancy, patternId, patternConfidence).
"""

from __future__ import annotations

import re

from .textutil import canonicalize_unit, js_parse_float, js_to_locale_string, money_to_number

MONEY = r"\$[0-9][0-9,]*(?:\.[0-9]{2})?"
_MONEY_RX = re.compile(MONEY)
_HAS_DOLLAR = re.compile(r"\$[0-9]")
_ALPHA3 = re.compile(r"[A-Za-z]{3,}")


def _money_all(line: str) -> list[str]:
    return _MONEY_RX.findall(line or "")


# Window-scanning header tests re-examine the same lines from many start
# positions (O(lines x window)); memoizing these per-line predicates makes
# that O(lines) without changing any result.
from functools import lru_cache


@lru_cache(maxsize=16384)
def _money_count(line: str) -> int:
    return len(_MONEY_RX.findall(line))


@lru_cache(maxsize=16384)
def _alpha3(line: str) -> bool:
    return bool(_ALPHA3.search(line))


@lru_cache(maxsize=16384)
def _has_dollar(line: str) -> bool:
    return bool(_HAS_DOLLAR.search(line))


def _pf(s: str) -> float | None:
    return js_parse_float(s.replace(",", "")) if s is not None else None


# --------------------------------------------------------------------------
# Registered patterns (order preserved; adaptive fallback appended last)
# --------------------------------------------------------------------------


def _sparse_header(line, all_lines, i):
    if not _has_dollar(line):
        return False
    if _money_count(line) != 1:
        return False
    if not _alpha3(line):
        return False
    count = 0
    scanned = 0
    k = i
    while k < len(all_lines) and scanned < 70:
        L = all_lines[k]
        k += 1
        scanned += 1
        if not L:
            continue
        if _money_count(L) == 1 and _alpha3(L):
            count += 1
    return count >= 5


def _sparse_parse(all_lines, start_index):
    rows = []
    blanks = 0
    max_span = start_index + 140
    for i in range(start_index, min(len(all_lines), max_span)):
        L = all_lines[i]
        if not L:
            blanks += 1
            if blanks >= 2:
                break
            continue
        blanks = 0
        dollars = _money_all(L)
        if len(dollars) == 1 and _ALPHA3_RUN.search(L):
            m = _NAME_MONEY_EOL.match(L)
            if m:
                name = _TRAIL_PUNCT_SUB.sub("", m.group(1).strip())
                if name:
                    rows.append({"Item": name, "Cost": m.group(2), "Raw": L})
    if len(rows) < 5:
        return None
    total = 0.0
    norm = []
    for r in rows:
        val = money_to_number(r["Cost"])
        if val is not None:
            total += val
        norm.append({"name": r["Item"], "totalCost": val, "rawCost": r["Cost"]})
    dollar_idx = []
    for r in rows:
        try:
            dollar_idx.append(all_lines.index(r["Raw"]))
        except ValueError:
            dollar_idx.append(-1)
    return {
        "table": {"columns": ["Item", "Cost"], "rows": [{"Item": r["Item"], "Cost": r["Cost"]} for r in rows], "total": None},
        "normalized": {"rows": norm, "totalReported": None, "totalComputed": total, "discrepancy": None,
                       "patternId": "sparse_inline_costs", "patternConfidence": 0.45},
        "dollarLineIndices": dollar_idx,
    }


# Precompiled hot-parse patterns: identical literals to the inline re.*
# calls they replace (the registry driver runs these parsers per candidate
# line, and module-level re.match/search/sub pays a compile-cache probe per
# call — measurable at 40k docs).
_ALPHA3_RUN = re.compile(r"[A-Za-z]{3,}")
_NAME_MONEY_EOL = re.compile(r"^(.*?)(" + MONEY + r")\s*$")
_TRAIL_PUNCT_SUB = re.compile(r"[:•\-]+\s*$")
_LEAD_BULLET_ONE = re.compile(r"[\-•]+\s*")
_SPAN_HDR4 = re.compile(r"^(Goal|Objective|Section|Table)\b", re.I)
_SUBTOTAL_HDR = re.compile(r"^Subtotal:", re.I)
_SUBTOTAL_AMT = re.compile(r"Subtotal:\s*\$([0-9][0-9,]*(?:\.[0-9]{2})?)", re.I)
_CONT_ROW_START = re.compile(r"^(?:\(|for\b|to\b|and\b)", re.I)
_ROMAN_SEC = re.compile(r"^(I+\.)\s+", re.I)
_IMPL_END = re.compile(r"^III\.|^Section\s+3|^VII\.", re.I)
_TRAIL_DOTS_SUB = re.compile(r"\.+$")
_TOTAL_EST_LINE = re.compile(r"^Total\s+Estimated\s+Project\s+Cost", re.I)
_GEN_ACT_END = re.compile(r"Element\s+[A-I]:|Technical Assistance|Education/Outreach", re.I)
_NAME_WS_MONEY_EOL = re.compile(r"^(.*?)\s+(" + MONEY + r")\s*$")
_LEAD_DASH_SUB = re.compile(r"^[-•]+\s*")
_SIZE_TOKEN = re.compile(r"([0-9][0-9,]*\s*(ft|feet|ac|acre|acres|each|ea|structures|ponds?)|[0-9][0-9,]*\s*@)", re.I)
_ADAPT_END = re.compile(r"(Goal|Objective|Section|Table\s+\d+|Implementation Plan)", re.I)
_ITEM_2MONEY = re.compile(r"^(.*?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)(?:\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?))?\s*$")
_TOTAL_DOLLAR_LINE = re.compile(r"^Total\s*\$[0-9]", re.I)
_BOOTHS_END = re.compile(r"In addition to these costs|Element\s+[A-I]:", re.I)
_TOTAL_ANY_DOLLAR = re.compile(r"^Total.*\$[0-9]", re.I)
_PHASE1_END = re.compile(r"Technical Assistance|Education and Outreach|Monitoring|Project Management", re.I)
_NON_NUMDOT_SUB = re.compile(r"[^0-9.]")
_TOTAL_EST_WORD = re.compile(r"Total Estimated Project Cost", re.I)
_ACT_MATCH_ROW = re.compile(r"(.*?)(" + MONEY + r")(?:\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?))?\s*$")
_TRAIL_COLONS_SUB = re.compile(r":+$")
_LEAD_BMPS_SUB = re.compile(r"^BMPs\s*", re.I)
_TOTAL_UPPER = re.compile(r"^TOTAL", re.I)
_TOTAL_WORD = re.compile(r"TOTAL", re.I)
_UNIT_WORD = re.compile(r"(acres?|acre|ft|feet|sqft|structures|each|ea|ponds?)", re.I)
_PRACTICE_ONLY = re.compile(r"^Practice\s*$", re.I)
_UNIT_COST_LIT = re.compile(r"Unit Cost", re.I)
_TOTAL_COST_LIT = re.compile(r"Total Cost", re.I)
_TOTAL_ONLY = re.compile(r"^Total\s*$", re.I)
_TOTALS_WORD = re.compile(r"Totals", re.I)
_MULTI_WS2 = re.compile(r"\s{2,}")
_TOTAL_PREFIX = re.compile(r"^Total", re.I)
_TABLE_GOAL_OBJ = re.compile(r"Table\s+\d+|Goal|Objective", re.I)
_NUM_GRP = re.compile(r"([0-9][0-9,]*)")
_LEAD_NUM_SUB = re.compile(r"^[0-9][0-9,]*")
_ELEMENT_AI = re.compile(r"Element\s+[A-I]:", re.I)
_TOTAL_EST_PROJ_WORD = re.compile(r"Total\s+Estimated\s+Project\s+Cost", re.I)
_NAME_MONEY_MATCH_EOL = re.compile(r"^(.*?)\s+(" + MONEY + r")(?:\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?))?\s*$")
_SIZE_AT_OR_NUM = re.compile(r"(\b[0-9][0-9,]*\b.*@|\b[0-9][0-9,]*\b|N/A)")
_LOWDO_PARTICIPANTS = re.compile(r"Low DO/Organic|Participants", re.I)
_TECH_ASSIST_T82 = re.compile(r"Technical Assistance|Table\s*8\.2", re.I)
_MONEY_LOOSE_DEC = re.compile(r"\$([0-9][0-9,]*(?:\.[0-9]+)?)")
_TOTAL_MONEY_HDR = re.compile(r"^Total\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)", re.I)
_NAME_MONEY_STRICT_EOL = re.compile(r"^(.*?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$")


_KNOWN_HEADERS = re.compile(r"Practice\s+Producer\s+NRCS|Activity\s+Size|Practice\s+Average\s+Unit", re.I)


def _narrative_header(line, all_lines, i):
    if not _has_dollar(line):
        return False
    if _KNOWN_HEADERS.search(line):
        return False
    count = 0
    for k in range(i, min(i + 12, len(all_lines))):
        l = all_lines[k]
        if not l or l.isspace():
            break
        if _has_dollar(l):
            count += 1
        else:
            break
    return count >= 4


def _narrative_parse(all_lines, start_index):
    rows = []
    j = start_index
    while j < len(all_lines) and j < start_index + 40:
        l = all_lines[j]
        if not l or l.isspace():
            break
        if not _HAS_DOLLAR.search(l):
            break
        m = _NAME_MONEY_EOL.match(l)
        if m:
            name = _LEAD_BULLET_ONE.sub("", m.group(1).strip(), count=1)
            if name:
                rows.append({"Item": name, "Cost": m.group(2)})
        j += 1
    if len(rows) < 4:
        return None
    total = 0.0
    norm = []
    for r in rows:
        val = money_to_number(r["Cost"])
        if val is not None:
            total += val
        norm.append({"name": r["Item"], "totalCost": val, "rawCost": r["Cost"]})
    return {
        "table": {"columns": ["Item", "Cost"], "rows": rows, "total": None},
        "normalized": {"rows": norm, "totalReported": None, "totalComputed": total, "discrepancy": None,
                       "patternId": "narrative_cost_block", "patternConfidence": 0.55},
        "dollarLineIndices": [start_index + i for i in range(len(rows))],
    }


_CODE_TRIGGER = re.compile(r"^(?:\*?)([A-Z]{1,2}[0-9]{1,3})\.[\s\-]+.*?" + MONEY)
_CODE_ROW = re.compile(r"^(?:\*?)([A-Z]{1,2}[0-9]{1,3})\.[\s\-]+(.+?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)(?:\s+\(.*?\))?\s*$")


def _coded_loose_header(line, all_lines, i):
    if not _CODE_TRIGGER.search(line):
        return False
    ahead = sum(1 for l in all_lines[i + 1 : i + 15] if l and _CODE_TRIGGER.search(l))
    return ahead >= 2


def _coded_loose_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 160]
    rows = []
    section = None
    grand_total = 0.0
    for raw in window:
        if not raw:
            break
        if _SPAN_HDR4.match(raw):
            break
        if _SUBTOTAL_HDR.match(raw):
            m_sub = _SUBTOTAL_AMT.search(raw)
            if m_sub:
                grand_total += _pf(m_sub.group(1)) or 0.0
            continue
        m = _CODE_ROW.match(raw)
        if m:
            amount_num = _pf(m.group(3))
            rows.append({"Code": m.group(1), "Description": m.group(2).strip(), "Amount": "$" + m.group(3), "Section": section})
            if amount_num is not None:
                grand_total += amount_num
            continue
        if rows and _CONT_ROW_START.match(raw.strip()) and not _HAS_DOLLAR.search(raw):
            rows[-1]["Description"] += " " + raw.strip()
            continue
        if len(rows) >= 5:
            break
    if len(rows) < 5:
        return None
    norm = [{"name": f"{r['Code']} {r['Description']}", "code": r["Code"], "section": r["Section"],
             "totalCost": money_to_number(r["Amount"]), "rawCost": r["Amount"]} for r in rows]
    total_computed = sum(b["totalCost"] or 0 for b in norm)
    return {
        "table": {"columns": ["Code", "Description", "Amount", "Section"], "rows": rows, "total": grand_total or None},
        "normalized": {"rows": norm, "totalReported": grand_total or None, "totalComputed": total_computed,
                       "discrepancy": (grand_total - total_computed) if grand_total else None,
                       "patternId": "coded_activity_budget_loose", "patternConfidence": 0.68},
        "dollarLineIndices": [start_index + i for i in range(len(rows))],
    }


_RANGE_ROW_TRIGGER = re.compile(
    r"^(.*?)\s+" + MONEY + r"(?:\s*-\s*" + MONEY + r")?\s+[0-9][0-9,].*?\s+" + MONEY
)
_PRACTICE_UNIT_COST = re.compile(r"Practice\s+Unit\s+Cost", re.I)
_NUMBER_OF_UNITS = re.compile(r"Number\s+of\s+Units", re.I)
_TOTAL_COST_RX = re.compile(r"Total\s+Cost", re.I)


@lru_cache(maxsize=16384)
def _range_row_hit(line: str) -> bool:
    return bool(_RANGE_ROW_TRIGGER.search(line))


def _practice_range_header(line, all_lines, i):
    if _PRACTICE_UNIT_COST.search(line) and _NUMBER_OF_UNITS.search(line) and _TOTAL_COST_RX.search(line):
        return True
    if not _range_row_hit(line):
        return False
    count = sum(1 for l in all_lines[i + 1 : i + 16] if l and _range_row_hit(l))
    return count >= 2


_PRACTICE_RANGE_ROW = re.compile(
    r"^(.*?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)(?:\s*-\s*\$([0-9][0-9,]*(?:\.[0-9]{2})?))?\s+"
    r"([0-9][0-9,]*(?:\s*(?:ac|acre|acres|ft|feet|mi|machines?|hrs?|hours?|units?|basins?|ac|ea))?"
    r"(?:\s*x\s*[0-9][0-9,]*\s*ft)?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)(?:\s*-\s*\$([0-9][0-9,]*(?:\.[0-9]{2})?))?\s*$",
    re.I,
)


def _range_norm_rows(rows):
    norm = []
    for r in rows:
        qty_m = _NUM_GRP.search(r["Units"])
        quantity = _pf(qty_m.group(1)) if qty_m else None
        unit_tok = _LEAD_NUM_SUB.sub("", r["Units"]).strip().split()
        unit_tok = unit_tok[0] if unit_tok else None
        unit = canonicalize_unit(unit_tok) if unit_tok else None
        total_cost = (r["totalMin"] + r["totalMax"]) / 2
        norm.append({
            "name": r["Name"], "quantity": quantity, "unit": unit, "unitRaw": unit_tok or None,
            "unitCost": ((r["unitMin"] + r["unitMax"]) / 2) if (r["unitMin"] and r["unitMax"]) else r["unitMin"],
            "totalCost": total_cost, "rawSize": r["Units"], "rawCost": r["TotalCostRaw"],
            "unitCostMin": r["unitMin"], "unitCostMax": r["unitMax"],
            "totalCostMin": r["totalMin"], "totalCostMax": r["totalMax"],
        })
    return norm


def _practice_range_parse(all_lines, start_index):
    window = all_lines[start_index + 1 : start_index + 120]
    rows = []
    reported_min = reported_max = None
    for raw in window:
        if not raw:
            break
        if _TOTAL_PREFIX.match(raw.strip()):
            dollars = [_pf(d.replace("$", "")) for d in _money_all(raw)]
            if dollars:
                nums = sorted(v for v in dollars if v is not None)
                if nums:
                    reported_min, reported_max = nums[0], nums[-1]
            break
        if _TABLE_GOAL_OBJ.search(raw):
            break
        if _HAS_DOLLAR.match(raw.strip()) and rows:
            rows[-1].setdefault("continuation", []).append(raw.strip())
            continue
        m = _PRACTICE_RANGE_ROW.match(raw)
        if m:
            unit_min = _pf(m.group(2))
            unit_max = _pf(m.group(3)) if m.group(3) else unit_min
            tot_min = _pf(m.group(5))
            tot_max = _pf(m.group(6)) if m.group(6) else tot_min
            rows.append({
                "Name": m.group(1).strip(),
                "UnitCostRaw": m.group(2) + ((" - " + m.group(3)) if m.group(3) else ""),
                "Units": m.group(4).strip(),
                "TotalCostRaw": m.group(5) + ((" - " + m.group(6)) if m.group(6) else ""),
                "unitMin": unit_min, "unitMax": unit_max, "totalMin": tot_min, "totalMax": tot_max,
            })
    if not rows:
        return None
    norm = _range_norm_rows(rows)
    total_reported = ((reported_min + reported_max) / 2) if (reported_min is not None and reported_max is not None) else None
    total_computed = sum(b["totalCost"] or 0 for b in norm) or None
    return {
        "table": {"columns": ["Practice", "Unit Cost", "Number of Units", "Total Cost"],
                  "rows": [{"Practice": r["Name"], "Unit Cost": r["UnitCostRaw"], "Number of Units": r["Units"],
                            "Total Cost": r["TotalCostRaw"]} for r in rows],
                  "total": total_reported},
        "normalized": {"rows": norm, "totalReported": total_reported, "totalComputed": total_computed,
                       "discrepancy": (total_reported - total_computed) if (total_reported is not None and total_computed is not None) else None,
                       "patternId": "practice_unit_cost_range", "patternConfidence": 0.78},
        "dollarLineIndices": [start_index + 1 + i for i in range(len(rows))],
    }


_ACTIVITY_UNIT_COST = re.compile(r"Activity\s+Unit\s+cost", re.I)


def _activity_range_header(line, all_lines, i):
    if _ACTIVITY_UNIT_COST.search(line) and _NUMBER_OF_UNITS.search(line) and _TOTAL_COST_RX.search(line):
        return True
    if not _range_row_hit(line):
        return False
    count = sum(1 for l in all_lines[i + 1 : i + 15] if l and _range_row_hit(l))
    return count >= 2


_ACTIVITY_RANGE_ROW = re.compile(
    r"^(.*?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)(?:\s*-\s*\$([0-9][0-9,]*(?:\.[0-9]{2})?))?\s+"
    r"([0-9][0-9,]*(?:\s*(?:ac|acre|acres|ft|feet|mi|units?|ea|feet))?(?:\s*x\s*[0-9][0-9,]*\s*ft)?)\s+"
    r"\$([0-9][0-9,]*(?:\.[0-9]{2})?)(?:\s*-\s*\$([0-9][0-9,]*(?:\.[0-9]{2})?))?\s*$",
    re.I,
)


def _activity_range_parse(all_lines, start_index):
    window = all_lines[start_index + 1 : start_index + 100]
    rows = []
    reported_total = None
    for raw in window:
        if not raw:
            break
        if _TOTAL_WORD.search(raw.strip()):
            d = [_pf(m.replace("$", "")) for m in _money_all(raw)]
            d = [v for v in d if v is not None]
            if d:
                reported_total = sum(d) / len(d)
            break
        if _TABLE_GOAL_OBJ.search(raw):
            break
        m = _ACTIVITY_RANGE_ROW.match(raw)
        if m:
            unit_min = _pf(m.group(2))
            unit_max = _pf(m.group(3)) if m.group(3) else unit_min
            tot_min = _pf(m.group(5))
            tot_max = _pf(m.group(6)) if m.group(6) else tot_min
            rows.append({
                "Name": m.group(1).strip(),
                "UnitCostRaw": m.group(2) + ((" - " + m.group(3)) if m.group(3) else ""),
                "Units": m.group(4).strip(),
                "TotalCostRaw": m.group(5) + ((" - " + m.group(6)) if m.group(6) else ""),
                "unitMin": unit_min, "unitMax": unit_max, "totalMin": tot_min, "totalMax": tot_max,
            })
    if not rows:
        return None
    norm = []
    for r in rows:
        qty_m = _NUM_GRP.search(r["Units"])
        quantity = _pf(qty_m.group(1)) if qty_m else None
        unit_tok = _LEAD_NUM_SUB.sub("", r["Units"]).strip().split()
        unit_tok = unit_tok[0] if unit_tok else None
        norm.append({
            "name": r["Name"], "quantity": quantity,
            "unit": canonicalize_unit(unit_tok) if unit_tok else None, "unitRaw": unit_tok or None,
            "unitCost": (r["unitMin"] + r["unitMax"]) / 2,
            "totalCost": (r["totalMin"] + r["totalMax"]) / 2,
            "rawSize": r["Units"], "rawCost": r["TotalCostRaw"],
            "unitCostMin": r["unitMin"], "unitCostMax": r["unitMax"],
            "totalCostMin": r["totalMin"], "totalCostMax": r["totalMax"],
        })
    total_computed = sum(b["totalCost"] or 0 for b in norm) or None
    return {
        "table": {"columns": ["Activity", "Unit cost*", "Number of units", "Total cost"],
                  "rows": [{"Activity": r["Name"], "Unit cost*": r["UnitCostRaw"], "Number of units": r["Units"],
                            "Total cost": r["TotalCostRaw"]} for r in rows],
                  "total": reported_total},
        "normalized": {"rows": norm, "totalReported": reported_total, "totalComputed": total_computed,
                       "discrepancy": (reported_total - total_computed) if (reported_total is not None and total_computed is not None) else None,
                       "patternId": "activity_unit_cost_range", "patternConfidence": 0.75},
        "dollarLineIndices": [start_index + 1 + i for i in range(len(rows))],
    }


_NRCS_ROW = re.compile(
    r"^(.*?)\s+\$?([0-9][0-9,]*(?:\.[0-9]{2})?)\s+([0-9][0-9,]*)\s+"
    r"(acres?|acre|ft|feet|sqft|structures|each|ea|ponds?|ac)\s+\$?([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$",
    re.I,
)


def _nrcs_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 50]
    rows = []
    reported_total = None
    for line in window[1:]:
        if not line:
            continue
        if _TOTAL_UPPER.match(line.strip()):
            m = _MONEY_RX.search(line)
            if m:
                reported_total = money_to_number(m.group(0))
            break
        m = _NRCS_ROW.match(line)
        if m:
            rows.append({
                "Practice": m.group(1).strip(),
                "Average Unit NRCS Cost": "$" + m.group(2).lstrip("$"),
                "Units": f"{m.group(3)} {m.group(4)}",
                "Total Cost": "$" + m.group(5).lstrip("$"),
            })
    if not rows:
        return None
    total = 0.0
    norm = []
    for r in rows:
        unit_cost = money_to_number(r["Average Unit NRCS Cost"])
        qty = js_parse_float(_NON_NUMDOT_SUB.sub("", r["Units"]))
        t = money_to_number(r["Total Cost"])
        if t is not None:
            total += t
        unit_m = _UNIT_WORD.search(r["Units"])
        unit = canonicalize_unit(unit_m.group(1)) if unit_m else None
        per_unit = unit_cost if (unit_cost and qty) else (t / qty if (qty and t) else None)
        norm.append({"name": r["Practice"], "quantity": qty if qty is not None else None, "unit": unit,
                     "unitRaw": unit_m.group(1) if unit_m else None, "unitCost": per_unit, "totalCost": t,
                     "rawSize": r["Units"], "rawCost": r["Total Cost"]})
    return {
        "table": {"columns": ["Practice", "Average Unit NRCS Cost", "Units", "Total Cost"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm, "totalReported": reported_total, "totalComputed": total,
                       "discrepancy": (reported_total - total) if reported_total is not None else None,
                       "patternId": "practice_unit_nrcs_costs", "patternConfidence": 0.85},
    }


_MULTI_FUND_HEADER = re.compile(r"Practice\s+Producer\s+NRCS\s+(EPA-?MDEQ|EPA\s*MDEQ)\s+Total", re.I)
_MULTI_FUND_HEADER2 = re.compile(r"Projected\s+Costs.*Practice.*Producer.*NRCS.*(EPA-?MDEQ|EPA\s*MDEQ).*Total", re.I)
_MULTI_FUND_ROW = re.compile(
    r"^(.*?) \$ ?([0-9][0-9,]*(?:\.[0-9]{2})?|-) \$ ?([0-9][0-9,]*(?:\.[0-9]{2})?|-)"
    r" \$ ?([0-9][0-9,]*(?:\.[0-9]{2})?|-)(?: \$ ?([0-9][0-9,]*(?:\.[0-9]{2})?))?$"
)


def _multi_fund_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 40]
    rows = []
    reported_total = None
    producer_sum = nrcs_sum = other_sum = 0.0
    for line in window[1:]:
        if not line:
            continue
        if _TOTALS_WORD.search(line):
            dollars = [money_to_number(m.group(0)) for m in re.finditer(r"\$\s*([0-9][0-9,]*(?:\.[0-9]{2})?)", line)]
            if dollars:
                reported_total = dollars[-1]
            break
        normalized = _MULTI_WS2.sub(" ", line)
        m = _MULTI_FUND_ROW.match(normalized)
        if m:
            practice_raw, prod_raw, nrcs_raw, other_raw, total_raw = m.groups()
            norm_val = lambda v: None if v == "-" else ("$" + v.lstrip("$"))
            producer, nrcs, other = norm_val(prod_raw), norm_val(nrcs_raw), norm_val(other_raw)
            total = norm_val(total_raw) if total_raw else None
            p_num = money_to_number(producer)
            if p_num is not None:
                producer_sum += p_num
            n_num = money_to_number(nrcs)
            if n_num is not None:
                nrcs_sum += n_num
            o_num = money_to_number(other)
            if o_num is not None:
                other_sum += o_num
            if not total:
                parts = [v for v in (p_num, n_num, o_num) if v is not None]
                if parts:
                    total = "$" + js_to_locale_string(sum(parts))
            rows.append({"Practice": practice_raw.strip(), "Producer": producer, "NRCS": nrcs,
                         "EPA-MDEQ": other, "Total": total})
    if not rows:
        return None
    norm_rows = []
    for r in rows:
        producer_val = money_to_number(r["Producer"])
        nrcs_val = money_to_number(r["NRCS"])
        other_val = money_to_number(r["EPA-MDEQ"])
        total = money_to_number(r["Total"]) or ((producer_val or 0) + (nrcs_val or 0) + (other_val or 0))
        denom = total or ((producer_val or 0) + (nrcs_val or 0) + (other_val or 0)) or 0
        pct = lambda v: ((v or 0) / denom) if denom else None
        norm_rows.append({
            "name": r["Practice"], "totalCost": total,
            "producerContribution": producer_val, "nrcsContribution": nrcs_val, "otherContribution": other_val,
            "fundingPctProducer": pct(producer_val), "fundingPctNRCS": pct(nrcs_val), "fundingPctOther": pct(other_val),
            "rawCost": r["Total"],
        })
    computed_grand = sum(b["totalCost"] or 0 for b in norm_rows)
    return {
        "table": {"columns": ["Practice", "Producer", "NRCS", "EPA-MDEQ", "Total"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm_rows, "totalReported": reported_total, "totalComputed": computed_grand,
                       "producerComputed": producer_sum, "nrcsComputed": nrcs_sum, "otherComputed": other_sum,
                       "discrepancy": (reported_total - computed_grand) if reported_total is not None else None,
                       "patternId": "multi_funding_source_costs", "patternConfidence": 0.83},
        "dollarLineIndices": [start_index + 1 + i for i in range(len(rows))],
    }


_IMPL_ROW = re.compile(r"^(?:\*?)([A-Z]{1,2}[0-9]{1,3}[A-Za-z\.]*)\s+(.+?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)(?:\s+\*\d+)?\s*$")


def _impl_budget_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 300]
    rows = []
    current_section = None
    grand_total = 0.0
    for line in window[1:]:
        if not line:
            continue
        if _ROMAN_SEC.match(line):
            current_section = line.strip()
            continue
        if _SUBTOTAL_HDR.match(line):
            m = _SUBTOTAL_AMT.search(line)
            if m:
                val = money_to_number("$" + m.group(1))
                grand_total += val or 0
            continue
        if _IMPL_END.match(line):
            break
        m = _IMPL_ROW.match(line)
        if m:
            rows.append({"Code": _TRAIL_DOTS_SUB.sub("", m.group(1)), "Description": m.group(2).strip(),
                         "Amount": "$" + m.group(3), "Section": current_section})
    if not rows:
        return None
    norm = [{"name": f"{r['Code']} {r['Description']}", "code": r["Code"], "section": r["Section"],
             "totalCost": money_to_number(r["Amount"]), "rawCost": r["Amount"]} for r in rows]
    computed = sum(b["totalCost"] or 0 for b in norm)
    return {
        "table": {"columns": ["Code", "Description", "Amount", "Section"], "rows": rows, "total": grand_total or None},
        "normalized": {"rows": norm, "totalReported": grand_total or None, "totalComputed": computed,
                       "discrepancy": (grand_total - computed) if grand_total else None,
                       "patternId": "implementation_plan_coded_budget", "patternConfidence": 0.7},
        "dollarLineIndices": [start_index + i + 1 for i in range(len(rows))],
    }


def _generic_activity_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 60]
    rows = []
    reported_total = None
    for line in window[1:]:
        if not line:
            continue
        if _TOTAL_EST_LINE.match(line):
            m = _MONEY_RX.search(line)
            if m:
                reported_total = money_to_number(m.group(0))
            break
        if _GEN_ACT_END.search(line):
            break
        m = _NAME_WS_MONEY_EOL.match(line)
        if m:
            left = m.group(1).strip()
            left = _LEAD_DASH_SUB.sub("", left)
            size_part = ""
            sm = _SIZE_TOKEN.search(left)
            name = left
            if sm:
                name = left[: sm.start()].strip()
                size_part = left[sm.start() :].strip()
            if not name:
                name = left
            if not name:
                return None  # mirrors JS `return` escaping parse()
            rows.append({"Activity": name, "Size/Amount": size_part, "Estimated Cost": m.group(2)})
    if not rows:
        return None
    total = 0.0
    norm = []
    for r in rows:
        t = money_to_number(r["Estimated Cost"])
        if t is not None:
            total += t
        norm.append({"name": r["Activity"], "rawSize": r["Size/Amount"], "rawCost": r["Estimated Cost"],
                     "quantity": None, "unit": None, "unitRaw": None, "unitCost": None, "totalCost": t})
    return {
        "table": {"columns": ["Activity", "Size/Amount", "Estimated Cost"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm, "totalReported": reported_total, "totalComputed": total,
                       "discrepancy": (reported_total - total) if reported_total is not None else None,
                       "patternId": "generic_activity_costs", "patternConfidence": 0.8},
    }


def _total_block_parse(all_lines, start_index):
    rows = []
    total_line = all_lines[start_index]
    dollars = _money_all(total_line)
    reported_total = money_to_number(dollars[0]) if len(dollars) > 0 else None
    reported_match = money_to_number(dollars[1]) if len(dollars) > 1 else None
    j = start_index - 1
    while j >= 0 and j > start_index - 35:
        line = all_lines[j]
        j -= 1
        if not line:
            continue
        if _ELEMENT_AI.search(line):
            break
        if _HAS_DOLLAR.search(line) and not _TOTAL_EST_PROJ_WORD.search(line):
            m = _NAME_MONEY_MATCH_EOL.match(line)
            if m:
                rows.insert(0, {"Item": m.group(1).strip(), "Cost": m.group(2),
                                "Match": ("$" + m.group(3)) if m.group(3) else None})
    if not rows:
        return None
    sum_cost = sum_match = 0.0
    norm = []
    for r in rows:
        tc = money_to_number(r["Cost"])
        tm = money_to_number(r["Match"])
        if tc is not None:
            sum_cost += tc
        if tm is not None:
            sum_match += tm
        norm.append({"name": r["Item"], "rawCost": r["Cost"], "totalCost": tc, "landownerMatch": tm})
    return {
        "table": {"columns": ["Item", "Cost", "Match"], "rows": rows, "total": reported_total, "matchTotal": reported_match},
        "normalized": {"rows": norm, "totalReported": reported_total, "totalComputed": sum_cost,
                       "landownerMatchReported": reported_match, "landownerMatchComputed": sum_match,
                       "discrepancy": (reported_total - sum_cost) if reported_total is not None else None,
                       "matchDiscrepancy": (reported_match - sum_match) if reported_match is not None else None,
                       "patternId": "total_estimated_project_cost_block", "patternConfidence": 0.75},
    }


_BOOTHS_ROW = re.compile(
    r"^([0-9]+)\s+(.*?)\s+(ac|ft|ea|each|cuyd|sqft|gal|no)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s+"
    r"([0-9][0-9,]*(?:\.[0-9]+)?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$"
)


def _booths_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 60]
    rows = []
    reported_total = None
    for line in window[1:]:
        if not line:
            continue
        if _TOTAL_DOLLAR_LINE.match(line):
            m = _MONEY_RX.search(line)
            if m:
                reported_total = money_to_number(m.group(0))
            break
        if _BOOTHS_END.search(line):
            break
        m = _BOOTHS_ROW.match(line)
        if m:
            rows.append({"Code": m.group(1), "Practice": m.group(2).strip(), "Units": m.group(3),
                         "Cost": "$" + m.group(4), "Estimated Units": m.group(5), "Total": "$" + m.group(6)})
    if not rows:
        return None
    computed = 0.0
    norm = []
    for r in rows:
        unit_cost = money_to_number(r["Cost"])
        quantity = _pf(r["Estimated Units"])
        total = money_to_number(r["Total"])
        if total is not None:
            computed += total
        norm.append({"name": f"{r['Code']} - {r['Practice']}",
                     "quantity": quantity, "unit": canonicalize_unit(r["Units"]), "unitRaw": r["Units"],
                     "unitCost": unit_cost, "totalCost": total,
                     "rawSize": f"{r['Estimated Units']} {r['Units']}", "rawCost": r["Total"]})
    return {
        "table": {"columns": ["Code", "Practice", "Units", "Cost", "Estimated Units", "Total"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm, "totalReported": reported_total, "totalComputed": computed or None,
                       "discrepancy": (reported_total - computed) if (reported_total is not None and computed is not None) else None,
                       "patternId": "booths_creek_bmps", "patternConfidence": 0.95},
    }


_PHASE1_ROW = re.compile(r"^(.*?)\s+([0-9][0-9,]*(?:\.[0-9]+)?)\s+(each|ac|cy|ft|acres)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$")


def _phase1_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 40]
    rows = []
    reported_total = None
    for line in window[1:]:
        if not line:
            continue
        if _TOTAL_ANY_DOLLAR.match(line):
            m = _MONEY_RX.search(line)
            if m:
                reported_total = money_to_number(m.group(0))
            break
        if _PHASE1_END.search(line):
            break
        m = _PHASE1_ROW.match(line)
        if m:
            rows.append({"BMPs": m.group(1).strip(), "Amount": m.group(2) + " " + m.group(3),
                         "Estimated Cost": "$" + m.group(4)})
    if not rows:
        return None
    computed = 0.0
    norm = []
    for r in rows:
        amount_text = r["Amount"]
        quantity = js_parse_float(_NON_NUMDOT_SUB.sub("", amount_text))
        total = money_to_number(r["Estimated Cost"])
        if total is not None:
            computed += total
        unit = ("each" if "each" in amount_text else "ac" if "ac" in amount_text else
                "cy" if "cy" in amount_text else "ft" if "ft" in amount_text else None)
        unit_cost = (total / quantity) if (quantity and total) else None
        norm.append({"name": r["BMPs"], "quantity": quantity if quantity is not None else None, "unit": unit,
                     "unitRaw": unit, "unitCost": unit_cost, "totalCost": total,
                     "rawSize": amount_text, "rawCost": r["Estimated Cost"]})
    return {
        "table": {"columns": ["BMPs", "Amount", "Estimated Cost"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm, "totalReported": reported_total, "totalComputed": computed or None,
                       "discrepancy": (reported_total - computed) if (reported_total is not None and computed is not None) else None,
                       "patternId": "phase1_bmps", "patternConfidence": 0.9},
    }


def _activity_match_parse(all_lines, start_index):
    rows = []
    reported_total = reported_match_total = None
    candidate_lines = [l for l in all_lines if l and _HAS_DOLLAR.search(l)]
    for raw_line in candidate_lines:
        if _TOTAL_EST_WORD.search(raw_line):
            dollars = _money_all(raw_line)
            if len(dollars) > 0:
                reported_total = money_to_number(dollars[0])
            if len(dollars) > 1:
                reported_match_total = money_to_number(dollars[1])
            continue
        m = _ACT_MATCH_ROW.search(raw_line)
        if not m:
            continue
        left = m.group(1).strip()
        est = m.group(2)
        match_val = ("$" + m.group(3)) if m.group(3) else None
        left = _LEAD_DASH_SUB.sub("", left)
        sm = _SIZE_AT_OR_NUM.search(left)
        name = left
        size_part = ""
        if sm:
            name = left[: sm.start()].strip()
            size_part = left[sm.start() :].strip()
        name = _TRAIL_COLONS_SUB.sub("", _LEAD_BMPS_SUB.sub("", name)).strip()
        if not name:
            continue
        rows.append({"Activity": name, "Size/Amount": size_part, "Estimated Cost": est, "Landowner Match": match_val})
    if not rows:
        return None
    sum_est = sum_match = 0.0
    norm = []
    for r in rows:
        est = money_to_number(r["Estimated Cost"])
        match = money_to_number(r["Landowner Match"])
        if est is not None:
            sum_est += est
        if match is not None:
            sum_match += match
        norm.append({"name": r["Activity"], "rawSize": r["Size/Amount"], "rawCost": r["Estimated Cost"],
                     "quantity": None, "unit": None, "unitRaw": None, "unitCost": None,
                     "totalCost": est, "landownerMatch": match})
    return {
        "table": {"columns": ["Activity", "Size/Amount", "Estimated Cost", "Landowner Match"], "rows": rows,
                  "total": reported_total, "landownerMatchTotal": reported_match_total},
        "normalized": {"rows": norm, "totalReported": reported_total, "totalComputed": sum_est,
                       "landownerMatchReported": reported_match_total, "landownerMatchComputed": sum_match,
                       "discrepancy": (reported_total - sum_est) if reported_total is not None else None,
                       "matchDiscrepancy": (reported_match_total - sum_match) if reported_match_total is not None else None,
                       "patternId": "activity_match", "patternConfidence": 0.85},
    }


_PRACTICE_COSTS_ROW = re.compile(r"^(.*?)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s+([0-9][0-9,]*)\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$")


def _practice_costs_header(line, all_lines, i):
    if not _PRACTICE_ONLY.match(line):
        return False
    lookahead = " ".join(all_lines[i : i + 6])
    return bool(_UNIT_COST_LIT.search(lookahead)) and bool(_TOTAL_COST_LIT.search(lookahead))


def _practice_costs_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 80]
    j = 0
    while j < len(window) and not _HAS_DOLLAR.search(window[j] or ""):
        j += 1
    collected = []
    reported_total = None
    while j < len(window):
        line = window[j]
        j += 1
        if not line:
            continue
        if _TOTAL_ONLY.match(line.strip()):
            for k in range(j, len(window)):
                dl = window[k]
                m = _MONEY_RX.search(dl) if dl else None
                if m:
                    reported_total = money_to_number(m.group(0))
                    break
            break
        if _LOWDO_PARTICIPANTS.search(line):
            break
        collected.append(line)
    merged = []
    i2 = 0
    while i2 < len(collected):
        line = collected[i2]
        if not _HAS_DOLLAR.search(line) and i2 + 1 < len(collected) and _HAS_DOLLAR.search(collected[i2 + 1]):
            line = line + " " + collected[i2 + 1].strip()
            i2 += 1
        merged.append(line)
        i2 += 1
    rows = []
    for raw in merged:
        m = _PRACTICE_COSTS_ROW.match(raw)
        if m:
            rows.append({"Practice": m.group(1).strip(), "Unit Cost w/Installation": "$" + m.group(2),
                         "Number of Units": m.group(3), "Total Cost": "$" + m.group(4)})
    if not rows:
        return None
    computed = 0.0
    norm = []
    for r in rows:
        unit_cost = money_to_number(r["Unit Cost w/Installation"])
        qty = _pf(r["Number of Units"])
        total = money_to_number(r["Total Cost"])
        if total is not None:
            computed += total
        norm.append({"name": r["Practice"], "quantity": qty if qty is not None else None, "unit": None,
                     "unitRaw": None, "unitCost": unit_cost, "totalCost": total,
                     "rawSize": (r["Number of Units"] or "") + " units", "rawCost": r["Total Cost"]})
    return {
        "table": {"columns": ["Practice", "Unit Cost w/Installation", "Number of Units", "Total Cost"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm, "totalReported": reported_total, "totalComputed": computed,
                       "discrepancy": (reported_total - computed) if reported_total is not None else None,
                       "patternId": "practice_costs", "patternConfidence": 0.88},
    }


_BELL_HEADER = re.compile(r"Practice\s+Area Affected\s+BMP Cost\s+BMP Total", re.I)
_BELL_ROW = re.compile(
    r"^(.*?)\s+([0-9][0-9,]*(?:\.[0-9]+)?)\s+(feet|acres|structures|each)\s+"
    r"\$([0-9][0-9,]*(?:\.[0-9]+)?)\s*(?:/\s*\w+)?\s+\$([0-9][0-9,]*(?:\.[0-9]{2})?)\s*$"
)

_BELL_UNIT_ABBREV = {"feet": "ft", "acres": "ac", "structures": "ea", "each": "ea"}


def _bell_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 50]
    rows = []
    reported_total = None
    j = 1
    while j < len(window):
        line = window[j]
        j += 1
        if not line or not line.strip():
            continue
        if _TOTAL_ONLY.match(line.strip()):
            for k in range(j, len(window)):
                dl = window[k]
                # only group(0) is consumed, so the group-less _MONEY_RX
                # (same pattern text) is an exact substitute
                m = _MONEY_RX.search(dl) if dl else None
                if m:
                    reported_total = money_to_number(m.group(0))
                    break
            break
        if _TECH_ASSIST_T82.search(line):
            break
        m = _BELL_ROW.match(line)
        if m:
            unit_word = m.group(3)
            rows.append({"Practice": m.group(1).strip(), "Area Affected": m.group(2) + " " + unit_word,
                         "BMP Cost": "$" + m.group(4) + "/" + _BELL_UNIT_ABBREV.get(unit_word, unit_word),
                         "BMP Total": "$" + m.group(5)})
    if not rows:
        return None
    computed = 0.0
    norm = []
    for r in rows:
        area = r["Area Affected"]
        quantity = js_parse_float(_NON_NUMDOT_SUB.sub("", area))
        cost_m = _MONEY_LOOSE_DEC.search(r["BMP Cost"])
        unit_cost = money_to_number(cost_m.group(0)) if cost_m else None
        total = money_to_number(r["BMP Total"])
        if total is not None:
            computed += total
        unit = ("ft" if "feet" in area else "ac" if "acres" in area else
                "structures" if "structures" in area else "each" if "each" in area else None)
        norm.append({"name": r["Practice"], "quantity": quantity if quantity is not None else None, "unit": unit,
                     "unitRaw": unit, "unitCost": unit_cost, "totalCost": total,
                     "rawSize": area, "rawCost": r["BMP Total"]})
    return {
        "table": {"columns": ["Practice", "Area Affected", "BMP Cost", "BMP Total"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm, "totalReported": reported_total, "totalComputed": computed,
                       "discrepancy": (reported_total - computed) if reported_total is not None else None,
                       "patternId": "bell_creek_bmps", "patternConfidence": 0.9},
    }


def _tech_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 25]
    rows = []
    reported_total = None
    for line in window[1:]:
        if not line or not line.strip():
            continue
        if _TOTAL_MONEY_HDR.match(line):
            m = _MONEY_RX.search(line)
            if m:
                reported_total = money_to_number(m.group(0))
            break
        m = _NAME_MONEY_STRICT_EOL.match(line)
        if m:
            rows.append({"Item": m.group(1).strip(), "Cost": "$" + m.group(2)})
    if not rows:
        return None
    computed = 0.0
    norm = []
    for r in rows:
        total = money_to_number(r["Cost"])
        if total is not None:
            computed += total
        norm.append({"name": r["Item"], "quantity": None, "unit": None, "unitRaw": None,
                     "unitCost": None, "totalCost": total, "rawSize": "N/A", "rawCost": r["Cost"]})
    return {
        "table": {"columns": ["Item", "Cost"], "rows": rows, "total": reported_total},
        "normalized": {"rows": norm, "totalReported": reported_total, "totalComputed": computed,
                       "discrepancy": (reported_total - computed) if reported_total is not None else None,
                       "patternId": "tech_assistance", "patternConfidence": 0.85},
    }


_AD_EX1 = re.compile(r"Practice\s+Average\s+Unit", re.I)
_AD_EX2 = re.compile(r"Producer\s+NRCS", re.I)
_AD_EX3 = re.compile(r"Code\s+Practice\s+Units", re.I)
_AD_EX4 = re.compile(r"Activity\s+Size", re.I)


def _adaptive_header(line, all_lines, idx):
    if not _has_dollar(line):
        return False
    if _AD_EX1.search(line) or _AD_EX2.search(line) or _AD_EX3.search(line) or _AD_EX4.search(line):
        return False
    money_lines = [l for l in all_lines[idx : idx + 12] if l and _has_dollar(l)]
    return len(money_lines) >= 3


def _adaptive_parse(all_lines, start_index):
    window = all_lines[start_index : start_index + 80]
    rows = []
    dollar_line_indices = []
    for j, line in enumerate(window):
        if not line:
            break
        if line.isspace() or _ADAPT_END.search(line):
            break
        if _HAS_DOLLAR.search(line):
            dollar_line_indices.append(start_index + j)
            m = _ITEM_2MONEY.match(line)
            if m:
                rows.append({"Item": m.group(1).strip(), "Cost": "$" + m.group(2),
                             "Extra": ("$" + m.group(3)) if m.group(3) else None})
            else:
                sm = _HAS_DOLLAR.search(line)
                first_dollar_idx = sm.start() if sm else -1
                if first_dollar_idx > 5:
                    name = line[:first_dollar_idx].strip()
                    money_part = line[first_dollar_idx:].strip()
                    m2 = _money_all(money_part)
                    if name and m2:
                        rows.append({"Item": name, "Cost": m2[0], "Extra": m2[1] if len(m2) > 1 else None})
        else:
            if len(rows) > 4:
                break
    if len(rows) < 3:
        return None
    total = 0.0
    norm = []
    for r in rows:
        val = money_to_number(r["Cost"])
        if val is not None:
            total += val
        norm.append({"name": r["Item"], "totalCost": val, "rawCost": r["Cost"]})
    return {
        "table": {"columns": ["Item", "Cost", "Extra?"], "rows": rows, "total": None},
        "normalized": {"rows": norm, "totalReported": None, "totalComputed": total, "discrepancy": None,
                       "patternId": "adaptive_generic_costs", "patternConfidence": 0.5},
        "dollarLineIndices": dollar_line_indices,
    }


_NRCS_HEADER = re.compile(r"Practice\s+Average\s+Unit\s+NRCS\s+Cost\s+Units\s+Total\s+Cost", re.I)
_IMPL_HEADER = re.compile(r"WATERSHED IMPLEMENTATION PLAN – BUDGET ESTIMATES|Watershed Implementation Plan\s*$", re.I)
_GENERIC_ACT_HEADER = re.compile(r"Activity\s+Size/?Amount\s+Estimated\s+Cost", re.I)
_LANDOWNER_MATCH = re.compile(r"Landowner\s+Match", re.I)
_TOTAL_EST_PROJECT = re.compile(r"Total\s+Estimated\s+Project\s+Cost", re.I)
_MATCH_WORD = re.compile(r"Match", re.I)
_BOOTHS_HEADER = re.compile(r"Code\s+Practice\s+Units\s+Cost.*Estimated.*Units.*Total", re.I)
_PHASE1_HEADER = re.compile(r"BMPs\s*Amount\s*Estimated Cost", re.I)
_ACT_MATCH_HEADER = re.compile(r"Activity.*Size.*Estimated Cost.*Landowner Match", re.I)
_ITEM_COST_HEADER = re.compile(r"Item\s+Cost", re.I)
_TECH_ASSIST_WORD = re.compile(r"Technical Assistance", re.I)

# Registry entries carry a NEEDLE GATE: alternatives of lowercase single-word
# substrings, every word of some alternative required on the lowered line for
# the header test to possibly fire. Each needle is a literal the header regex
# REQUIRES (single words only — multi-word literals are split because \s+
# matches runs of whitespace), so gating with C-level ``in`` checks before the
# regex battery is a pure optimization with identical accept/reject behavior.
# The driver loop asserts the structure; derivations:
#   $-gates: _has_dollar / MONEY / _CODE_TRIGGER / _RANGE_ROW_TRIGGER all
#   require a literal "$"; word-gates quote the header regex literals.
PATTERNS: list[tuple[str, tuple, object, object]] = [
    ("sparse_inline_costs", (("$",),), _sparse_header, _sparse_parse),
    ("narrative_cost_block", (("$",),), _narrative_header, _narrative_parse),
    ("coded_activity_budget_loose", (("$",),), _coded_loose_header, _coded_loose_parse),
    ("practice_unit_cost_range", (("practice", "unit", "cost"), ("$",)),
     _practice_range_header, _practice_range_parse),
    ("activity_unit_cost_range", (("activity", "unit", "cost"), ("$",)),
     _activity_range_header, _activity_range_parse),
    ("practice_unit_nrcs_costs", (("nrcs",),),
     lambda line, a, i: bool(_NRCS_HEADER.search(line)),
     _nrcs_parse),
    ("multi_funding_source_costs", (("nrcs",),),
     lambda line, a, i: bool(_MULTI_FUND_HEADER.search(line)) or bool(_MULTI_FUND_HEADER2.search(line)),
     _multi_fund_parse),
    ("implementation_plan_coded_budget", (("watershed", "implementation", "plan"),),
     lambda line, a, i: bool(_IMPL_HEADER.search(line)),
     _impl_budget_parse),
    ("generic_activity_costs", (("activity", "amount", "estimated"),),
     lambda line, a, i: bool(_GENERIC_ACT_HEADER.search(line)) and not _LANDOWNER_MATCH.search(line),
     _generic_activity_parse),
    ("total_estimated_project_cost_block", (("total", "estimated", "project", "cost"),),
     lambda line, a, i: bool(_TOTAL_EST_PROJECT.search(line)) and bool(_MATCH_WORD.search(line)),
     _total_block_parse),
    ("booths_creek_bmps", (("code", "practice", "units"),),
     lambda line, a, i: bool(_BOOTHS_HEADER.search(line)),
     _booths_parse),
    ("phase1_bmps", (("bmps", "amount"),),
     lambda line, a, i: bool(_PHASE1_HEADER.search(line)),
     _phase1_parse),
    ("activity_match", (("activity", "landowner", "match"),),
     lambda line, a, i: bool(_ACT_MATCH_HEADER.search(line)),
     _activity_match_parse),
    ("practice_costs", (("practice",),), _practice_costs_header, _practice_costs_parse),
    ("bell_creek_bmps", (("practice", "area", "affected"),),
     lambda line, a, i: bool(_BELL_HEADER.search(line)), _bell_parse),
    ("tech_assistance", (("item", "cost"),),
     lambda line, a, i: bool(_ITEM_COST_HEADER.search(line)) and not _TECH_ASSIST_WORD.search(line),
     _tech_parse),
    ("adaptive_generic_costs", (("$",),), _adaptive_header, _adaptive_parse),
]

REGISTERED_COST_PATTERNS = [p[0] for p in PATTERNS]

_SPAN_END_RX = re.compile(r"^(Goal|Objective|Section|Table\s+\d+)", re.I)


def parse_cost_tables_with_patterns(all_lines: list[str], raw_lines: list[str] | None = None) -> list[dict]:
    """Registry driver: run every pattern at every line, tolerate parse
    failures, infer span ends, apply subsumption dedupe of adaptive blocks.

    Ref: costTablePatterns.js:500-568."""
    results: list[dict] = []
    if not isinstance(all_lines, list) or not all_lines:
        if isinstance(raw_lines, list) and raw_lines:
            all_lines = list(raw_lines)
        else:
            return results
    else:
        all_lines = list(all_lines)
    if isinstance(raw_lines, list) and raw_lines:
        seen = set(all_lines)
        for l in raw_lines:
            if l and l not in seen:
                all_lines.append(l)
    header_idx_global = -1
    for idx, l in enumerate(all_lines):
        # "nrcs" is a required literal of _MULTI_FUND_HEADER (pure gate)
        if l and "nrcs" in l.lower() and _MULTI_FUND_HEADER.search(l):
            header_idx_global = idx
            break
    for i, line in enumerate(all_lines):
        if not line:
            continue
        low = line.lower()
        # Conservative line pre-gate: every header_test in PATTERNS needs
        # a dollar amount or one of these keyword stems in the line, so a
        # line failing it can never start a table — skipping it is a pure
        # optimization with identical semantics (the scan driver is
        # O(lines x patterns) otherwise, the hot loop of the whole silver
        # stage). C-level substring tests over the lowercased line (which
        # the pattern-needle loop needs anyway).
        if ("total" not in low and "practice" not in low and "bmp" not in low
                and "activit" not in low and "item" not in low
                and "watershed" not in low and "projected" not in low
                and not ("$" in line and _HAS_DOLLAR.search(line))):
            continue
        for pid, gates, header_test, parse in PATTERNS:
            gate_ok = False
            for alt in gates:
                for n in alt:
                    if n not in low:
                        break
                else:
                    gate_ok = True
                    break
            if not gate_ok:
                continue
            try:
                if header_test(line, all_lines, i):
                    parsed = parse(all_lines, i)
                    if parsed:
                        end_idx = i + 1
                        while end_idx < len(all_lines) and end_idx < i + 120:
                            l = all_lines[end_idx]
                            if not l or _SPAN_END_RX.match(l):
                                break
                            end_idx += 1
                        # '$' substring gate: _HAS_DOLLAR is r"\$[0-9]"
                        dollar_line_indices = [
                            d for d in range(i, end_idx)
                            if "$" in (all_lines[d] or "") and _HAS_DOLLAR.search(all_lines[d])
                        ]
                        entry = {"id": pid, "title": line.strip(), "spanStart": i, "spanEnd": end_idx,
                                 "dollarLineIndices": dollar_line_indices}
                        entry.update(parsed)  # parsed's own dollarLineIndices wins (JS spread order)
                        results.append(entry)
            except Exception:
                pass  # pattern parse failure tolerant
    # Manual multi-funding fallback when header exists but pattern never fired
    if header_idx_global != -1 and not any(r["id"] == "multi_funding_source_costs" for r in results):
        window = all_lines[header_idx_global : header_idx_global + 30]
        rows = []
        reported_total = None
        producer_sum = nrcs_sum = other_sum = 0.0
        for line in window[1:]:
            if not line:
                continue
            if _TOTALS_WORD.search(line):
                dollars = [money_to_number(m.group(0)) for m in re.finditer(r"\$\s*([0-9][0-9,]*(?:\.[0-9]{2})?)", line)]
                if dollars:
                    reported_total = dollars[-1]
                break
            first_dollar = line.find("$")
            if first_dollar == -1:
                continue
            before = line[:first_dollar].strip()
            money_parts = [m.group(1) for m in re.finditer(r"\$\s*([0-9][0-9,]*(?:\.[0-9]{2})?|-)", line)]
            if len(money_parts) < 3:
                continue
            while len(money_parts) < 4:
                money_parts.append("-")
            prod, nrcs, other, total_maybe = money_parts[:4]
            fmt = lambda v: None if v == "-" else ("$" + v.lstrip("$"))
            producer, nrcs_v, other_v = fmt(prod), fmt(nrcs), fmt(other)
            total = fmt(total_maybe)
            p_num = money_to_number(producer)
            if p_num is not None:
                producer_sum += p_num
            n_num = money_to_number(nrcs_v)
            if n_num is not None:
                nrcs_sum += n_num
            o_num = money_to_number(other_v)
            if o_num is not None:
                other_sum += o_num
            if not total:
                sum_parts = [v for v in (p_num, n_num, o_num) if v is not None]
                if sum_parts:
                    total = "$" + js_to_locale_string(sum(sum_parts))
            rows.append({"Practice": before, "Producer": producer, "NRCS": nrcs_v, "EPA-MDEQ": other_v, "Total": total})
        if rows:
            norm_rows = []
            for r in rows:
                p = money_to_number(r["Producer"])
                n = money_to_number(r["NRCS"])
                o = money_to_number(r["EPA-MDEQ"])
                tot = money_to_number(r["Total"]) or ((p or 0) + (n or 0) + (o or 0))
                norm_rows.append({"name": r["Practice"], "totalCost": tot, "producerContribution": p,
                                  "nrcsContribution": n, "otherContribution": o, "rawCost": r["Total"]})
            computed_grand = sum(b["totalCost"] or 0 for b in norm_rows)
            dollar_line_indices = [header_idx_global + off for off in range(len(rows) + 1)
                                   if _HAS_DOLLAR.search(all_lines[header_idx_global + off] if header_idx_global + off < len(all_lines) else "")]
            results.append({
                "id": "multi_funding_source_costs", "title": all_lines[header_idx_global].strip(),
                "spanStart": header_idx_global, "spanEnd": header_idx_global + len(rows) + 2,
                "dollarLineIndices": dollar_line_indices,
                "table": {"columns": ["Practice", "Producer", "NRCS", "EPA-MDEQ", "Total"], "rows": rows, "total": reported_total},
                "normalized": {"rows": norm_rows, "totalReported": reported_total, "totalComputed": computed_grand,
                               "patternId": "multi_funding_source_costs", "patternConfidence": 0.8},
            })
    # Subsumption dedupe: drop adaptive blocks covered by explicit pattern spans
    adaptive = [r for r in results if r["id"] == "adaptive_generic_costs"]
    if adaptive:
        explicit_spans = [
            {"start": r["spanStart"], "end": r["spanEnd"], "dollars": set(r.get("dollarLineIndices") or [])}
            for r in results if r["id"] != "adaptive_generic_costs"
        ]
        for i in range(len(results) - 1, -1, -1):
            r = results[i]
            if r["id"] != "adaptive_generic_costs":
                continue
            covered = any(s["start"] <= r["spanStart"] and s["end"] >= r["spanEnd"] for s in explicit_spans)
            if not covered and r.get("dollarLineIndices"):
                fully_accounted = any(
                    all(dl in s["dollars"] for dl in r["dollarLineIndices"]) for s in explicit_spans
                )
                if fully_accounted:
                    del results[i]
                    continue
            if covered:
                del results[i]
    return results

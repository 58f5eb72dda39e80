"""Goal extraction (operator E1) — the reference's largest heuristic stack.

Semantics mirror backend/services/enhancedExtractors.js:45-550 pass-for-pass:
wrapped-line join, canonical overrides, streaming capture, raw-line merges,
sentence-loop capture with quantitative/primary gating, raw-sentence and
raw-line fallbacks, primary classification, paragraph reconstruction, and
duplicate consolidation. Order-dependent: ids are sequence-derived (``G{n}``).
"""

from __future__ import annotations

import math
import re

from .rules import (
    ACHIEVED_RE,
    BASELINE_TARGET_PAIR,
    DEADLINE_YEAR,
    LOAD_REDUCTION,
    PERCENT_RE,
    POLLUTANT_TERMS,
    QUANTITY_UNIT,
    REDUCTION_INLINE,
    RESPONSIBLE_RE,
    YEAR_G,
)
from .textutil import infer_status, js_parse_float, split_sentences

__all__ = ["extract_goals", "join_wrapped_lines", "score_goal", "split_multi_goal"]

# Precompiled hot-loop patterns (semantics identical to the inline literals
# they replace; this module runs once per document inside the fused UDF, and
# module-level ``re.search(str, ...)`` pays a compile-cache lookup per call —
# ~10% of the whole extraction stage's CPU at 40k docs).
_RX_WS = re.compile(r"\s+")
_RX_DIGIT = re.compile(r"\d")
_RX_END_SENT = re.compile(r"[.!?]$")
_RX_END_SENT_WS = re.compile(r"[.!?]\s*$")
_RX_CONT_PUNCT = re.compile(r"^[\"“”'\-–—(\[]")
_RX_TAB = re.compile(r"^\t")
_RX_CONT_WORD = re.compile(r"^(and|to|for|that|which|it|this|these|those|in|on|by|of)\b", re.I)
_RX_LOWER_NUM_START = re.compile(r"^[a-z0-9]")
_RX_LOWER_START = re.compile(r"^[a-z]")
_RX_SEMIS = re.compile(r";+")
_RX_ULT_GOAL = re.compile(r"(ultimate goal|overall goal|primary objective)", re.I)
_RX_CONT_WORD2 = re.compile(r"^(and|the|to|for|that|which|it|this|these|those|in|on|by|of)\b", re.I)
_RX_UPPER_START = re.compile(r"^[A-Z0-9]")
_RX_CAP_CONT = re.compile(r"^(And|The|To|For|That|Which|It|This|These|Those|In|On|By|Of)\b")
_RX_QUOTE_LOWER = re.compile(r'^"[a-z]')
_RX_DANGLING_TO = re.compile(r"\b(to|for|in order to)$", re.I)
_RX_DANGLING_PREP = re.compile(r"\b(of|to|for|from|with)$", re.I)
_RX_CONT_WORD3 = re.compile(
    r"^(and|the|to|for|that|which|it|this|these|those|in|on|by|of|from|with)", re.I
)
_RX_DQUOTES = re.compile(r"[“”]")
_RX_SQUOTES = re.compile(r"[‘’]")
_RX_GOAL_WORD = re.compile(r"goal", re.I)
_RX_VERBS = re.compile(r"(reduce|decrease|improve|achieve|attain)", re.I)
_RX_HEAD_VERBS = re.compile(r"(reduce|decrease|improve|achieve|attain|protect|restore)", re.I)
_RX_GOAL_HEADING_ONLY = re.compile(r"^goals?\s*:?$", re.I)
_RX_USE_OF_END = re.compile(r"use of$", re.I)
_RX_COLON_END = re.compile(r":$")
_RX_HEADING_LINE = re.compile(r"^[A-Z][A-Za-z0-9\- ]{0,40}$")
_RX_META_ESCAPE = re.compile(r"[-/\\^$*+?.()|[\]{}]")
_RX_WWWWC = re.compile(r"^(who what where when contacts)$", re.I)
_RX_CONS_T1 = re.compile(r"^(project\s+goals?\s+goals?/objectives\s+\d+\s+)", re.I)
_RX_CONS_T2 = re.compile(r"^(project\s+goals?\s+objectives?\s+\d+\s+)", re.I)
_RX_CONS_T3 = re.compile(r"^(goals?\s+and\s+objectives?\s+)", re.I)
_RX_CONS_T4 = re.compile(r"^(goals?\s*[:;]\s*)", re.I)
_RX_CONS_T5 = re.compile(r"Goal Who What Where When Contacts", re.I)
_RX_CONS_T6 = re.compile(r"Goals?/Objectives?", re.I)
_RX_CONS_T7 = re.compile(r"^(?:Project\s+)?Goals?\b", re.I)
_RX_CONS_T8 = re.compile(
    r"^(the watershed implementation plan has the goals? of reducing the nutrients? and\s+)", re.I
)
_RX_GOAL_AND_OBJ = re.compile(r"^goal and objective is to", re.I)
_RX_DRY_CREEK = re.compile(r"dry creek watershed plan", re.I)
_RX_ULT_BRING_USE = re.compile(
    r"The ultimate goal is to bring about behavior changes and the use of", re.I
)
_RX_USE_OF_EOL = re.compile(r"use of\s*(?:\n|$)", re.I)
_RX_ULT_BRING = re.compile(r"The ultimate goal is to bring about", re.I)
_RX_QOL_WATERSHED = re.compile(r"quality of life in the\s+watershed\.", re.I)
_RX_CANON_PHRASE = re.compile(r"(?:The\s+)?goal and objective is to[^.]{10,300}\.", re.I)
_RX_HYPHEN_WRAP = re.compile(r"([A-Za-z])-(\s+)([a-z])")


# every ASCII char \s matches except the plain space (re treats the
# C0 separators \x1c-\x1f as whitespace too)
_WS_ASCII_NONSPACE = frozenset("\t\n\r\x0b\x0c\x1c\x1d\x1e\x1f")


def _squash_ws(s: str) -> str:
    """``_RX_WS.sub(" ", s)`` with a C-speed gate: for ASCII strings whose
    only whitespace is single spaces the sub is an identity copy, and most
    hot-loop sentences are exactly that. Non-ASCII strings always take the
    regex path (\\s matches Unicode spaces). Equivalence is property-pinned
    (tests/test_properties.py::test_squash_ws_gate_equivalent)."""
    if s.isascii():
        if "  " in s or not _WS_ASCII_NONSPACE.isdisjoint(s):
            return _RX_WS.sub(" ", s)
        return s
    return _RX_WS.sub(" ", s)


def _norm_quotes(s: str) -> str:
    """Curly->straight quote normalization; both patterns match only
    non-ASCII characters, so ASCII strings skip both regex scans."""
    if s.isascii():
        return s
    return _RX_SQUOTES.sub("'", _RX_DQUOTES.sub('"', s))


def _find_index(lines: list[str], pred) -> int:
    for i, l in enumerate(lines):
        if pred(l):
            return i
    return -1


def join_wrapped_lines(lines: list[str]) -> list[str]:
    """Sequential buffer merge of physically wrapped lines (operator W5).

    Ref: enhancedExtractors.js:45-71."""
    out: list[str] = []
    buffer = ""
    # 'goal' membership and word count are tracked INCREMENTALLY: every
    # merge appends " " + stripped line, so the substring can never span a
    # join boundary and the \s+-token count is exactly additive — lowering
    # or splitting the whole accumulated buffer per input line was the
    # quadratic hot spot of this join.
    buf_has_goal = False
    buf_wc = 0
    for raw in lines:
        raw = raw if raw is not None else ""
        line = raw.strip()
        if not line:
            if buffer:
                out.append(buffer)
                buffer = ""
            continue
        if not buffer:
            buffer = line
            buf_has_goal = "goal" in line.lower()
            buf_wc = len(line.split())
            continue
        # end-of-buffer checks are O(1) char tests, not end-anchored regex
        # searches. Buffers are built from stripped lines, so there is no
        # trailing-newline '$' subtlety to preserve.
        last = buffer[-1]
        if buf_has_goal:
            # starts_continuation only matters inside needs_goal_join; with
            # short-circuiting it is only evaluated when the first two
            # alternatives are false (identical outcome, fewer regex calls)
            needs_goal_join = (
                last not in ".!?"
                or buf_wc < 80
                or bool(
                    _RX_CONT_PUNCT.match(raw.lstrip())
                    or _RX_TAB.match(raw)
                    or _RX_CONT_WORD.match(line)
                )
            )
            if needs_goal_join:
                buffer += " " + line
                buf_wc += len(line.split())
                continue
        # [a-z],?$ == last char ascii-lower, or ',' preceded by ascii-lower
        soft_end = ("a" <= last <= "z") or (
            last == "," and len(buffer) > 1 and "a" <= buffer[-2] <= "z"
        )
        if _RX_LOWER_NUM_START.match(line) and soft_end and len(buffer) < 200:
            buffer += " " + line  # join probable wrap
            buf_has_goal = buf_has_goal or "goal" in line.lower()
            buf_wc += len(line.split())
        elif _RX_LOWER_START.match(line) and last not in ".!;:" and len(buffer) < 160:
            buffer += " " + line
            buf_has_goal = buf_has_goal or "goal" in line.lower()
            buf_wc += len(line.split())
        else:
            out.append(buffer)
            buffer = line
            buf_has_goal = "goal" in line.lower()
            buf_wc = len(line.split())
    if buffer:
        out.append(buffer)
    return out


def split_multi_goal(line: str) -> list[str]:
    """Split on semicolons if multiple goal-like clauses (ref :73-80)."""
    if ";" in line:
        parts = [p.strip() for p in _RX_SEMIS.split(line) if p.strip()]
        if len(parts) > 1:
            return parts
    return [line]


def score_goal(g: dict) -> float:
    """Additive feature weights, capped at 0.9 (ref :82-96)."""
    s = 0.0
    if g.get("pollutant"):
        s += 0.2
    if g.get("reductionPercent") is not None:
        s += 0.2
    if g.get("baselineValue") is not None and g.get("targetValue") is not None:
        s += 0.2
    if g.get("deadlineYear"):
        s += 0.15
    if g.get("responsible"):
        s += 0.1
    if g.get("loadReductionValue") is not None:
        s += 0.15
    if g.get("achievedValue") is not None:
        s += 0.1
    if g.get("pollutant") and (
        g.get("reductionPercent") is not None
        or (g.get("baselineValue") is not None and g.get("targetValue") is not None)
    ):
        s += 0.05
    return min(0.9, s)


_EARLY_NORM = [
    (re.compile(r"[“”]"), '"'),
    (re.compile(r"â€œ|â"), '"'),
    (re.compile(r"â€"), '"'),
    (re.compile(r"ΓÇ£|ΓÇ¥"), '"'),
    (re.compile(r"ΓÇÖ|â€™"), "'"),
    (re.compile(r"â€“|â€”|ΓÇô"), "-"),
    (re.compile(r"\s+"), " "),
]

_STREAM_NORM = [
    (re.compile(r"\r"), " "),
    (re.compile(r"[“”]"), '"'),
    (re.compile(r"â€œ|â|ΓÇ£"), '"'),
    (re.compile(r"â€|ΓÇ¥"), '"'),
    (re.compile(r"â€™|ΓÇÖ"), "'"),
    (re.compile(r"â€“|â€”|ΓÇô"), "-"),
    (re.compile(r"\s+"), " "),
]


def _apply_chain(s: str, chain) -> str:
    for rx, rep in chain:
        s = rx.sub(rep, s)
    return s


def _poll_group(text: str):
    m = POLLUTANT_TERMS.search(text)
    return m.group(1).lower() if m else None


def _extract_goal_fields(text: str) -> dict:
    """Shared field extraction used by the sentence loop and both fallback
    scans (ref :300-341, :367-378, :391-402)."""
    pollutant = _poll_group(text)
    reduction_percent = None
    reduction_src = None
    m = PERCENT_RE.search(text)
    if m:
        reduction_percent = js_parse_float(m.group(3))
        reduction_src = "verb_pattern"
    if reduction_percent is None:
        r2 = REDUCTION_INLINE.search(text)
        if r2:
            reduction_percent = js_parse_float(r2.group(1))
            reduction_src = "inline"
    baseline_value = baseline_unit = target_value = target_unit = None
    pair = BASELINE_TARGET_PAIR.search(text)
    if pair:
        baseline_value = js_parse_float(pair.group(1).replace(",", ""))
        baseline_unit = pair.group(2)
        target_value = js_parse_float(pair.group(3).replace(",", ""))
        target_unit = pair.group(4)
    load_reduction_value = load_reduction_unit = None
    load_m = LOAD_REDUCTION.search(text)
    if load_m:
        load_reduction_value = js_parse_float(load_m.group(2).replace(",", ""))
        load_reduction_unit = load_m.group(3)
    if target_value is None:
        q = QUANTITY_UNIT.search(text)
        if q:
            target_value = js_parse_float(q.group(1).replace(",", ""))
            target_unit = q.group(2)
    deadline_year = deadline = None
    d = DEADLINE_YEAR.search(text)
    if d:
        deadline_year = d.group(1)
        deadline = f"{deadline_year}-12-31"
    years = [m.group(1) for m in YEAR_G.finditer(text)]
    baseline_year = achieved_year = target_year = None
    if years:
        baseline_year = years[0]
        if len(years) > 1:
            achieved_year = years[-1]
        if not deadline_year:
            target_year = years[-1]
    responsible = None
    resp = RESPONSIBLE_RE.search(text)
    if resp:
        responsible = resp.group(2).strip()
    achieved_value = achieved_unit = None
    ach = ACHIEVED_RE.search(text)
    if ach:
        achieved_value = js_parse_float(ach.group(2).replace(",", ""))
        achieved_unit = ach.group(4) if ach.group(4) else None
    return {
        "status": infer_status(text),
        "pollutant": pollutant,
        "parameter": pollutant,
        "reductionPercent": reduction_percent,
        "reductionSrc": reduction_src,
        "baselineValue": baseline_value,
        "baselineUnit": baseline_unit,
        "targetValue": target_value,
        "targetUnit": target_unit,
        "achievedValue": achieved_value,
        "achievedUnit": achieved_unit,
        "loadReductionValue": load_reduction_value,
        "loadReductionUnit": load_reduction_unit,
        "deadline": deadline,
        "deadlineYear": deadline_year,
        "baselineYear": baseline_year,
        "achievedYear": achieved_year,
        "targetYear": target_year,
        "responsible": responsible,
    }


_PRIMARY_PHRASE = re.compile(
    r"(ultimate goal|overall goal|primary objective|primary goal|main goal|overarching goal"
    r"|mission is to|vision is to|the goal is to|the objective is to|our goal is to|our objective is to)",
    re.I,
)
_QUANTITATIVE = re.compile(
    r"(reduce|decrease|lower|achieve|attain|improve)\s+(?:[a-z\s]+)?"
    r"(\d{1,3}(?:\.\d+)?\s?(%|percent|mg/L|mg\\L|ppm|tons?|lbs|pounds|kg))",
    re.I,
)
_GOAL_STARTER = re.compile(
    r"(ultimate goal|overall goal|primary objective|the goal is|our goal is|the objective is"
    r"|the goals are|our goals are|project goals?|program goals?)",
    re.I,
)
_PRIMARY_CLASSIFY = re.compile(
    r"(ultimate goal|overall goal|primary objective|primary goal|main goal|overarching goal"
    r"|key goals?|principal goal|mission is to|vision is to|the goal is to|the objective is to)",
    re.I,
)


def extract_goals(raw_lines: list[str]) -> list[dict]:
    raw_lines = ["" if l is None else l for l in raw_lines]
    lines = join_wrapped_lines(raw_lines)

    # One whole-text join + one lowercase pass, shared by the early
    # override, the streaming capture, and the final raw scans (the
    # reference recomputes the join at each site — identical string).
    raw_text_all_early = "\n".join(raw_lines)
    lower_all = raw_text_all_early.lower()

    # --- Early canonical "Dry Creek" whole-text override (ref :100-119) ------
    # "dry creek" is a required literal of _RX_DRY_CREEK (pure gate)
    if "dry creek" in lower_all and _RX_DRY_CREEK.search(raw_text_all_early) and _RX_ULT_BRING_USE.search(raw_text_all_early):
        normalized = _apply_chain(raw_text_all_early, _EARLY_NORM)
        full_match = re.search(
            r"The ultimate goal is to bring about behavior changes and the use of .*?"
            r"best management practices.*?overall quality of life in the watershed\.",
            normalized,
            re.I,
        )
        if full_match:
            sentence = full_match.group(0).strip()
            return [
                {
                    "id": "G1",
                    "title": sentence,
                    "status": infer_status(sentence),
                    "pollutant": _poll_group(sentence),
                    "parameter": _poll_group(sentence),
                    "reductionPercent": None,
                    "source": sentence,
                    "confidence": 0.65,
                    "isPrimary": True,
                    "primaryReason": "early_canonical_dry_creek",
                }
            ]

    # --- Simple streaming sentence capture on persistent truncation (:120-178)
    raw_all_stream = raw_text_all_early
    goal_keywords = [
        "the ultimate goal", "the overall goal", "the primary goal",
        "primary goal", "overall goal", "main goal", "goal is to",
    ]
    start_idx = -1
    for key in goal_keywords:
        idx = lower_all.find(key)
        if idx != -1 and (start_idx == -1 or idx < start_idx):
            start_idx = idx
    has_trunc = (
        start_idx != -1
        and _RX_USE_OF_EOL.search(raw_all_stream)
        and _RX_ULT_BRING.search(raw_all_stream)
        and not _RX_QOL_WATERSHED.search(raw_all_stream)
    )
    if start_idx != -1 and has_trunc:
        window = raw_all_stream[start_idx : start_idx + 1000]
        norm_window = _apply_chain(window, _STREAM_NORM).strip()
        sentence = None
        watershed_match = re.match(r"^(.*?watershed\.)", norm_window, re.I)
        if watershed_match:
            sentence = watershed_match.group(1)
        else:
            generic_match = re.match(r"^(.*?\.)", norm_window)
            if generic_match and len(generic_match.group(1)) >= 40:
                sentence = generic_match.group(1)
        if sentence and re.search(r"goal", sentence, re.I):
            clean = re.sub(r"\s+", " ", sentence).strip()
            return [
                {
                    "id": "G1",
                    "title": clean,
                    "status": infer_status(clean),
                    "pollutant": _poll_group(clean),
                    "parameter": _poll_group(clean),
                    "reductionPercent": None,
                    "source": clean,
                    "confidence": 0.8,
                    "isPrimary": True,
                    "primaryReason": "simple_stream_capture",
                }
            ]

    # --- Second + third passes, fused per line. Both triggers require a
    # "goal" or "objective" literal (every _RX_ULT_GOAL / _GOAL_STARTER
    # alternative contains one), so goal-less lines skip all four regexes.
    # Fusing is order-equivalent: each pass only rewrites lines[i] inside
    # its own iteration i (no cross-index effects), so pass 3 sees exactly
    # the pass-2-merged line either way.
    for i in range(len(lines)):
        _ll = lines[i].lower()
        if "goal" not in _ll and "objective" not in _ll:
            continue
        if _RX_ULT_GOAL.search(lines[i]) and not _RX_END_SENT.search(lines[i]):
            frag = lines[i][:40]
            raw_index = _find_index(raw_lines, lambda r, f=frag.strip(): bool(r) and f in r)
            if raw_index != -1:
                merged = raw_lines[raw_index].strip()
                look = 1
                added = False
                while look <= 3 and raw_index + look < len(raw_lines) and not _RX_END_SENT.search(merged):
                    nxt = (raw_lines[raw_index + look] or "").strip()
                    if not nxt:
                        break
                    if _RX_CONT_WORD2.match(nxt) or _RX_LOWER_START.match(nxt):
                        merged += " " + nxt
                        added = True
                    else:
                        break
                    look += 1
                if added:
                    lines[i] = merged
        if _GOAL_STARTER.search(lines[i]) and not _RX_END_SENT.search(lines[i]):
            frag = lines[i][:50].strip()
            raw_index = _find_index(raw_lines, lambda r, f=frag: bool(r) and f in r)
            if raw_index != -1:
                paragraph = raw_lines[raw_index].strip()
                added = False
                look = 1
                while look <= 8 and raw_index + look < len(raw_lines) and not _RX_END_SENT.search(paragraph):
                    nxt = (raw_lines[raw_index + look] or "").strip()
                    if not nxt:
                        break  # blank line ends paragraph
                    if _RX_UPPER_START.match(nxt) and not _RX_CAP_CONT.match(nxt):
                        if added:
                            break
                    paragraph += " " + nxt
                    added = True
                    look += 1
                if added:
                    lines[i] = paragraph

    goals: list[dict] = []
    seen_sentences: set[str] = set()

    # --- Main sentence loop (:234-347) ----------------------------------------
    for line in lines:
        for clause in split_multi_goal(line):
            sentence_parts = split_sentences(clause)
            # Rejoin parts split prematurely (quotes / dangling infinitives)
            si = 0
            while si < len(sentence_parts) - 1:
                cur = sentence_parts[si]
                nxt = sentence_parts[si + 1]
                # anchored 2-char quote test first (cheap + selective);
                # end-anchored searches gated on a C-speed suffix test
                if _RX_QUOTE_LOWER.match(nxt) and _RX_END_SENT_WS.search(cur):
                    sentence_parts[si] = cur + " " + nxt
                    del sentence_parts[si + 1]
                    continue
                cur_end = cur.rstrip()
                if (cur_end[-3:].lower().endswith(("to", "for"))
                        and _RX_DANGLING_TO.search(cur_end)):
                    sentence_parts[si] = cur + " " + nxt
                    del sentence_parts[si + 1]
                    continue
                si += 1
            if not sentence_parts:
                sentence_parts = [clause]
            for part in sentence_parts:
                text = part.strip()
                # Force-extend dangling stopword endings via rawLines lookahead
                # (str.split() == \s+-split for a stripped operand)
                if (text[-5:].lower().endswith(("of", "to", "for", "from", "with"))
                        and _RX_DANGLING_PREP.search(text) and len(text.split()) < 60):
                    frag = text[:40]
                    raw_index = _find_index(raw_lines, lambda r, f=frag: bool(r) and f in r)
                    if raw_index != -1:
                        extended = text
                        look = 1
                        while (
                            look <= 3
                            and raw_index + look < len(raw_lines)
                            and _RX_DANGLING_PREP.search(extended)
                        ):
                            nxt = (raw_lines[raw_index + look] or "").strip()
                            if not nxt:
                                break
                            if _RX_CONT_WORD3.match(nxt) or _RX_LOWER_START.match(nxt):
                                extended += " " + nxt
                            else:
                                break
                            look += 1
                        text = _squash_ws(extended).strip()
                text = _squash_ws(text).strip()
                # quote normalization replaces quote chars with quote chars —
                # it cannot introduce whitespace, so one ws-collapse suffices
                text = _norm_quotes(text)
                if not text:
                    continue
                lower = text.lower()
                if lower in seen_sentences:
                    continue
                # Gating booleans evaluated lazily, cheapest guard first —
                # all are pure regex tests over ``text``, so short-circuit
                # order cannot change the accept/reject outcome.
                if (
                    "goal" in lower
                    # text is squashed+stripped, so split() tokens are
                    # space-count+1 — the count gate is exact and skips
                    # the verbs regex on long sentences
                    and text.count(" ") < 7
                    and not _RX_HEAD_VERBS.search(text)
                ):
                    continue  # looks_heading
                # every _PRIMARY_PHRASE alternative contains one of these
                # literals (pure gate over the already-lowered text)
                explicit = (
                    ("goal" in lower or "objective" in lower
                     or "mission" in lower or "vision" in lower)
                    and _PRIMARY_PHRASE.search(text) is not None
                )
                if not explicit:
                    # every numeric pattern requires a digit AND a unit
                    # literal (%/percent/mg/ppm/ton/lb/pound/kg/acre covers
                    # every unit alternative of all four patterns); the
                    # pollutant path requires one of the reduction verbs
                    # (stem literals cover every _RX_VERBS alternative) —
                    # both are pure superset gates over the lowered text
                    has_digit = _RX_DIGIT.search(text) is not None
                    has_unit = has_digit and (
                        "%" in lower or "percent" in lower or "mg" in lower
                        or "ppm" in lower or "ton" in lower or "lb" in lower
                        or "pound" in lower or "kg" in lower or "acre" in lower
                    )
                    has_verb = (
                        "reduc" in lower or "decreas" in lower
                        or "improv" in lower or "achiev" in lower
                        or "attain" in lower
                    )
                    quantitative = (
                        has_unit
                        and (
                            _QUANTITATIVE.search(text) is not None
                            or REDUCTION_INLINE.search(text) is not None
                            or PERCENT_RE.search(text) is not None
                            or BASELINE_TARGET_PAIR.search(text) is not None
                        )
                    ) or (
                        has_verb
                        and POLLUTANT_TERMS.search(text) is not None
                        and _RX_VERBS.search(text) is not None
                    )
                    if not quantitative:
                        continue
                seen_sentences.add(lower)
                goal = {"id": f"G{len(goals) + 1}", "title": text}
                goal.update(_extract_goal_fields(text))
                goal["source"] = text
                goal["confidence"] = score_goal(goal)
                goals.append(goal)

    # --- Final raw-sentence scan for any remaining 'goal' sentences (:348-382)
    # Both fallback scans only ever ACCEPT sentences matching r"goals?"/i;
    # a document with no "goal" substring at all produces zero candidates,
    # so the splits/rejoin loops would be dead work (doc-level pure gate).
    doc_has_goal = "goal" in lower_all
    raw_sentences = split_sentences(_RX_WS.sub(" ", raw_text_all_early)) if doc_has_goal else []
    i = 0
    while i < len(raw_sentences) - 1:
        cur = raw_sentences[i]
        nxt = raw_sentences[i + 1]
        cur_end = cur.rstrip()
        if (cur_end[-3:].lower().endswith(("to", "for"))
                and _RX_DANGLING_TO.search(cur_end)):
            raw_sentences[i] = cur + " " + nxt
            del raw_sentences[i + 1]
            continue
        if _RX_QUOTE_LOWER.match(nxt) and _RX_END_SENT_WS.search(cur):
            raw_sentences[i] = cur + " " + nxt
            del raw_sentences[i + 1]
            continue
        i += 1
    for rs in raw_sentences:
        # r"goals?"/i matches iff the lowercased text contains "goal";
        # the quote-normalizing subs cannot add/remove that token, so
        # gate on the raw sentence before paying for them
        if "goal" not in rs.lower():
            continue
        candidate = _norm_quotes(rs.strip())
        lower = candidate.lower()
        if lower in seen_sentences:
            continue
        if len(candidate.split()) < 4:
            continue
        seen_sentences.add(lower)
        goal = {"id": f"G{len(goals) + 1}", "title": candidate.strip()}
        goal.update(_extract_goal_fields(candidate))
        goal["source"] = candidate
        goal["confidence"] = score_goal(goal) * 0.9  # fallback-scan penalty
        goals.append(goal)

    # --- Punctuation-less raw-line fallback (:384-405) -------------------------
    for rl in raw_lines if doc_has_goal else ():
        if "goal" not in rl.lower():
            continue
        trimmed = rl.strip()
        if not trimmed or _RX_GOAL_HEADING_ONLY.match(trimmed):
            continue
        lower = trimmed.lower()
        if lower in seen_sentences:
            continue
        if len(trimmed.split()) < 3:
            continue
        # NOTE: the reference does NOT add to seenSentences here — duplicate
        # raw lines each produce a goal. Preserved for parity.
        goal = {"id": f"G{len(goals) + 1}", "title": trimmed}
        goal.update(_extract_goal_fields(trimmed))
        goal["source"] = trimmed
        goal["confidence"] = score_goal(goal) * 0.9
        goals.append(goal)

    # --- Primary classification (:427-451) -------------------------------------
    if goals:
        explicit_primaries = []
        for g in goals:
            if _PRIMARY_CLASSIFY.search(g["title"]):
                g["isPrimary"] = True
                g["primaryReason"] = "explicit_phrase"
                g["confidence"] = min(0.99, (g.get("confidence") or 0) + 0.05)
                explicit_primaries.append(g)
        if not explicit_primaries:
            candidates = [
                g
                for g in goals
                if g.get("pollutant")
                or g.get("reductionPercent") is not None
                or (g.get("baselineValue") is not None and g.get("targetValue") is not None)
            ]
            sorted_c = sorted(candidates, key=lambda g: -(g.get("confidence") or 0))
            pick_count = min(max(1, math.ceil(len(sorted_c) * 0.3)), 3)
            for g in sorted_c[:pick_count]:
                g["isPrimary"] = True
                g["primaryReason"] = "top_scoring"
        if not any(g.get("isPrimary") for g in goals):
            top = sorted(goals, key=lambda g: -(g.get("confidence") or 0))[0]
            top["isPrimary"] = True
            top["primaryReason"] = "fallback_top_confidence"

    # --- Extended paragraph reconstruction & hyphen fix (:453-484) --------------
    if goals:
        raw_joined = [l or "" for l in raw_lines]
        for g in goals:
            frag = _RX_META_ESCAPE.sub("", " ".join(g["title"].split()[:6]))
            idx = -1
            if len(frag) > 6:
                probe = frag[: min(40, len(frag))]
                idx = _find_index(raw_joined, lambda l, p=probe: p in l)
            paragraph = g["title"]
            if idx != -1:
                paragraph = raw_joined[idx].strip()
                for look in range(1, 13):
                    if idx + look >= len(raw_joined):
                        break
                    nxt_raw = raw_joined[idx + look]
                    if not nxt_raw or not nxt_raw.strip():
                        break
                    nxt = nxt_raw.strip()
                    if _RX_END_SENT.search(paragraph) and (
                        _RX_HEADING_LINE.match(nxt) or _RX_COLON_END.search(nxt)
                    ):
                        break
                    paragraph += " " + nxt
                    if _RX_END_SENT.search(nxt) and len(paragraph.split()) > 120:
                        break
            paragraph = _RX_HYPHEN_WRAP.sub(r"\1\3", paragraph)
            paragraph = _RX_WS.sub(" ", paragraph).strip()
            if len(paragraph) > len(g["title"]) + 20:
                g["fullParagraph"] = paragraph

    # --- Duplicate / overlap consolidation (:487-548) ---------------------------
    if goals:
        goals.sort(key=lambda g: -len(g["title"]))  # stable, like V8
        consolidated: list[dict] = []
        for g in goals:
            lower = g["title"].lower()  # original title, pre-strip (parity)
            t = g["title"]
            t = _RX_CONS_T1.sub("", t)
            t = _RX_CONS_T2.sub("", t)
            t = _RX_CONS_T3.sub("", t)
            t = _RX_CONS_T4.sub("", t)
            t = _RX_CONS_T5.sub("", t)
            t = _RX_CONS_T6.sub("", t)
            t = _RX_CONS_T7.sub("", t)
            t = _RX_WS.sub(" ", t).strip()
            t = _RX_CONS_T8.sub("", t)
            t = _RX_WS.sub(" ", t).strip()
            g["title"] = t
            if _RX_USE_OF_END.search(g["title"]):
                frag = g["title"][:50]
                raw_index = _find_index(raw_lines, lambda r, f=frag: bool(r) and f in r)
                if raw_index != -1:
                    extended = g["title"]
                    look = 1
                    appended = False
                    while look <= 12 and raw_index + look < len(raw_lines) and not _RX_END_SENT.search(extended):
                        nxt = (raw_lines[raw_index + look] or "").strip()
                        if not nxt:
                            break
                        extended += " " + nxt
                        appended = True
                        look += 1
                        if _RX_END_SENT.search(nxt):
                            break
                    if appended:
                        g["title"] = _RX_WS.sub(" ", extended).strip()
            phrase_idx = g["title"].lower().find("goal and objective is to")
            if phrase_idx != -1:
                g["title"] = _RX_GOAL_AND_OBJ.sub(
                    "The goal and objective is to",
                    g["title"][phrase_idx:],
                ).strip()
            if len(g["title"].split()) < 8 or _RX_WWWWC.match(g["title"].strip()):
                continue  # skip fragment
            if any(lower in c["title"].lower() and len(c["title"]) != len(lower) for c in consolidated):
                continue  # skip subset duplicate
            consolidated.append(g)
        for i, g in enumerate(consolidated):
            g["id"] = f"G{i + 1}"
        raw_text_all = "\n".join(raw_lines)
        canon_match = _RX_CANON_PHRASE.search(raw_text_all)
        if canon_match:
            sentence = _RX_WS.sub(" ", canon_match.group(0)).strip()
            return [
                {
                    "id": "G1",
                    "title": sentence,
                    "status": infer_status(sentence),
                    "pollutant": _poll_group(sentence),
                    "parameter": _poll_group(sentence),
                    "reductionPercent": None,
                    "source": sentence,
                    "confidence": 0.4,
                    "isPrimary": True,
                    "primaryReason": "canonical_phrase",
                }
            ]
        return consolidated
    return goals

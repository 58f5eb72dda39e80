"""Spans for the traced run, installed from the benchmark around public calls.

Spans live in memory (one list per run) and are written once at the end.
A span is ``[name, trace_id, parent_index, start_ns, end_ns, attrs]``; a
layer's self time is its duration minus the durations of its child spans.
Wrappers replace module attributes for the duration of one pass and are
removed afterwards; the program's own code is unchanged.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import re
import statistics
import time
from collections import Counter

PKG = "pdfextractor_spark"


class Spans:
    def __init__(self):
        self.items: list[list] = []
        self.trace_id: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        item = [name, self.trace_id, self._stack[-1] if self._stack else None, 0, 0, attrs]
        self._stack.append(len(self.items))
        self.items.append(item)
        item[3] = time.perf_counter_ns()
        try:
            yield item
        finally:
            item[4] = time.perf_counter_ns()
            self._stack.pop()

    def wrap(self, name: str, fn, attrs=None, on_result=None):
        def wrapper(*args, **kwargs):
            with self.span(name, **(attrs(*args, **kwargs) if attrs else {})) as item:
                res = fn(*args, **kwargs)
            if on_result is not None:
                item[5].update(on_result(res))
            return res
        wrapper.__wrapped__ = fn
        return wrapper

    @contextlib.contextmanager
    def installed(self, patches):
        """``patches``: (module, attribute, span name, attrs fn, result fn)."""
        saved = []
        try:
            for mod_name, attr, name, attrs, on_result in patches:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(name, orig, attrs, on_result))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def durations_s(self) -> list[float]:
        return [(it[4] - it[3]) / 1e9 for it in self.items]

    def self_s(self) -> list[float]:
        out = self.durations_s()
        for it, d in zip(self.items, self.durations_s()):
            if it[2] is not None:
                out[it[2]] -= d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for it in self.items:
                f.write(json.dumps({"name": it[0], "trace": it[1], "parent": it[2],
                                    "start_ns": it[3], "end_ns": it[4], **it[5]}) + "\n")


# --- per-document pass -------------------------------------------------------

def _costtable_hit(res: dict) -> dict:
    return {"hit": bool(res.get("bmpCostTablesNormalized") or res.get("bmpCostTable"))}


PERDOC_PATCHES = [
    ("sources.encoding", "sniff_decode", "sources.encoding", None, None),
    ("sources.html", "extract_html_text", "sources.html", None, None),
    ("sources.pdf", "extract_pdf_auto", "sources.pdf", None, lambda r: {"parser": r[2]}),
    ("extraction.sections", "extract_sections", "extraction.sections", None, None),
    ("extraction.report", "build_structured_report", "extraction.report", None, None),
    ("extraction.report", "parse_cost_table", "extraction.costtables", None, _costtable_hit),
    ("pipeline.silver", "report_to_silver_row", "pipeline.silver.row", None, None),
]
PERDOC_LAYERS = [p[2] for p in PERDOC_PATCHES]
LAYER_METRIC = {name: ("pipeline.silver.row_ms_per_doc" if name == "pipeline.silver.row"
                       else f"{name}.ms_per_doc") for name in PERDOC_LAYERS}


def _run_docs(rows: list[dict], reports: bool, spans: Spans | None = None) -> float:
    """``_extract_one`` (+ ``build_report_row``) per row, with one "doc" span
    each when ``spans`` is given; returns the loop's wall seconds."""
    from pdfextractor_spark.pipeline.bronze import _extract_one
    from pdfextractor_spark.pipeline.silver import build_report_row

    t0 = time.perf_counter()
    for r in rows:
        if spans is not None:
            spans.trace_id = r["url"]
        with spans.span("doc") if spans is not None else contextlib.nullcontext():
            raw, *_ = _extract_one(r["html"], r["text"])
            if reports:
                build_report_row(r["url"], r["lang"], raw)
    return time.perf_counter() - t0


# the span overhead is measured on every this-many-th doc
_OVERHEAD_SAMPLE_EVERY = 4


def span_overhead(rows: list[dict], reports: bool) -> float:
    """Median over a sample of docs of each doc's wall time with spans ÷
    without. Each doc runs both ways back to back, in alternating order, so
    drift in the process (caches, heap growth) falls on both sides alike."""
    spans = Spans()
    ratios = []
    for k, r in enumerate(rows[::_OVERHEAD_SAMPLE_EVERY]):
        took = {}
        for traced in ((False, True) if k % 2 == 0 else (True, False)):
            if traced:
                with spans.installed(PERDOC_PATCHES):
                    took[True] = _run_docs([r], reports, spans)
            else:
                took[False] = _run_docs([r], reports)
        ratios.append(took[True] / took[False])
    return statistics.median(ratios)


def perdoc_pass(rows: list[dict], reports: bool) -> tuple[Spans, dict]:
    """One span per document around ``_extract_one`` (+ ``build_report_row``)
    and one per public per-document call inside them; single process."""
    spans = Spans()
    with spans.installed(PERDOC_PATCHES):
        _run_docs(rows, reports, spans)
    n = len(rows)
    self_ms = Counter()
    doc_ms, pdf_calls, pdf_fallback, ct_calls, ct_hits = [], 0, 0, 0, 0
    for it, s in zip(spans.items, spans.self_s()):
        if it[0] == "doc":
            doc_ms.append((it[4] - it[3]) / 1e6)
            continue
        self_ms[it[0]] += s * 1e3
        if it[0] == "sources.pdf":
            pdf_calls += 1
            pdf_fallback += it[5].get("parser") == "pdf_fallback"
        elif it[0] == "extraction.costtables":
            ct_calls += 1
            ct_hits += bool(it[5].get("hit"))
    doc_ms.sort()
    layer_ms = {name: self_ms[name] / n for name in PERDOC_LAYERS}
    m = {LAYER_METRIC[name]: v for name, v in layer_ms.items()}
    m["sources.pdf.fallback_ratio"] = pdf_fallback / pdf_calls if pdf_calls else 0.0
    m["extraction.costtables.hit_ratio"] = ct_hits / ct_calls if ct_calls else 0.0
    m["doc_ms_p50"] = statistics.median(doc_ms)
    m["doc_ms_p99"] = doc_ms[min(n - 1, int(0.99 * n))]
    m["doc_ms_mean"] = sum(doc_ms) / n
    m["doc_layer_coverage"] = sum(layer_ms.values()) / m["doc_ms_mean"]
    m["trace.perdoc_overhead_ratio"] = span_overhead(rows, reports)
    return spans, m


# --- Spark pass ----------------------------------------------------------------

def _stage_attrs(df, path, stage, *a, **k):
    return {"path": path, "stage": stage}


def _ckpt_attrs(df, path, *a, **k):
    return {"path": path}


SPARK_PATCHES = [
    ("pipeline.runner", "write_stage", "write_stage", _stage_attrs, None),
    ("pipeline.runner", "write_checkpoint", "write_checkpoint", _ckpt_attrs, None),
    ("pipeline.webrunner", "write_stage", "write_stage", _stage_attrs, None),
    ("pipeline.webrunner", "write_checkpoint", "write_checkpoint", _ckpt_attrs, None),
    # write_stage imports write_checkpoint from tableio at call time
    ("pipeline.tableio", "write_checkpoint", "write_checkpoint", _ckpt_attrs, None),
]
GOLD_TABLES = ["lang_rollup", "pattern_usage", "cost_summary", "coverage",
               "reextract_candidates", "content_audit", "anomaly_summary", "prep_report"]


def stage_metrics(spans: Spans) -> dict:
    dur = spans.durations_s()
    m = {"pipeline.bronze.stage_s": 0.0, "pipeline.silver.stage_s": 0.0,
         "pipeline.gold.stage_s": 0.0, "pipeline.lineage.self_s": 0.0}
    m.update({f"pipeline.gold.{t}_s": 0.0 for t in GOLD_TABLES})
    first_child: dict[int, float] = {}
    for it, d in zip(spans.items, dur):
        if it[0] == "write_checkpoint" and it[2] is not None:
            first_child.setdefault(it[2], d)
        if it[0] == "write_stage" and it[5]["stage"] in ("bronze", "silver"):
            m[f"pipeline.{it[5]['stage']}.stage_s"] += d
        base = os.path.basename(str(it[5].get("path", "")).rstrip("/"))
        in_stage = it[2] is not None and spans.items[it[2]][0] == "write_stage"
        if it[0] == "write_checkpoint" and not in_stage and base.startswith("gold_"):
            m[f"pipeline.gold.{base[5:]}_s"] += d
            m["pipeline.gold.stage_s"] += d
    for idx, it in enumerate(spans.items):
        if it[0] == "write_stage":
            m["pipeline.lineage.self_s"] += dur[idx] - first_child.get(idx, 0.0)
    return m


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


# --- Spark event log and stderr ------------------------------------------------

TRACED_GROUP = "perfbench-traced"


def event_log_metrics(event_dir: str) -> dict:
    """Task-level totals over the jobs run under the traced job group."""
    # one application per run; Spark 4 writes it as a rolling v2 log, a
    # directory of events_<n>_<app> files
    files = []
    for base, _dirs, names in os.walk(event_dir):
        files += [os.path.join(base, n) for n in names if not n.startswith(("appstatus", "."))]
    files.sort(key=lambda p: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", p)])
    traced_stages: set[int] = set()
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") == TRACED_GROUP:
                        traced_stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    m = Counter()
    run_ms_by_stage: dict[int, list[float]] = {}
    for ev in tasks:
        if ev["Stage ID"] not in traced_stages:
            continue
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        m["tasks"] += 1
        m["cpu_ns"] += tm.get("Executor CPU Time", 0)
        m["gc_ms"] += tm.get("JVM GC Time", 0)
        m["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        m["shuffle_w_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        m["fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
        run_ms = tm.get("Executor Run Time", 0)
        busy = (run_ms + tm.get("Executor Deserialize Time", 0)
                + tm.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0))
        m["sched_ms"] += max(0, info["Finish Time"] - info["Launch Time"] - busy)
        run_ms_by_stage.setdefault(ev["Stage ID"], []).append(run_ms)
        for acc in info.get("Accumulables") or []:
            if acc.get("Name") == "data sent to Python workers":
                m["py_sent_b"] += int(acc.get("Update") or 0)
    # the UDF stage is the one with the most task run time
    udf = max(run_ms_by_stage.values(), key=sum, default=[0])
    med = statistics.median(udf) if udf else 0
    return {
        "spark.tasks": m["tasks"],
        "spark.executor_cpu_s": m["cpu_ns"] / 1e9,
        "spark.gc_s": m["gc_ms"] / 1e3,
        "spark.sched_delay_s": m["sched_ms"] / 1e3,
        "spark.shuffle_write_mb": m["shuffle_w_b"] / 2**20,
        "spark.shuffle_fetch_wait_s": m["fetch_wait_ms"] / 1e3,
        "spark.spill_mb": m["spill_b"] / 2**20,
        "spark.task_skew": (max(udf) / med) if med else 0.0,
        "spark.python_mb_sent": m["py_sent_b"] / 2**20,
    }


_WARN_RE = re.compile(r"^\S+ \S+ WARN (\S+?):")


def warn_counts(log_path: str) -> Counter:
    """Spark WARN lines by logger class, read from the run's stderr."""
    counts: Counter = Counter()
    with open(log_path, errors="replace") as f:
        for line in f:
            m = _WARN_RE.match(line)
            if m:
                counts[m.group(1)] += 1
                if "Broadcasting large task binary" in line:
                    counts["large_task_binary"] += 1
    return counts


WEBRUNNER_PHASES = ["cleaned", "flagged", "corpus"]

# Every per-layer metric, in report order. A metric a workload does not
# exercise reads 0 (e.g. webrunner phases outside prep_html).
PER_LAYER = (
    [LAYER_METRIC[n] for n in PERDOC_LAYERS]
    + ["sources.pdf.fallback_ratio", "extraction.costtables.hit_ratio",
       "doc_ms_p50", "doc_ms_p99", "doc_ms_mean", "doc_layer_coverage",
       "pipeline.fused.framework_share",
       "pipeline.bronze.stage_s", "pipeline.silver.stage_s", "pipeline.gold.stage_s"]
    + [f"pipeline.gold.{t}_s" for t in GOLD_TABLES]
    + ["pipeline.lineage.self_s", "pipeline.tableio.write_amp"]
    + [f"pipeline.webrunner.{p}{suffix}" for p in WEBRUNNER_PHASES
       for suffix in ("_s", "_rows_in", "_rows_out")]
    + ["pipeline.webrunner.keep_ratio",
       "spark.tasks", "spark.executor_cpu_s", "spark.gc_s", "spark.sched_delay_s",
       "spark.shuffle_write_mb", "spark.shuffle_fetch_wait_s", "spark.spill_mb",
       "spark.task_skew", "spark.python_mb_sent",
       "spark.warn_lines", "spark.warn_large_task_binary", "trace.overhead_ratio",
       "trace.perdoc_overhead_ratio"]
)


def unit(name: str) -> str:
    if "ms_per_doc" in name or name.startswith("doc_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", "_mb_sent")):
        return "MB"
    if name.endswith(("_rows_in", "_rows_out")) or name == "spark.tasks" or name.startswith("spark.warn"):
        return "count"
    return "ratio"

"""Exact-substring (span) dedup — ops/cleaning.dedup_spans.

The Spark plan is verified against a brute-force pure-Python twin of the
Lee et al. 2021 ExactSubstr criterion at token granularity: collect every
stride-1 width-token window over the corpus, find window values occurring
min_count+ times, drop every covered token (keep='none') or every covered
token outside the first occurrence per window value (keep='first').
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from pdfextractor_spark.ops.cleaning import dedup_spans


def _twin(rows, width=4, min_count=2, keep="first"):
    toks = {i: (t or "").split() for i, t in rows}
    occ = defaultdict(list)  # window tuple -> [(doc_id, start)]
    for i in sorted(toks):
        tk = toks[i]
        for s in range(len(tk) - width + 1):
            occ[tuple(tk[s:s + width])].append((i, s))
    dropped = defaultdict(set)  # doc_id -> covered token indices
    for places in occ.values():
        if len(places) < min_count:
            continue
        start_at = 1 if keep == "first" else 0
        for (i, s) in sorted(places)[start_at:]:
            dropped[i].update(range(s, s + width))
    out = {}
    for i, t in rows:
        tk = toks[i]
        if not dropped[i]:
            out[i] = (t, 0)
        else:
            out[i] = (" ".join(tok for j, tok in enumerate(tk)
                               if j not in dropped[i]), len(dropped[i]))
    return out


CORPUS = [
    # docs 1 and 2 share an 8-token run (> width): every covered token of
    # the SECOND occurrence must go, the first stays
    (1, "alpha beta gamma delta epsilon zeta eta theta closes one"),
    (2, "intro words alpha beta gamma delta epsilon zeta eta theta tail"),
    # doc 3 repeats a 5-token run inside itself
    (3, "red green blue cyan pink glue red green blue cyan pink"),
    # doc 4 shorter than the window — untouched
    (4, "tiny doc"),
    # doc 5 unique text — untouched
    (5, "completely unrelated sentence with its own private tokens"),
    # doc 6 empty / null-ish
    (6, ""),
]


def _run(spark, keep="first", width=4, min_count=2):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    out = dedup_spans(df, width=width, min_count=min_count, keep=keep)
    got = {r["doc_id"]: (r["text"], r["dedup_span_tokens_dropped"])
           for r in out.collect()}
    want = _twin(CORPUS, width=width, min_count=min_count, keep=keep)
    assert got == want, f"\ngot:  {got}\nwant: {want}"
    return got


def test_dedup_spans_matches_twin_keep_first(spark):
    got = _run(spark, keep="first")
    # the first occurrence (doc 1) survives intact
    assert got[1] == (CORPUS[0][1], 0)
    # doc 2 lost exactly the 8 shared tokens
    assert got[2] == ("intro words tail", 8)
    # within-doc repeat: second copy of the 5-token run removed
    assert got[3][1] == 5 and got[3][0].startswith("red green blue cyan pink")
    assert got[4] == ("tiny doc", 0) and got[5][1] == 0 and got[6] == ("", 0)


def test_dedup_spans_matches_twin_keep_none(spark):
    got = _run(spark, keep="none")
    # both copies of the shared run are gone
    assert got[1][1] == 8 and got[2] == ("intro words tail", 8)
    assert got[3][1] > 5  # both in-doc copies covered


def test_dedup_spans_min_count_and_width(spark):
    # min_count above the occurrence count -> nothing dropped
    got = _run(spark, keep="first", min_count=3)
    assert all(d == 0 for (_t, d) in got.values())
    # width larger than the shared run -> nothing dropped
    got = _run(spark, keep="first", width=9)
    assert all(d == 0 for (_t, d) in got.values())


def test_dedup_spans_plan_shape(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    out = dedup_spans(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # rebuild is the ONE vectorized Arrow UDF; nothing row-at-a-time
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    # no cartesian anywhere in the window-hash plan
    assert "CartesianProduct" not in plan
    # document text crosses at most ONE Exchange (the final drop-set
    # join-back when the drops side outgrows a broadcast) — every
    # DETECTION stage shuffles integers only. The partitioning-key regex
    # alone is vacuous (keys never list carried columns), so inspect
    # each Exchange node's Output column list from the formatted plan.
    import re

    from tests.plan_audit import explain_str

    fmt = explain_str(out, "formatted")
    # node detail blocks: "(n) Exchange\nInput [k]: [col#1, ...]\n..."
    blocks = re.findall(r"^\(\d+\) Exchange\n((?:(?!^\(\d+\)).*\n?)*)",
                        fmt, re.M)
    assert blocks, fmt  # the detection stages do shuffle (ints)
    inputs = [re.search(r"Input \[\d+\]: \[([^\]]*)\]", body) for body in blocks]
    assert all(inputs), fmt  # every Exchange block must list its inputs
    text_exchanges = sum(1 for m in inputs if re.search(r"\btext#", m.group(1)))
    assert text_exchanges <= 1, fmt


def test_dedup_spans_randomized_twin(spark):
    """Deterministic random corpora with planted shared runs: the Spark
    plan must equal the brute-force twin on every doc, both policies."""
    import random

    rng = random.Random(17)
    vocab = [f"w{k}" for k in range(30)]
    planted = ["shared run of tokens appears verbatim several times over"]
    rows = []
    for i in range(24):
        n = rng.randint(0, 18)
        toks = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.5:
            at = rng.randint(0, len(toks))
            toks[at:at] = planted[0].split()
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for keep in ("first", "none"):
        got = {r["doc_id"]: (r["text"], r["dedup_span_tokens_dropped"])
               for r in dedup_spans(df, width=5, keep=keep).collect()}
        want = _twin(rows, width=5, keep=keep)
        assert got == want


def test_dedup_spans_unicode_whitespace_token_parity(spark):
    """The Arrow rebuild must tokenize exactly like the Spark-side Java
    \\s split: Unicode-only whitespace (NBSP here) binds its neighbors
    into ONE token, so drop indices stay aligned and exactly the
    duplicated tokens are removed — Python str.split() would see an
    extra token and delete a window shifted off by one."""
    run = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"other opening then {run} closes one"),
        # NBSP between x and y, BEFORE the duplicated run, in the doc
        # that loses the span
        (2, f"x\u00a0y lead-in {run} tail words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["dedup_span_tokens_dropped"])
           for r in dedup_spans(df, width=6).collect()}
    # doc 1 is first by (doc_id, start): intact
    assert got[1] == (rows[0][1], 0)
    # doc 2 loses exactly the 6 run tokens; the NBSP token survives whole
    assert got[2] == ("x\u00a0y lead-in tail words", 6)


def test_dedup_spans_distinct_docs_sharing_url_not_merged(spark):
    """Pipeline wiring: two DISTINCT documents at the same url (ts_col
    absent skips url_dedup) must not have their span drop sets merged —
    the per-row dedup id keys the regroup, not the url."""
    from pdfextractor_spark.pipeline.webclean import prepare_training_corpus

    run = ("this exact duplicated span of nine whole tokens appears "
           "twice more")
    # two distinct docs share URL u; each also exists at a unique url,
    # so the run occurs 4x. innocent has NO duplicate span at all.
    rows = [
        ("https://u.org/p", f"first variant begins distinctly here. {run} "
         "first variant closing words here now. more unique filler one. "
         "more unique filler two arrives. final filler three lands."),
        ("https://u.org/p", "innocent second doc at the same url with "
         "entirely unique content throughout. nothing here repeats at "
         "all anywhere. every sentence is private to this one document. "
         "extra padding sentence to pass length gates."),
        ("https://a.org/p", f"third doc unique opening line first. {run} "
         "third doc unique closing line. filler sentence alpha here. "
         "filler sentence beta follows. filler sentence gamma ends."),
        ("https://b.org/p", f"fourth doc other opening text. {run} fourth "
         "doc other closing text. pad sentence one for quality. pad "
         "sentence two for quality. pad sentence three finishes."),
    ]
    pages = spark.createDataFrame(
        [(u, t, "en") for u, t in rows], "url string, text string, lang string")
    flagged = prepare_training_corpus(
        pages, extract=False, dup_line_min_count=None, dedup_span_width=5,
        redact=False, filter_rows=False)
    out = {(r["url"], r["text"][:14]): r for r in flagged.collect()}
    innocent = out[("https://u.org/p", "innocent secon")]
    # the innocent same-url doc keeps every byte
    assert innocent["text"] == rows[1][1]
    assert innocent["dedup_span_tokens_dropped"] == 0
    # the run survives in exactly one of its three carriers
    carriers = [r for k, r in out.items() if k != ("https://u.org/p",
                                                   "innocent secon")]
    assert sum(run in r["text"] for r in carriers) == 1
    assert sum(r["dedup_span_tokens_dropped"] >= 11 for r in carriers) == 2


def test_dedup_spans_in_webclean_pipeline(spark):
    """dedup_span_width wires the stage into prepare_training_corpus, and
    prep_report carries the dup_span_tokens_dropped accounting."""
    from pdfextractor_spark.pipeline.webclean import (prep_report,
                                                      prepare_training_corpus)

    shared = ("This exact shared span of ten tokens keeps appearing "
              "again today.")
    rows = [
        (f"https://s{i}.org/p", f"Opening sentence number {i} is unique "
         f"and long enough here. {shared} Unique closing line number {i} "
         "also makes the cut. Extra filler sentence one lands here. "
         "Extra filler sentence two lands here. Extra filler three ends.",
         "en")
        for i in range(4)
    ]
    pages = spark.createDataFrame(rows, "url string, text string, lang string")
    flagged = prepare_training_corpus(
        pages, extract=False, dup_line_min_count=None, dedup_span_width=5,
        redact=False, filter_rows=False)
    rep = prep_report(flagged).collect()[0]
    # the shared 11-token span survives once; 3 later docs lose >= 11 each
    assert rep["dup_span_tokens_dropped"] >= 33
    by_url = {r["url"]: r for r in flagged.collect()}
    assert shared in by_url["https://s0.org/p"]["text"]
    for i in (1, 2, 3):
        assert "shared span of ten tokens" not in by_url[f"https://s{i}.org/p"]["text"]

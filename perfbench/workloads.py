"""The three workloads: what one timed pass runs and how its outputs are checked.

A pass reaches the program only through public entries
(``pipeline.fused.extract_fused``, ``pipeline.runner.run_pipeline``,
``pipeline.webrunner.run_corpus_prep``) over a freshly read DataFrame and,
where it writes, a fresh output directory. Checks run after timing: they
compare each pass's outputs with the single-process reference records built
by the generator workers, with the generator's designed error ids, and, for
the checkpointing workloads, with DuckDB re-derivations of what was written.
"""

from __future__ import annotations

import hashlib
import math
import os

import gen

# one doc in this many gets a single-process reference record to compare with
_SAMPLE_EVERY = 10


class Verdict:
    """Per-doc failures (a url counts once per pass) and whole-run problems."""

    def __init__(self):
        self.attempted = 0
        self.failed_urls: list[set] = []
        self.problems: list[str] = []
        self.designed = {"needs_ocr": 0, "corrupt_pdf": 0}
        self.unexpected = 0
        self.digests: list[str] = []

    def new_pass(self, n_docs: int) -> set:
        self.attempted += n_docs
        self.failed_urls.append(set())
        return self.failed_urls[-1]

    def problem(self, msg: str) -> None:
        if len(self.problems) < 20:
            self.problems.append(msg)

    @property
    def failed(self) -> int:
        return sum(len(s) for s in self.failed_urls)

    def check_errors(self, bad: set, observed: dict, expect: dict, designed: dict,
                     count: bool = True) -> None:
        """``observed``: url -> (error, parser) for rows carrying an error;
        ``expect``: designed class -> (error matcher, parser) on this surface.
        ``count``: tally designed errors (once per pass, on its first surface)."""
        for url, (err, parser) in observed.items():
            cls = designed.get(url)
            want = expect.get(cls)
            if cls is None or want is None or not want[0](err) or parser != want[1]:
                bad.add(url)
                self.unexpected += 1
                self.problem(f"unexpected error at {url}: {err!r} ({parser})")
            elif count:
                self.designed[cls] += 1
        for url, cls in designed.items():
            if expect.get(cls) is not None and url not in observed and url not in bad:
                bad.add(url)
                self.problem(f"designed {cls} missing its error row at {url}")


def _is(value):
    return lambda err: err == value


def _pdf_parse_error(err) -> bool:
    return isinstance(err, str) and err.startswith("pdf: ") and not err.startswith("pdf: unexpected")


BRONZE_ERRORS = {"corrupt_pdf": (_pdf_parse_error, "error"), "needs_ocr": (_is("empty-text"), "pdf")}


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _rows_match(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    return all(len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
               for g, w in zip(sorted(got, key=repr), sorted(want, key=repr)))


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


class Workload:
    name = ""
    reports = True  # the per-doc path builds silver reports, not only text
    rehost = False
    n_docs = 0

    def ids(self) -> list[int]:
        raise NotImplementedError

    def sample(self, ids: list[int], seed: int) -> list[int]:
        return [i for p, i in enumerate(ids) if p % _SAMPLE_EVERY == seed % _SAMPLE_EVERY]

    def prepare(self, spark, ctx) -> None:
        """Untimed per-run set-up that needs Spark (none by default)."""

    def run_pass(self, spark, ctx, out_dir: str) -> dict:
        raise NotImplementedError

    def check(self, ctx, outputs: list[dict]) -> Verdict:
        raise NotImplementedError

    def layer_metrics(self, ctx, result: dict) -> dict:
        """Per-layer metrics read off the traced pass's own result."""
        return {}


class FusedCrawl(Workload):
    """``extract_fused`` over the generator's default mix, then one aggregate
    that also carries everything the check needs (so every pass is checked)."""

    name = "fused_crawl"
    n_docs = 1500  # ~3-4 s passes on 4 cores

    def ids(self):
        return list(range(self.n_docs))

    @staticmethod
    def _digest_col(F):
        return F.pmod(F.xxhash64("url", "parser", "error", "n_chars", "text_match", "report_json"),
                      F.lit(2**31 - 1))

    def prepare(self, spark, ctx):
        from pyspark.sql import functions as F

        ctx.url_sum = spark.read.parquet(ctx.pages_path).agg(
            F.sum(F.pmod(F.xxhash64("url"), F.lit(2**31 - 1)))).collect()[0][0]

    def run_pass(self, spark, ctx, out_dir):
        from pyspark.sql import functions as F

        from pdfextractor_spark.pipeline.fused import extract_fused

        out = extract_fused(spark.read.parquet(ctx.pages_path))
        tables = F.transform("cost_tables", lambda t: F.struct(
            t["pattern_id"], t["total_computed"], t["total_reported"], F.size(t["rows"])))
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("url").alias("n_urls"),
            F.sum(F.pmod(F.xxhash64("url"), F.lit(2**31 - 1))).alias("url_sum"),
            F.sum(F.when(F.col("text_match"), 1).otherwise(0)).alias("parity_ok"),
            F.count("text_match").alias("parity_total"),
            F.sum(self._digest_col(F)).alias("digest"),
            F.collect_list(F.when(F.col("error").isNotNull(),
                                  F.struct("url", "error", "parser"))).alias("errors"),
            F.collect_list(F.when(F.col("url").isin(list(ctx.refs)), F.struct(
                "url", "parser", "error", "n_chars", "text_match", "total_goals", "total_bmps",
                "total_activities", "primary_goals", tables.alias("tables"),
                F.sha2("report_json", 256).alias("report_sha")))).alias("sample"),
        ).collect()[0]
        return row.asDict(recursive=True)

    def check(self, ctx, outputs):
        v = Verdict()
        expect = {"corrupt_pdf": (_is("no raw text"), "error"), "needs_ocr": (_is("empty-text"), "pdf")}
        for k, o in enumerate(outputs):
            bad = v.new_pass(ctx.n_docs)
            if (o["n"], o["n_urls"], o["url_sum"]) != (ctx.n_docs, ctx.n_docs, ctx.url_sum):
                v.problem(f"pass {k}: {o['n']} rows / {o['n_urls']} urls for {ctx.n_docs} docs")
                bad.update(f"missing-{j}" for j in range(max(1, ctx.n_docs - o["n_urls"])))
            if o["parity_ok"] != o["parity_total"]:
                v.problem(f"pass {k}: parity {o['parity_ok']}/{o['parity_total']}")
                bad.update(f"parity-{j}" for j in range(o["parity_total"] - o["parity_ok"]))
            v.check_errors(bad, {e["url"]: (e["error"], e["parser"]) for e in o["errors"]},
                           expect, ctx.designed)
            got = {s["url"]: s for s in o["sample"]}
            for url, ref in ctx.refs.items():
                s = got.get(url)
                want_err = ref["report_error"] if ref["report_error"] is not None else ref["extract_error"]
                if s is None or not _rows_match(
                        [(s["parser"], s["error"], s["n_chars"], s["text_match"], s["total_goals"],
                          s["total_bmps"], s["total_activities"], s["primary_goals"], s["report_sha"],
                          [tuple(t.values()) for t in s["tables"]])],
                        [(ref["parser"], want_err, ref["n_chars"], ref["parity"], ref["total_goals"],
                          ref["total_bmps"], ref["total_activities"], ref["primary_goals"],
                          ref["report_sha"], [tuple(t) for t in ref["tables"]])]):
                    bad.add(url)
                    v.problem(f"pass {k}: {url} differs from the single-process path")
            v.digests.append(str(o["digest"]))
        return v


class _Checkpointed(Workload):
    def _bronze_surface(self, con, v, bad, ctx, path, k, expected_urls):
        rows = con.execute(
            f"SELECT url, parser, error, n_chars, text_match, encoding FROM {_pq(path)}").fetchall()
        urls = [r[0] for r in rows]
        if len(urls) != len(set(urls)) or set(urls) != expected_urls:
            missing = expected_urls - set(urls)
            extra = set(urls) - expected_urls
            v.problem(f"pass {k}: {os.path.basename(path)} has {len(missing)} missing and "
                      f"{len(extra)} unexpected urls, {len(urls) - len(set(urls))} duplicates")
            bad.update(missing | extra)
        parity_bad = [r[0] for r in rows if r[4] is False]
        if parity_bad:
            v.problem(f"pass {k}: {len(parity_bad)} parity mismatches, e.g. {parity_bad[0]}")
            bad.update(parity_bad)
        designed = {u: c for u, c in ctx.designed.items() if u in expected_urls}
        v.check_errors(bad, {r[0]: (r[2], r[1]) for r in rows if r[2] is not None},
                       BRONZE_ERRORS, designed)
        by_url = {r[0]: r for r in rows}
        for url, ref in ctx.refs.items():
            if url not in expected_urls:
                continue
            r = by_url.get(url)
            if r is None or (r[1], r[2], r[3], r[5]) != (
                    ref["parser"], ref["extract_error"], ref["n_chars"], ref["encoding"]):
                bad.add(url)
                v.problem(f"pass {k}: {url} differs from the single-process extraction")
        return rows


class MedallionPlans(_Checkpointed):
    """``run_pipeline`` into a fresh out_dir over PDF-only ids."""

    name = "medallion_plans"
    # ~8-10 s passes, most of it per-job work (checkpoint commits, lineage,
    # seven gold jobs) rather than per-doc parsing
    n_docs = 800

    def ids(self):
        return [i for i in range(self.n_docs * 4) if i % 10 >= 7][:self.n_docs]

    def run_pass(self, spark, ctx, out_dir):
        from pdfextractor_spark.pipeline.runner import run_pipeline

        summary = run_pipeline(spark, spark.read.parquet(ctx.pages_path), out_dir)
        return {"out_dir": out_dir, "summary": summary}

    def check(self, ctx, outputs):
        v = Verdict()
        con = _duck()
        want_urls = set(ctx.urls)
        for k, o in enumerate(outputs):
            bad = v.new_pass(ctx.n_docs)
            d, s = o["out_dir"], o["summary"]
            if s["docs"] != ctx.n_docs or s["byte_identical_matched"] != s["byte_identical_total"]:
                v.problem(f"pass {k}: run_pipeline summary {s}")
            bronze = self._bronze_surface(con, v, bad, ctx, f"{d}/bronze", k, want_urls)
            silver = con.execute(
                f"SELECT url, error, total_goals, total_bmps, total_activities, primary_goals, "
                f"report_json, list_transform(cost_tables, t -> {{'p': t.pattern_id, "
                f"'c': t.total_computed, 'r': t.total_reported, 'n': len(t.rows)}}) "
                f"FROM {_pq(d + '/silver')}").fetchall()
            s_urls = {r[0] for r in silver}
            if len(silver) != len(s_urls) or s_urls != want_urls:
                v.problem(f"pass {k}: silver urls differ from the input")
                bad.update(want_urls ^ s_urls)
            silver_expect = {"corrupt_pdf": (_is("no raw text"), None)}
            v.check_errors(bad, {r[0]: (r[1], None) for r in silver if r[1] is not None},
                           silver_expect, ctx.designed, count=False)
            by_url = {r[0]: r for r in silver}
            for url, ref in ctx.refs.items():
                r = by_url.get(url)
                sha = hashlib.sha256(r[6].encode()).hexdigest() if r and r[6] is not None else None
                if r is None or not _rows_match(
                        [(r[1], r[2], r[3], r[4], r[5], sha, [tuple(t.values()) for t in r[7]])],
                        [(ref["report_error"], ref["total_goals"], ref["total_bmps"],
                          ref["total_activities"], ref["primary_goals"], ref["report_sha"],
                          [tuple(t) for t in ref["tables"]])]):
                    bad.add(url)
                    v.problem(f"pass {k}: silver row {url} differs from the single-process path")
            for msg in gold_mismatches(con, d):
                v.problem(f"pass {k}: {msg}")
            h = hashlib.sha256()
            for r in sorted(bronze):
                h.update(repr(r).encode())
            for r in sorted(silver, key=lambda r: r[0]):
                h.update(repr(r[:7]).encode())
            v.digests.append(h.hexdigest())
        con.close()
        return v


def _gold_queries(d: str) -> dict[str, str]:
    silver, bronze = _pq(d + "/silver"), _pq(d + "/bronze")
    tables = (f"(SELECT url, t.pattern_id AS pattern_id, t.pattern_confidence AS conf, "
              f"t.total_reported AS r, t.total_computed AS c "
              f"FROM (SELECT url, unnest(cost_tables) AS t FROM {silver}))")
    return {
        "lang_rollup": f"""
            SELECT lang, count(*), sum(total_goals), sum(total_bmps), sum(total_activities),
                   sum(CASE WHEN len(cost_tables) > 0 THEN 1 ELSE 0 END),
                   round(avg(avg_goal_confidence), 6)
            FROM {silver} GROUP BY lang""",
        "pattern_usage": f"""
            SELECT pattern_id, cnt, tr, tc, wc, wr, wb, w1, w5, sd,
                   CASE WHEN wb > 0 THEN w1 / wb ELSE 0.0 END,
                   CASE WHEN wb > 0 THEN w5 / wb ELSE 0.0 END,
                   CASE WHEN wb > 0 THEN sd / wb END
            FROM (SELECT pattern_id, count(*) AS cnt,
                    sum(CASE WHEN r > 0 THEN r ELSE 0.0 END) AS tr,
                    sum(CASE WHEN c > 0 THEN c ELSE 0.0 END) AS tc,
                    sum(CASE WHEN c > 0 AND conf > 0 THEN c * least(conf, 1.0) ELSE 0.0 END) AS wc,
                    sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS wr,
                    sum(CASE WHEN r > 0 AND c > 0 THEN 1 ELSE 0 END) AS wb,
                    sum(CASE WHEN r > 0 AND c > 0 AND abs(r - c) / c <= 0.01 THEN 1 ELSE 0 END) AS w1,
                    sum(CASE WHEN r > 0 AND c > 0 AND abs(r - c) / c <= 0.05 THEN 1 ELSE 0 END) AS w5,
                    sum(CASE WHEN r > 0 AND c > 0 THEN r - c ELSE 0.0 END) AS sd
                  FROM {tables} WHERE pattern_id IS NOT NULL GROUP BY pattern_id)""",
        "cost_summary": f"""
            WITH per AS (SELECT url, sum(CASE WHEN r > 0 THEN r ELSE 0.0 END) AS tr,
                                sum(CASE WHEN c > 0 THEN c ELSE 0.0 END) AS tc
                         FROM {tables} GROUP BY url)
            SELECT (SELECT count(*) FROM {silver}),
                   (SELECT sum(CASE WHEN tr > 0 OR tc > 0 THEN 1 ELSE 0 END) FROM per),
                   (SELECT sum(tr) FROM per), (SELECT sum(tc) FROM per),
                   (SELECT sum(CASE WHEN c > 0 AND conf > 0 THEN c * least(conf, 1.0) ELSE 0.0 END)
                    FROM {tables})""",
        "coverage": f"""
            SELECT count(*), sum(CASE WHEN len(cost_tables) > 0 THEN 1 ELSE 0 END),
                   round(avg(CASE WHEN len(cost_tables) > 0 THEN 1.0 ELSE 0.0 END), 6),
                   sum(CASE WHEN list_contains(list_transform(cost_tables, t -> t.pattern_id),
                                               'adaptive_generic_costs') THEN 1 ELSE 0 END),
                   sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END),
                   sum(CASE WHEN error = 'empty-text' THEN 1 ELSE 0 END), 0
            FROM {silver}""",
        "anomaly_summary": f"""
            WITH a AS (
              SELECT regexp_replace(regexp_replace(lower(string_split(url, '/')[-1]),
                       '[^a-z0-9_-]+', '-', 'g'), '-{{2,}}', '-', 'g') AS slug,
                     len(goals) AS g, len(bmps) AS b FROM {silver})
            SELECT count(*), sum(g), sum(b), round(avg(g), 1), round(avg(b), 1),
                   sum(CASE WHEN g = 0 THEN 1 ELSE 0 END), sum(CASE WHEN b = 0 THEN 1 ELSE 0 END),
                   sum(CASE WHEN contains(slug, '__') OR len(string_split_regex(slug, '[-_]')) < 3
                             OR contains(slug, 'elelment') OR contains(slug, 'watersehd')
                            THEN 1 ELSE 0 END)
            FROM a""",
        "reextract_candidates": f"""
            SELECT url, n_chars, CASE WHEN n_chars = 18000 THEN 'exact_18000_truncation'
                                      ELSE 'tiny_fragment' END
            FROM {bronze}
            WHERE n_chars = 18000 OR (regexp_matches(url, '-\\d+$') AND n_chars > 0 AND n_chars < 600)""",
        # the per-line audit columns use Java regexes; re-derive the row count
        "content_audit": f"SELECT count(*) FROM {bronze}",
    }


def gold_mismatches(con, d: str) -> list[str]:
    """Gold tables re-derived with DuckDB from the checkpoints; doubles are
    compared with a relative tolerance (partition order moves float sums)."""
    out = []
    for name, sql in _gold_queries(d).items():
        want = [tuple(r) for r in con.execute(sql).fetchall()]
        got = [tuple(r) for r in con.execute(f"SELECT * FROM {_pq(f'{d}/gold_{name}')}").fetchall()]
        if name == "content_audit":
            got = [r[:1] for r in got]
        if not _rows_match(got, want):
            out.append(f"gold_{name} differs from its DuckDB re-derivation")
    return out


class PrepHtml(_Checkpointed):
    """``run_corpus_prep`` over HTML-only ids re-hosted over a Zipf host set,
    with robots, URL quality, line dedup, PII redaction and a host cap."""

    name = "prep_html"
    reports = False
    rehost = True
    n_docs = 1000
    host_cap = 30  # binds on the largest host (~25% of the kept docs)

    def ids(self):
        return [i for i in range(self.n_docs * 2) if i % 10 < 7][:self.n_docs]

    def run_pass(self, spark, ctx, out_dir):
        from pdfextractor_spark.pipeline.webrunner import run_corpus_prep

        summary = run_corpus_prep(
            spark, spark.read.parquet(ctx.pages_path), out_dir, url_quality={},
            robots=(spark.read.parquet(ctx.robots_path), gen.ROBOTS_AGENT),
            redact=True, max_docs_per_host=self.host_cap)
        return {"out_dir": out_dir, "summary": summary}

    def layer_metrics(self, ctx, result):
        s = result["summary"]
        phases = [("cleaned", ctx.n_docs, s["cleaned_rows"]),
                  ("flagged", s["cleaned_rows"], s["flagged_rows"]),
                  ("corpus", s["flagged_rows"], s["corpus_rows"])]
        m = {}
        for name, rows_in, rows_out in phases:
            m[f"pipeline.webrunner.{name}_s"] = s[f"{name}_sec"]
            m[f"pipeline.webrunner.{name}_rows_in"] = rows_in
            m[f"pipeline.webrunner.{name}_rows_out"] = rows_out
        rep = s["prep_report"]
        m["pipeline.webrunner.keep_ratio"] = rep["docs_kept"] / rep["docs_in"]
        return m

    def check(self, ctx, outputs):
        v = Verdict()
        con = _duck()
        allowed = {u for u in ctx.urls if gen.robots_allowed(u)}
        for k, o in enumerate(outputs):
            bad = v.new_pass(ctx.n_docs)
            d, s = o["out_dir"], o["summary"]
            cleaned = self._bronze_surface(con, v, bad, ctx, f"{d}/cleaned", k, allowed)
            flagged, corpus, rep = _pq(d + "/flagged"), _pq(d + "/corpus"), s["prep_report"]
            n_flagged, n_keep, tokens = con.execute(
                f"SELECT count(*), count(*) FILTER (WHERE keep), "
                f"coalesce(sum(ws_tokens) FILTER (WHERE keep), 0) FROM {flagged}").fetchone()
            capped = con.execute(
                f"SELECT coalesce(sum(least(n, {self.host_cap})), 0) FROM (SELECT count(*) AS n "
                f"FROM {flagged} WHERE keep GROUP BY split_part(url, '/', 3))").fetchone()[0]
            n_corpus, n_pairs, max_host = con.execute(
                f"SELECT count(*), count(DISTINCT (url, text)), "
                f"(SELECT coalesce(max(n), 0) FROM (SELECT count(*) AS n FROM {corpus} "
                f"GROUP BY split_part(url, '/', 3))) FROM {corpus}").fetchone()
            not_kept = rep["docs_in"] - rep["docs_kept"]
            reasons = [rep[c] for c in ("dropped_c4", "dropped_repetition",
                                        "dropped_contaminated", "dropped_empty")]
            identities = {
                "cleaned_rows = robots-allowed input docs": s["cleaned_rows"] == len(allowed) == len(cleaned),
                "docs_in = flagged rows": rep["docs_in"] == s["flagged_rows"] == n_flagged,
                "docs_kept = keep rows": rep["docs_kept"] == n_keep,
                "each drop reason <= docs not kept": max(reasons) <= not_kept,
                "docs not kept <= sum of drop reasons": not_kept <= sum(reasons),
                "tokens_kept = sum of kept ws_tokens": rep["tokens_kept"] == tokens,
                "corpus rows = sum over hosts of min(kept, cap)": s["corpus_rows"] == capped == n_corpus,
                "no host above the cap": max_host <= self.host_cap,
                "corpus has no duplicate (url, text)": n_pairs == n_corpus,
            }
            for what, ok in identities.items():
                if not ok:
                    v.problem(f"pass {k}: prep accounting broken: {what}")
            h = hashlib.sha256()
            for r in sorted(cleaned):
                h.update(repr(r).encode())
            for r in con.execute(f"SELECT url, text FROM {corpus} ORDER BY url").fetchall():
                h.update(repr(r).encode())
            v.digests.append(h.hexdigest())
        con.close()
        return v


WORKLOADS = {w.name: w for w in (FusedCrawl(), MedallionPlans(), PrepHtml())}

"""Benchmark inputs: the load generator's pages, sharded over worker processes.

Everything here runs before any SparkSession starts. Each worker takes a
contiguous chunk of generator ids, writes one parquet part with pyarrow, and
returns the chunk's input digest plus reference records for the sampled ids
(the single-process ``_extract_one`` + ``build_report_row`` path the Spark
outputs are compared against).
"""

from __future__ import annotations

import hashlib
import json
import random

import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 42

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

# Zipf-skewed host set for the corpus-prep workload. Robots policy by host
# index: 0 disallows paths ending in 3 for every agent, 1 disallows a path
# the corpus never uses for the bench agent only, 2 allows everything, 3 has
# no robots row at all.
N_HOSTS = 48
ZIPF_S = 1.1
ROBOTS_AGENT = "trainingbot"
_HOST_WORDS = ["riverwatch", "basinnews", "waterplans", "creekdata", "landtrust",
               "soilnotes", "fieldguide", "wetlands"]


def designed_error(i: int) -> str | None:
    """Error class the generator plants at id ``i`` (corpus.generate_pages)."""
    if i % 97 == 13:
        return "corrupt_pdf"
    if i % 89 == 11:
        return "needs_ocr"
    return None


def host_name(k: int) -> str:
    return f"{_HOST_WORDS[k % len(_HOST_WORDS)]}-{k:02d}.example.org"


def host_of(i: int, seed: int) -> str:
    """Zipf(s=1.1) host draw for doc id ``i``; per-id seeding keeps it
    independent of how ids are sharded."""
    rng = random.Random(seed * 7919 + i)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(N_HOSTS)]
    return host_name(rng.choices(range(N_HOSTS), weights=weights)[0])


def robots_rows() -> list[dict]:
    rows = []
    for k in range(N_HOSTS):
        policy = k % 4
        if policy == 0:
            txt = "User-agent: *\nDisallow: /plans/doc-*3$\n"
        elif policy == 1:
            txt = f"User-agent: {ROBOTS_AGENT}\nDisallow: /private/\n\nUser-agent: *\nDisallow: /\n"
        elif policy == 2:
            txt = "User-agent: *\nAllow: /\n"
        else:
            continue
        rows.append({"host": host_name(k), "robots_txt": txt})
    return rows


def robots_allowed(url: str) -> bool:
    """Expected robots verdict for the rules above (bench agent)."""
    host = url.split("/")[2]
    k = int(host.split("-")[-1].split(".")[0])
    return not (k % 4 == 0 and url.endswith("3"))


def _row_digest(h, row: dict) -> None:
    h.update(row["url"].encode())
    h.update(row["warc_ts"].isoformat().encode())
    h.update(hashlib.sha256(row["html"]).digest())
    h.update(b"\x00" if row["text"] is None else b"\x01" + row["text"].encode())
    h.update(row["lang"].encode())


def reference_record(row: dict, reports: bool) -> dict:
    """The make_golden-style record of one doc on the single-process path."""
    from pdfextractor_spark.pipeline.bronze import _extract_one
    from pdfextractor_spark.pipeline.silver import build_report_row

    raw, parser, _n_pages, err, enc = _extract_one(row["html"], row["text"])
    text = row["text"]
    rec = {
        "parser": parser,
        "extract_error": err,
        "encoding": enc,
        "n_chars": len(raw) if raw is not None else None,
        "parity": (raw == text) if (text is not None and raw is not None) else None,
    }
    if reports:
        s = build_report_row(row["url"], row["lang"], raw)
        rj = s["report_json"]
        rec.update({
            "report_error": s["error"],
            "total_goals": s["total_goals"],
            "total_bmps": s["total_bmps"],
            "total_activities": s["total_activities"],
            "primary_goals": s["primary_goals"],
            "tables": [[t["pattern_id"], t["total_computed"], t["total_reported"], len(t["rows"])]
                       for t in s["cost_tables"]],
            "report_sha": hashlib.sha256(rj.encode()).hexdigest() if rj is not None else None,
        })
    return rec


def make_row(i: int, seed: int, rehost: bool) -> dict:
    from pdfextractor_spark.corpus import generate_pages

    row = generate_pages(1, seed=seed, start=i)[0]
    if rehost:
        row["url"] = row["url"].replace("example.org", host_of(i, seed), 1)
    return row


def build_chunk(task: dict) -> dict:
    """Worker entry: generate ids, write one parquet part, digest it, and
    build reference records for the sampled ids."""
    seed, ids, rehost, reports = task["seed"], task["ids"], task["rehost"], task["reports"]
    sample = set(task["sample"])
    h = hashlib.sha256()
    rows, refs, designed = [], {}, {}
    for i in ids:
        row = make_row(i, seed, rehost)
        _row_digest(h, row)
        rows.append(row)
        if i in sample:
            refs[row["url"]] = reference_record(row, reports)
        if designed_error(i):
            designed[row["url"]] = designed_error(i)
    table = pa.Table.from_pylist(rows, schema=PAGES_SCHEMA)
    pq.write_table(table, task["path"])
    return {
        "digest": h.hexdigest(),
        "rows": len(rows),
        "payload_bytes": sum(len(r["html"]) for r in rows),
        "refs": refs,
        "designed": designed,
        "urls": [r["url"] for r in rows],
    }


def probe_digests(task: dict) -> dict:
    """Digests of a fixed default-seed slice: its inputs and its reference
    outputs. Pinned in pinned.json, so a change to the generator or to
    extraction semantics shows on every run, whatever the run's seed."""
    from pdfextractor_spark.corpus import generate_pages

    rows = generate_pages(task["n"], seed=DEFAULT_SEED)
    h = hashlib.sha256()
    for r in rows:
        _row_digest(h, r)
    recs = {r["url"]: reference_record(r, reports=True) for r in rows}
    out = hashlib.sha256(json.dumps(recs, sort_keys=True).encode()).hexdigest()
    return {"inputs": h.hexdigest(), "outputs": out}

"""WARC ingestion: Common-Crawl archives -> the pages table.

The pipeline's input contract is a pages table ``(url, warc_ts, html,
text, lang)``; Common Crawl ships WARC (ISO 28500) files, so this
source closes the gap between "have CC segments" and "have the pages
table". Format facts used (all public, ISO 28500 / the Common Crawl
layout):

- a WARC record is a CRLF-terminated header block (``WARC/1.x`` version
  line + ``Name: value`` fields), an empty line, ``Content-Length``
  bytes of payload, then CRLF CRLF;
- Common Crawl compresses each record as its OWN gzip member and
  concatenates the members, so a whole ``.warc.gz`` inflates with a
  multi-member loop (``zlib.decompressobj`` + ``unused_data``) and a
  range split can start at any member boundary;
- ``response`` records hold an HTTP/1.x message: status line, headers,
  empty line, body. The body is the page payload; the HTTP
  ``Content-Type`` supplies the charset hint.

Spark shape: ``read_warc`` lists the archive files with the binaryFile
source and parses each file inside ``session.map_rows`` — one task per
archive (CC segments are ~1 GB, the natural split), rows stream out as
Arrow batches. Corrupt records surface as skipped-record counts in a
final ``warc_error`` row per bad file, never a job failure.
``make_warc`` is the encoder twin used by tests and the corpus
generator (plain or per-record-gzip, byte-exact round-trip).
"""

from __future__ import annotations

import gzip
import io
import zlib
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd

__all__ = ["parse_warc", "make_warc", "read_warc", "wet_records", "write_wet"]

_CRLF = b"\r\n"


def _inflate_members(data: bytes) -> bytes:
    """Concatenated-gzip-members -> raw bytes (CC's per-record layout)."""
    out = []
    rest = data
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out.append(d.decompress(rest))
        out.append(d.flush())
        rest = d.unused_data
    return b"".join(out) if out else data


def _parse_http_payload(payload: bytes) -> tuple[bytes, str | None]:
    """HTTP response message -> (body, content_type). Non-HTTP payloads
    pass through whole."""
    if not payload[:5] in (b"HTTP/",):
        return payload, None
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        head, sep, body = payload.partition(b"\n\n")
        if not sep:
            return payload, None
    ctype = None
    for line in head.split(b"\n")[1:]:
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-type":
            ctype = v.strip().decode("latin-1")
            break
    return body, ctype


def parse_warc(data: bytes) -> Iterator[dict]:
    """Yield one dict per WARC record:
    {type, url, date, content_type, http_content_type, body: bytes}.
    Stops cleanly at truncation; malformed header blocks raise ValueError
    (callers convert to per-file error rows)."""
    raw = _inflate_members(data)
    pos = 0
    n = len(raw)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and raw[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        head_end = raw.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break  # trailing garbage / truncation: no full header block
        head_bytes = raw[pos:head_end]
        try:
            head = head_bytes.decode("utf-8")  # WARC 1.0 headers are UTF-8
        except UnicodeDecodeError:
            head = head_bytes.decode("latin-1", errors="replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"not a WARC record at offset {pos}: {lines[0][:40]!r}")
        fields = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError(f"record at {pos} missing Content-Length") from e
        body_start = head_end + 4
        payload = raw[body_start:body_start + length]
        pos = body_start + length
        body, http_ctype = _parse_http_payload(payload)
        yield {
            "type": fields.get("warc-type", ""),
            "url": fields.get("warc-target-uri"),
            "date": fields.get("warc-date"),
            "record_id": fields.get("warc-record-id"),
            "content_type": fields.get("content-type"),
            "http_content_type": http_ctype,
            "body": body,
        }


def _pages_rows(name: str, data: bytes) -> list[dict]:
    rows = []
    try:
        for rec in parse_warc(bytes(data)):
            if rec["type"] != "response" or not rec["url"]:
                continue  # warcinfo/request/metadata records carry no page
            ts = None
            if rec["date"]:
                try:
                    ts = datetime.fromisoformat(
                        rec["date"].replace("Z", "+00:00"))
                    ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
                except ValueError:
                    ts = None
            rows.append({"url": rec["url"], "warc_ts": ts,
                         "html": rec["body"], "text": None, "lang": None,
                         "content_type": rec["http_content_type"]})
    except Exception as e:  # corrupt archive: one error row, not a job failure
        rows.append({"url": f"warc_error:{name}", "warc_ts": None,
                     "html": None, "text": f"{type(e).__name__}: {e}",
                     "lang": None, "content_type": None})
    return rows


def read_warc(spark, path: str, num_partitions: int | None = None,
              keep_content_type: bool = False):
    """WARC files under ``path`` (glob ok, .warc or .warc.gz) -> a pages
    DataFrame in PAGES_SCHEMA. One binaryFile row per archive; parsing
    happens executor-side in ``session.map_rows``.

    ``keep_content_type=True`` appends the HTTP ``Content-Type`` header
    as a sixth column: the transport-layer charset hint, which the
    extraction stage's WHATWG sniffing ranks between BOM and meta
    prescan (``pipeline/bronze`` consumes the column when present)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from ..pipeline.schema import PAGES_SCHEMA
    from ..session import map_rows

    schema = (StructType(list(PAGES_SCHEMA.fields)
                         + [StructField("content_type", StringType())])
              if keep_content_type else PAGES_SCHEMA)

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    if num_partitions:
        files = files.repartition(num_partitions)
    return map_rows(files, _pages_rows, schema)


def make_warc(records: list[dict], per_record_gzip: bool = False) -> bytes:
    """Encoder twin: [{url, date, body, http_content_type?}] -> WARC
    bytes in Common Crawl's response-record layout (optionally one gzip
    member per record, CC's actual framing)."""
    out = []
    for r in records:
        http = (b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: " + (r.get("http_content_type")
                                     or "text/html").encode("latin-1")
                + b"\r\nContent-Length: " + str(len(r["body"])).encode()
                + b"\r\n\r\n" + r["body"])
        head = (f"WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: {r['url']}\r\n"
                f"WARC-Date: {r.get('date', '2024-01-01T00:00:00Z')}\r\n"
                f"Content-Type: application/http; msgtype=response\r\n"
                f"Content-Length: {len(http)}\r\n\r\n").encode("latin-1")
        record = head + http + _CRLF + _CRLF
        if per_record_gzip:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            record = buf.getvalue()
        out.append(record)
    return b"".join(out)


def wet_records(df, url_col: str = "url", text_col: str = "text",
                ts_col: str = "warc_ts"):
    """pages/silver rows -> one WET conversion record per row, each its
    own gzip member (``wet: binary``) — Common Crawl's WET framing, where
    members concatenate into a valid ``.warc.wet.gz`` in any order.

    Map-only (an Arrow-batched UDF building bytes); because every record
    is a self-contained member, downstream writers can emit one file per
    partition with a plain binary concat — no global ordering, no
    single-writer stage, which is what makes the export scale.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.BinaryType())
    def _wet(urls: pd.Series, texts: pd.Series, tss: pd.Series) -> pd.Series:
        import re as _re
        import uuid as _uuid

        out = []
        for url, text, ts in zip(urls, texts, tss):
            body = (text or "").encode("utf-8")
            date = (ts.strftime("%Y-%m-%dT%H:%M:%SZ")
                    if ts is not None and not pd.isna(ts)
                    else "2024-01-01T00:00:00Z")
            # header values are UTF-8 per WARC 1.0; strip control chars
            # from the URI so a crafted url can't inject header lines or
            # break the Content-Length framing
            safe_url = _re.sub(r"[\x00-\x1f\x7f]+", "", str(url or ""))
            # WARC-Record-ID is MANDATORY on every WARC 1.0 record;
            # deterministic uuid5 over (url, date) so re-exports are
            # byte-stable. WARC-Refers-To carries the uuid of the capture
            # this conversion derives from (CC WET convention).
            rid = _uuid.uuid5(_uuid.NAMESPACE_URL, f"{safe_url}\n{date}")
            ref = _uuid.uuid5(_uuid.NAMESPACE_URL, f"response\n{safe_url}\n{date}")
            head = (f"WARC/1.0\r\nWARC-Type: conversion\r\n"
                    f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
                    f"WARC-Refers-To: <urn:uuid:{ref}>\r\n"
                    f"WARC-Target-URI: {safe_url}\r\n"
                    f"WARC-Date: {date}\r\n"
                    f"Content-Type: text/plain\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n").encode("utf-8")
            rec = head + body + _CRLF + _CRLF
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(rec)
            out.append(buf.getvalue())
        return pd.Series(out)

    return df.select(
        F.col(url_col).alias("url"),
        _wet(F.col(url_col), F.col(text_col), F.col(ts_col)).alias("wet"),
    )


def write_wet(df, out_dir: str, url_col: str = "url", text_col: str = "text",
              ts_col: str = "warc_ts") -> list[str]:
    """Write the frame as ``part-NNNNN.warc.wet.gz`` files under
    ``out_dir`` (one file per partition, members concatenated). Returns
    the written file names. Executor-side writes — on a cluster
    ``out_dir`` must be shared storage, exactly like any file sink."""
    import os

    recs = wet_records(df, url_col, text_col, ts_col)
    os.makedirs(out_dir, exist_ok=True)

    def _write(idx, it):
        # open lazily on the first row: empty partitions (normal after
        # filtering) must not leave zero-byte invalid gzip files behind
        path = os.path.join(out_dir, f"part-{idx:05d}.warc.wet.gz")
        f = None
        n = 0
        try:
            for row in it:
                if f is None:
                    f = open(path, "wb")
                f.write(row["wet"])
                n += 1
        finally:
            if f is not None:
                f.close()
        yield (path, n) if n else None

    written = [p for p in recs.rdd.mapPartitionsWithIndex(_write).collect()
               if p is not None]
    return [p for p, _n in written]

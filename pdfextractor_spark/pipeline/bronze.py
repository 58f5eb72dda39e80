"""Bronze stage: pages -> extracted raw text.

Spark plan: salted ``repartition(N, xxhash64(url))`` (defuses large-document
skew: the ~1% of 50-100x docs spread uniformly instead of clumping in input
file order) -> ``mapInPandas`` Arrow-batched extraction -> bronze parquet.
Per-row error capture: a corrupt payload never fails the job (SURVEY §4
swallow-and-continue policy); failures are counted in lineage.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schema import BRONZE_SCHEMA

__all__ = ["extract_bronze"]


def _extract_one(html: bytes | None, text: str | None,
                 content_type: str | None = None,
                 html_mode: str = "default"):
    """Returns (raw_text, parser, n_pages, error, encoding).

    ``content_type`` is the optional transport-layer charset hint (the
    HTTP Content-Type of a WARC response record) — ranked between BOM
    and meta prescan by the WHATWG sniffing. ``html_mode`` selects the
    boilerplate classifier: ``default`` (link-density + length, the
    byte-parity mode) or ``density`` (boilerpipe NumWordsRules — context
    -aware, recall-leaning; sources/html.py)."""
    from ..sources.encoding import sniff_decode
    from ..sources.html import extract_html_text, extract_html_text_density
    from ..sources.pdf import PdfParseError, extract_pdf_auto

    if html is None or len(html) == 0:
        if text is not None:
            return text, "passthrough", None, None, None
        return None, "error", None, "empty payload and no pre-extracted text", None
    payload = bytes(html)
    if payload[:5] == b"%PDF-":
        try:
            # reference parser order: pdf-parse primary, pdfjs fallback
            extracted, n_pages, parser = extract_pdf_auto(payload)
            if not extracted.strip():
                # image-only PDF: parse succeeded but no text layer — the
                # reference's needs-OCR bucket (ref:
                # chunked_mdeq_extraction.js:53 'empty-text', counted by
                # summarize_extraction_coverage.js:16-17)
                return extracted, parser, n_pages, "empty-text", None
            return extracted, parser, n_pages, None, None
        except PdfParseError as e:
            return None, "error", None, f"pdf: {e}", None
        except Exception as e:  # never fail the job on one document
            return None, "error", None, f"pdf: unexpected {type(e).__name__}: {e}", None
    try:
        # WHATWG sniffing (BOM -> meta prescan -> utf-8 -> windows-1252):
        # a crawl is not all UTF-8, and a wrong decode poisons dedup keys
        # and lang-ID downstream (sources/encoding.py)
        decoded, enc = sniff_decode(payload, content_type)
        extract = (extract_html_text_density if html_mode == "density"
                   else extract_html_text)
        extracted = extract(decoded)
        return extracted, "html", None, None, enc
    except Exception as e:
        return None, "error", None, f"html: unexpected {type(e).__name__}: {e}", None


def _bronze_batches_factory(html_mode: str = "default"):
    def _bronze_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _bronze_batches_impl(batches, html_mode)
    return _bronze_batches


def _bronze_batches_impl(batches: Iterator[pd.DataFrame],
                         html_mode: str = "default") -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"url": [], "warc_ts": [], "lang": [], "raw_text": [], "parser": [],
               "n_pages": [], "n_chars": [], "text_match": [], "error": [],
               "encoding": []}
        ctypes = (pdf["content_type"] if "content_type" in pdf.columns
                  else [None] * len(pdf))
        for url, warc_ts, html, text, lang, ctype in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"], pdf["lang"],
            ctypes
        ):
            raw_text, parser, n_pages, error, enc = _extract_one(
                html, text if isinstance(text, str) else None,
                ctype if isinstance(ctype, str) else None, html_mode)
            out["url"].append(url)
            out["warc_ts"].append(warc_ts)
            out["lang"].append(lang)
            out["raw_text"].append(raw_text)
            out["parser"].append(parser)
            out["n_pages"].append(n_pages)
            out["n_chars"].append(len(raw_text) if raw_text is not None else None)
            out["text_match"].append(
                (raw_text == text) if (isinstance(text, str) and raw_text is not None) else None
            )
            out["error"].append(error)
            out["encoding"].append(enc)
        yield pd.DataFrame(out)


def extract_bronze(pages_df: DataFrame, num_partitions: int | None = None,
                   html_mode: str = "default") -> DataFrame:
    if html_mode not in ("default", "density"):
        # fail fast: a typo silently running the wrong classifier over a
        # 100 TB corpus is far worse than an error at plan time
        raise ValueError(f"unknown html_mode {html_mode!r} (default|density)")
    spark = pages_df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    salted = pages_df.repartition(n, F.xxhash64("url"))
    return salted.mapInPandas(_bronze_batches_factory(html_mode),
                              schema=BRONZE_SCHEMA)

"""Bronze stage: pages -> extracted raw text.

Spark plan: the five page columns (six with ``content_type``) ->
``session.salted`` on url (defuses large-document skew: the ~1% of 50-100x
docs spread uniformly instead of clumping in input file order) ->
``session.map_rows`` over ``_bronze_row`` -> bronze parquet.
Per-row error capture: a corrupt payload never fails the job (SURVEY §4
swallow-and-continue policy); failures are counted in lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..session import map_rows, salted
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


def _bronze_row(url, warc_ts, html, text, lang, content_type=None,
                html_mode: str = "default") -> dict:
    """One pages row -> its bronze row (``BRONZE_SCHEMA``)."""
    text = text if isinstance(text, str) else None
    raw_text, parser, n_pages, error, enc = _extract_one(
        html, text, content_type if isinstance(content_type, str) else None,
        html_mode)
    return {
        "url": url, "warc_ts": warc_ts, "lang": lang, "raw_text": raw_text,
        "parser": parser, "n_pages": n_pages,
        "n_chars": len(raw_text) if raw_text is not None else None,
        "text_match": (raw_text == text) if (text is not None and raw_text is not None) else None,
        "error": error, "encoding": enc,
    }


def extract_bronze(pages_df: DataFrame, num_partitions: int | None = None,
                   html_mode: str = "default") -> DataFrame:
    if html_mode not in ("default", "density"):
        # fail fast: a typo silently running the wrong classifier over a
        # 100 TB corpus is far worse than an error at plan time
        raise ValueError(f"unknown html_mode {html_mode!r} (default|density)")
    cols = ["url", "warc_ts", "html", "text", "lang"]
    if "content_type" in pages_df.columns:
        cols.append("content_type")
    return map_rows(salted(pages_df.select(*cols), "url", num_partitions),
                    lambda *row: [_bronze_row(*row, html_mode=html_mode)],
                    BRONZE_SCHEMA)

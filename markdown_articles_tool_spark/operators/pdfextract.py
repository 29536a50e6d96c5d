"""Spark operator for PDF text extraction (north-rule "PDF/layout
parse" tier): one Arrow-batched mapInPandas pass over (url, pdf
binary), narrow text/count columns out.  Kernel:
core/pdftext.py (from-scratch, stdlib-only; scope documented there).

Same scale shape as the HTML main-content operator: column-pruned
scan, no shuffle, embarrassingly parallel over input splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..core import pdftext as pt
from .udfs import map_rows

PDF_TEXT_SCHEMA = 'url string, text string, n_streams int, n_blocks int'
PDF_SPANS_SCHEMA = 'url string, stream_idx int, block_idx int, n_chars int'


def extract_pdf_text(df: DataFrame, url_col: str = 'url', pdf_col: str = 'pdf') -> DataFrame:
    """(url, text, n_streams, n_blocks) — one row per document."""

    def pdf_text(url, content):
        blocks = pt.extract_pdf_blocks(content)
        yield url, pt.pdf_text(blocks), len({b[0] for b in blocks}), len(blocks)

    return map_rows(df, [url_col, pdf_col], pdf_text, PDF_TEXT_SCHEMA)


def extract_pdf_spans(df: DataFrame, url_col: str = 'url', pdf_col: str = 'pdf') -> DataFrame:
    """Per-block rows (url, stream_idx, block_idx, n_chars)."""

    def pdf_spans(url, content):
        for span in pt.pdf_spans(pt.extract_pdf_blocks(content)):
            yield (url, *span)

    return map_rows(df, [url_col, pdf_col], pdf_spans, PDF_SPANS_SCHEMA)

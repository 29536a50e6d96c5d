"""Spark operators for main-content extraction over the CC-style
pages table (url, warc_ts, html, text, lang) — the north-rule
boilerplate-strip family.

Scale shape: ONE Arrow-batched ``mapInPandas`` pass over exactly
(url, html) — column pruning keeps the fat ``text`` and ``warc_ts``
columns out of the scan; the heavy html bytes enter python once and
only narrow derived columns come back.  No shuffle anywhere: the
operator is embarrassingly parallel over input partitions, so its
throughput scales with executors as long as the input is split
(parquet row-groups / Iceberg file slices).  Downstream consumers
(dedup, quality scoring, langid) take the narrow ``main_text``
column, not the html.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..core import maincontent as mc
from .udfs import map_rows

MAIN_CONTENT_SCHEMA = 'url string, main_text string, n_blocks int, n_kept int'
SPANS_SCHEMA = (
    'url string, ord int, tag string, n_chars int, link_density double, '
    'kept boolean, start long, end long'
)


def main_content_row(url: str, html: bytes) -> tuple:
    """One page → (url, main_text, n_blocks, n_kept)."""
    blocks = mc.extract_blocks(html)
    return url, mc.main_text(blocks), len(blocks), sum(1 for b in blocks if b.kept)


def extract_main_content(pages: DataFrame, url_col: str = 'url', html_col: str = 'html') -> DataFrame:
    """(url, main_text, n_blocks, n_kept) — one row per page."""

    def main_content(url, html):
        yield main_content_row(url, html)

    return map_rows(pages, [url_col, html_col], main_content, MAIN_CONTENT_SCHEMA)


COMBINED_SCHEMA = (
    'url string, main_text string, n_blocks int, n_kept int, '
    'spans array<struct<ord:int, tag:string, n_chars:int, link_density:double, '
    'kept:boolean, start:bigint, end:bigint>>'
)


def extract_main_content_full(
    pages: DataFrame, url_col: str = 'url', html_col: str = 'html'
) -> DataFrame:
    """Main text AND span rows from ONE parse per page (the html parse
    dominates the job — producing both outputs from separate operators
    would pay it twice).  Persist this frame, project main_text and
    explode spans from the same materialization."""

    def main_content_full(url, html):
        blocks = mc.extract_blocks(html)
        yield (url, mc.main_text(blocks), len(blocks),
               sum(1 for b in blocks if b.kept), mc.spans(blocks))

    return map_rows(pages, [url_col, html_col], main_content_full, COMBINED_SCHEMA)


def extract_content_spans(pages: DataFrame, url_col: str = 'url', html_col: str = 'html') -> DataFrame:
    """Per-block span rows (url, ord, tag, n_chars, link_density, kept,
    start, end); offsets index into the page's main_text."""

    def content_spans(url, html):
        for span in mc.spans(mc.extract_blocks(html)):
            yield (url, *span)

    return map_rows(pages, [url_col, html_col], content_spans, SPANS_SCHEMA)

"""Spark operators for page metadata + outlink extraction
(core/htmlmeta.py): the crawl-frontier scan over the pages table.
Same scale shape as the other extraction operators — ONE Arrow-batched
mapInPandas pass over exactly (url, html), no shuffle, narrow rows
out; embarrassingly parallel over input splits.  The outlink records
feed the host link graph + PageRank (training/linkgraph.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..core.htmlmeta import extract_meta, extract_outlinks
from .udfs import map_rows

META_SCHEMA = (
    'url string, title string, meta_description string, canonical string, '
    'og_title string, robots_noindex boolean, robots_nofollow boolean'
)
OUTLINKS_SCHEMA = 'url string, ord int, href string, abs_url string, anchor string'


def extract_page_meta(pages: DataFrame, url_col: str = 'url', html_col: str = 'html') -> DataFrame:
    def page_meta(url, html):
        yield (url, *extract_meta(html))

    return map_rows(pages, [url_col, html_col], page_meta, META_SCHEMA)


def extract_page_outlinks(
    pages: DataFrame, url_col: str = 'url', html_col: str = 'html'
) -> DataFrame:
    def page_outlinks(url, html):
        for rec in extract_outlinks(url, html):
            yield (url, *rec)

    return map_rows(pages, [url_col, html_col], page_outlinks, OUTLINKS_SCHEMA)

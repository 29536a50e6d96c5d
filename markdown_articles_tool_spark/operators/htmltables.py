"""Spark operator for HTML table extraction (core/htmltables.py):
structured (url, table_idx, row_idx, col_idx, cell) records out of the
pages table.  Same scale shape as the main-content operators — ONE
Arrow-batched mapInPandas pass over exactly (url, html), no shuffle,
narrow rows out; embarrassingly parallel over input splits."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..core.htmltables import extract_tables
from .udfs import map_rows

TABLES_SCHEMA = 'url string, table_idx int, row_idx int, col_idx int, cell string'


def extract_html_tables(pages: DataFrame, url_col: str = 'url', html_col: str = 'html') -> DataFrame:
    def html_tables(url, html):
        for cell in extract_tables(html):
            yield (url, *cell)

    return map_rows(pages, [url_col, html_col], html_tables, TABLES_SCHEMA)

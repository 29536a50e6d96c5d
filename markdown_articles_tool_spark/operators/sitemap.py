"""Spark operator for sitemap parsing (core/sitemap.py): flattened
(host, ord, kind, loc, lastmod, changefreq, priority) records out of
the per-host sitemap dim — one mapInPandas pass, no shuffle.  At real
scale the sitemap fetch rides the ordinary fetch stage (sitemaps are
URLs the robots records name); parsing stays embarrassingly parallel
per file either way."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..core.sitemap import sitemap_entries
from .udfs import map_rows

SITEMAP_ENTRIES_SCHEMA = (
    'host string, ord int, kind string, loc string, lastmod string, '
    'changefreq string, priority string'
)


def extract_sitemap_entries(sitemaps: DataFrame, host_col: str = 'host',
                            xml_col: str = 'sitemap_xml') -> DataFrame:
    def sitemap_records(host, xml):
        for rec in sitemap_entries(xml):
            yield (host, *rec)

    return map_rows(sitemaps, [host_col, xml_col], sitemap_records, SITEMAP_ENTRIES_SCHEMA)

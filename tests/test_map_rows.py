"""``operators.udfs.map_rows``: the one record-to-Arrow loop behind every
per-record operator.  Its batch half must work as a plain pandas
function (the fetchers run that way), and every operator built on it
must keep its declared schema on empty input and name its plan node
after its record function."""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), 'tools'))

from crossings import python_nodes  # noqa: E402


def test_row_batches_without_spark():
    from markdown_articles_tool_spark.operators.udfs import row_batches

    def split_words(doc_id, text):
        for pos, word in enumerate(text.split()):
            yield doc_id, pos, word

    fn = row_batches(split_words, ['doc_id', 'pos', 'word'])
    assert fn.__name__ == 'split_words'

    batches = [
        pd.DataFrame({'doc_id': [1, 2, 3], 'text': ['a b', '', 'c']}),
        pd.DataFrame({'doc_id': pd.Series([], dtype='int64'),
                      'text': pd.Series([], dtype=object)}),
    ]
    full, empty = list(fn(iter(batches)))

    assert list(full.columns) == ['doc_id', 'pos', 'word']
    assert list(full.itertuples(index=False, name=None)) == [
        (1, 0, 'a'), (1, 1, 'b'), (3, 0, 'c')]
    assert list(empty.columns) == ['doc_id', 'pos', 'word']
    assert empty.empty


def _operators():
    """(id, input DDL, operator over one empty input frame, declared
    output DDL) for every public per-record operator."""
    from markdown_articles_tool_spark import corpus
    from markdown_articles_tool_spark.operators import (
        fetch, htmlmeta, htmltables, maincontent, pdfextract, robots, sitemap)
    from markdown_articles_tool_spark.sources import warc
    from markdown_articles_tool_spark.training import multimodal as mm

    pages = 'url string, html binary'
    blobs = corpus.WARCS_SCHEMA
    media = 'real_path string, content binary'
    wet_out = 'file_name string, rec_ord int, url string, warc_date string, text string'
    wat_out = ('file_name string, rec_ord int, url string, title string, '
               'n_links int, payload_sha string')
    return [
        ('read_warc_responses', blobs, warc.read_warc_responses, warc.WARC_RESPONSES_SCHEMA),
        ('read_warc_revisits', blobs, warc.read_warc_revisits, warc.WARC_REVISITS_SCHEMA),
        ('read_warc_redirects', blobs, warc.read_warc_redirects, warc.WARC_REDIRECTS_SCHEMA),
        ('read_warc_cdx', blobs, warc.read_warc_cdx, warc.WARC_CDX_SCHEMA),
        ('warc_to_wet', blobs, warc.warc_to_wet, warc.WET_SCHEMA),
        ('read_wet_records', 'file_name string, wet binary', warc.read_wet_records, wet_out),
        ('warc_to_wat', blobs, warc.warc_to_wat, 'file_name string, wat binary, n_records int'),
        ('read_wat_records', 'file_name string, wat binary', warc.read_wat_records, wat_out),
        ('warc_main_content', blobs, warc.warc_main_content, maincontent.MAIN_CONTENT_SCHEMA),
        ('extract_page_meta', pages, htmlmeta.extract_page_meta, htmlmeta.META_SCHEMA),
        ('extract_page_outlinks', pages, htmlmeta.extract_page_outlinks,
         htmlmeta.OUTLINKS_SCHEMA),
        ('extract_html_tables', pages, htmltables.extract_html_tables,
         htmltables.TABLES_SCHEMA),
        ('extract_main_content', pages, maincontent.extract_main_content,
         maincontent.MAIN_CONTENT_SCHEMA),
        ('extract_main_content_full', pages, maincontent.extract_main_content_full,
         maincontent.COMBINED_SCHEMA),
        ('extract_content_spans', pages, maincontent.extract_content_spans,
         maincontent.SPANS_SCHEMA),
        ('extract_pdf_text', corpus.PDFS_SCHEMA, pdfextract.extract_pdf_text,
         pdfextract.PDF_TEXT_SCHEMA),
        ('extract_pdf_spans', corpus.PDFS_SCHEMA, pdfextract.extract_pdf_spans,
         pdfextract.PDF_SPANS_SCHEMA),
        ('extract_robots_rules', corpus.ROBOTS_SCHEMA, robots.extract_robots_rules,
         robots.ROBOTS_RULES_SCHEMA),
        ('crawl_allowed', 'url string, ord int, abs_url string',
         lambda links: robots.crawl_allowed(
             links, links.sparkSession.createDataFrame([], corpus.ROBOTS_SCHEMA)),
         robots.CRAWL_ALLOWED_SCHEMA),
        ('extract_sitemap_entries', corpus.SITEMAPS_SCHEMA, sitemap.extract_sitemap_entries,
         sitemap.SITEMAP_ENTRIES_SCHEMA),
        ('extract_media_metadata', media, mm.extract_media_metadata, mm.MEDIA_META_SCHEMA),
        ('sample_frames', media, mm.sample_frames, mm.FRAMES_SCHEMA),
        ('extract_features', media, mm.extract_features, mm.FEATURES_SCHEMA),
        ('decode_images', media, mm.decode_images, mm.DECODED_SCHEMA),
        ('fetch_distinct', 'link string',
         lambda links: fetch.fetch_distinct(links, 'link', fetch.model_fetcher),
         fetch.FETCH_DERIVED_SCHEMA),
        ('pages_df', None, lambda spark: corpus.pages_df(spark, 0), corpus.PAGES_SCHEMA),
        ('pdfs_df', None, lambda spark: corpus.pdfs_df(spark, 0), corpus.PDFS_SCHEMA),
        ('warc_files_df', None, lambda spark: corpus.warc_files_df(spark, 0),
         corpus.WARCS_SCHEMA),
    ]


@pytest.mark.parametrize('case', _operators(), ids=lambda case: case[0])
def test_empty_input_keeps_schema_and_named_plan_node(spark, case):
    from pyspark.sql.types import DataType

    _name, input_ddl, operator, declared = case
    if input_ddl is None:  # a generator: its input is an empty id range
        df = operator(spark)
    else:
        df = operator(spark.createDataFrame([], input_ddl))

    assert df.schema == DataType.fromDDL(declared)
    assert df.count() == 0
    nodes = [desc for _kind, desc in python_nodes(df)]
    assert any(desc.startswith('MapInPandas') for desc in nodes), nodes
    assert not [desc for desc in nodes if desc.startswith('MapInPandas run(')], nodes

"""Watermarked, windowed crawl statistics over a pages stream.

The late-data story for a continuously-landing CC crawl: pages carry
their crawl event time (``warc_ts``), arrive out of order (WARC dumps
land per segment, hours apart), and the pipeline wants per-window
ingest statistics — counts and byte volumes per (window, lang) — that
finalize once the watermark passes, instead of growing unbounded
state.

Shape: ``readStream`` → ``withWatermark('warc_ts', delay)`` →
``groupBy(window(warc_ts, size), lang)`` aggregate → append-mode sink.
Append mode only emits a window after the watermark closes it, so the
output table is insert-only (Iceberg-friendly) and each window's row
is final — no read-modify-write downstream.  State is bounded by
``delay + window`` per key; Spark drops pages later than the watermark
(counted in the ``numDroppedRows`` streaming metric on a real run).

At 10^12 docs: the aggregation is a standard partial+final hash agg
per micro-batch over narrow columns (timestamp, lang, byte length) —
the html/text bytes never enter state, only their lengths do.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from .. import corpus
from . import append_parquet


def crawl_window_stats(
    pages,
    window: str = '1 hour',
    watermark: str = '2 hours',
):
    """(window, lang, n_pages, html_bytes, text_chars) aggregate —
    works on a static frame (tests / backfill) or a streaming one."""
    return (
        pages.withWatermark('warc_ts', watermark)
        .groupBy(F.window('warc_ts', window).alias('win'), 'lang')
        .agg(
            F.count(F.lit(1)).alias('n_pages'),
            F.sum(F.octet_length('html')).alias('html_bytes'),
            F.sum(F.length('text')).alias('text_chars'),
        )
        .select(
            F.col('win.start').alias('window_start'),
            F.col('win.end').alias('window_end'),
            'lang', 'n_pages', 'html_bytes', 'text_chars',
        )
    )


def start_crawl_window_stats(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    window: str = '1 hour',
    watermark: str = '2 hours',
):
    """Start the windowed-stats stream; returns the StreamingQuery.

    Append output mode: a (window, lang) row is written exactly once,
    when the watermark passes window_end + delay — late pages within
    the watermark still count; later ones are dropped, not double-
    emitted."""
    stream = (
        spark.readStream.schema(corpus.PAGES_SCHEMA)
        .parquet(input_dir)
        .select('warc_ts', 'lang', 'html', 'text')
    )
    return append_parquet(crawl_window_stats(stream, window=window, watermark=watermark),
                          output_dir, 'crawl_stats', '_stats_checkpoint')

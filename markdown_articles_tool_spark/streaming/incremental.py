"""Structured-Streaming ingest: transform page files as they land.

Shape: ``readStream`` over a parquet directory → ``foreachBatch``
running the full batch transform per micro-batch → append sinks.
``foreachBatch`` is the standard pattern when a pipeline contains
multi-join/aggregate stages that the streaming planner can't run
incrementally; each micro-batch is an exactly-once unit backed by the
streaming checkpoint location.

Cross-batch dedup note: content-hash first-wins state is per
micro-batch here (like checkpoint.py's per-shard scope); global dedup
over an ever-growing corpus is a compaction job over the images table,
not stream state.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

from .. import corpus
from ..core.linkflow import TransformConfig
from ..pipeline import transform_documents
from . import append_parquet


def start_incremental_transform(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    cfg: Optional[TransformConfig] = None,
):
    """Start the stream; returns the StreamingQuery."""
    cfg = cfg or TransformConfig(skip_all_errors=True)
    stream = (
        spark.readStream.schema(corpus.PAGES_SCHEMA)
        .parquet(input_dir)
        .select('url', 'text')
    )

    def process_batch(batch_df, batch_id: int) -> None:
        res = transform_documents(batch_df, cfg)
        res.docs_out.write.mode('append').parquet(os.path.join(output_dir, 'docs'))
        res.images_out.write.mode('append').parquet(os.path.join(output_dir, 'images'))
        res.cleanup()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option('checkpointLocation', os.path.join(output_dir, '_checkpoint'))
        .trigger(availableNow=True)
        .start()
    )


def start_incremental_main_content(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
):
    """Streaming main-content extraction: pages land as parquet files →
    boilerplate-stripped (url, main_text, n_blocks, n_kept) rows append
    to the output table, exactly-once per file via the stream
    checkpoint.

    Unlike the full transform (multi-join/agg → foreachBatch), the
    extraction operator is a stateless mapInPandas, so it runs as a
    NATIVE streaming transformation — the streaming planner handles it
    incrementally with no batch bridge, and it scales to a continuous
    CC-crawl feed (per-file units, no shuffle, no state store)."""
    from ..operators.maincontent import extract_main_content

    stream = (
        spark.readStream.schema(corpus.PAGES_SCHEMA)
        .parquet(input_dir)
        .select('url', 'html')
    )
    return append_parquet(extract_main_content(stream), output_dir, 'main_content', '_mc_checkpoint')


def start_incremental_pdf_text(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
):
    """Streaming PDF/layout extraction over a landing (url, pdf binary)
    directory: same native stateless-mapInPandas shape as the
    main-content stream — exactly-once per file, no shuffle, no state
    store; the full parser (Flate/LZW filters, hex strings, ToUnicode
    CMaps) runs per micro-batch."""
    from ..operators.pdfextract import extract_pdf_text

    stream = spark.readStream.schema(corpus.PDFS_SCHEMA).parquet(input_dir)
    return append_parquet(extract_pdf_text(stream), output_dir, 'pdf_text', '_pdf_checkpoint')


def start_incremental_content_spans(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
):
    """Streaming per-block span rows (own checkpoint; same native
    stateless shape as the main-content stream)."""
    from ..operators.maincontent import extract_content_spans

    stream = (
        spark.readStream.schema(corpus.PAGES_SCHEMA)
        .parquet(input_dir)
        .select('url', 'html')
    )
    return append_parquet(extract_content_spans(stream), output_dir, 'content_spans',
                          '_spans_checkpoint')


def start_incremental_quality(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
):
    """Streaming Gopher quality filtering over the landing pages
    directory: each newly-landed file's documents get the six-rule
    verdict row appended exactly once.  The composite filter is a
    stateless projection (Column algebra + one Arrow kernel), so —
    like the extraction streams — it runs as a NATIVE streaming
    transform: no state store, no shuffle, no batch bridge; the same
    single-scan plan as the batch `gopher_filter`."""
    from ..training.textstats import gopher_filter

    stream = (
        spark.readStream.schema(corpus.PAGES_SCHEMA)
        .parquet(input_dir)
        .select('url', 'text')
    )
    return append_parquet(gopher_filter(stream, id_col='url', text_col='text'),
                          output_dir, 'quality', '_quality_checkpoint')


def start_incremental_warc(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
):
    """Streaming crawl-archive ingestion: WARC blobs land as
    (file_name, data) parquet files → flattened HTTP response records
    append to the output table (text hashed alongside so downstream
    dedup reads a fixed-width column).  Same native stateless-
    mapInPandas shape as the main-content stream — exactly-once per
    file via the stream checkpoint, no shuffle, no state store; the
    full reader (gzip members, chunked bodies, charset resolution,
    resync/truncation policy — core/warc.py) runs per micro-batch.
    This is the live-crawl shape: archives land continuously, the
    engine drains only the delta."""
    from pyspark.sql import functions as F

    from ..sources.warc import read_warc_responses

    stream = spark.readStream.schema(corpus.WARCS_SCHEMA).parquet(input_dir)
    out = read_warc_responses(stream).withColumn(
        'text_sha', F.sha2(F.encode('text', 'utf-8'), 256)
    )
    return append_parquet(out, output_dir, 'warc_responses', '_warc_checkpoint')


def start_incremental_scrub(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
):
    """Streaming corpus hygiene over the landing pages directory: each
    newly-landed file's documents get mojibake repair → PII scrub →
    the Gopher keep verdict, exactly once, with the scrubbed text in
    the output row (the release-run shape).  The chain is one
    stateless projection (one fused Arrow pass plus Column algebra),
    so it runs as a NATIVE streaming transform — no state store,
    no shuffle, no batch bridge; the identical single-scan plan as the
    batch ``training/hygiene.scrub``."""
    from ..training.hygiene import scrub

    stream = (
        spark.readStream.schema(corpus.PAGES_SCHEMA)
        .parquet(input_dir)
        .select('url', 'text')
    )
    return append_parquet(scrub(stream, id_col='url', keep_text=True),
                          output_dir, 'scrubbed', '_scrub_checkpoint')


def start_incremental_bloom(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    bloom_path: str,
):
    """Streaming incremental dedup against a PUBLISHED Bloom filter
    (training/bloomdedup.save_bloom over the historical corpus): each
    newly-landed pages file gets the ``novel`` verdict, exactly once.
    The filter is fixed for the stream's lifetime (rebuild+restart to
    roll it forward — the month-over-month cadence), so the probe is a
    stateless projection: broadcast words + one Arrow pass, no state
    store, no shuffle, a NATIVE streaming transform."""
    from pyspark.sql import functions as F

    from ..training.bloomdedup import bloom_probe, load_bloom

    words, m_bits, k_hashes = load_bloom(spark, bloom_path)
    stream = (
        spark.readStream.schema(corpus.PAGES_SCHEMA)
        .parquet(input_dir)
        .select('url', 'text', F.sha2(F.col('text'), 256).alias('digest'))
    )
    out = bloom_probe(stream, words, 'digest', m_bits, k_hashes).select(
        'url', 'digest', 'novel')
    return append_parquet(out, output_dir, 'bloom_novel', '_bloom_checkpoint')

#!/usr/bin/env python
"""Production entry point for main-content extraction (the north-rule
boilerplate-strip family) via spark-submit.

    spark-submit --py-files mats.zip jobs/run_extract.py \
        --input  /path/to/pages/        # parquet/Iceberg: (url, warc_ts, html, text, lang)
        --output /path/to/out/          \
        --spans                         # also write per-block span rows
        --stream                        # incremental: process only new files, exactly-once

``mats.zip`` is packaged as in ``jobs/run_transform.py``.

Batch mode writes ``out/main_content`` (url, main_text, n_blocks,
n_kept); ``--spans`` adds ``out/content_spans``.  ``--stream`` runs the
same extraction as a native Structured-Streaming transform with an
``availableNow`` trigger: each invocation drains exactly the files not
yet processed (state in ``out/_mc_checkpoint``) — the cron-friendly
shape for a continuously-landing crawl.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument('--input', required=True)
    ap.add_argument('--output', required=True)
    ap.add_argument('--spans', action='store_true')
    ap.add_argument('--stream', action='store_true')
    ap.add_argument('--warc', action='store_true',
                    help='input is a (file_name, data binary) table of WARC crawl '
                         'archives: flatten HTTP response records (out/warc_responses); '
                         'with --spans also run the 200+text/html gate into the '
                         'main-content strip (out/warc_main_content); --stream drains '
                         'newly-landed archives exactly-once')
    ap.add_argument('--pdf', action='store_true',
                    help="input is a (url, pdf binary) table: run the PDF/layout "
                         "extraction tier (content streams, Flate/LZW filters, "
                         "hex strings, ToUnicode CMaps) instead of the HTML strip")
    ap.add_argument('--scrub', action='store_true',
                    help='corpus hygiene over (url, text) pages: mojibake repair -> '
                         'PII redaction -> Gopher keep verdict in one pipelined plan, '
                         'writes out/scrubbed with the clean text; --stream drains '
                         'newly-landed files exactly-once')
    ap.add_argument('--neardup-stream', action='store_true',
                    help='incremental MinHash-band near-dup dedup over (url, text) '
                         'pages: drains new files exactly-once, writes kept/dropped '
                         'verdicts under out/verdicts')
    ap.add_argument('--verify-threshold', type=float, default=None,
                    help='with --neardup-stream: rescore dropped candidates by exact '
                         'word-3-gram Jaccard against their collision partners; keep '
                         'unless any partner scores >= this (writes out/verified)')
    args = ap.parse_args()

    from markdown_articles_tool_spark.session import get_spark

    spark = get_spark(app_name='mats-extract')

    if args.neardup_stream:
        from markdown_articles_tool_spark.streaming.neardup_dedup import (
            read_verdicts,
            read_verified,
            start_neardup_dedup,
        )

        start_neardup_dedup(spark, args.input, args.output,
                            verify_threshold=args.verify_threshold)
        kept = read_verdicts(spark, args.output).where('kept').count()
        total = read_verdicts(spark, args.output).count()
        print(f'near-dup stream drained: {kept}/{total} urls kept')
        if args.verify_threshold is not None:
            vk = read_verified(spark, args.output).where('kept_verified').count()
            print(f'verified at jaccard<{args.verify_threshold}: {vk}/{total} urls kept')
        spark.stop()
        return
    if args.scrub:
        from markdown_articles_tool_spark.training.hygiene import scrub

        if args.stream:
            from markdown_articles_tool_spark.streaming.incremental import (
                start_incremental_scrub,
            )

            q = start_incremental_scrub(spark, args.input, args.output)
            q.awaitTermination()
            print('scrub stream drained')
            spark.stop()
            return
        pages = spark.read.parquet(args.input).select('url', 'text')
        scrub(pages, id_col='url', keep_text=True).write.mode('overwrite').parquet(
            f'{args.output}/scrubbed')
        out = spark.read.parquet(f'{args.output}/scrubbed')
        n, kept = out.count(), out.where('keep').count()
        print(f'scrubbed {n} documents, {kept} kept')
        spark.stop()
        return
    if args.warc:
        from markdown_articles_tool_spark.sources.warc import (
            read_warc_responses,
            warc_main_content,
        )

        if args.stream:
            from markdown_articles_tool_spark.streaming.incremental import (
                start_incremental_warc,
            )

            q = start_incremental_warc(spark, args.input, args.output)
            q.awaitTermination()
            print('warc stream drained')
            spark.stop()
            return
        files = spark.read.parquet(args.input)
        read_warc_responses(files).write.mode('overwrite').parquet(
            f'{args.output}/warc_responses')
        if args.spans:
            warc_main_content(files).write.mode('overwrite').parquet(
                f'{args.output}/warc_main_content')
        n = spark.read.parquet(f'{args.output}/warc_responses').count()
        print(f'extracted {n} warc responses')
        spark.stop()
        return
    if args.pdf:
        from pyspark.sql import functions as F

        from markdown_articles_tool_spark.operators.pdfextract import (
            extract_pdf_spans,
            extract_pdf_text,
        )

        if args.stream:
            from markdown_articles_tool_spark.streaming.incremental import (
                start_incremental_pdf_text,
            )

            q = start_incremental_pdf_text(spark, args.input, args.output)
            q.awaitTermination()
            print('pdf stream drained')
            spark.stop()
            return
        pdfs = spark.read.parquet(args.input)
        extract_pdf_text(pdfs).write.mode('overwrite').parquet(f'{args.output}/pdf_text')
        if args.spans:
            extract_pdf_spans(pdfs).write.mode('overwrite').parquet(f'{args.output}/pdf_spans')
        n = spark.read.parquet(f'{args.output}/pdf_text').count()
        print(f'extracted {n} pdfs')
        spark.stop()
        return
    if args.stream:
        from markdown_articles_tool_spark.streaming.incremental import (
            start_incremental_content_spans,
            start_incremental_main_content,
        )

        q = start_incremental_main_content(spark, args.input, args.output)
        q.awaitTermination()
        if args.spans:
            # separate stream + checkpoint (second parse of the delta;
            # the batch path below shares one parse via the combined
            # operator, but streams can't share a materialization)
            q2 = start_incremental_content_spans(spark, args.input, args.output)
            q2.awaitTermination()
        print('stream drained')
    else:
        from pyspark.sql import functions as F

        from markdown_articles_tool_spark.operators.maincontent import (
            extract_main_content,
            extract_main_content_full,
        )

        pages = spark.read.parquet(args.input)
        if args.spans:
            # ONE html parse feeds both outputs (persist + two projections)
            full = extract_main_content_full(pages).persist()
            full.select('url', 'main_text', 'n_blocks', 'n_kept').write.mode(
                'overwrite'
            ).parquet(f'{args.output}/main_content')
            full.select(
                'url', F.explode('spans').alias('s')
            ).select(
                'url', 's.ord', 's.tag', 's.n_chars', 's.link_density',
                's.kept', 's.start', 's.end'
            ).write.mode('overwrite').parquet(f'{args.output}/content_spans')
            full.unpersist()
        else:
            extract_main_content(pages).write.mode('overwrite').parquet(
                f'{args.output}/main_content'
            )
        n = spark.read.parquet(f'{args.output}/main_content').count()
        print(f'extracted {n} documents')
    spark.stop()


if __name__ == '__main__':
    main()

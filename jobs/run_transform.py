#!/usr/bin/env python
"""Production entry point: run the corpus transform via spark-submit.

    spark-submit --py-files mats.zip jobs/run_transform.py \
        --input  s3://bucket/pages/          # or an Iceberg table path
        --output /mnt/shared/out/            \
        --dedup content_hash --skip-all-errors \
        --shards 4096 --run-date 20260816 --run-time 000000

With ``--shards`` the output must be a local or mounted directory: the
commit markers and lineage rows are plain files (a URI is refused before
any Spark job).  Without it any Spark-writable path works.

Packaging: ``cd repo && zip -r mats.zip markdown_articles_tool_spark pyspark_graft_worker.py``
(the Python worker entry; README "Session notes" says when it is used).
All wall-clock template variables are pinned job params (determinism /
resume, article_processor.py:77-79 note in SURVEY.md §4).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument('--input', required=True, help='parquet/Iceberg path of pages(url, warc_ts, html, text, lang)')
    ap.add_argument('--output', required=True)
    ap.add_argument('--input-formats', default='md', help="comma list: md, html, 'md,html', ...")
    ap.add_argument('--dedup', default='disabled', choices=['disabled', 'names_hashing', 'content_hash'])
    ap.add_argument('--skip-all-errors', action='store_true')
    ap.add_argument('--download-incorrect-mime', action='store_true')
    ap.add_argument('--replace-image-names', action='store_true')
    ap.add_argument('--save-hierarchy', action='store_true')
    ap.add_argument('--images-dirname', default='images')
    ap.add_argument('--images-public-path', default='')
    ap.add_argument('--skip-list', default='', help="comma list or @file")
    ap.add_argument('--shards', type=int, default=0, help='>0 → resumable sharded run')
    ap.add_argument('--live-fetch', action='store_true', help='real HTTP fetch (default: modeled)')
    ap.add_argument('--timeout', type=float, default=-1)
    ap.add_argument('--per-host-interval', type=float, default=0.0,
                    help='politeness: min seconds between GETs to the same host per worker '
                         '(live fetch only; implies --salt-by-host)')
    ap.add_argument('--salt-by-host', action='store_true',
                    help='co-locate each host\'s URLs into a bounded number of fetch '
                         'partitions (auto-enabled when --per-host-interval > 0 with '
                         '--live-fetch: without it the per-host bound is per-worker only)')
    ap.add_argument('--run-date', default='19700101')
    ap.add_argument('--run-time', default='000000')
    args = ap.parse_args()

    from markdown_articles_tool_spark.config import parse_skip_list, resolve_templates
    from markdown_articles_tool_spark.core.linkflow import DedupVariant, TransformConfig
    from markdown_articles_tool_spark.core.pathalgebra import PathConfig
    from markdown_articles_tool_spark.operators.fetch import live_fetcher, model_fetcher
    from markdown_articles_tool_spark.session import get_spark

    spark = get_spark(app_name='mats-transform')

    tpl = resolve_templates(
        args.images_dirname, args.images_public_path or None,
        article_name='corpus', article_base_url='', run_time=args.run_time, run_date=args.run_date,
    )
    cfg = TransformConfig(
        paths=PathConfig(
            img_dir_name=tpl['img_dir_name'],
            img_public_path=tpl['img_public_path'],
            save_hierarchy=args.save_hierarchy,
        ),
        skip_list=parse_skip_list(args.skip_list),
        skip_all_errors=args.skip_all_errors,
        download_incorrect_mime_types=args.download_incorrect_mime,
        deduplication=getattr(DedupVariant, args.dedup.upper()),
        replace_image_names=args.replace_image_names,
        input_formats=tuple(args.input_formats.split(',')),
        salt_fetch_by_host=(
            args.salt_by_host or (args.live_fetch and args.per_host_interval > 0)
        ),
    )
    fetcher = (
        live_fetcher(args.timeout if args.timeout > 0 else None,
                     per_host_interval=args.per_host_interval)
        if args.live_fetch else model_fetcher
    )

    docs = spark.read.parquet(args.input).select('url', 'text')
    if args.shards > 0:
        from markdown_articles_tool_spark.checkpoint import run_with_resume

        report = run_with_resume(spark, docs, cfg, args.output, n_shards=args.shards, fetcher=fetcher)
        print(f'shards run={len(report.shards_run)} skipped={len(report.shards_skipped)}')
    else:
        from markdown_articles_tool_spark.pipeline import transform_documents

        res = transform_documents(docs, cfg, fetcher=fetcher)
        res.docs_out.write.mode('overwrite').parquet(f'{args.output}/docs')
        res.images_out.write.mode('overwrite').parquet(f'{args.output}/images')
        res.links_audit.groupBy('pass', 'status').count().write.mode('overwrite').parquet(
            f'{args.output}/lineage'
        )
    spark.stop()


if __name__ == '__main__':
    main()

#!/usr/bin/env python
"""Production entry point for the dataset-CURATION chain — everything
between "clean documents" and "published training shards" — via
spark-submit.

    spark-submit --py-files mats.zip jobs/run_curate.py \
        --input  /path/to/docs/        # parquet/Iceberg: (doc_id, text, lang, source, ...)
        --output /path/to/out/         \
        --bloom  /path/to/bloom/       # optional published filter (bloomdedup.save_bloom)
        --span-dedup                   # exact duplicated-substring removal stats
        --lang-k 8                     # language-rebalance strength (alpha=1/2 curve)
        --ttr-ratio 45                 # domain-blocklist TTR threshold (1/45)
        --shards 64                    # publication shard count

``mats.zip`` is packaged as in ``jobs/run_transform.py``.

Stages (each optional, composable, all shuffle-shapes documented at
their operator sites):

1. ``--bloom``: drop docs whose sha256(text) hits the published Bloom
   filter (incremental dedup against every previous crawl) — scan-side
   Arrow probe, no shuffle.
2. ``--ttr-ratio``: derive the domain blocklist (type-token-ratio
   integer rule) and drop docs from flagged sources — two-level
   distinct agg + broadcast verdict dim.
3. ``--lang-k``: per-language hash-threshold rebalancing (keep with
   probability min(1, k/sqrt(n_lang))) — count + broadcast dim + scan
   filter.
4. ``--span-dedup``: exact duplicated-substring removal stats
   (n_dup_windows / n_removed_chars / clean_sha per doc) joined onto
   the survivors.
5. ``--shards``: deterministic global shuffle + equal packing; the
   output is written partitioned by ``shard``.

Writes ``out/curated`` (+ per-stage counts on stdout).  Every stage is
a pure function of document identity/content, so re-runs are
byte-stable.
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
    ap.add_argument('--bloom', default=None,
                    help='published Bloom filter dir (training/bloomdedup.save_bloom); '
                         'docs hitting it are dropped')
    ap.add_argument('--span-dedup', action='store_true')
    ap.add_argument('--lang-k', type=int, default=None,
                    help='language-rebalance strength k (keep ~ k*sqrt(n_lang) docs)')
    ap.add_argument('--ttr-ratio', type=int, default=None,
                    help='flag sources with n_terms > RATIO * n_distinct_terms')
    ap.add_argument('--shards', type=int, default=None)
    ap.add_argument('--master', default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from markdown_articles_tool_spark.session import get_spark

    spark = get_spark(app_name='mats-curate',
                      master=args.master or 'local[*]')
    docs = spark.read.parquet(args.input)
    n0 = docs.count()
    print(f'input docs: {n0}')

    if args.bloom:
        from markdown_articles_tool_spark.training.bloomdedup import (
            bloom_probe, load_bloom)

        words, m_bits, k_hashes = load_bloom(spark, args.bloom)
        probed = bloom_probe(
            docs.withColumn('_digest', F.sha2(F.col('text'), 256)),
            words, '_digest', m_bits, k_hashes,
        )
        docs = probed.where('novel').drop('_digest', 'novel')
        print(f'after bloom dedup: {docs.count()}')

    if args.ttr_ratio:
        from markdown_articles_tool_spark.training.domains import domain_filter

        docs = domain_filter(docs, flag_ratio=args.ttr_ratio)
        print(f'after domain filter: {docs.count()}')

    if args.lang_k:
        from markdown_articles_tool_spark.training.sampling import lang_rebalance

        kept = lang_rebalance(docs, k=args.lang_k).select('doc_id')
        docs = docs.join(F.broadcast(kept) if n0 < 10_000_000 else kept, 'doc_id')
        print(f'after language rebalance: {docs.count()}')

    if args.span_dedup:
        from markdown_articles_tool_spark.training.dedup import dedup_spans

        stats = dedup_spans(docs)
        docs = docs.join(stats, 'doc_id')
        print('span-dedup stats attached')

    out = f'{args.output}/curated'
    if args.shards:
        from markdown_articles_tool_spark.training.sampling import dataset_shards

        assign = dataset_shards(docs, n_shards=args.shards).select(
            'doc_id', 'shard', 'pos')
        docs = docs.join(assign, 'doc_id')
        docs.write.mode('overwrite').partitionBy('shard').parquet(out)
    else:
        docs.write.mode('overwrite').parquet(out)
    print(f'wrote {out}')


if __name__ == '__main__':
    main()

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship corpus transform; ``queries()``
exposes one entry per implemented operator family (SURVEY.md §2 plus
the training-data operators); ``oracle_sql()`` gives the DuckDB twin
for every SQL-expressible query.  Column names and types are aligned
on both sides (aggregates go through exact DECIMAL arithmetic before a
final DOUBLE cast so Spark's partial aggregation and DuckDB's
sequential fold produce bit-identical values).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f'{sf_dir}/{name}.parquet')


def _sorted1(df: DataFrame, *cols: str) -> DataFrame:
    """Global sort for oracle determinism WITHOUT a range-partition
    exchange.  ``orderBy`` samples its child to compute range bounds,
    and on a shuffle-free plan that sampling pass re-executes the whole
    extraction/UDF pipeline a SECOND time (the r2 extract_links
    regression: 0.68 s -> 4.83 s; with AQE only a materialized shuffle
    below the sort makes the sampling cheap).  Instead: keep the UDF
    stages at cluster width, funnel only the narrow result rows into
    one partition and sort there — same rows, same total order, one
    execution of the upstream plan.  Oracle-path shape only; production
    consumers never globally sort these outputs."""
    return df.repartition(1).sortWithinPartitions(*cols)


def _corpus_n(sf_dir: str) -> int:
    if 'sf0.1' in sf_dir:
        return 3000
    if 'sf0.01' in sf_dir:
        return 600
    return 120


def _corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from markdown_articles_tool_spark.corpus import pages_df

    return pages_df(spark, _corpus_n(sf_dir)).select('url', 'text')


def _transform_cfg():
    from markdown_articles_tool_spark.core.linkflow import DedupVariant, TransformConfig

    return TransformConfig(skip_all_errors=True, deduplication=DedupVariant.CONTENT_HASH)


# --------------------------------------------------------------- queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction/dedup/rewrite pipeline on the synthetic
    CC-style corpus (sf0.001 scale)."""
    from markdown_articles_tool_spark.pipeline import transform_documents

    docs = _corpus_docs(spark, '/root/testdata/sf0.001')
    res = transform_documents(docs, _transform_cfg())
    return res.docs_out.select('url', F.sha2(F.encode('text_out', 'utf-8'), 256).alias('text_sha'))


def q_transform_corpus(spark, sf_dir):
    from markdown_articles_tool_spark.pipeline import transform_documents

    res = transform_documents(_corpus_docs(spark, sf_dir), _transform_cfg())
    return _sorted1(res.docs_out.select(
        'url', F.sha2(F.encode('text_out', 'utf-8'), 256).alias('text_sha')
    ), 'url')


def q_extract_links_corpus(spark, sf_dir):
    from markdown_articles_tool_spark.operators.udfs import extract_md_links

    docs = _corpus_docs(spark, sf_dir)
    exploded = docs.select(
        'url', F.posexplode(extract_md_links(F.col('text'))).alias('ord', 'lk')
    ).select(
        'url', 'ord', F.col('lk.link').alias('link'), F.col('lk.w').alias('w'), F.col('lk.h').alias('h')
    )
    return _sorted1(exploded, 'url', 'ord')


def q_main_content(spark, sf_dir):
    """North-rule boilerplate strip over the CC-style pages table:
    one mapInPandas pass over (url, html), narrow columns out."""
    from markdown_articles_tool_spark.corpus import pages_df
    from markdown_articles_tool_spark.operators.maincontent import extract_main_content

    pages = pages_df(spark, _corpus_n(sf_dir))
    return _sorted1(extract_main_content(pages).select(
        'url', F.sha2(F.encode('main_text', 'utf-8'), 256).alias('main_sha'),
        'n_blocks', 'n_kept'
    ), 'url')


def q_content_spans(spark, sf_dir):
    """Per-block span rows of the main-content extraction (tag, length,
    link density, kept flag, offsets into main_text)."""
    from markdown_articles_tool_spark.corpus import pages_df
    from markdown_articles_tool_spark.operators.maincontent import extract_content_spans

    pages = pages_df(spark, _corpus_n(sf_dir))
    return _sorted1(extract_content_spans(pages), 'url', 'ord')


def q_page_meta(spark, sf_dir):
    """Crawl-policy head signals (title / description / canonical /
    og:title / robots directives) per page: one mapInPandas pass over
    (url, html), no shuffle (operators/htmlmeta.extract_page_meta)."""
    from markdown_articles_tool_spark.corpus import pages_df
    from markdown_articles_tool_spark.operators.htmlmeta import extract_page_meta

    pages = pages_df(spark, _corpus_n(sf_dir))
    return _sorted1(extract_page_meta(pages), 'url')


def q_page_outlinks(spark, sf_dir):
    """Crawl-frontier <a href> records in document order with anchor
    text and from-scratch relative→absolute resolution — the host
    link graph's input; one mapInPandas pass, no shuffle."""
    from markdown_articles_tool_spark.corpus import pages_df
    from markdown_articles_tool_spark.operators.htmlmeta import extract_page_outlinks

    pages = pages_df(spark, _corpus_n(sf_dir))
    return _sorted1(extract_page_outlinks(pages), 'url', 'ord')


def q_host_pagerank(spark, sf_dir):
    """Host-graph PageRank over the extracted outlinks: page-level
    edges collapse to a host-sized table (self-loops dropped BEFORE the
    one aggregation shuffle), then 10 integer-fixed-point power
    iterations (SCALE=10^12 rank units, floor division — bit-identical
    under any partitioning; training/linkgraph.py)."""
    from markdown_articles_tool_spark.corpus import pages_df
    from markdown_articles_tool_spark.operators.htmlmeta import extract_page_outlinks
    from markdown_articles_tool_spark.training.linkgraph import host_edges, pagerank_hosts

    pages = pages_df(spark, _corpus_n(sf_dir))
    edges = host_edges(extract_page_outlinks(pages))
    return pagerank_hosts(edges, iterations=10).orderBy('host')


def q_anchor_texts(spark, sf_dir):
    """Top-3 cross-host inlink anchors per target URL — what OTHER
    sites call a page (the classic search/training relevance signal);
    one (abs_url, anchor) count aggregation with map-side partials,
    then a per-target top-k window (training/linkgraph.anchor_profiles).
    Oracle = an independent DuckDB aggregation over the hash-gated
    page_outlinks oracle records."""
    from markdown_articles_tool_spark.corpus import pages_df
    from markdown_articles_tool_spark.operators.htmlmeta import extract_page_outlinks
    from markdown_articles_tool_spark.training.linkgraph import anchor_profiles

    pages = pages_df(spark, _corpus_n(sf_dir))
    return anchor_profiles(extract_page_outlinks(pages), k=3).orderBy('abs_url', 'rank')


def q_html_tables(spark, sf_dir):
    """Structured table extraction from the pages corpus: flattened
    (url, table_idx, row_idx, col_idx, cell) records — one mapInPandas
    pass over (url, html), no shuffle; nested tables isolated, soup
    implicit-closes honored (core/htmltables.py spec)."""
    from markdown_articles_tool_spark.corpus import pages_df
    from markdown_articles_tool_spark.operators.htmltables import extract_html_tables

    pages = pages_df(spark, _corpus_n(sf_dir))
    return _sorted1(extract_html_tables(pages), 'url', 'table_idx', 'row_idx', 'col_idx')


def q_warc_responses(spark, sf_dir):
    """Crawl-archive source tier: synthetic Common-Crawl-style
    ``.warc.gz`` blobs (record-per-gzip-member / whole-file gzip /
    plain rotations; chunked bodies, charset soup, resync + truncation
    edges) → one row per HTTP response record.  ONE mapInPandas pass
    over (file_name, data), no shuffle — the exact shape a real
    ``binaryFile`` crawl read parallelizes to (sources/warc.py)."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import read_warc_responses

    files = warc_files_df(spark, _corpus_n(sf_dir))
    return _sorted1(read_warc_responses(files).select(
        'file_name', 'rec_ord', 'url', 'warc_date', 'http_status', 'mime',
        'charset', 'n_bytes',
        F.sha2(F.encode('text', 'utf-8'), 256).alias('text_sha'),
    ), 'file_name', 'rec_ord')


def q_warc_cdx(spark, sf_dir):
    """CDX-style record index over the crawl archives: (offset,
    length, addressable) extents per WARC record — the index that
    turns file-granular splits into record-granular ones (seek one
    gzip member, hand the slice to the same parser;
    core/warc.warc_cdx + read_record_at, round-trip pin in
    tests/test_warc.py) plus each URL's SURT key
    (core/wwwtools.surt_key — the ``com,example)/path?a=1`` sort key
    real CDX(J) indexes merge on; oracle twin = urllib-machinery
    surt_key_seq, fuzz-pinned over 30k adversarial URL spellings).
    One mapInPandas pass, no shuffle."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import read_warc_cdx

    files = warc_files_df(spark, _corpus_n(sf_dir))
    return _sorted1(read_warc_cdx(files), 'file_name', 'ord')


def q_warc_revisit(spark, sf_dir):
    """Revisit records resolved against their originals — the CC
    URL-agnostic-dedup record type completed: ``WARC-Type: revisit``
    rows (headers-only refetches with WARC-Refers-To pointers;
    profile/bracket/unresolvable rotations in corpus._revisit_member)
    left-joined to the response records on (refers_to_uri,
    refers_to_date) = (url, warc_date).  The original routinely lives
    in a DIFFERENT archive file, so resolution is an honest shuffle
    join (sources/warc.resolve_revisits); unresolvable revisits keep
    NULL orig_* columns.  Oracle = DuckDB joining the independent
    twin's revisit table (email.parser/http.client machinery) against
    the twin's response table."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import (
        read_warc_responses, read_warc_revisits, resolve_revisits)

    # the archive blobs feed TWO parsers (revisit walk + response
    # walk): persist so the python archive generation runs once
    files = warc_files_df(spark, _corpus_n(sf_dir)).persist()
    resolved = resolve_revisits(
        read_warc_revisits(files), read_warc_responses(files))
    return _sorted1(resolved.select(
        'url', 'warc_date', 'profile', 'refers_to_uri', 'refers_to_date',
        'http_status', 'orig_status', 'orig_n_bytes',
        F.sha2(F.encode('orig_text', 'utf-8'), 256).alias('orig_sha'),
    ), 'url', 'warc_date')


def q_warc_dedup(spark, sf_dir):
    """The WRITER side of CC's URL-agnostic dedup
    (sources/warc.dedup_to_revisits): corpus responses unioned with an
    identical REFETCH one year later (the month-over-month crawl
    shape — same URL, unchanged payload) → first capture per payload
    digest stays a ``response``, every later identical capture demotes
    to a ``revisit`` row pointing at the winner.  Winner = min
    (warc_date, url, file_name, rec_ord) per sha2(text) — selection is
    the de-skewed aggregation (min-struct groupBy, map-side combined),
    the join-back is AQE-splittable, never a window.  Oracle = DuckDB
    window over the twin's response table unioned with the same
    shifted copy.  The byte round-trip (write_dedup_warc → reparse →
    resolve_revisits restores every demoted text) is pinned in
    tests/test_warc.py."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import (
        dedup_to_revisits, read_warc_responses)

    files = warc_files_df(spark, _corpus_n(sf_dir))
    # the response table is consumed four times downstream (the
    # original + refetch union branches, each under dedup's winner
    # aggregation AND join-back) — persist so generation + WARC parse
    # run once, not once per consumer
    resp = read_warc_responses(files).persist()
    refetch = resp.withColumn(
        'warc_date', F.concat(F.lit('2021'), F.substring('warc_date', 5, 1000)))
    out = dedup_to_revisits(resp.unionByName(refetch))
    return _sorted1(out.select(
        'url', 'warc_date', 'kind', 'refers_to_uri', 'refers_to_date',
        'payload_sha',
    ), 'url', 'warc_date', 'kind')


def q_robots_rules(spark, sf_dir):
    """Crawl-policy rules: from-scratch robots.txt parse over the
    per-host dim table — (host, group_agent, ord, verb, value) records
    (core/robots.py spec: group folding, empty-value drops, orphan
    rules, sitemap/crawl-delay, case soup).  One mapInPandas pass."""
    from markdown_articles_tool_spark.corpus import robots_files_df
    from markdown_articles_tool_spark.operators.robots import extract_robots_rules

    return extract_robots_rules(robots_files_df(spark)).orderBy('host', 'ord')


def q_crawl_allowed(spark, sf_dir):
    """The crawl gate: every outlink record tagged allowed/blocked for
    agent 'graftbot' under the destination host's robots.txt (RFC 9309
    longest-match, allow wins ties, no robots file → allowed).  The
    host-sized robots table is BROADCAST onto the page-sized link
    table — zero shuffle Exchanges on the big side (plan-tested)."""
    from markdown_articles_tool_spark.corpus import pages_df, robots_files_df
    from markdown_articles_tool_spark.operators.htmlmeta import extract_page_outlinks
    from markdown_articles_tool_spark.operators.robots import crawl_allowed

    pages = pages_df(spark, _corpus_n(sf_dir))
    links = extract_page_outlinks(pages)
    return _sorted1(
        crawl_allowed(links, robots_files_df(spark), agent='graftbot'),
        'url', 'ord')


def q_frontier_schedule(spark, sf_dir):
    """Politeness scheduling over the assembled frontier: wave = the
    target's 1-based position within its host under (n_refs desc,
    abs_url asc) — one request per host per cycle; capped at 5 waves
    (the window-top-k cut; training/frontier.frontier_schedule).
    Oracle = an INDEPENDENT DuckDB window over the hash-gated
    crawl_frontier oracle records."""
    from markdown_articles_tool_spark.corpus import pages_df, robots_files_df
    from markdown_articles_tool_spark.operators.htmlmeta import extract_page_outlinks
    from markdown_articles_tool_spark.training.frontier import (
        crawl_frontier, frontier_schedule)

    # pages feeds the outlink extraction AND the already-crawled set:
    # persist so the python corpus generation runs once per build
    pages = pages_df(spark, _corpus_n(sf_dir)).persist()
    links = extract_page_outlinks(pages)
    frontier = crawl_frontier(links, robots_files_df(spark), pages.select('url'))
    return frontier_schedule(frontier, max_wave=5).orderBy('dst_host', 'wave')


def q_frontier_budget(spark, sf_dir):
    """Crawl-delay-aware politeness budgets: the wave schedule cut per
    host at clamp(floor(60s / delay), 1, 8) where delay = agent
    graftbot's effective robots crawl-delay (last valid value,
    specific group over '*'; junk values ignored; 0 = no constraint →
    the cap; no robots → 5 s default).  The delay decision runs once
    per HOST over the broadcast robots dim, never per frontier row
    (training/frontier.frontier_budget).  Oracle = DuckDB's window
    over the hash-gated crawl_frontier records joined with the twin's
    per-host budgets (crawl_delay_seq: explicit-loop last-wins +
    manual digit validation, vs the engine's comprehension + regex)."""
    from markdown_articles_tool_spark.corpus import pages_df, robots_files_df
    from markdown_articles_tool_spark.operators.htmlmeta import extract_page_outlinks
    from markdown_articles_tool_spark.training.frontier import (
        crawl_frontier, frontier_budget)

    pages = pages_df(spark, _corpus_n(sf_dir)).persist()
    links = extract_page_outlinks(pages)
    frontier = crawl_frontier(links, robots_files_df(spark), pages.select('url'))
    return frontier_budget(frontier, robots_files_df(spark)).orderBy(
        'dst_host', 'wave')


def q_wet_roundtrip(spark, sf_dir):
    """WET derive-and-read-back: crawl archives → from-scratch WET
    writer (gzip-member conversion records of the main-content text,
    sources/warc.warc_to_wet) → parsed back by the ordinary record
    walk.  The oracle is the warc_main_content reference — matching
    hashes prove the WRITER's bytes round-trip to exactly the text the
    independent twin chain extracts.  Two mapInPandas passes, zero
    shuffles."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import (
        read_wet_records, warc_to_wet)

    files = warc_files_df(spark, _corpus_n(sf_dir))
    wet = warc_to_wet(files)
    return _sorted1(read_wet_records(wet).select(
        'url', F.sha2(F.encode('text', 'utf-8'), 256).alias('main_sha'),
    ), 'url')


def q_wat_roundtrip(spark, sf_dir):
    """WAT derive-and-read-back: crawl archives → from-scratch WAT
    writer (gzip-member metadata records holding canonical-JSON
    envelopes of the head metadata + outlinks; all responses, the html
    block only on 200/text-html) → parsed back by the ordinary record
    walk + JSON decode.  Payload hashes must reproduce the envelopes
    the independent extraction twins build.  Two mapInPandas passes,
    zero shuffles."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import (
        read_wat_records, warc_to_wat)

    files = warc_files_df(spark, _corpus_n(sf_dir))
    return _sorted1(read_wat_records(warc_to_wat(files)), 'file_name', 'rec_ord')


def q_sitemap_entries(spark, sf_dir):
    """Sitemap discovery records: from-scratch sitemaps.org XML parse
    over the per-host dim (urlset entries + sitemapindex refs, CDATA/
    entity escapes, namespace-prefix soup, nested-extension scoping;
    core/sitemap.py).  Oracle twin = xml.etree.ElementTree."""
    from markdown_articles_tool_spark.corpus import sitemap_files_df
    from markdown_articles_tool_spark.operators.sitemap import extract_sitemap_entries

    return _sorted1(extract_sitemap_entries(sitemap_files_df(spark)), 'host', 'ord')


def q_crawl_frontier(spark, sf_dir):
    """Frontier assembly — the full crawl-tier composition: outlinks
    gated by robots (broadcast dim join), minus the already-crawled
    page set (SHUFFLE left-anti join — the crawled set is page-sized
    at web scale), collapsed to distinct targets (groupBy reusing the
    anti-join partitioning, no extra Exchange), prioritized by the
    host-PageRank broadcast (training/frontier.py)."""
    from markdown_articles_tool_spark.corpus import pages_df, robots_files_df
    from markdown_articles_tool_spark.operators.htmlmeta import extract_page_outlinks
    from markdown_articles_tool_spark.training.frontier import crawl_frontier

    pages = pages_df(spark, _corpus_n(sf_dir)).persist()
    links = extract_page_outlinks(pages)
    return crawl_frontier(
        links, robots_files_df(spark), pages.select('url'), agent='graftbot'
    ).orderBy('abs_url')


def q_frontier_bloom(spark, sf_dir):
    """Frontier assembly with the already-seen test as a BLOOM probe
    (training/frontier.crawl_frontier_bloom) — the Heritrix/Nutch
    already-seen-URI structure: the crawled set collapses to a bounded
    bit_or aggregation (<= m/64 rows) instead of re-shuffling the
    outlinks against a corpus-sized table per build; membership is
    tested scan-side.  m is deliberately tiny (2048) so deterministic
    FALSE-POSITIVE DROPS occur and the gate value-checks them — the
    twin replays every verdict with the pinned stdlib XXH64
    reimplementation.  (The exact anti-join form stays as
    crawl_frontier; at 10^12 crawled pages THIS is the shape.)"""
    from markdown_articles_tool_spark.corpus import pages_df, robots_files_df
    from markdown_articles_tool_spark.operators.htmlmeta import extract_page_outlinks
    from markdown_articles_tool_spark.training.frontier import crawl_frontier_bloom

    pages = pages_df(spark, _corpus_n(sf_dir)).persist()
    links = extract_page_outlinks(pages)
    return crawl_frontier_bloom(
        links, robots_files_df(spark), pages.select('url'), agent='graftbot',
        m_bits=2048, k_hashes=3,
    ).orderBy('abs_url')


def q_warc_main_content(spark, sf_dir):
    """Crawl archive → training text end-to-end: WARC response read,
    the fetch-policy gate (HTTP 200 + text/html), then the main-content
    boilerplate strip — all in ONE mapInPandas pass, zero shuffles
    (sources/warc.warc_main_content)."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import warc_main_content

    files = warc_files_df(spark, _corpus_n(sf_dir))
    return _sorted1(warc_main_content(files).select(
        'url', F.sha2(F.encode('main_text', 'utf-8'), 256).alias('main_sha'),
        'n_blocks', 'n_kept',
    ), 'url')


def q_pdf_text(spark, sf_dir):
    """North-rule PDF/layout-parse tier: from-scratch content-stream
    text extraction (raw + FlateDecode, Tj/'/TJ operators) over a
    synthetic (url, pdf) table."""
    from markdown_articles_tool_spark.corpus import pdfs_df
    from markdown_articles_tool_spark.operators.pdfextract import extract_pdf_text

    pdfs = pdfs_df(spark, _corpus_n(sf_dir))
    return _sorted1(extract_pdf_text(pdfs).select(
        'url', F.sha2(F.encode('text', 'utf-8'), 256).alias('text_sha'),
        'n_streams', 'n_blocks'
    ), 'url')


def q_pdf_spans(spark, sf_dir):
    """Per-block layout rows of the PDF extraction."""
    from markdown_articles_tool_spark.corpus import pdfs_df
    from markdown_articles_tool_spark.operators.pdfextract import extract_pdf_spans

    pdfs = pdfs_df(spark, _corpus_n(sf_dir))
    return _sorted1(extract_pdf_spans(pdfs), 'url', 'stream_idx', 'block_idx')


def q_corpus_images(spark, sf_dir):
    from markdown_articles_tool_spark.pipeline import transform_documents

    res = transform_documents(_corpus_docs(spark, sf_dir), _transform_cfg())
    return res.images_out.select(
        'real_path', F.sha2('content', 256).alias('content_sha')
    ).orderBy('real_path')


def q_media_metadata(spark, sf_dir):
    from markdown_articles_tool_spark.pipeline import transform_documents
    from markdown_articles_tool_spark.training.multimodal import extract_media_metadata

    res = transform_documents(_corpus_docs(spark, sf_dir), _transform_cfg())
    return _sorted1(extract_media_metadata(res.images_out), 'path')


def q_media_decode(spark, sf_dir):
    """Multimodal decode stage over the images table (mapInPandas
    plumbing; the decode kernel is the documented deterministic stub in
    this container — PIL absent — so the oracle encodes stub dims)."""
    from markdown_articles_tool_spark.pipeline import transform_documents
    from markdown_articles_tool_spark.training.multimodal import decode_images

    res = transform_documents(_corpus_docs(spark, sf_dir), _transform_cfg())
    return _sorted1(decode_images(res.images_out), 'path')


def q_media_features(spark, sf_dir):
    """Byte-histogram feature rows + entropy per media blob (the
    deterministic stand-in for a real feature encoder; same plan
    shape)."""
    from markdown_articles_tool_spark.pipeline import transform_documents
    from markdown_articles_tool_spark.training.multimodal import extract_features

    res = transform_documents(_corpus_docs(spark, sf_dir), _transform_cfg())
    return _sorted1(extract_features(res.images_out), 'path', 'bucket')


def q_media_frames(spark, sf_dir):
    """Multimodal frame sampling over the images table: evenly-spaced
    fingerprinted byte windows per blob (decoder slots in behind the
    same schema)."""
    from markdown_articles_tool_spark.pipeline import transform_documents
    from markdown_articles_tool_spark.training.multimodal import sample_frames

    res = transform_documents(_corpus_docs(spark, sf_dir), _transform_cfg())
    return _sorted1(sample_frames(res.images_out), 'path', 'frame_idx')


def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, 'lineitem')
    dec = lambda c: F.col(c).cast('decimal(18,2)')  # noqa: E731
    return (
        li.groupBy('l_returnflag', 'l_linestatus')
        .agg(
            F.sum(dec('l_quantity')).cast('double').alias('sum_qty'),
            F.sum(dec('l_extendedprice')).cast('double').alias('sum_base_price'),
            F.sum(
                (dec('l_extendedprice') * (F.lit(1).cast('decimal(18,2)') - dec('l_discount'))).cast(
                    'decimal(38,6)'
                )
            )
            .cast('double')
            .alias('sum_disc_price'),
            F.count(F.lit(1)).alias('count_order'),
        )
        .orderBy('l_returnflag', 'l_linestatus')
    )


def q_revenue_topk(spark, sf_dir):
    li = _t(spark, sf_dir, 'lineitem')
    orders = _t(spark, sf_dir, 'orders')
    cust = _t(spark, sf_dir, 'customer')
    dec = lambda c: F.col(c).cast('decimal(18,2)')  # noqa: E731
    rev = (
        li.join(orders, li['l_orderkey'] == orders['o_orderkey'])
        .join(F.broadcast(cust), orders['o_custkey'] == cust['c_custkey'])
        .where(F.col('c_mktsegment') == 'BUILDING')
        .groupBy('l_orderkey')
        .agg(
            F.sum(
                (dec('l_extendedprice') * (F.lit(1).cast('decimal(18,2)') - dec('l_discount'))).cast(
                    'decimal(38,6)'
                )
            )
            .cast('double')
            .alias('revenue')
        )
    )
    return rev.orderBy(F.col('revenue').desc(), 'l_orderkey').limit(10)


def q_events_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, 'events')
    w = Window.partitionBy('user_id').orderBy('ts', 'event_id')
    gap = F.unix_timestamp('ts') - F.unix_timestamp(F.lag('ts').over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn('new_sess', new_sess)
    return (
        _sorted1(sess.groupBy('user_id')
        .agg(F.sum('new_sess').cast('bigint').alias('n_sessions'), F.count(F.lit(1)).alias('n_events')), 'user_id')
    )


def q_url_algebra(spark, sf_dir):
    """Reference string algebra (F1/F8/P1) over synthesized URLs."""
    from markdown_articles_tool_spark.core.wwwtools import PROTOCOL_PREFIX_JAVA_REGEX

    docs = _t(spark, sf_dir, 'documents')
    url = F.concat(
        F.lit('https://img'),
        (F.col('doc_id') % 20).cast('string'),
        F.lit('.example/dir'),
        (F.col('doc_id') % 7).cast('string'),
        F.lit('/pic'),
        F.col('doc_id').cast('string'),
        F.lit('.png'),
    )
    lc = F.lower(url)
    return docs.select(
        'doc_id',
        url.alias('url'),
        (lc.startswith('http') | lc.startswith('ftp')).alias('is_url'),
        F.regexp_replace(url, PROTOCOL_PREFIX_JAVA_REGEX, '').alias('no_proto'),
        F.regexp_replace(url, r'/[^/]*$', '').alias('base_url'),
        F.substring_index(url, '.', -1).alias('ext'),
    )


def q_host_stats(spark, sf_dir):
    """Crawl frontier analytics over the pages table: per-host page
    counts, mean body size, language mix — pure Column algebra with a
    narrow groupBy on the extracted host (the hot-host skew the fetch
    stage salts against is visible here)."""
    from markdown_articles_tool_spark.corpus import pages_df

    pages = pages_df(spark, _corpus_n(sf_dir))
    host = F.regexp_extract('url', r'^[a-zA-Z]+://([^/]+)', 1)
    return (
        pages.groupBy(host.alias('host'))
        .agg(
            F.count(F.lit(1)).alias('n_pages'),
            F.sum(F.length('text')).alias('text_chars'),
            F.sum(F.when(F.col('lang') == 'en', 1).otherwise(0)).alias('n_en'),
            F.min(F.unix_timestamp('warc_ts')).alias('first_epoch'),
            F.max(F.unix_timestamp('warc_ts')).alias('last_epoch'),
        )
        .orderBy('host')
    )


def q_exact_dedup(spark, sf_dir):
    from markdown_articles_tool_spark.training.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, 'documents')).orderBy('keep_id')


def q_ngram_jaccard_adjacent(spark, sf_dir):
    from markdown_articles_tool_spark.training.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, 'documents')
    pairs = docs.select(F.col('doc_id').alias('a_id'), (F.col('doc_id') + 1).alias('b_id'))
    # the pair list covers the whole corpus, so the LSH-verify-path
    # semi-join prefilter is pure overhead here (r4 bench: +30%)
    return jaccard_pairs(docs, pairs, n=3, prefilter=False).orderBy('a_id')


def q_minhash_candidates(spark, sf_dir):
    from markdown_articles_tool_spark.training.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_t(spark, sf_dir, 'documents')).orderBy('a_id', 'b_id')


def q_winnow_pairs(spark, sf_dir):
    """Cross-document duplicated-span detection via robust winnowing
    fingerprints (the decontamination / train-test-overlap primitive)."""
    from markdown_articles_tool_spark.training.dedup import winnow_duplicate_pairs

    return winnow_duplicate_pairs(_t(spark, sf_dir, 'documents')).orderBy('a_id', 'b_id')


def q_neardup_clusters(spark, sf_dir):
    """Corpus dedup decision: MinHash-LSH candidates → exact Jaccard
    verify → connected components → deterministic representative."""
    from markdown_articles_tool_spark.training.cluster import neardup_clusters

    return neardup_clusters(_t(spark, sf_dir, 'documents'), threshold=0.8).orderBy('doc_id')


def q_neardup_apply(spark, sf_dir):
    """The REMOVE stage over the near-dup decision (detect→remove,
    like span_dedup completes winnowing): keep exactly the cluster
    representatives (doc_id == cluster_rep — singletons are their own
    rep, so this IS the deduped corpus), joined back onto the doc
    table to carry real columns through.  The join is keeper-sized
    broadcast onto the corpus scan at these ratios; at crawl scale it
    is the same AQE equi-join every apply-stage uses.  Oracle =
    selecting the representatives from the twin's cluster table and
    joining the documents view."""
    from markdown_articles_tool_spark.training.cluster import neardup_apply

    docs = _t(spark, sf_dir, 'documents')
    return neardup_apply(docs, threshold=0.8).select(
        'doc_id', 'n_chars').orderBy('doc_id')


def q_crawl_diff(spark, sf_dir):
    """Month-over-month crawl DIFF — what changed between two crawls
    of the same seed set: per URL, 'added' / 'removed' / 'changed' /
    'unchanged' plus both content digests.  Crawl A = the corpus
    responses; crawl B is DERIVED from A by a deterministic
    sha256(url)-keyed rule (m = first-byte mod 10: m<2 dropped, 2<=m<4
    re-crawled with changed content, m==4 additionally yields a brand
    new URL, rest unchanged) — both engines can compute the rule, so
    the oracle rebuilds BOTH crawls from the twin's response table and
    diffs them itself.  The diff is one full-outer equi-join on url
    (page-sized, AQE) — no window, no collect."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import read_warc_responses

    files = warc_files_df(spark, _corpus_n(sf_dir))
    a = (
        read_warc_responses(files)
        .where(F.col('http_status') == 200)
        .select('url', F.sha2(F.col('text'), 256).alias('digest'))
        .distinct()
    )
    m = (F.conv(F.substring(F.sha2(F.col('url'), 256), 1, 2), 16, 10)
         .cast('int') % 10)
    b_kept = a.where(m >= 2).select(
        'url',
        F.when((m >= 2) & (m < 4), F.sha2(F.concat(F.col('digest'), F.lit('v2')), 256))
        .otherwise(F.col('digest')).alias('digest'),
    )
    b_new = a.where(m == 4).select(
        F.concat(F.col('url'), F.lit('?v=2')).alias('url'),
        F.sha2(F.concat(F.col('digest'), F.lit('new')), 256).alias('digest'),
    )
    from markdown_articles_tool_spark.training.crawldiff import crawl_diff

    b = b_kept.unionByName(b_new)
    return crawl_diff(a, b).orderBy('url')


def q_simhash_neardup(spark, sf_dir):
    from markdown_articles_tool_spark.training.dedup import simhash_near_duplicates

    return simhash_near_duplicates(_t(spark, sf_dir, 'documents')).orderBy('a_id', 'b_id')


def q_bpe_tokens(spark, sf_dir):
    """Real byte-pair-merge tokenization (embedded 607-merge vocab);
    the regex proxy in token_stats stays as the cheap estimator."""
    from markdown_articles_tool_spark.training.bpe import bpe_token_stats

    return _sorted1(bpe_token_stats(_t(spark, sf_dir, 'documents')), 'doc_id')


def q_token_stats(spark, sf_dir):
    from markdown_articles_tool_spark.training.textstats import quality_features

    return _sorted1(quality_features(_t(spark, sf_dir, 'documents')), 'doc_id')


def q_langid(spark, sf_dir):
    from markdown_articles_tool_spark.training.textstats import langid

    return _sorted1(langid(_t(spark, sf_dir, 'documents')), 'doc_id')


def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-doc repetition quality signals (one Arrow
    pass, per-doc Counters — no (doc, gram) shuffle)."""
    from markdown_articles_tool_spark.training.textstats import repetition_stats

    return _sorted1(repetition_stats(_t(spark, sf_dir, 'documents')), 'doc_id')


def q_quality_filter(spark, sf_dir):
    """Composite Gopher-rule keep/drop verdict (Rae et al. 2021 §A1.1
    subset): six per-rule booleans + their conjunction, computed in ONE
    corpus scan (Column features + the repetition Arrow kernel share a
    projection — no self-join of the stats queries)."""
    from markdown_articles_tool_spark.training.textstats import gopher_filter

    return _sorted1(gopher_filter(_t(spark, sf_dir, 'documents')), 'doc_id')


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: train docs (doc_id % 50 != 0) sharing
    any word 4-gram with the bench split (doc_id % 50 == 0); the tiny
    bench gram table broadcasts — the corpus never shuffles on grams."""
    from markdown_articles_tool_spark.training.dedup import contamination_hits

    docs = _t(spark, sf_dir, 'documents')
    bench = docs.where(F.col('doc_id') % 50 == 0)
    train = docs.where(F.col('doc_id') % 50 != 0)
    return contamination_hits(train, bench, n=4).orderBy('doc_id')


def q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing by distributed prefix-sum (per-
    partition totals + broadcast bases — NOT a single-task global
    window); shard = floor(running-token-offset / 4096) in doc_id
    order."""
    from markdown_articles_tool_spark.training.packing import pack_sequences
    from markdown_articles_tool_spark.training.textstats import token_count

    docs = _t(spark, sf_dir, 'documents').select(
        'doc_id', token_count(F.col('text')).alias('n_tokens')
    )
    return pack_sequences(docs, budget=4096).orderBy('doc_id')


def q_dataset_split(spark, sf_dir):
    """Deterministic content-addressed train/val/test split: bucket =
    first 16 bits of sha256(doc_id) — a pure function of identity, so
    re-runs/repartitions/backfills never migrate a doc across splits."""
    from markdown_articles_tool_spark.training.sampling import dataset_split

    return _sorted1(dataset_split(_t(spark, sf_dir, 'documents').select('doc_id')), 'doc_id')


def q_corpus_quantiles(spark, sf_dir):
    """EXACT order statistics (training/util.exact_quantiles): the
    p50/p90/p99 doc-length profile computed at the definition
    rank = max(1, ceil(q*total)) under the (value, id) total order —
    via the two-level prefix-count rank, never approx_percentile's
    estimate and never a single-task global sort.  Oracle = DuckDB's
    own window + the same rank formula."""
    from markdown_articles_tool_spark.training.util import exact_quantiles

    return exact_quantiles(
        _t(spark, sf_dir, 'documents'), 'n_chars', (0.5, 0.9, 0.99), 'doc_id'
    ).orderBy('q')


def q_dataset_shards(spark, sf_dir):
    """Dataset publication (training/sampling.dataset_shards):
    deterministic global shuffle (content-addressed (bucket, id)
    order) + exact integer packing into 16 near-equal shards —
    reproducible under re-runs, repartitioning and appends.  Rank via
    the two-level prefix-count machinery (util.global_rank, never a
    single-partition window); oracle = DuckDB's OWN row_number window
    + the same integer packing arithmetic."""
    from markdown_articles_tool_spark.training.sampling import dataset_shards

    return dataset_shards(
        _t(spark, sf_dir, 'documents'), n_shards=16
    ).orderBy('doc_id')


def q_lang_sample(spark, sf_dir):
    """Language rebalancing (training/sampling.lang_rebalance): the
    mC4/CCNet temperature-sampling shape at alpha = 1/2, expressed as
    a per-doc hash-threshold decision — keep with probability
    min(1, 8/sqrt(n_lang)) — so the plan is one tiny language-count
    aggregation + a broadcast dim join + a scan-side filter, with NO
    corpus shuffle, window, or rank anywhere.  The threshold chain
    (exact multiply, sqrt, divide, floor) is IEEE-correctly-rounded at
    every step, so the DuckDB oracle replays the arithmetic verbatim
    and must agree bit-for-bit on every kept doc."""
    from markdown_articles_tool_spark.training.sampling import lang_rebalance

    return lang_rebalance(_t(spark, sf_dir, 'documents'), k=8).orderBy('doc_id')


def q_span_dedup(spark, sf_dir):
    """Exact duplicated-substring REMOVAL (training/dedup.dedup_spans)
    — the Lee et al. 2022 release-run stage: every 25-char window of
    the normalized text also occurring earlier in the corpus (global
    (doc, pos) order; intra-doc repetition counts) is cut from the
    tail occurrences, overlapping windows merging into maximal
    intervals.  Owner selection is the de-skewed min-struct
    aggregation (map-side combined, never a window); the one
    corpus-sized exchange is the owner join-back (AQE-splittable
    JOIN).  Oracle twin: dict-based owner assignment over the
    independent positional-hash kernel with a per-char coverage
    BITMAP cut (vs the engine's interval merge)."""
    from markdown_articles_tool_spark.training.dedup import dedup_spans

    return _sorted1(dedup_spans(_t(spark, sf_dir, 'documents'), k=25), 'doc_id')


def q_bloom_dedup(spark, sf_dir):
    """Incremental dedup against a historical corpus via a distributed
    Bloom filter (training/bloomdedup): historical = doc_id % 3 != 0,
    new batch = the rest, key = sha256(text).  Build = explode k probe
    positions per digest → groupBy(word).bit_or(mask) — map-side
    combined, output bounded by m_bits/64 rows REGARDLESS of corpus
    size — collect the filter once, broadcast; probe = JVM xxhash64
    position algebra + ONE vectorized Arrow pass of bit tests.  No
    join, no corpus shuffle at any step.  m is deliberately tiny
    (2048 bits) at test scale so deterministic FALSE POSITIVES occur
    and the gate checks them: the oracle twin replays the frozen spec
    (xxhash64 seed 42 → Kirsch-Mitzenmacher double hashing) with the
    pinned stdlib XXH64 reimplementation and must agree on every
    verdict, FPs included."""
    from markdown_articles_tool_spark.training.bloomdedup import bloom_dedup

    docs = _t(spark, sf_dir, 'documents').select(
        'doc_id', F.sha2(F.col('text'), 256).alias('digest')
    )
    old = docs.where(F.col('doc_id') % 3 != 0)
    new = docs.where(F.col('doc_id') % 3 == 0)
    return _sorted1(bloom_dedup(old, new, m_bits=2048, k_hashes=3).select(
        'doc_id', 'novel'
    ), 'doc_id')


def q_source_spam(spark, sf_dir):
    """Per-domain lexical-diversity dim (training/domains.
    source_diversity): the C4/RefinedWeb domain-blocklist derivation —
    a template farm's vocabulary barely grows while its token count
    explodes, so spam = type-token ratio below 1/45, stated as the
    INTEGER inequality n_terms > 45 * n_distinct (exact in every
    engine).  COUNT(DISTINCT term) per source is a Catalyst two-level
    aggregate (partial distinct before the exchange), so a mega-source
    collapses to vocabulary size map-side."""
    from markdown_articles_tool_spark.training.domains import source_diversity

    return source_diversity(_t(spark, sf_dir, 'documents')).orderBy('source')


def q_domain_filter(spark, sf_dir):
    """The corpus pass over the domain verdict (training/domains.
    domain_filter): broadcast the host-sized clean-source dim onto the
    corpus and keep docs from clean sources — the doc side never
    shuffles."""
    from markdown_articles_tool_spark.training.domains import domain_filter

    return domain_filter(_t(spark, sf_dir, 'documents')).select(
        'doc_id', 'source'
    ).orderBy('doc_id')


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-5 TF-IDF terms: per-doc TF groupBy, corpus-wide
    DF groupBy, SHUFFLE join on term (crawl vocabularies don't
    broadcast), corpus size as a broadcast 1-row aggregate, window
    top-k."""
    from markdown_articles_tool_spark.training.tfidf import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, 'documents'), k=5).orderBy('doc_id', 'rank')


def q_fingerprint(spark, sf_dir):
    from markdown_articles_tool_spark.training.textstats import fingerprint

    return _sorted1(fingerprint(_t(spark, sf_dir, 'documents')), 'doc_id')


def q_ann_cosine_topk(spark, sf_dir):
    from markdown_articles_tool_spark.training.similarity import cosine_topk

    emb = _t(spark, sf_dir, 'embeddings')
    queries = emb.where(F.col('vec_id') % 50 == 0).select(F.col('vec_id').alias('query_id'))
    return cosine_topk(emb, queries, k=5).orderBy('query_id', 'rank')


def q_ann_lsh_topk(spark, sf_dir):
    from markdown_articles_tool_spark.training.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, 'embeddings')
    queries = emb.where(F.col('vec_id') % 50 == 0).select(F.col('vec_id').alias('query_id'))
    return lsh_cosine_topk(emb, queries, k=5).select('query_id', 'neighbor_id', 'rank').orderBy(
        'query_id', 'rank'
    )


def q_int8_quant(spark, sf_dir):
    """Symmetric max-abs INT8 embedding quantization (the 4x-smaller
    storage form a 10^12-vector serving tier actually holds): one
    Arrow pass → (vec_id, scale, sha of the 1-byte/dim two's-complement
    row).  Twin = a scalar pure-python quantizer
    (oracle_kernels.int8_quant_seq) vs the engine's numpy batch kernel;
    round-half-even and float64 widening make the two bit-equal."""
    from markdown_articles_tool_spark.training.similarity import int8_quantize

    emb = _t(spark, sf_dir, 'embeddings')
    return _sorted1(int8_quantize(emb).select(
        'vec_id', 'scale', F.sha2('q_bytes', 256).alias('q_sha')
    ), 'vec_id')


def q_ann_int8_topk(spark, sf_dir):
    """Compressed ANN serving shape: LSH buckets prune (signatures on
    the original floats), INT8 vectors score with a pure-JVM INTEGER
    dot product — exactly reproducible (no float summation hazards),
    so the driver gate hashes the scores themselves, not a rounding
    of them.  Twin chains the python quantizer + integer dot under
    the shared banding spec."""
    from markdown_articles_tool_spark.training.similarity import lsh_int8_topk

    emb = _t(spark, sf_dir, 'embeddings')
    queries = emb.where(F.col('vec_id') % 50 == 0).select(F.col('vec_id').alias('query_id'))
    return lsh_int8_topk(emb, queries, k=5).orderBy('query_id', 'rank')


def q_ann_ivf_topk(spark, sf_dir):
    from markdown_articles_tool_spark.training.similarity import ivf_cosine_topk

    emb = _t(spark, sf_dir, 'embeddings')
    queries = emb.where(F.col('vec_id') % 50 == 0).select(F.col('vec_id').alias('query_id'))
    return ivf_cosine_topk(emb, queries, k=5).select('query_id', 'neighbor_id', 'rank').orderBy(
        'query_id', 'rank'
    )


def q_embedding_neardup(spark, sf_dir):
    """Production path: LSH candidate buckets → exact cosine verify
    (no crossJoin in the plan)."""
    from markdown_articles_tool_spark.training.similarity import embedding_near_duplicates

    return embedding_near_duplicates(_t(spark, sf_dir, 'embeddings'), threshold=0.45).select(
        'a_id', 'b_id'
    ).orderBy('a_id', 'b_id')


def q_embedding_neardup_exact(spark, sf_dir):
    """Deliberate all-pairs oracle path (correctness baseline for the
    bucketed operator above — never the production plan)."""
    from markdown_articles_tool_spark.training.similarity import embedding_near_duplicates_exact

    return embedding_near_duplicates_exact(_t(spark, sf_dir, 'embeddings'), threshold=0.45).select(
        'a_id', 'b_id'
    ).orderBy('a_id', 'b_id')


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style quality scoring (Wenzek et al. 2020): train a
    stupid-backoff trigram LM on the lang='en' slice (one Arrow
    counting pass + one vocabulary-sized groupBy; the pruned model is
    a bounded broadcast artifact), then score every document's
    perplexity in one pandas_udf pass.  Oracle = the independent
    sequential trainer/scorer in tools/oracle_kernels.py (char-walk
    tokenizer, index-loop counts, unmemoized scorer) — fsum makes the
    log-prob sum order-independent, so the match is bit-exact."""
    from markdown_articles_tool_spark.training.lm import perplexity_pipeline

    docs = _t(spark, sf_dir, 'documents')
    return _sorted1(perplexity_pipeline(
        docs, train_where=F.col('lang') == 'en'
    ), 'doc_id')


def q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail split: exact NTILE(3) over (ppl, doc_id)
    computed WITHOUT a global single-partition window (two-level
    prefix count: range partition, per-partition totals, broadcast
    bases, SQL-standard tile formula).  Oracle = DuckDB's own ntile(3)
    over the twin's lm_perplexity table — an independent check of the
    distributed ranking machinery itself."""
    from markdown_articles_tool_spark.training.lm import ppl_buckets

    docs = _t(spark, sf_dir, 'documents')
    return ppl_buckets(
        docs, train_where=F.col('lang') == 'en'
    ).orderBy('doc_id')


def q_pii_redact(spark, sf_dir):
    """PII scrub pass (the BigScience-ROOTS-style hygiene step):
    emails, IPv4s, Luhn-validated card numbers, and phone numbers →
    typed placeholders, ONE Arrow pass over documents+planted PII
    (corpus.pii_plant rotates email/ip/phones/card/negative-controls/
    combo/none by doc_id so every detector and every negative control
    fires).  Engine = coarse-regex runs + validation
    (training/pii.py); oracle twin = explicit index walks + a
    forward-parity Luhn (tools/oracle_kernels.pii_redact_seq),
    fuzz-pinned over 80k adversarial compositions."""
    from markdown_articles_tool_spark.corpus import pii_plant
    from markdown_articles_tool_spark.training.pii import pii_redact

    docs = _t(spark, sf_dir, 'documents')
    return _sorted1(pii_redact(docs, plant=pii_plant).select(
        'doc_id', 'n_emails', 'n_ips', 'n_ccs', 'n_phones', 'redacted_sha'
    ), 'doc_id')


def q_mojibake_fix(spark, sf_dir):
    """Mojibake repair (the ftfy trick): UTF-8 mis-decoded as
    Latin-1/cp1252 (``Ã©`` for ``é``) detected per maximal high-char
    run via the reverse-byte-map + strict-UTF-8 round-trip, iterated
    to a fixed point (double-encoding resolves in two rounds), ONE
    Arrow pass over documents+planted damage (corpus.mojibake_plant
    rotates latin-1/cp1252/double/legit-non-Latin/mixed/none by
    doc_id).  Engine = regex run scan + codec round-trip; oracle twin
    = index walk + a FROM-SCRATCH strict UTF-8 decoder
    (tools/oracle_kernels.mojibake_fix_seq — itself differentially
    pinned against the codec over 200k random byte strings)."""
    from markdown_articles_tool_spark.corpus import mojibake_plant
    from markdown_articles_tool_spark.training.mojibake import fix_mojibake

    docs = _t(spark, sf_dir, 'documents')
    return _sorted1(fix_mojibake(docs, plant=mojibake_plant).select(
        'doc_id', 'n_runs_fixed', 'n_rounds', 'fixed_sha'
    ), 'doc_id')


def q_cdx_index(spark, sf_dir):
    """The merged crawl index — what Common Crawl actually publishes:
    every per-archive CDX shard's records under ONE global SURT order,
    so a record is findable by binary search over (surt, position)
    across the whole crawl.  The global position comes from the
    two-level prefix-count rank (training/util.global_rank: range
    partition, per-partition totals, broadcast bases — NEVER a
    single-partition global window), so the build is partition-count
    invariant and the sort work stays distributed.  Oracle = DuckDB's
    OWN row_number() OVER (ORDER BY surt, file_name, ord) over the
    twin's CDX table — an independent check of the distributed
    ranking machinery, like ppl_buckets."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import read_warc_cdx
    from markdown_articles_tool_spark.training.util import global_rank

    files = warc_files_df(spark, _corpus_n(sf_dir))
    cdx = read_warc_cdx(files).select('surt', 'file_name', 'ord')
    return global_rank(cdx, ['surt', 'file_name', 'ord'], 'idx').orderBy('idx')


def q_cdx_lookup(spark, sf_dir):
    """The index answering queries — the operational proof of the
    whole CDX tier: write the range-partitioned SURT-sorted shard
    layout + boundary table (sources/cdxindex.write_cdx_index — the
    CC cdx-NNNNN + cluster.idx shape, built fully distributed), then
    point-look-up the first five metadata SURTs through the boundary
    prune (each lookup scans only its covering shard file).  Because
    metadata records carry SURT-trap spellings of their page's URL
    (corpus._messy_target), a lookup on the MESSY spelling finds the
    clean response/request records too — the SURT-collapse property
    doing its job.  Oracle = DuckDB selecting the same five keys'
    rows from the twin's CDX table.

    r6: the five lookups go through ``lookup_surts`` — the BATCH form
    (union of covering shards scanned once, broadcast-joined against
    the key set, ONE job) instead of one Spark job per key; identical
    rows, the reprocessing-pipeline shape."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.cdxindex import (
        lookup_surts, write_cdx_index)
    from markdown_articles_tool_spark.sources.warc import read_warc_cdx

    n = _corpus_n(sf_dir)
    files = warc_files_df(spark, n)
    # the CDX rows are consumed three times (write's range-sampling
    # pass + its shuffle pass + the key collection below): persist so
    # generation + parse run once
    cdx = read_warc_cdx(files).persist()
    path = f'/tmp/mats_cdx_index/{n}'
    write_cdx_index(cdx, path)
    keys = [r['surt'] for r in
            cdx.where((F.col('warc_type') == 'metadata')
                      & F.col('surt').startswith('example,'))
            .select('surt').distinct().orderBy('surt').limit(5).collect()]
    return lookup_surts(spark, path, keys).select(
        'surt', 'file_name', 'ord', 'warc_type', 'url'
    ).orderBy('surt', 'file_name', 'ord')


def q_cdx_prefix(spark, sf_dir):
    """``matchType=host`` through the sharded index — the most common
    real CDX query ("give me everything for this host"): SURT keys
    make a host query a PREFIX query, so ``lookup_prefix`` boundary-
    prunes to the shards overlapping the prefix range (a shard can
    hold a ``p``-prefixed key iff ``lo[:len(p)] <= p <= hi``) and
    scans only those.  The prefix is site1's host prefix derived by
    ``host_prefix`` from a deliberately MESSY spelling of the host
    (scheme/case/www/default-port traps) — the SURT collapse makes
    them the same query.  Oracle = DuckDB ``LIKE 'prefix%'`` over the
    independent twin's flat CDX table."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.cdxindex import (
        host_prefix, lookup_prefix, write_cdx_index)
    from markdown_articles_tool_spark.sources.warc import read_warc_cdx

    n = _corpus_n(sf_dir)
    files = warc_files_df(spark, n)
    # write's range-sampling + shuffle passes: persist (see cdx_lookup)
    cdx = read_warc_cdx(files).persist()
    path = f'/tmp/mats_cdx_index/{n}'
    write_cdx_index(cdx, path)
    prefix = host_prefix('HTTPS://WWW.Site1.Example:443/ignored?x=1')
    # ^ messy spelling of corpus host site1.example: scheme, case,
    #   the www label and the https default port all collapse away
    #   and the labels reverse, leaving exactly 'example,site1)'
    return lookup_prefix(spark, path, prefix).select(
        'surt', 'file_name', 'ord', 'warc_type', 'url'
    ).orderBy('surt', 'file_name', 'ord')


def q_warc_redirects(spark, sf_dir):
    """The crawl's redirect edges: every 3xx response record with its
    verbatim first-wins Location header (sources/warc.
    read_warc_redirects; rec_ord shares the response walk's ordinal
    space).  One mapInPandas pass, no shuffle.  Oracle = the
    email.parser + http.client twin's table."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import read_warc_redirects

    files = warc_files_df(spark, _corpus_n(sf_dir))
    return _sorted1(read_warc_redirects(files), 'file_name', 'rec_ord')


def q_redirect_chains(spark, sf_dir):
    """Transitive redirect resolution (training/redirects): chains
    follow 3xx Location edges up to 4 hops — the corpus plants one-hop
    200 landings, redirect-onto-redirect chains, relative dangling
    targets, dead redirects (no Location), self-loops, and hops INTO
    self-loops, so every terminal state (ok/loop/dangling/
    dead_redirect, + truncated at deeper caps) is value-checked.
    Each hop is an equi-join on the target URL (AQE-splittable, eagerly
    checkpointed frontier, settled chains leave the frontier); the
    oracle is DuckDB's OWN ``WITH RECURSIVE`` walk over the twin's
    edge and response tables — two independent chain-following
    machineries agreeing on every row."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import (
        read_warc_redirects, read_warc_responses)
    from markdown_articles_tool_spark.training.redirects import (
        resolve_redirect_chains)

    # two parsers over the same blobs: persist the generated archives
    files = warc_files_df(spark, _corpus_n(sf_dir)).persist()
    red = read_warc_redirects(files)
    resp = read_warc_responses(files)
    return _sorted1(resolve_redirect_chains(red, resp, max_hops=4), 'url')


def q_warc_clean(spark, sf_dir):
    """The END-TO-END release run over raw archives in ONE plan: WARC
    record walk → HTTP 200 + text/html fetch-policy gate →
    main-content boilerplate strip → mojibake repair → PII scrub →
    Gopher keep verdict.  Two Python crossings — one mapInPandas (record
    walk + gate + strip, sources/warc.warc_main_content) and one fused
    Arrow eval (mojibake → PII → sha → repetition signals,
    training/hygiene.scrub) with the Gopher token features as JVM
    Column algebra — and ZERO shuffles: raw crawl bytes to
    training-ready verdicts without a single exchange, the shape a
    10^12-page release run wants.  Oracle: the clean text comes from
    the chained independent twins (warc walk → main-content kernel →
    mojibake_fix_seq → pii_redact_seq) in oracleref; the quality
    verdict over that text is DuckDB's own SQL (the token/repetition
    CTEs retargeted), same discipline as clean_corpus."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import warc_main_content
    from markdown_articles_tool_spark.training.hygiene import scrub

    files = warc_files_df(spark, _corpus_n(sf_dir))
    mc = warc_main_content(files).select('url', F.col('main_text').alias('text'))
    return _sorted1(scrub(mc, id_col='url'), 'url')


def q_warc_host_quality(spark, sf_dir):
    """Which hosts produce garbage — the crawl-side domain verdict:
    per-host keep-rate over the end-to-end archive release run
    (warc_clean's verdicts), flagged ``low_quality`` by the integer
    majority rule 2*n_keep < n_pages.  Host-sized aggregation with
    map-side partials over the zero-shuffle release-run plan (two
    Python crossings, as in warc_clean); this dim
    is what next month's crawl budget and blocklist read.  Oracle =
    DuckDB aggregating its own warc_clean reconstruction per host."""
    from markdown_articles_tool_spark.corpus import warc_files_df
    from markdown_articles_tool_spark.sources.warc import warc_main_content
    from markdown_articles_tool_spark.training.hygiene import scrub

    files = warc_files_df(spark, _corpus_n(sf_dir))
    mc = warc_main_content(files).select('url', F.col('main_text').alias('text'))
    wc = scrub(mc, id_col='url')
    host = F.regexp_extract('url', '^[a-zA-Z]+://([^/]+)', 1)
    return (
        wc.groupBy(host.alias('host'))
        .agg(
            F.count(F.lit(1)).alias('n_pages'),
            F.sum(F.col('keep').cast('int')).alias('n_keep'),
        )
        .select(
            'host', 'n_pages', 'n_keep',
            (F.lit(2) * F.col('n_keep') < F.col('n_pages')).alias('low_quality'),
        )
        .orderBy('host')
    )


def q_cdx_closest(spark, sf_dir):
    """``closest`` matchType through the sharded index — the wayback
    query: nearest capture (response/revisit) of a URL to a requested
    14-digit timestamp, distance defined on the numeric 14-digit form
    (the CDX key convention), ties toward the earlier capture.  One
    job for the whole query batch (covering-shard union + broadcast
    query set), winner per query = a min-struct AGGREGATION under a
    total order — map-side combined, never a window sort, so a URL
    with 10^6 captures collapses per map partition.  The four queries
    exercise: an exact-timestamp hit (diff 0 → the response), a
    far-future query (the later revisit wins), a single-capture URL,
    and a two-capture distance race asked through a MESSY spelling of
    the URL (SURT collapse routes it to the same captures).  Oracle =
    DuckDB's own window over the twin's CDX table (which now carries
    warc_date exactly for this query shape)."""
    from markdown_articles_tool_spark.corpus import doc_url, warc_files_df
    from markdown_articles_tool_spark.sources.cdxindex import (
        lookup_closest, write_cdx_index)
    from markdown_articles_tool_spark.sources.warc import read_warc_cdx

    n = _corpus_n(sf_dir)
    files = warc_files_df(spark, n)
    # write's range-sampling + shuffle passes: persist (see cdx_lookup)
    cdx = read_warc_cdx(files).persist()
    path = f'/tmp/mats_cdx_index/{n}'
    write_cdx_index(cdx, path)
    messy28 = 'HTTPS://WWW.SITE3.EXAMPLE:443/articles/a00000028/doc28.md'
    queries = [
        (doc_url(0), 20200913122640),    # exact hit on the response
        (doc_url(7), 20210101000000),    # future → revisit (later) wins
        (doc_url(14), 20150101000000),   # single capture (gone-branch revisit)
        (messy28, 20200913122710),       # distance race: 2 vs 3 → response
    ]
    return lookup_closest(spark, path, queries).orderBy('surt', 'q_ts')


def q_clean_corpus(spark, sf_dir):
    """The composed hygiene pipeline — what a release run actually
    executes: mojibake repair → PII scrub → Gopher quality verdict,
    ALL in one plan with exactly ONE Arrow pass and ZERO shuffles (the
    repair, scrub, clean sha and repetition signals share one
    per-document Python kernel; the token features are Column algebra
    over its clean text in the same projection — no join).  Oracle: the
    clean text is produced by the CHAINED independent twins
    (mojibake_fix_seq → pii_redact_seq) into oracleref, and the
    quality verdict over it is DuckDB's own SQL (the token/repetition
    CTEs re-targeted via a `documents` CTE shadow) — three independent
    machineries checking the one engine plan."""
    from markdown_articles_tool_spark.corpus import mojibake_plant, pii_plant
    from markdown_articles_tool_spark.training.hygiene import scrub

    docs = _t(spark, sf_dir, 'documents')
    return _sorted1(scrub(
        docs, plant=lambda i, t: pii_plant(i, mojibake_plant(i, t))
    ), 'doc_id')


def q_line_dedup(spark, sf_dir):
    """Corpus-wide exact LINE dedup (CCNet-style boilerplate removal)
    over the synthetic pages corpus: repeated template/banner lines
    collapse to their first (min url, idx) occurrence; per-doc content
    line counts + sha of the deduplicated text."""
    from markdown_articles_tool_spark.training.dedup import dedup_lines

    docs = _corpus_docs(spark, sf_dir)
    return _sorted1(dedup_lines(docs, id_col='url', text_col='text').select(
        'url', 'n_lines', 'n_kept',
        F.sha2(F.encode('text_dedup', 'utf-8'), 256).alias('dedup_sha'),
    ), 'url')


def q_url_canonical(spark, sf_dir):
    """URL canonicalization for crawl dedup: deterministic messy-URL
    variants derived from doc_id (mixed-case scheme/host, default and
    non-default explicit ports, tracker params, unsorted query, empty
    paths, fragments) normalized by the JVM Column kernel; the DuckDB
    oracle synthesizes the identical inputs and canonicalizes them with
    its OWN independent SQL implementation of the same spec."""
    from markdown_articles_tool_spark.training.urlnorm import canonicalize_url

    d = F.col('doc_id')
    s = lambda c: c.cast('string')  # noqa: E731
    raw = F.concat(
        F.lit('HTTP'), F.when(d % 2 == 0, F.lit('S')).otherwise(F.lit('')),
        F.lit('://WWW.Site'), s(d % 5), F.lit('.Example.COM'),
        F.when(d % 3 == 0, F.lit(':443')).when(d % 3 == 1, F.lit(':8080')).otherwise(F.lit(':80')),
        F.when(d % 7 == 0, F.lit('')).otherwise(F.concat(F.lit('/Articles/Item'), s(d))),
        F.when(d % 4 == 0, F.lit('?utm_source=feed&b=2&a=1'))
        .when(d % 4 == 1, F.lit('?z=9&utm_campaign=x&y=1'))
        .when(d % 4 == 2, F.lit('?gclid=abc')).otherwise(F.lit('')),
        F.when(d % 2 == 0, F.lit('#Section-2')).otherwise(F.lit('')),
    )
    return _sorted1(
        _t(spark, sf_dir, 'documents')
        .select('doc_id', raw.alias('url_raw'))
        .select('doc_id', 'url_raw', canonicalize_url(F.col('url_raw')).alias('url_canon')),
        'doc_id',
    )


def q_lineage(spark, sf_dir):
    """North rule: per-partition lineage + metrics as a first-class
    queryable output, over a genuinely RESUMED sharded run — the
    checkpointed transform runs once (4 shards), then again (the resume
    must skip every committed shard), and the per-(pass, shard, status)
    lineage table is what both runs agree on.  Oracle twin: shard
    assignment re-derived via a stdlib XXH64 reimplementation + the
    sequential per-link status taxonomy (tools/oracle_extract.py)."""
    import os
    import shutil
    import tempfile

    from markdown_articles_tool_spark.checkpoint import lineage_df, run_with_resume

    # fixed per-scale path, wiped at start: repeated driver/bench/test
    # invocations must not leak a transform output dir per call
    out_dir = os.path.join(
        tempfile.gettempdir(), f'mats-lineage-{os.path.basename(sf_dir.rstrip("/"))}'
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    docs = _corpus_docs(spark, sf_dir)
    cfg = _transform_cfg()
    run_with_resume(spark, docs, cfg, out_dir, n_shards=4)
    rep = run_with_resume(spark, docs, cfg, out_dir, n_shards=4)
    assert rep.shards_run == [], 'resumed run must skip all committed shards'
    return lineage_df(spark, out_dir).orderBy('pass_idx', 'shard', 'status')


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        'transform_corpus': q_transform_corpus,
        'extract_links_corpus': q_extract_links_corpus,
        'main_content': q_main_content,
        'content_spans': q_content_spans,
        'html_tables': q_html_tables,
        'warc_responses': q_warc_responses,
        'warc_revisit': q_warc_revisit,
        'warc_dedup': q_warc_dedup,
        'warc_main_content': q_warc_main_content,
        'warc_cdx': q_warc_cdx,
        'robots_rules': q_robots_rules,
        'crawl_allowed': q_crawl_allowed,
        'crawl_frontier': q_crawl_frontier,
        'frontier_bloom': q_frontier_bloom,
        'sitemap_entries': q_sitemap_entries,
        'frontier_schedule': q_frontier_schedule,
        'wet_roundtrip': q_wet_roundtrip,
        'wat_roundtrip': q_wat_roundtrip,
        'page_meta': q_page_meta,
        'page_outlinks': q_page_outlinks,
        'host_pagerank': q_host_pagerank,
        'anchor_texts': q_anchor_texts,
        'pdf_text': q_pdf_text,
        'pdf_spans': q_pdf_spans,
        'corpus_images': q_corpus_images,
        'media_metadata': q_media_metadata,
        'media_decode': q_media_decode,
        'media_features': q_media_features,
        'media_frames': q_media_frames,
        'pricing_summary': q_pricing_summary,
        'revenue_topk': q_revenue_topk,
        'events_sessionize': q_events_sessionize,
        'url_algebra': q_url_algebra,
        'host_stats': q_host_stats,
        'exact_dedup': q_exact_dedup,
        'ngram_jaccard_adjacent': q_ngram_jaccard_adjacent,
        'minhash_candidates': q_minhash_candidates,
        'winnow_pairs': q_winnow_pairs,
        'neardup_clusters': q_neardup_clusters,
        'simhash_neardup': q_simhash_neardup,
        'bpe_tokens': q_bpe_tokens,
        'token_stats': q_token_stats,
        'langid': q_langid,
        'repetition_stats': q_repetition_stats,
        'quality_filter': q_quality_filter,
        'tfidf_topk': q_tfidf_topk,
        'dataset_split': q_dataset_split,
        'lang_sample': q_lang_sample,
        'dataset_shards': q_dataset_shards,
        'corpus_quantiles': q_corpus_quantiles,
        'source_spam': q_source_spam,
        'bloom_dedup': q_bloom_dedup,
        'span_dedup': q_span_dedup,
        'domain_filter': q_domain_filter,
        'pack_sequences': q_pack_sequences,
        'contamination': q_contamination,
        'fingerprint': q_fingerprint,
        'ann_cosine_topk': q_ann_cosine_topk,
        'ann_lsh_topk': q_ann_lsh_topk,
        'ann_ivf_topk': q_ann_ivf_topk,
        'embedding_neardup': q_embedding_neardup,
        'embedding_neardup_exact': q_embedding_neardup_exact,
        'lineage': q_lineage,
        'line_dedup': q_line_dedup,
        'url_canonical': q_url_canonical,
        'lm_perplexity': q_lm_perplexity,
        'ppl_buckets': q_ppl_buckets,
        'pii_redact': q_pii_redact,
        'mojibake_fix': q_mojibake_fix,
        'clean_corpus': q_clean_corpus,
        'cdx_index': q_cdx_index,
        'int8_quant': q_int8_quant,
        'ann_int8_topk': q_ann_int8_topk,
        'frontier_budget': q_frontier_budget,
        'cdx_lookup': q_cdx_lookup,
        'cdx_prefix': q_cdx_prefix,
        'cdx_closest': q_cdx_closest,
        'warc_clean': q_warc_clean,
        'warc_host_quality': q_warc_host_quality,
        'neardup_apply': q_neardup_apply,
        'crawl_diff': q_crawl_diff,
        'warc_redirects': q_warc_redirects,
        'redirect_chains': q_redirect_chains,
    }


# ------------------------------------------------------------ oracle SQL

_BPE_RE = r'[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'
_PUNCT_RE = r'[^A-Za-z0-9_\s]'
_EN = r'(?i)\b(the|and|of|to|is|was|that|with)\b'
_DE = r'(?i)\b(der|die|das|und|ist|nicht|mit|ein)\b'
_RU = r'[а-яА-ЯёЁ]'


# Sequential-oracle reference tables (oracleref/*.parquet): expected
# outputs computed with NO Spark by tools/gen_oracleref.py — a plain
# single-threaded Python/numpy execution of the shared semantic kernels
# (the same discipline as the in-repo differential oracle, surfaced to
# the driver's DuckDB gate for the queries DuckDB itself cannot
# express).  ``skey`` fingerprints the input table so one SQL string
# selects the right scale's rows at any sf the driver runs.
_ORACLEREF = '/root/repo/oracleref'
_DOC_SKEY = '(SELECT SUM(n_chars) FROM documents)'
_EMB_SKEY = '(SELECT SUM(label) + COUNT(*) FROM embeddings)'


def _ref(name: str, cols: str, skey: str, order: str) -> str:
    return (
        f"SELECT {cols} FROM read_parquet('{_ORACLEREF}/{name}.parquet') "
        f"WHERE skey = {skey} ORDER BY {order}"
    )


def oracle_sql() -> dict[str, str]:
    d = {
        'transform_corpus': _ref('transform_corpus', 'url, text_sha', _DOC_SKEY, 'url'),
        'extract_links_corpus': _ref(
            'extract_links_corpus', 'url, ord, link, w, h', _DOC_SKEY, 'url, ord'
        ),
        'corpus_images': _ref('corpus_images', 'real_path, content_sha', _DOC_SKEY, 'real_path'),
        'main_content': _ref(
            'main_content', 'url, main_sha, n_blocks, n_kept', _DOC_SKEY, 'url'
        ),
        'content_spans': _ref(
            'content_spans',
            'url, ord, tag, n_chars, link_density, kept, start, "end"',
            _DOC_SKEY, 'url, ord',
        ),
        'pdf_text': _ref(
            'pdf_text', 'url, text_sha, n_streams, n_blocks', _DOC_SKEY, 'url'
        ),
        'html_tables': _ref(
            'html_tables', 'url, table_idx, row_idx, col_idx, cell', _DOC_SKEY,
            'url, table_idx, row_idx, col_idx',
        ),
        'warc_responses': _ref(
            'warc_responses',
            'file_name, rec_ord, url, warc_date, http_status, mime, charset, '
            'n_bytes, text_sha',
            _DOC_SKEY, 'file_name, rec_ord',
        ),
        'warc_main_content': _ref(
            'warc_main_content', 'url, main_sha, n_blocks, n_kept', _DOC_SKEY, 'url'
        ),
        # the round-trip query must reproduce the independent
        # warc_main_content reference hashes THROUGH the written WET
        # bytes — same table, projected to (url, main_sha)
        'wet_roundtrip': _ref(
            'warc_main_content', 'url, main_sha', _DOC_SKEY, 'url'
        ),
        'wat_roundtrip': _ref(
            'wat_records', 'file_name, rec_ord, url, title, n_links, payload_sha',
            _DOC_SKEY, 'file_name, rec_ord',
        ),
        'warc_cdx': _ref(
            'warc_cdx',
            'file_name, ord, warc_type, url, surt, "offset", length, '
            'addressable, warc_date',
            _DOC_SKEY, 'file_name, ord',
        ),
        # dedup-to-revisit decision: DuckDB's OWN window over the
        # twin's response table unioned with the year-shifted refetch
        # copy — winner = first (warc_date, url, file, ord) per digest
        'warc_dedup': f"""
            WITH u AS (
                SELECT file_name, rec_ord, url, warc_date, text_sha
                FROM read_parquet('{_ORACLEREF}/warc_responses.parquet')
                WHERE skey = {_DOC_SKEY}
                UNION ALL
                SELECT file_name, rec_ord, url,
                       '2021' || substr(warc_date, 5) AS warc_date, text_sha
                FROM read_parquet('{_ORACLEREF}/warc_responses.parquet')
                WHERE skey = {_DOC_SKEY}
            ), r AS (
                SELECT *,
                    ROW_NUMBER() OVER w AS rn,
                    FIRST_VALUE(url) OVER w AS w_url,
                    FIRST_VALUE(warc_date) OVER w AS w_date
                FROM u
                WINDOW w AS (PARTITION BY text_sha
                             ORDER BY warc_date, url, file_name, rec_ord
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT url, warc_date,
                   CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS kind,
                   CASE WHEN rn = 1 THEN NULL ELSE w_url END AS refers_to_uri,
                   CASE WHEN rn = 1 THEN NULL ELSE w_date END AS refers_to_date,
                   text_sha AS payload_sha
            FROM r ORDER BY url, warc_date, kind
        """,
        # revisit resolution: the twin's revisit records (email.parser
        # machinery) left-joined to the twin's response records on the
        # WARC-Refers-To pointers — unresolvable revisits keep NULLs
        'warc_revisit': f"""
            SELECT v.url, v.warc_date, v.profile, v.refers_to_uri,
                   v.refers_to_date, v.http_status,
                   r.http_status AS orig_status,
                   r.n_bytes AS orig_n_bytes,
                   r.text_sha AS orig_sha
            FROM read_parquet('{_ORACLEREF}/warc_revisits.parquet') v
            LEFT JOIN read_parquet('{_ORACLEREF}/warc_responses.parquet') r
              ON r.skey = {_DOC_SKEY}
             AND r.url = v.refers_to_uri AND r.warc_date = v.refers_to_date
            WHERE v.skey = {_DOC_SKEY}
            ORDER BY v.url, v.warc_date
        """,
        'robots_rules': _ref(
            'robots_rules', 'host, group_agent, ord, verb, value', _DOC_SKEY,
            'host, ord',
        ),
        'crawl_allowed': _ref(
            'crawl_allowed', 'url, ord, abs_url, dst_host, allowed', _DOC_SKEY,
            'url, ord',
        ),
        'crawl_frontier': _ref(
            'crawl_frontier', 'abs_url, dst_host, n_refs, rank_units', _DOC_SKEY,
            'abs_url',
        ),
        # bloom-frontier: the twin replays the XXH64 bloom over the
        # crawled set — FP drops value-checked
        'frontier_bloom': _ref(
            'frontier_bloom', 'abs_url, dst_host, n_refs, rank_units', _DOC_SKEY,
            'abs_url',
        ),
        'sitemap_entries': _ref(
            'sitemap_entries', 'host, ord, kind, loc, lastmod, changefreq, priority',
            _DOC_SKEY, 'host, ord',
        ),
        # independent SQL-window machinery over the hash-gated
        # crawl_frontier oracle records — same total order as
        # training/frontier.frontier_schedule (n_refs desc, abs_url
        # asc per host), max_wave=5 cut
        'frontier_schedule': f"""
            SELECT abs_url, dst_host, n_refs, rank_units, CAST(wave AS INT) AS wave
            FROM (
                SELECT abs_url, dst_host, n_refs, rank_units,
                       ROW_NUMBER() OVER (
                           PARTITION BY dst_host
                           ORDER BY n_refs DESC, abs_url ASC
                       ) AS wave
                FROM read_parquet('{_ORACLEREF}/crawl_frontier.parquet')
                WHERE skey = {_DOC_SKEY}
            ) WHERE wave <= 5 ORDER BY dst_host, wave
        """,
        # crawl-delay budgets: the same window, cut by the twin's
        # per-host budget table (default 8 = clamp(floor(60/5),1,8)
        # for hosts outside the robots dim)
        'frontier_budget': f"""
            WITH sched AS (
                SELECT abs_url, dst_host, n_refs,
                       ROW_NUMBER() OVER (
                           PARTITION BY dst_host
                           ORDER BY n_refs DESC, abs_url ASC
                       ) AS wave
                FROM read_parquet('{_ORACLEREF}/crawl_frontier.parquet')
                WHERE skey = {_DOC_SKEY}
            ), b AS (
                SELECT host, budget
                FROM read_parquet('{_ORACLEREF}/host_budget.parquet')
                WHERE skey = {_DOC_SKEY}
            )
            SELECT s.abs_url, s.dst_host, s.n_refs, CAST(s.wave AS INT) AS wave,
                   CAST(COALESCE(b.budget, 8) AS INT) AS budget
            FROM sched s LEFT JOIN b ON s.dst_host = b.host
            WHERE s.wave <= COALESCE(b.budget, 8)
            ORDER BY s.dst_host, s.wave
        """,
        'page_meta': _ref(
            'page_meta',
            'url, title, meta_description, canonical, og_title, '
            'robots_noindex, robots_nofollow',
            _DOC_SKEY, 'url',
        ),
        'page_outlinks': _ref(
            'page_outlinks', 'url, ord, href, abs_url, anchor', _DOC_SKEY, 'url, ord'
        ),
        'host_pagerank': _ref('host_pagerank', 'host, rank_units', _DOC_SKEY, 'host'),
        # independent aggregation machinery (SQL window) over the
        # hash-gated page_outlinks oracle records — same spec as
        # training/linkgraph.anchor_profiles (k=3, external-only,
        # empty anchors dropped, count-desc/anchor-asc total order)
        'anchor_texts': f"""
            WITH ol AS (
                SELECT url, abs_url, anchor
                FROM read_parquet('{_ORACLEREF}/page_outlinks.parquet')
                WHERE skey = {_DOC_SKEY}
            ),
            hosted AS (
                SELECT regexp_extract(url, '^[a-zA-Z]+://([^/]+)', 1) AS src_host,
                       regexp_extract(abs_url, '^[a-zA-Z]+://([^/]+)', 1) AS dst_host,
                       abs_url, anchor
                FROM ol
            ),
            counts AS (
                SELECT abs_url, anchor, COUNT(*) AS n_links
                FROM hosted
                WHERE src_host <> dst_host AND src_host <> ''
                  AND dst_host <> '' AND anchor <> ''
                GROUP BY abs_url, anchor
            ),
            ranked AS (
                SELECT abs_url, anchor, n_links,
                       ROW_NUMBER() OVER (
                           PARTITION BY abs_url
                           ORDER BY n_links DESC, anchor ASC
                       ) AS rank
                FROM counts
            )
            SELECT abs_url, CAST(rank AS INT) AS rank, anchor, n_links
            FROM ranked WHERE rank <= 3 ORDER BY abs_url, rank
        """,
        'pdf_spans': _ref(
            'pdf_spans', 'url, stream_idx, block_idx, n_chars', _DOC_SKEY,
            'url, stream_idx, block_idx',
        ),
        'media_metadata': _ref(
            'media_metadata', 'path, size_bytes, magic, media_type, fake_checksum',
            _DOC_SKEY, 'path'
        ),
        # stub-decode dims are a pure function of size_bytes
        # (multimodal.decode_images fallback kernel; PIL absent here)
        'media_decode': (
            f"SELECT path, CAST(16 + size_bytes % 64 AS INT) AS width, "
            f"CAST(16 + (size_bytes // 64) % 64 AS INT) AS height, "
            f"CAST(3 AS INT) AS n_channels, 'stub' AS decoder "
            f"FROM read_parquet('{_ORACLEREF}/media_metadata.parquet') "
            f"WHERE skey = {_DOC_SKEY} ORDER BY path"
        ),
        'media_frames': _ref(
            'media_frames', 'path, frame_idx, frame_offset, frame_len, frame_sha16',
            _DOC_SKEY, 'path, frame_idx',
        ),
        'media_features': _ref(
            'media_features', 'path, bucket, ratio, entropy', _DOC_SKEY, 'path, bucket'
        ),
        'host_stats': _ref(
            'host_stats', 'host, n_pages, text_chars, n_en, first_epoch, last_epoch',
            _DOC_SKEY, 'host',
        ),
        'minhash_candidates': _ref(
            'minhash_candidates', 'a_id, b_id, n_bands_matched', _DOC_SKEY, 'a_id, b_id'
        ),
        'winnow_pairs': _ref(
            'winnow_pairs', 'a_id, b_id, n_shared', _DOC_SKEY, 'a_id, b_id'
        ),
        'neardup_clusters': _ref('neardup_clusters', 'doc_id, cluster_rep', _DOC_SKEY, 'doc_id'),
        'simhash_neardup': _ref('simhash_neardup', 'a_id, b_id, hamming', _DOC_SKEY, 'a_id, b_id'),
        'bpe_tokens': _ref(
            'bpe_tokens', 'doc_id, n_bpe_tokens, tokens_sha', _DOC_SKEY, 'doc_id'
        ),
        'lm_perplexity': _ref(
            'lm_perplexity', 'doc_id, n_scored, ppl', _DOC_SKEY, 'doc_id'
        ),
        'pii_redact': _ref(
            'pii_redact',
            'doc_id, n_emails, n_ips, n_ccs, n_phones, redacted_sha',
            _DOC_SKEY, 'doc_id',
        ),
        'mojibake_fix': _ref(
            'mojibake_fix',
            'doc_id, n_runs_fixed, n_rounds, fixed_sha',
            _DOC_SKEY, 'doc_id',
        ),
        # point lookups through the sharded index: the first five
        # metadata SURTs (the messy-spelling keys) must retrieve the
        # same rows the twin's flat CDX table holds for those keys
        'cdx_lookup': f"""
            WITH k AS (
                SELECT DISTINCT surt
                FROM read_parquet('{_ORACLEREF}/warc_cdx.parquet')
                WHERE skey = {_DOC_SKEY} AND warc_type = 'metadata'
                  AND surt LIKE 'example,%'
                ORDER BY surt LIMIT 5
            )
            SELECT c.surt, c.file_name, c.ord, c.warc_type, c.url
            FROM read_parquet('{_ORACLEREF}/warc_cdx.parquet') c
            JOIN k USING (surt)
            WHERE c.skey = {_DOC_SKEY}
            ORDER BY c.surt, c.file_name, c.ord
        """,
        # host matchType = prefix scan through the sharded index: the
        # twin's flat CDX table answers the same question with LIKE
        'cdx_prefix': f"""
            SELECT surt, file_name, ord, warc_type, url
            FROM read_parquet('{_ORACLEREF}/warc_cdx.parquet')
            WHERE skey = {_DOC_SKEY} AND surt LIKE 'example,site1)%'
            ORDER BY surt, file_name, ord
        """,
        # redirect edges: the twin's 3xx walk, verbatim
        'warc_redirects': _ref(
            'warc_redirects',
            'file_name, rec_ord, url, warc_date, http_status, location',
            _DOC_SKEY, 'file_name, rec_ord',
        ),
        # transitive redirect resolution: DuckDB's OWN recursive CTE
        # over the twin's edge/response tables — an independent
        # chain-following machinery replaying the frozen spec (bounded
        # follow, self-loop detection, precedence loop > ok >
        # truncated > dead_redirect > dangling, dead redirects as
        # hops=0 rows)
        'redirect_chains': f"""
            WITH RECURSIVE
            red AS (
                SELECT url, loc_abs
                FROM read_parquet('{_ORACLEREF}/warc_redirects.parquet')
                WHERE skey = {_DOC_SKEY}
            ),
            edges AS (
                SELECT DISTINCT url, loc_abs FROM red WHERE loc_abs <> ''
            ),
            terms AS (
                SELECT url AS turl, CAST(MIN(http_status) AS INT) AS final_status
                FROM read_parquet('{_ORACLEREF}/warc_responses.parquet')
                WHERE skey = {_DOC_SKEY}
                  AND (http_status < 300 OR http_status >= 400)
                GROUP BY url
            ),
            walk(start, cur, hops, looped) AS (
                SELECT url, loc_abs, 1, loc_abs = url FROM edges
                UNION ALL
                SELECT w.start, e.loc_abs, w.hops + 1, e.loc_abs = w.cur
                FROM walk w JOIN edges e ON e.url = w.cur
                WHERE NOT w.looped AND w.hops < 4
            ),
            final AS (
                SELECT * FROM walk w
                WHERE w.looped OR w.hops = 4
                   OR NOT EXISTS (SELECT 1 FROM edges e WHERE e.url = w.cur)
            ),
            chains AS (
                SELECT f.start AS url, f.cur AS final_url, f.hops,
                       CASE WHEN f.looped THEN 'loop'
                            WHEN t.turl IS NOT NULL THEN 'ok'
                            WHEN EXISTS (SELECT 1 FROM edges e
                                         WHERE e.url = f.cur) THEN 'truncated'
                            WHEN EXISTS (SELECT 1 FROM red r
                                         WHERE r.url = f.cur) THEN 'dead_redirect'
                            ELSE 'dangling' END AS state,
                       CASE WHEN f.looped THEN NULL
                            ELSE t.final_status END AS final_status
                FROM final f LEFT JOIN terms t ON t.turl = f.cur
            ),
            dead AS (
                SELECT url, CAST(NULL AS VARCHAR) AS final_url, 0 AS hops,
                       'dead_redirect' AS state, CAST(NULL AS INT) AS final_status
                FROM red GROUP BY url
                HAVING MAX(CASE WHEN loc_abs <> '' THEN 1 ELSE 0 END) = 0
            )
            SELECT * FROM chains UNION ALL SELECT * FROM dead
            ORDER BY url
        """,
        # closest matchType: DuckDB's OWN window over the twin's CDX
        # table replays the wayback distance rule (numeric 14-digit
        # distance, ties to the earlier capture, then file/ord)
        'cdx_closest': f"""
            WITH caps AS (
                SELECT surt, url, warc_date, file_name, ord,
                       "offset", length, addressable,
                       CAST(translate(warc_date, '-:TZ', '') AS BIGINT) AS cap_ts
                FROM read_parquet('{_ORACLEREF}/warc_cdx.parquet')
                WHERE skey = {_DOC_SKEY}
                  AND warc_type IN ('response', 'revisit')
            ),
            q(u, q_ts) AS (
                SELECT * FROM (VALUES
                    ('https://site5.example/articles/a00000000/doc0.md',
                     CAST(20200913122640 AS BIGINT)),
                    ('https://site6.example/articles/a00000007/doc7.md',
                     CAST(20210101000000 AS BIGINT)),
                    ('https://site2.example/articles/a00000014/doc14.md',
                     CAST(20150101000000 AS BIGINT)),
                    ('https://site3.example/articles/a00000028/doc28.md',
                     CAST(20200913122710 AS BIGINT))
                ) t(u, q_ts)
            ),
            j AS (
                SELECT c.*, q.q_ts,
                       row_number() OVER (
                           PARTITION BY c.surt, q.q_ts
                           ORDER BY abs(c.cap_ts - q.q_ts), c.cap_ts,
                                    c.file_name, c.ord) AS rn
                FROM caps c JOIN q ON c.url = q.u
            )
            SELECT surt, q_ts, warc_date, abs(cap_ts - q_ts) AS ts_diff,
                   file_name, ord, url, "offset", length, addressable
            FROM j WHERE rn = 1
            ORDER BY surt, q_ts
        """,
        # merged CDX index: DuckDB's OWN global window over the twin's
        # CDX rows — independently checks the two-level prefix-count
        # ranking that replaces the single-partition sort
        'cdx_index': f"""
            SELECT surt, file_name, ord,
                   row_number() OVER (ORDER BY surt, file_name, ord) AS idx
            FROM read_parquet('{_ORACLEREF}/warc_cdx.parquet')
            WHERE skey = {_DOC_SKEY}
            ORDER BY idx
        """,
        # buckets: DuckDB's OWN ntile(3) over the twin's perplexity
        # table — independently checks the engine's two-level
        # prefix-count ranking (no shared machinery at all)
        'ppl_buckets': f"""
            SELECT doc_id, ppl,
                   CASE ntile(3) OVER (ORDER BY ppl, doc_id)
                        WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM read_parquet('{_ORACLEREF}/lm_perplexity.parquet')
            WHERE skey = {_DOC_SKEY}
            ORDER BY doc_id
        """,
        'ann_lsh_topk': _ref(
            'ann_lsh_topk', 'query_id, neighbor_id, rank', _EMB_SKEY, 'query_id, rank'
        ),
        'int8_quant': _ref(
            'int8_quant', 'vec_id, scale, q_sha', _EMB_SKEY, 'vec_id'
        ),
        'ann_int8_topk': _ref(
            'ann_int8_topk', 'query_id, neighbor_id, rank, dot', _EMB_SKEY,
            'query_id, rank'
        ),
        'ann_ivf_topk': _ref(
            'ann_ivf_topk', 'query_id, neighbor_id, rank', _EMB_SKEY, 'query_id, rank'
        ),
        'embedding_neardup': _ref('embedding_neardup', 'a_id, b_id', _EMB_SKEY, 'a_id, b_id'),
        'lineage': _ref(
            'lineage', 'pass_idx, shard, n_docs, n_links, status, n_status',
            _DOC_SKEY, 'pass_idx, shard, status',
        ),
        # Bloom incremental dedup: frozen hash spec replayed by the
        # stdlib XXH64 twin — deterministic false positives checked too
        'bloom_dedup': _ref('bloom_dedup', 'doc_id, novel', _DOC_SKEY, 'doc_id'),
        # near-dup REMOVE stage: the representatives of the twin's
        # cluster table, joined onto the documents view
        'neardup_apply': f"""
            SELECT d.doc_id, d.n_chars
            FROM documents d
            JOIN read_parquet('{_ORACLEREF}/neardup_clusters.parquet') c
              ON c.skey = {_DOC_SKEY} AND c.doc_id = d.doc_id
            WHERE c.doc_id = c.cluster_rep
            ORDER BY d.doc_id
        """,
        # crawl diff: the oracle REBUILDS both crawls from the twin's
        # response table with the same sha-keyed rule and diffs them
        'crawl_diff': f"""
            WITH a AS (
                SELECT DISTINCT url, text_sha AS digest
                FROM read_parquet('{_ORACLEREF}/warc_responses.parquet')
                WHERE skey = {_DOC_SKEY} AND http_status = 200
            ),
            rule AS (
                SELECT url, digest,
                       ('0x' || substr(sha256(url), 1, 2))::INT % 10 AS m
                FROM a
            ),
            b AS (
                SELECT url,
                       CASE WHEN m >= 2 AND m < 4
                            THEN sha256(digest || 'v2') ELSE digest END AS digest
                FROM rule WHERE m >= 2
                UNION ALL
                SELECT url || '?v=2', sha256(digest || 'new')
                FROM rule WHERE m = 4
            )
            SELECT COALESCE(a.url, b.url) AS url,
                   CASE WHEN a.url IS NULL THEN 'added'
                        WHEN b.url IS NULL THEN 'removed'
                        WHEN a.digest <> b.digest THEN 'changed'
                        ELSE 'unchanged' END AS change,
                   a.digest AS old_sha, b.digest AS new_sha
            FROM a FULL OUTER JOIN b ON a.url = b.url
            ORDER BY url
        """,
        # exact duplicated-substring removal: dict-owner + coverage-
        # bitmap twin of the distributed min-struct + interval-merge
        'span_dedup': _ref(
            'span_dedup',
            'doc_id, n_windows, n_dup_windows, n_removed_chars, clean_sha',
            _DOC_SKEY, 'doc_id',
        ),
        'line_dedup': _ref(
            'line_dedup', 'url, n_lines, n_kept, dedup_sha', _DOC_SKEY, 'url'
        ),
        # independent DuckDB implementation of the canonicalization spec
        # (urlnorm.py module docstring) over identically-synthesized raws
        'url_canonical': """
            WITH raw AS (
              SELECT doc_id,
                'HTTP' || CASE WHEN doc_id % 2 = 0 THEN 'S' ELSE '' END
                || '://WWW.Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM'
                || CASE doc_id % 3 WHEN 0 THEN ':443' WHEN 1 THEN ':8080' ELSE ':80' END
                || CASE WHEN doc_id % 7 = 0 THEN ''
                        ELSE '/Articles/Item' || CAST(doc_id AS VARCHAR) END
                || CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&b=2&a=1'
                        WHEN 1 THEN '?z=9&utm_campaign=x&y=1'
                        WHEN 2 THEN '?gclid=abc' ELSE '' END
                || CASE WHEN doc_id % 2 = 0 THEN '#Section-2' ELSE '' END AS url_raw
              FROM documents
            ), p1 AS (
              SELECT doc_id, url_raw, split_part(url_raw, '#', 1) AS nofrag FROM raw
            ), p2 AS (
              SELECT *, lower(split_part(nofrag, '://', 1)) AS scheme,
                     substr(nofrag, strpos(nofrag, '://') + 3) AS rest FROM p1
            ), p3 AS (
              SELECT *, split_part(rest, '?', 1) AS noq,
                CASE WHEN strpos(rest, '?') > 0
                     THEN substr(rest, strpos(rest, '?') + 1) ELSE '' END AS q
              FROM p2
            ), p4 AS (
              SELECT *, lower(split_part(noq, '/', 1)) AS hostport,
                substr(noq, length(split_part(noq, '/', 1)) + 1) AS path0 FROM p3
            ), p5 AS (
              SELECT *,
                CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                     WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                     ELSE hostport END AS hp,
                CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                array_to_string(list_sort(list_filter(string_split(q, '&'),
                  x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)(=|$)'))),
                  '&') AS cq
              FROM p4
            )
            SELECT doc_id, url_raw,
                   scheme || '://' || hp || path
                   || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS url_canon
            FROM p5 ORDER BY doc_id
        """,
        'pricing_summary': """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                        AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        'revenue_topk': """
            SELECT l_orderkey,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                        AS DECIMAL(38,6))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        'events_sessionize': """
            WITH s AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
                   COUNT(*) AS n_events
            FROM s GROUP BY user_id ORDER BY user_id
        """,
        'url_algebra': r"""
            WITH u AS (
              SELECT doc_id,
                     'https://img' || CAST(doc_id % 20 AS VARCHAR) || '.example/dir'
                       || CAST(doc_id % 7 AS VARCHAR) || '/pic' || CAST(doc_id AS VARCHAR)
                       || '.png' AS url
              FROM documents
            )
            SELECT doc_id, url,
                   (lower(url) LIKE 'http%' OR lower(url) LIKE 'ftp%') AS is_url,
                   regexp_replace(url,
                     '^\s*(?:(?:[a-zA-Z][a-zA-Z0-9+.\-]*:)?//|[a-zA-Z][a-zA-Z0-9+.\-]*:)', '') AS no_proto,
                   regexp_replace(url, '/[^/]*$', '') AS base_url,
                   CASE WHEN url LIKE '%.%'
                        THEN regexp_extract(url, '\.([^.]*)$', 1) ELSE url END AS ext
            FROM u
        """,
        'exact_dedup': """
            SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM documents GROUP BY sha256(text) ORDER BY keep_id
        """,
        'ngram_jaccard_adjacent': r"""
            WITH w AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
            ), g AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(words) >= 3
                            THEN list_transform(range(1, len(words) - 1),
                                                i -> array_to_string(words[i:i+2], ' '))
                            ELSE CAST([] AS VARCHAR[]) END) AS grams
              FROM w
            )
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   ROUND(CASE WHEN len(list_distinct(a.grams || b.grams)) > 0
                         THEN CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                              / len(list_distinct(a.grams || b.grams))
                         ELSE 0.0 END, 6) AS jaccard
            FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
            ORDER BY a_id
        """,
        'token_stats': f"""
            SELECT doc_id,
                   CAST(length(text) AS INT) AS n_chars,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INT) AS n_bpe_tokens,
                   ROUND(CASE WHEN length(text) > 0
                         THEN CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE) / length(text)
                         ELSE 0.0 END, 6) AS punct_ratio,
                   ROUND(CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                              ELSE len(string_split_regex(trim(text), '\\s+')) END) > 0
                         THEN CAST(len(regexp_extract_all(text, '{_EN}')) AS DOUBLE)
                              / (CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(string_split_regex(trim(text), '\\s+')) END)
                         ELSE 0.0 END, 6) AS stopword_ratio,
                   ROUND(CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                              ELSE len(string_split_regex(trim(text), '\\s+')) END) > 0
                         THEN CAST(length(text) AS DOUBLE)
                              / (CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(string_split_regex(trim(text), '\\s+')) END)
                         ELSE 0.0 END, 6) AS mean_word_len,
                   ROUND(
                     least(CAST((CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END) AS DOUBLE) / 100.0, 1.0) * 0.4
                     + greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
                         THEN CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE) / length(text)
                         ELSE 0.0 END) * 5) * 0.3
                     + least((CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                              ELSE len(string_split_regex(trim(text), '\\s+')) END) > 0
                         THEN CAST(len(regexp_extract_all(text, '{_EN}')) AS DOUBLE)
                              / (CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(string_split_regex(trim(text), '\\s+')) END)
                         ELSE 0.0 END) * 3, 1.0) * 0.3,
                   6) AS quality_score
            FROM documents ORDER BY doc_id
        """,
        'langid': f"""
            WITH h AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '{_DE}')) AS hits_de,
                     len(regexp_extract_all(text, '{_EN}')) AS hits_en,
                     len(regexp_extract_all(text, '{_RU}')) AS hits_ru
              FROM documents
            )
            SELECT doc_id, CAST(hits_de AS INT) AS hits_de, CAST(hits_en AS INT) AS hits_en,
                   CAST(hits_ru AS INT) AS hits_ru,
                   CASE WHEN hits_de = 0 AND hits_en = 0 AND hits_ru = 0 THEN 'unknown'
                        WHEN hits_de >= hits_en AND hits_de >= hits_ru THEN 'de'
                        WHEN hits_en >= hits_ru THEN 'en'
                        ELSE 'ru' END AS lang_pred
            FROM h ORDER BY doc_id
        """,
        'fingerprint': r"""
            SELECT doc_id,
                   sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        'repetition_stats': r"""
            WITH l AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(string_split(text, chr(10)),
                                      x -> trim(x, ' ' || chr(9) || chr(13) || chr(11) || chr(12))),
                       x -> x <> '') AS lines,
                     list_filter(string_split_regex(text, '[ \t\n\r\f\v]+'),
                                 x -> x <> '') AS words
              FROM documents
            ), lc AS (
              SELECT doc_id, line, COUNT(*) AS c, LEN(line) AS chars
              FROM (SELECT doc_id, unnest(lines) AS line FROM l)
              GROUP BY doc_id, line
            ), lagg AS (
              SELECT doc_id,
                     SUM(c) AS n_lines,
                     SUM(c) - COUNT(*) AS n_dup_lines,
                     SUM(chars * c) AS total_chars,
                     SUM(CASE WHEN c > 1 THEN chars * c ELSE 0 END) AS dup_chars
              FROM lc GROUP BY doc_id
            ), g AS (
              SELECT doc_id, unnest(list_transform(range(1, len(words)),
                                    i -> words[i] || chr(0) || words[i + 1])) AS gram
              FROM l WHERE len(words) >= 2
            ), gc AS (
              SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram
            ), gagg AS (
              SELECT doc_id, MAX(c) AS top, SUM(c) AS tot FROM gc GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(lagg.n_lines, 0) AS INT) AS n_lines,
                   ROUND(CASE WHEN COALESCE(lagg.n_lines, 0) > 0
                         THEN CAST(lagg.n_dup_lines AS DOUBLE) / lagg.n_lines
                         ELSE 0.0 END, 6) AS dup_line_frac,
                   ROUND(CASE WHEN COALESCE(lagg.total_chars, 0) > 0
                         THEN CAST(lagg.dup_chars AS DOUBLE) / lagg.total_chars
                         ELSE 0.0 END, 6) AS dup_line_char_frac,
                   ROUND(CASE WHEN gagg.tot IS NOT NULL
                         THEN CAST(gagg.top AS DOUBLE) / gagg.tot
                         ELSE 0.0 END, 6) AS top_bigram_frac
            FROM documents d
            LEFT JOIN lagg ON d.doc_id = lagg.doc_id
            LEFT JOIN gagg ON d.doc_id = gagg.doc_id
            ORDER BY d.doc_id
        """,
        'ann_cosine_topk': """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id % 50 = 0
            ), s AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])), 9) AS sim
              FROM q, embeddings e WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
              FROM s)
            WHERE rank <= 5 ORDER BY query_id, rank
        """,
        'embedding_neardup_exact': """
            SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])), 9) >= 0.45
            ORDER BY a_id, b_id
        """,
    }
    # decontamination: same ' '-joined distinct word 4-grams, bench =
    # doc_id % 50 == 0
    d['contamination'] = r"""
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
        ), g AS (
          SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(words) >= 4
                 THEN list_transform(range(1, len(words) - 2),
                                     i -> array_to_string(words[i:i+3], ' '))
                 ELSE CAST([] AS VARCHAR[]) END)) AS gram
          FROM w
        ), bench AS (
          SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0
        )
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
        FROM g t JOIN bench USING (gram)
        WHERE t.doc_id % 50 <> 0
        GROUP BY t.doc_id ORDER BY t.doc_id
    """
    # sequence packing: the global prefix sum DuckDB computes directly
    # (single node) — the Spark side must equal it at every partition count
    d['pack_sequences'] = """
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
          FROM documents
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS start_offset,
               CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096.0) AS BIGINT)
                 AS shard
        FROM t ORDER BY doc_id
    """
    # content-addressed split: same 16-bit sha256 bucket + cut points
    d['dataset_split'] = """
        SELECT doc_id,
               ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::INT AS bucket,
               CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::INT < 58982
                    THEN 'train'
                    WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::INT < 62259
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents ORDER BY doc_id
    """
    # exact quantiles: DuckDB's own window + the same rank formula
    d['corpus_quantiles'] = """
        WITH ranked AS (
          SELECT n_chars,
                 row_number() OVER (ORDER BY n_chars, doc_id) AS r,
                 COUNT(*) OVER () AS total
          FROM documents),
        q(q) AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) t(q))
        SELECT q.q, ranked.n_chars AS value
        FROM q JOIN ranked
          ON ranked.r = GREATEST(1, CAST(CEIL(q.q * ranked.total) AS BIGINT))
        ORDER BY q.q
    """
    # dataset shards: DuckDB's own global window + the same exact
    # integer packing arithmetic — an independent check of the
    # two-level prefix-count ranking
    d['dataset_shards'] = """
        WITH ranked AS (
          SELECT doc_id,
                 ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::INT AS bucket,
                 row_number() OVER (
                     ORDER BY ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::INT,
                              doc_id) AS rank,
                 COUNT(*) OVER () AS total
          FROM documents)
        SELECT doc_id, bucket,
               CAST((rank - 1) * 16 // total AS INT) AS shard,
               CAST((rank - 1) - (((rank - 1) * 16 // total) * total + 15) // 16
                    AS BIGINT) AS pos
        FROM ranked ORDER BY doc_id
    """
    # language rebalancing: the SAME IEEE-correctly-rounded threshold
    # chain (exact 2^32*k literal, sqrt, divide, floor) rendered to 8
    # lowercase hex digits and compared lexicographically against the
    # sha256(id) prefix — bit-identical to the Spark plan by IEEE-754
    d['lang_sample'] = """
        WITH c AS (SELECT lang, COUNT(*) AS lang_count FROM documents GROUP BY lang),
        t AS (
          SELECT lang, lang_count,
                 printf('%08x', CAST(FLOOR(34359738368.0
                        / SQRT(CAST(lang_count AS DOUBLE))) AS BIGINT)) AS thr_hex,
                 lang_count <= 64 AS keep_all
          FROM c)
        SELECT d.doc_id, d.lang, t.lang_count
        FROM documents d JOIN t ON d.lang = t.lang
        WHERE t.keep_all
           OR substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr_hex
        ORDER BY d.doc_id
    """
    # domain diversity dim: same term split as tfidf; the spam verdict
    # is the integer inequality n_terms > 45 * n_distinct — exact, no
    # float ratio anywhere
    _spam_dim = """
        WITH terms AS (
          SELECT source, t AS term
          FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
          WHERE t <> ''
        ), tdim AS (
          SELECT source, COUNT(*) AS n_terms,
                 COUNT(DISTINCT term) AS n_distinct_terms
          FROM terms GROUP BY source
        ), docs AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
        SELECT docs.source, docs.n_docs,
               COALESCE(tdim.n_terms, 0) AS n_terms,
               COALESCE(tdim.n_distinct_terms, 0) AS n_distinct_terms,
               COALESCE(tdim.n_terms, 0) > 45 * COALESCE(tdim.n_distinct_terms, 0) AS spam
        FROM docs LEFT JOIN tdim ON docs.source = tdim.source
    """
    d['source_spam'] = f"SELECT * FROM ({_spam_dim}) ORDER BY source"
    d['domain_filter'] = f"""
        SELECT doc_id, source FROM documents
        WHERE source IN (SELECT source FROM ({_spam_dim}) WHERE NOT spam)
        ORDER BY doc_id
    """
    # TF-IDF: identical term split + smoothed idf + row_number tie-break
    d['tfidf_topk'] = """
        WITH terms AS (
          SELECT doc_id, t AS term
          FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
          WHERE t <> ''
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
        ), dfreq AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                 tf.tf * (ln((CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) + 1)
                          / (dfreq.df + 1)) + 1) AS score
          FROM tf JOIN dfreq ON tf.term = dfreq.term
        )
        SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, ROUND(score, 9) AS score
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY doc_id, rank
    """
    # composite Gopher filter: REUSES the token_stats and
    # repetition_stats twins verbatim as CTEs (thresholds must equal
    # textstats.gopher_flags' defaults — pinned by tests/test_entry_oracle.py)
    d['quality_filter'] = f"""
        WITH ts AS ({d['token_stats']}), rs AS ({d['repetition_stats']})
        SELECT ts.doc_id,
               (ts.n_tokens >= 50 AND ts.n_tokens <= 100000) AS ok_n_tokens,
               (ts.mean_word_len >= 3.0 AND ts.mean_word_len <= 10.0) AS ok_mean_word_len,
               (ts.stopword_ratio >= 0.005) AS ok_stopwords,
               (ts.punct_ratio <= 0.2) AS ok_punct,
               (rs.dup_line_frac <= 0.30) AS ok_dup_lines,
               (rs.top_bigram_frac <= 0.18) AS ok_top_bigram,
               ((ts.n_tokens >= 50 AND ts.n_tokens <= 100000)
                AND (ts.mean_word_len >= 3.0 AND ts.mean_word_len <= 10.0)
                AND ts.stopword_ratio >= 0.005 AND ts.punct_ratio <= 0.2
                AND rs.dup_line_frac <= 0.30 AND rs.top_bigram_frac <= 0.18) AS keep
        FROM ts JOIN rs ON ts.doc_id = rs.doc_id
        ORDER BY ts.doc_id
    """
    # composed hygiene pipeline: the clean text comes from the CHAINED
    # python twins (mojibake_fix_seq → pii_redact_seq, gen_oracleref),
    # and DuckDB's own token/repetition CTEs — retargeted from the
    # documents view onto that clean text — compute the keep verdict
    _clean_src = (
        f"SELECT doc_id, clean_text AS text, n_pii, clean_sha "
        f"FROM read_parquet('{_ORACLEREF}/clean_corpus.parquet') "
        f"WHERE skey = {_DOC_SKEY}"
    )
    d['clean_corpus'] = f"""
        WITH cleandocs AS ({_clean_src}),
        ts AS ({d['token_stats'].replace('FROM documents', 'FROM cleandocs')}),
        rs AS ({d['repetition_stats'].replace('FROM documents', 'FROM cleandocs')})
        SELECT ts.doc_id, cd.n_pii,
               ((ts.n_tokens >= 50 AND ts.n_tokens <= 100000)
                AND (ts.mean_word_len >= 3.0 AND ts.mean_word_len <= 10.0)
                AND ts.stopword_ratio >= 0.005 AND ts.punct_ratio <= 0.2
                AND rs.dup_line_frac <= 0.30 AND rs.top_bigram_frac <= 0.18) AS keep,
               cd.clean_sha
        FROM ts JOIN rs ON ts.doc_id = rs.doc_id
        JOIN cleandocs cd ON ts.doc_id = cd.doc_id
        ORDER BY ts.doc_id
    """
    # end-to-end archive release run: same verdict SQL, the clean text
    # coming from the chained twins over the WARC main-content chain
    _wc_src = (
        f"SELECT url AS doc_id, clean_text AS text, n_pii, clean_sha "
        f"FROM read_parquet('{_ORACLEREF}/warc_clean.parquet') "
        f"WHERE skey = {_DOC_SKEY}"
    )
    d['warc_clean'] = f"""
        WITH cleandocs AS ({_wc_src}),
        ts AS ({d['token_stats'].replace('FROM documents', 'FROM cleandocs')}),
        rs AS ({d['repetition_stats'].replace('FROM documents', 'FROM cleandocs')})
        SELECT ts.doc_id AS url, cd.n_pii,
               ((ts.n_tokens >= 50 AND ts.n_tokens <= 100000)
                AND (ts.mean_word_len >= 3.0 AND ts.mean_word_len <= 10.0)
                AND ts.stopword_ratio >= 0.005 AND ts.punct_ratio <= 0.2
                AND rs.dup_line_frac <= 0.30 AND rs.top_bigram_frac <= 0.18) AS keep,
               cd.clean_sha
        FROM ts JOIN rs ON ts.doc_id = rs.doc_id
        JOIN cleandocs cd ON ts.doc_id = cd.doc_id
        ORDER BY url
    """
    # per-host keep-rate dim over the archive release run: DuckDB
    # aggregates its OWN warc_clean reconstruction per host
    d['warc_host_quality'] = f"""
        WITH wc AS ({d['warc_clean'].replace('ORDER BY url', '')})
        SELECT regexp_extract(url, '^[a-zA-Z]+://([^/]+)', 1) AS host,
               COUNT(*) AS n_pages,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
               2 * SUM(CASE WHEN keep THEN 1 ELSE 0 END) < COUNT(*) AS low_quality
        FROM wc GROUP BY 1 ORDER BY host
    """
    return d

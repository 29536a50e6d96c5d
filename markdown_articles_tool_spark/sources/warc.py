"""Spark WARC source: (file_name, data) crawl-archive blobs →
flattened HTTP response records (core/warc.py does the byte-level
work; this module is only the distribution shape).

The reference tool (artiomn/markdown_articles_tool) has no crawl
source — its sources are single local/remote articles
(``www_tools.py``); this tier is part of the training-data-pipeline
surface the graft adds on top.

Scale shape
-----------
ONE Arrow-batched ``mapInPandas`` pass over exactly (file_name,
data) — no shuffle, no driver collect; parallelism = input files,
which is how a real crawl read parallelizes (``spark.read.format(
"binaryFile").load("s3://bucket/segment/")`` yields the same (path,
content) rows of this operator's input).  The Common-Crawl layout
compresses every record as its own gzip member, so at real scale a
CDX offset index turns file-granular splits into record-granular
splits with the SAME parser (seek to offset, inflate one member);
the synthetic corpus rotates that layout (corpus.warc_file_bytes)
so the member-concatenation path is what's exercised.  WARC files
are individually small (CC caps ~1 GiB), so per-file memory is
bounded and skew is capped by the archive format itself.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from ..core import warc as cw
from ..operators.udfs import map_rows

WARC_RESPONSES_SCHEMA = (
    'file_name string, rec_ord int, url string, warc_date string, '
    'http_status int, mime string, charset string, n_bytes long, text string'
)


def read_warc_responses(files: DataFrame, file_col: str = 'file_name',
                        data_col: str = 'data') -> DataFrame:
    """Every ``WARC-Type: response`` record of every archive blob, in
    file order, as one row (see core/warc.py for the record spec —
    de-chunking, charset resolution, truncation/resync policy)."""

    def warc_responses(fname, data):
        for rec in cw.warc_responses(bytes(data)):
            yield (fname, *rec)

    return map_rows(files, [file_col, data_col], warc_responses, WARC_RESPONSES_SCHEMA)


def iter_html_pages(data: bytes) -> Iterator[tuple]:
    """(url, warc_date, html) of every response record of one archive
    blob that passes the fetch-policy gate (HTTP 200 + ``text/html``),
    html as the page's UTF-8 bytes — the one gate every text
    derivative (main content, WET) applies."""
    for (_ord, url, wdate, status, mime, _cs, _nb, text) in cw.warc_responses(data):
        if status == 200 and mime == 'text/html':
            yield url, wdate, text.encode('utf-8')


WARC_REVISITS_SCHEMA = (
    'file_name string, rec_ord int, url string, warc_date string, '
    'profile string, refers_to_uri string, refers_to_date string, '
    'http_status int'
)


def read_warc_revisits(files: DataFrame, file_col: str = 'file_name',
                       data_col: str = 'data') -> DataFrame:
    """Every ``WARC-Type: revisit`` record of every archive blob — the
    CC URL-agnostic-dedup record type (identical refetches store only
    headers + WARC-Refers-To pointers; see core/warc.py's revisit
    spec).  One mapInPandas pass, no shuffle."""

    def warc_revisits(fname, data):
        for rec in cw.warc_revisits(bytes(data)):
            yield (fname, *rec)

    return map_rows(files, [file_col, data_col], warc_revisits, WARC_REVISITS_SCHEMA)


def resolve_revisits(revisits: DataFrame, responses: DataFrame) -> DataFrame:
    """Resolve each revisit record to the ORIGINAL capture it points
    at: left-join ``(refers_to_uri, refers_to_date)`` against the
    response records' ``(url, warc_date)``.  The original routinely
    lives in a DIFFERENT archive file (that is the point of revisit
    records), so resolution is a join, not a per-file lookup.

    Scale shape: both sides are page-sized at crawl scale, so this is
    an honest shuffle join on the (url, date) key — neither side
    broadcasts; AQE handles any hot-URL skew (a join, not a window).
    Unresolvable revisits (the original predates this crawl's
    archives) keep NULL ``orig_*`` columns."""
    orig = responses.select(
        F.col('url').alias('_o_url'),
        F.col('warc_date').alias('_o_date'),
        F.col('http_status').alias('orig_status'),
        F.col('n_bytes').alias('orig_n_bytes'),
        F.col('text').alias('orig_text'),
    )
    return (
        revisits.join(
            orig,
            (revisits.refers_to_uri == orig._o_url)
            & (revisits.refers_to_date == orig._o_date),
            'left',
        )
        .drop('_o_url', '_o_date')
    )


def dedup_to_revisits(responses: DataFrame) -> DataFrame:
    """The WRITER side of CC's URL-agnostic dedup: keep the FIRST
    capture per payload digest as a ``response``; demote every later
    identical capture to a ``revisit`` row pointing at the winner —
    the month-over-month crawl shape (an unchanged page refetched
    later publishes as a revisit, and readers restore it through
    ``resolve_revisits``).

    Winner = min ``(warc_date, url, file_name, rec_ord)`` per
    ``sha2(text)`` digest — a TOTAL order, so the verdict is
    partition-invariant.  Selection is the de-skewed aggregation shape
    (groupBy(digest).agg(min(struct(...))), map-side combined — a
    corpus-ubiquitous payload like an empty page collapses to one row
    per map partition before the exchange); the one unavoidable
    corpus-sized exchange is the winner join-back (every row needs its
    winner's identity), which is a JOIN — AQE skew-splittable — never
    a window.

    Returns (file_name, rec_ord, url, warc_date, http_status, mime,
    text, kind, refers_to_uri, refers_to_date, payload_sha); winners
    keep NULL refers_to_* columns.
    """
    digest = F.sha2(F.encode('text', 'utf-8'), 256)
    recs = responses.select(
        'file_name', 'rec_ord', 'url', 'warc_date', 'http_status', 'mime',
        'text', digest.alias('payload_sha'),
    )
    winners = recs.groupBy('payload_sha').agg(
        F.min(F.struct('warc_date', 'url', 'file_name', 'rec_ord')).alias('_w')
    )
    joined = recs.join(winners, 'payload_sha')
    is_winner = (
        (F.col('warc_date') == F.col('_w.warc_date'))
        & (F.col('url') == F.col('_w.url'))
        & (F.col('file_name') == F.col('_w.file_name'))
        & (F.col('rec_ord') == F.col('_w.rec_ord'))
    )
    return joined.select(
        'file_name', 'rec_ord', 'url', 'warc_date', 'http_status', 'mime',
        'text',
        F.when(is_winner, F.lit('response')).otherwise(F.lit('revisit')).alias('kind'),
        F.when(~is_winner, F.col('_w.url')).alias('refers_to_uri'),
        F.when(~is_winner, F.col('_w.warc_date')).alias('refers_to_date'),
        'payload_sha',
    )


def write_dedup_warc(deduped: DataFrame, out_files: int | None = None) -> DataFrame:
    """Pack ``dedup_to_revisits`` rows back into WARC archive bytes —
    one (file_name, data, n_records) row per output archive, each
    record its own gzip member (core/warc.build_warc).  Rows are
    range-partitioned by (url, warc_date) so output files are
    deterministic under any input partitioning; ``out_files`` defaults
    to the cluster parallelism (production: size for ~1 GiB
    archives)."""
    spark = deduped.sparkSession
    n = out_files or spark.sparkContext.defaultParallelism

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        parts = [pdf for pdf in batches if not pdf.empty]
        if not parts:
            return
        # ONE archive per range partition (concatenate the partition's
        # Arrow batches so the file split is the range split, not the
        # Arrow batch size); name from the first (url, date) key so
        # output names are content-derived and deterministic
        pdf = pd.concat(parts) if len(parts) > 1 else parts[0]
        entries = list(zip(pdf['kind'], pdf['url'], pdf['warc_date'],
                           pdf['http_status'], pdf['mime'], pdf['text'],
                           pdf['refers_to_uri'], pdf['refers_to_date']))
        first = min(zip(pdf['url'], pdf['warc_date']))
        name = 'dedup-' + hashlib.sha256(
            (first[0] + first[1]).encode('utf-8')).hexdigest()[:16] + '.warc.gz'
        yield pd.DataFrame(
            [(name, cw.build_warc(entries), len(entries))],
            columns=['file_name', 'data', 'n_records'])

    ordered = (
        deduped.repartitionByRange(n, 'url', 'warc_date')
        .sortWithinPartitions('url', 'warc_date')
    )
    return ordered.mapInPandas(
        pack, schema='file_name string, data binary, n_records int')


WARC_CDX_SCHEMA = (
    'file_name string, ord int, warc_type string, url string, surt string, '
    'offset long, length long, addressable boolean, warc_date string'
)


WARC_REDIRECTS_SCHEMA = (
    'file_name string, rec_ord int, url string, warc_date string, '
    'http_status int, location string'
)


def read_warc_redirects(files: DataFrame, file_col: str = 'file_name',
                        data_col: str = 'data') -> DataFrame:
    """Every 3xx response record of every archive blob — the crawl's
    redirect edges (core/warc.warc_redirects; rec_ord shares the
    response walk's ordinal space, location is the verbatim first-wins
    Location header, '' for a dead redirect).  One mapInPandas pass,
    no shuffle."""

    def warc_redirects(fname, data):
        for rec in cw.warc_redirects(bytes(data)):
            yield (fname, *rec)

    return map_rows(files, [file_col, data_col], warc_redirects, WARC_REDIRECTS_SCHEMA)


def read_warc_cdx(files: DataFrame, file_col: str = 'file_name',
                  data_col: str = 'data') -> DataFrame:
    """CDX-style record index over the archive blobs: one row per
    well-formed WARC record with its (offset, length) extent and
    whether that extent is directly seekable in the raw file (see
    core/warc.warc_cdx).  This is the index that upgrades
    file-granular crawl splits to record-granular ones — build it
    once, then any executor can slice one record out of a multi-GB
    archive without reading the rest (core/warc.read_record_at).

    Each row also carries the record URL's SURT key
    (core/wwwtools.surt_key, ``com,example)/path?a=1``) — the sort key
    real CDX(J) indexes use: URL spellings of one resource collapse to
    one key, and range-partitioning/sorting the index by (surt, ...)
    clusters each host's records adjacently, which is what makes
    per-archive CDX shards MERGEABLE into one queryable index at
    crawl scale."""
    from ..core.wwwtools import surt_key

    def warc_cdx(fname, data):
        for rec in cw.warc_cdx(bytes(data)):
            yield (fname, *rec[:3], surt_key(rec[2]), *rec[3:])

    return map_rows(files, [file_col, data_col], warc_cdx, WARC_CDX_SCHEMA)


WET_SCHEMA = 'file_name string, wet binary, n_records int'


def warc_to_wet(files: DataFrame, file_col: str = 'file_name',
                data_col: str = 'data') -> DataFrame:
    """Crawl archive → WET derived-text archive, one blob per input
    file: the WARC read, the 200+text/html gate, the main-content
    strip, and the from-scratch WET write (core/warc.build_wet) all in
    ONE mapInPandas pass — no shuffle, the input file is the natural
    output unit exactly as in the Common-Crawl WET layout (the WET
    file mirrors its WARC file record-for-record; the gate is
    ``iter_html_pages``, shared with ``warc_main_content``)."""
    from ..core import maincontent as mc

    def warc_to_wet(fname, data):
        entries = [(url, wdate, mc.main_text(mc.extract_blocks(html)))
                   for url, wdate, html in iter_html_pages(bytes(data))]
        wet_name = fname.rsplit('.warc', 1)[0] + '.warc.wet.gz'
        yield wet_name, cw.build_wet(entries), len(entries)

    return map_rows(files, [file_col, data_col], warc_to_wet, WET_SCHEMA)


def read_wet_records(wet_files: DataFrame, file_col: str = 'file_name',
                     data_col: str = 'wet') -> DataFrame:
    """Parse WET archives back to (file_name, rec_ord, url, warc_date,
    text) rows — the ordinary record walk over conversion records (the
    writer's output is reader-parseable by construction; the round-trip
    is pinned by the wet_roundtrip driver query and tests)."""

    def wet_records(fname, data):
        k = 0
        for headers, payload in cw.iter_warc_records(bytes(data)):
            if headers.get('warc-type') != 'conversion':
                continue
            url = headers.get('warc-target-uri', '')
            if url.startswith('<') and url.endswith('>'):
                url = url[1:-1]
            yield (fname, k, url, headers.get('warc-date', ''),
                   payload.decode('utf-8', errors='replace'))
            k += 1

    return map_rows(wet_files, [file_col, data_col], wet_records,
                    'file_name string, rec_ord int, url string, warc_date string, text string')


def wat_payload_json(url: str, wdate: str, status: int, mime: str,
                     text: str) -> str:
    """The canonical WAT metadata envelope for one response record:
    deterministic JSON (sorted keys, compact separators, raw unicode)
    of the WARC header echo, the HTTP summary, and — for 200/text-html
    pages — the head metadata + outlink records (core/htmlmeta.py).
    The metadata chain is the independently-twinned one; json.dumps is
    only the serialization format, shared by both sides."""
    import json

    from ..core.htmlmeta import extract_meta, extract_outlinks

    env: dict = {
        'warc_header': {'target_uri': url, 'date': wdate},
        'payload': {'status': status, 'mime': mime},
    }
    if status == 200 and mime == 'text/html':
        html = text.encode('utf-8')
        title, desc, canonical, og, noindex, nofollow = extract_meta(html)
        env['payload']['html'] = {
            'title': title, 'meta_description': desc, 'canonical': canonical,
            'og_title': og, 'robots_noindex': noindex,
            'robots_nofollow': nofollow,
            'links': [
                {'href': href, 'abs_url': abs_url, 'anchor': anchor}
                for _ord, href, abs_url, anchor in extract_outlinks(url, html)
            ],
        }
    return json.dumps({'envelope': env}, sort_keys=True,
                      separators=(',', ':'), ensure_ascii=False)


def warc_to_wat(files: DataFrame, file_col: str = 'file_name',
                data_col: str = 'data') -> DataFrame:
    """Crawl archive → WAT metadata archive, one blob per input file:
    WARC read, head-metadata + outlink extraction, deterministic JSON
    envelope, and the gzip-member WARC write (``WARC-Type: metadata``,
    ``application/json`` payloads) in ONE mapInPandas pass — no
    shuffle; the WAT file mirrors its WARC file response-for-response
    (all statuses; the html block only on 200/text-html)."""
    def warc_to_wat(fname, data):
        entries = [(url, wdate, wat_payload_json(url, wdate, status, mime, text))
                   for (_ord, url, wdate, status, mime, _cs, _nb, text)
                   in cw.warc_responses(bytes(data))]
        wat_name = fname.rsplit('.warc', 1)[0] + '.warc.wat.gz'
        yield wat_name, cw.build_wat_records(entries), len(entries)

    return map_rows(files, [file_col, data_col], warc_to_wat,
                    'file_name string, wat binary, n_records int')


def read_wat_records(wat_files: DataFrame, file_col: str = 'file_name',
                     data_col: str = 'wat') -> DataFrame:
    """Parse WAT archives back: (file_name, rec_ord, url, title,
    n_links, payload_sha) rows — the ordinary record walk + JSON
    decode of the metadata payloads."""
    import hashlib
    import json

    def wat_records(fname, data):
        k = 0
        for headers, payload in cw.iter_warc_records(bytes(data)):
            if headers.get('warc-type') != 'metadata':
                continue
            url = headers.get('warc-target-uri', '')
            if url.startswith('<') and url.endswith('>'):
                url = url[1:-1]
            doc = json.loads(payload.decode('utf-8'))
            html = doc['envelope']['payload'].get('html') or {}
            yield (fname, k, url, html.get('title', ''), len(html.get('links', [])),
                   hashlib.sha256(payload).hexdigest())
            k += 1

    return map_rows(wat_files, [file_col, data_col], wat_records,
                    'file_name string, rec_ord int, url string, title string, '
                    'n_links int, payload_sha string')


def warc_main_content(files: DataFrame, file_col: str = 'file_name',
                      data_col: str = 'data') -> DataFrame:
    """Crawl archive → training text (url, main_text, n_blocks, n_kept)
    in ONE mapInPandas pass: the WARC record walk, the fetch-policy
    gate (HTTP 200 + ``text/html`` only, ``iter_html_pages``) and the
    main-content boilerplate strip (operators/maincontent.py) over the
    page's UTF-8 bytes, all inside one Python worker.  Only the archive
    blob crosses into Python and only the narrow main-content rows come
    back: the text of non-HTML and non-200 records never reaches the
    JVM.  Zero Exchanges; parallelism = input files, as for
    ``read_warc_responses``.  ``file_col`` is accepted for signature
    parity with the other readers; the output does not carry it."""
    from ..operators.maincontent import MAIN_CONTENT_SCHEMA, main_content_row

    def warc_main_content(data):
        for url, _wdate, html in iter_html_pages(bytes(data)):
            yield main_content_row(url, html)

    return map_rows(files, [data_col], warc_main_content, MAIN_CONTENT_SCHEMA)

"""Distinct-URL fetch stage (A7/S4): fetch each unique image once
cluster-wide, then hash-join the bytes back to the links table.

The reference downloads per-link, per-article, sequentially
(image_downloader.py:96-184, www_tools.py:41-65).  The Spark plan:

    links.select(fetch_key).distinct()          -- shuffle on key
         .repartition(P, xxhash64(fetch_key))   -- even spread; breaks
                                                --  hot-host skew (the
                                                --  corpus sends ~30% of
                                                --  links to one host)
         .mapInPandas(fetcher)                  -- Arrow-batched GETs
    links JOIN fetched ON fetch_key             -- AQE picks the strategy

Fetchers are pluggable: ``model_fetcher`` (deterministic synthetic
bytes — the sandbox has no network, FIXTURES.md §2) or
``live_fetcher`` (requests-based, UA header + redirect-follow +
SSL-retry semantics of www_tools.py:41-65; grouped by host inside each
partition for connection reuse).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .udfs import row_batches

FETCH_SCHEMA = (
    'fetch_key string, final_url string, content binary, content_type string, '
    'content_disposition string, fetch_status int'
)
# its column names, read without a Spark session: the fetchers also run
# as plain pandas functions
FETCH_COLUMNS = [field.split()[0] for field in FETCH_SCHEMA.split(', ')]

# fetch + per-URL derivations in ONE python crossing (see derive_fetched)
FETCH_DERIVED_SCHEMA = FETCH_SCHEMA + ', sha_hex string, filename_remote string'

Fetcher = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]

# the reference raises KeyError on a missing content-type header
# (www_tools.py:108) → the link becomes an 'error' row, which is fatal
# unless skip_all_errors (pipeline.extract_pass_links)
FILENAME_KEYERROR = '\x00\x00content-type-keyerror'

_HOST_RE = r'^[a-zA-Z]+://([^/]+)'


def derive_fetched(fetcher: Fetcher) -> Fetcher:
    """Wrap a fetcher so the per-distinct-URL derivations — sha256 hex
    (F4/F5) and the remote filename (F7) — happen inside the SAME
    mapInPandas batch that produced the bytes.

    The content is already in this python worker's memory; deriving
    here removes a second python operator (Arrow round trip) and a
    JVM-side sha2 pass over every fetched byte from the hot path.
    hashlib.sha256().hexdigest() is byte-identical to Spark's
    ``sha2(content, 256)``.
    """
    import hashlib

    from ..core.wwwtools import filename_from_url

    def fetch_and_derive(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in fetcher(batches):
            shas, names = [], []
            for content, final_url, ctype, cdisp in zip(
                pdf['content'], pdf['final_url'], pdf['content_type'], pdf['content_disposition']
            ):
                if content is None:
                    shas.append(None)
                else:
                    shas.append(hashlib.sha256(bytes(content)).hexdigest())
                if final_url is None:
                    names.append(None)
                    continue
                try:
                    names.append(filename_from_url(final_url, ctype, cdisp))
                except (KeyError, ValueError):
                    # KeyError: missing content-type (www_tools.py:108
                    # quirk); ValueError: urlparse on a malformed
                    # bracketed host — both are per-link errors, never
                    # batch crashes
                    names.append(FILENAME_KEYERROR)
            yield pdf.assign(sha_hex=pd.Series(shas, index=pdf.index, dtype=object),
                             filename_remote=pd.Series(names, index=pdf.index, dtype=object))

    return fetch_and_derive


def _model_get(key: str) -> Iterator[tuple]:
    """One modeled GET (corpus.model_asset) as its FETCH_COLUMNS row."""
    from ..corpus import model_asset

    a = model_asset(key)
    if a is None:
        yield key, None, None, None, None, 599
    else:
        yield key, a.final_url or key, a.content, a.content_type, a.content_disposition, a.status


def model_fetcher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic modeled GET keyed by URL (corpus.model_asset)."""
    return row_batches(_model_get, FETCH_COLUMNS)(batches)


def _host_paced(make_get: Callable[[], Callable[[str], Iterator[tuple]]],
                per_host_interval: float) -> Fetcher:
    """The politeness loop of the polite modeled and the live fetcher:
    each batch's keys are fetched grouped by host, hosts in alphabetical
    order (keys without a host last), and consecutive GETs to one host
    are spaced at least ``per_host_interval`` seconds apart, across
    batches too.  ``make_get()`` runs once per task and returns the
    per-key GET, which yields the key's FETCH_COLUMNS row."""

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time

        get = make_get()
        last_hit: dict = {}  # host -> monotonic time of last GET

        def paced_get(key, host):
            if per_host_interval > 0:
                prev = last_hit.get(host)
                now = time.monotonic()
                if prev is not None and now - prev < per_host_interval:
                    time.sleep(per_host_interval - (now - prev))
                last_hit[host] = time.monotonic()
            yield from get(key)

        by_host = (
            pdf.assign(_host=pdf['fetch_key'].str.extract(_HOST_RE)[0])
            .sort_values('_host', kind='stable')[['fetch_key', '_host']]
            for pdf in batches
        )
        yield from row_batches(paced_get, FETCH_COLUMNS)(by_host)

    return fetch


def polite_model_fetcher(per_host_interval: float = 0.0) -> Fetcher:
    """The modeled fetcher behind the live fetcher's POLITENESS loop —
    host-grouped batches with a per-host interval floor (the same
    last-hit/sleep mechanics as ``live_fetcher``), serving
    deterministic corpus bytes instead of HTTP.  Exists so the
    salt-by-host skew behavior is MEASURABLE offline (bench.py --skew):
    a politeness-constrained fetch is exactly where hot-host skew
    bites, and the sandbox has no network to show it with."""
    return _host_paced(lambda: _model_get, per_host_interval)


def local_store_fetcher(local_assets: dict) -> Fetcher:
    """Local-file reads modeled from an in-memory dict (S5)."""

    def local_get(key):
        content = local_assets.get(key)
        if content is None:
            yield key, None, None, None, None, 404
        else:
            yield key, key, content, None, None, 200

    return row_batches(local_get, FETCH_COLUMNS)


def live_fetcher(timeout: float | None = None, per_host_interval: float = 0.0) -> Fetcher:
    """Real HTTP fetcher for production runs (www_tools.py:41-65
    semantics: UA header, redirects, SSL-retry-without-verify, >=400 →
    error).  Import-guarded; not exercisable in this sandbox.

    ``per_host_interval``: politeness floor in seconds between
    consecutive GETs to the SAME host within this worker.  Combined
    with ``fetch_distinct(salt_by_host=True)`` (which co-locates a
    host's URLs into at most a handful of partitions), this bounds the
    cluster-wide request rate against any one host to roughly
    ``salt_buckets / per_host_interval`` req/s — without it, a 100-TB
    run with a hot image host would hammer that host from every
    executor at once.  Different hosts are not throttled against each
    other (the batch is grouped by host, so the sleeps also do not
    serialize cross-host throughput within a partition more than the
    grouping already does)."""

    def make_get():
        import requests

        headers = {
            'User-Agent': 'Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:96.0) '
            'Gecko/20100101 Firefox/96.0'
        }
        session = requests.Session()

        def http_get(key):
            try:
                try:
                    resp = session.get(key, allow_redirects=True, timeout=timeout, headers=headers)
                except requests.exceptions.SSLError:
                    resp = session.get(
                        key, allow_redirects=True, verify=False, timeout=timeout, headers=headers
                    )
                if not resp.ok:
                    row = (key, None, None, None, None, resp.status_code)
                else:
                    row = (key, resp.url, resp.content, resp.headers.get('content-type'),
                           resp.headers.get('content-disposition'), 200)
            except Exception:
                row = (key, None, None, None, None, 599)
            yield row

        return http_get

    return _host_paced(make_get, per_host_interval)


def fetch_distinct(
    links: DataFrame,
    key_col: str,
    fetcher: Fetcher,
    parallelism: int | None = None,
    salt_by_host: bool = False,
) -> DataFrame:
    """distinct keys → Arrow-batched fetch.

    ``distinct()`` already hash-partitions by the full key, which is a
    uniform spread — hot hosts do NOT skew it, so no second shuffle is
    needed for the modeled fetcher.  ``salt_by_host=True`` adds an
    explicit ``repartition(P, xxhash64(host), salt)`` for live-HTTP
    politeness runs, where co-locating (then rate-limiting) a host's
    URLs matters and the salt caps any one host's partition share.
    """
    spark = links.sparkSession
    keys = links.select(F.col(key_col).alias('fetch_key')).where(F.col('fetch_key').isNotNull()).distinct()
    p = parallelism or spark.sparkContext.defaultParallelism
    if salt_by_host:
        host = F.regexp_extract('fetch_key', _HOST_RE, 1)
        salt = F.pmod(F.xxhash64('fetch_key'), F.lit(4))
        keys = keys.repartition(p, F.xxhash64(host), salt)
    else:
        # explicit width, UNCONDITIONALLY: the key list is tiny in
        # bytes but each key EXPANDS into a full fetch (network/CPU +
        # content bytes).  distinct()'s own exchange is subject to
        # AQE byte-based coalescing (coalescePartitions is on by
        # default in get_spark), which would collapse a
        # small-in-bytes key set to a handful of tasks and serialize
        # the fetch stage; an explicit user repartition is exempt
        # from AQE coalescing and pins the fan-out to the cluster
        # width.  (r2 skipped this when widths matched — wrong under
        # AQE: the width of the *coalesced* exchange is what matters,
        # not the configured shuffle width.)
        keys = keys.repartition(p, F.xxhash64('fetch_key'))
    # sha256 + filename derived inside the same python crossing as the
    # fetch itself — no second Arrow operator, no JVM re-hash of bytes
    return keys.mapInPandas(derive_fetched(fetcher), schema=FETCH_DERIVED_SCHEMA)

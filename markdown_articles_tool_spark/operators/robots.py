"""Crawl-policy operators: robots.txt rule extraction and the
allowed/blocked gate over outlink records (core/robots.py does the
parse/match work).

Scale shape
-----------
The robots table is HOST-sized (one small text per host — ~10^8 rows
at web scale, kilobytes each) while the outlink table is page-sized
(~10^12): ``crawl_allowed`` therefore broadcasts the robots side and
leaves the big side un-shuffled — one BroadcastExchange, zero shuffle
Exchanges on the links (plan-tested).  The decision itself is one
Arrow-batched mapInPandas pass with a per-batch parse memo keyed by
the robots text, so each executor parses every distinct robots file
once per batch, not once per link."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core.robots import is_allowed, parse_robots, url_path
from .udfs import map_rows

ROBOTS_RULES_SCHEMA = 'host string, group_agent string, ord int, verb string, value string'

_HOST_RE = r'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)'

CRAWL_ALLOWED_SCHEMA = (
    'url string, ord int, abs_url string, dst_host string, allowed boolean'
)


def extract_robots_rules(robots: DataFrame, host_col: str = 'host',
                         txt_col: str = 'robots_txt') -> DataFrame:
    """(host, group_agent, ord, verb, value) records per robots file,
    in file order — one mapInPandas pass, no shuffle."""

    def robots_rules(host, txt):
        for rec in parse_robots(txt):
            yield (host, *rec)

    return map_rows(robots, [host_col, txt_col], robots_rules, ROBOTS_RULES_SCHEMA)


def crawl_allowed(outlinks: DataFrame, robots: DataFrame,
                  agent: str = 'graftbot') -> DataFrame:
    """The crawl gate: every outlink record (url, ord, abs_url) tagged
    with whether ``agent`` may fetch it under the destination host's
    robots.txt (RFC 9309 longest-match; a host with no robots file
    allows everything).  Broadcast left-join on the lowercased
    destination host, then one pandas decision pass."""
    links = outlinks.select(
        'url', 'ord', 'abs_url',
        F.lower(F.regexp_extract('abs_url', _HOST_RE, 1)).alias('dst_host'),
    )
    # the link side's dst_host is lowercased above — lowercase the
    # robots-dim host at join time too, or a mixed-case host in the
    # robots table silently never matches and the gate fails OPEN
    # (allowed=true) for exactly the hosts that published a policy
    rob = robots.select(F.lower(F.col('host')).alias('_rhost'), 'robots_txt')
    joined = links.join(F.broadcast(rob), links.dst_host == rob._rhost, 'left')

    def crawl_gate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        for pdf in batches:
            allowed = []
            for abs_url, txt in zip(pdf['abs_url'], pdf['robots_txt']):
                if txt is None or not isinstance(txt, str):
                    allowed.append(True)
                    continue
                recs = memo.get(txt)
                if recs is None:
                    recs = memo[txt] = parse_robots(txt)
                allowed.append(is_allowed(recs, agent, url_path(abs_url)))
            out = pdf[['url', 'ord', 'abs_url', 'dst_host']].copy()
            out['allowed'] = allowed
            yield out

    return joined.select('url', 'ord', 'abs_url', 'dst_host', 'robots_txt') \
        .mapInPandas(crawl_gate, schema=CRAWL_ALLOWED_SCHEMA)

"""HTTP redirect-chain resolution over crawl archives.

A crawl records redirects as 3xx response records (the Location header
is the edge); consumers — URL canonicalization, frontier building,
wayback replay — need the TRANSITIVE resolution: where does this URL
actually lead, in how many hops, and does the chain terminate at a
crawled capture at all?

Frozen spec (the DuckDB oracle replays it with its OWN recursive CTE
over the independent twin's edge/response tables):

* edges = distinct (url, loc_abs) with ``loc_abs`` the Location value
  resolved against the capture URL (RFC 3986; engine:
  core/htmlmeta.resolve_href, twin: oracle_kernels.resolve_href_seq);
  a redirect whose Location is empty or unresolvable contributes no
  edge — it is a *dead redirect*, emitted as its own (hops=0) row;
* a chain starts at every edge and advances while the current target
  is itself an edge source, up to ``max_hops`` edges traversed;
* ``loop`` = the advance lands on a self-referencing edge (new target
  == current URL); longer cycles (A→B→A) run to the hop cap and
  classify ``truncated`` — the industry-standard bounded-follow rule
  (browsers and crawlers cap at a handful of hops rather than carry
  per-chain visited sets);
* terminal classification, in precedence order:
  ``loop`` → ``ok`` (final URL has a crawled NON-3xx response;
  final_status = the min such status) → ``truncated`` (hop cap hit
  with the chain still advanceable) → ``dead_redirect`` (final URL is
  a crawled redirect with no usable Location) → ``dangling`` (final
  URL was never crawled).

Scale shape: the Location resolution is ONE Arrow pass; each hop is a
(frontier ⋈ edges) equi-join on the target URL — an honest page-scale
shuffle join (AQE skew-splittable), executed ``max_hops`` times with
an eagerly checkpointed frontier (the linkgraph/PageRank discipline:
truncate lineage per iteration).  Settled rows LEAVE the frontier
each hop (no re-joining of finished chains).  For unbounded-depth
resolution one would switch to pointer doubling (log₂ hops of
self-joins); at the standard small hop caps the linear loop does
strictly less work.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .util import LOCAL_MAX_EDGES, fits_one_task

MAX_HOPS = 4


def _walk_partition(batches, max_hops: int):
    """Single-task twin of the distributed hop loop below — the SAME
    relational steps per hop (left-join fan-out over multi-target
    edges, dead-end settle, loop flag comparing the new target to the
    PRE-hop node), expressed as pandas merges, so the output multiset
    is identical by construction (fuzz-pinned in
    tests/test_r07_optimizations.py)."""
    dfs = list(batches)
    e = (pd.concat(dfs, ignore_index=True) if dfs
         else pd.DataFrame({'url': pd.Series([], dtype=object),
                            'loc_abs': pd.Series([], dtype=object)}))
    e2 = e.rename(columns={'url': '_eu', 'loc_abs': '_et'})
    frontier = pd.DataFrame({
        'start': e['url'], 'cur': e['loc_abs'],
        'hops': 1, 'looped': (e['loc_abs'] == e['url']),
    })
    settled = []
    for h in range(2, int(max_hops) + 1):
        settled.append(frontier[frontier['looped']])
        open_ = frontier[~frontier['looped']]
        j = open_.merge(e2, left_on='cur', right_on='_eu', how='left')
        settled.append(j[j['_et'].isna()][['start', 'cur', 'hops', 'looped']])
        cont = j[j['_et'].notna()]
        frontier = pd.DataFrame({
            'start': cont['start'], 'cur': cont['_et'],
            'hops': h, 'looped': (cont['_et'] == cont['cur']),
        })
    out = pd.concat([frontier] + settled, ignore_index=True)
    out['hops'] = out['hops'].astype('int32')
    out['looped'] = out['looped'].astype(bool)
    yield out[['start', 'cur', 'hops', 'looped']]


def _resolved_targets(redirects: DataFrame) -> DataFrame:
    """Distinct (url, location) → (url, loc_abs) with '' for a dead
    target, via one Arrow pass of the RFC 3986 resolver."""

    @F.pandas_udf('string')
    def resolve(urls: pd.Series, locs: pd.Series) -> pd.Series:
        from ..core.htmlmeta import resolve_href

        out = []
        for u, l in zip(urls, locs):
            if not l:
                out.append('')
                continue
            a = resolve_href(u, l)
            out.append(a if a else '')
        return pd.Series(out)

    return (
        redirects.select('url', 'location').distinct()
        .select('url', resolve('url', 'location').alias('loc_abs'))
    )


def resolve_redirect_chains(
    redirects: DataFrame,
    responses: DataFrame,
    max_hops: int = MAX_HOPS,
    local_max_edges: int = LOCAL_MAX_EDGES,
) -> DataFrame:
    """(url, final_url, hops, state, final_status) per redirect
    capture — see module docstring for the frozen semantics.

    ``redirects``: read_warc_redirects rows (url, location, ...);
    ``responses``: read_warc_responses rows (url, http_status, ...).
    """
    # resolved targets feed the edge table, the dead-redirect branch
    # AND the redirect-source dim below — persist the narrow distinct
    # (url, loc_abs) rows so the WARC parse + resolver Arrow pass run
    # once per chain build, not once per consumer
    resolved = _resolved_targets(redirects).persist()
    edges = (
        resolved.where(F.col('loc_abs') != '')
        .select('url', 'loc_abs').distinct()
        .localCheckpoint(eager=True)
    )
    # dead redirects: urls ALL of whose capture rows lack a usable target
    dead = (
        resolved.groupBy('url')
        .agg(F.max(F.col('loc_abs') != '').alias('_any'))
        .where(~F.col('_any'))
        .select(
            F.col('url'),
            F.lit(None).cast('string').alias('final_url'),
            F.lit(0).alias('hops'),
            F.lit('dead_redirect').alias('state'),
            F.lit(None).cast('int').alias('final_status'),
        )
    )

    if fits_one_task(edges, local_max_edges):
        # size-adaptive fast path (the linkgraph/cluster discipline):
        # below the edge bound the whole hop walk runs in ONE task over
        # the checkpointed edge table — max_hops join+checkpoint rounds
        # collapse to one job; the pandas kernel replays the identical
        # relational steps.  A crawl-scale redirect table exceeds the
        # bound (and ``local_max_edges <= 0`` forces) the hop loop.
        final = edges.repartition(1).mapInPandas(
            lambda it: _walk_partition(it, max_hops),
            'start string, cur string, hops int, looped boolean',
        )
    else:
        e2 = edges.select(F.col('url').alias('_eu'), F.col('loc_abs').alias('_et'))
        frontier = edges.select(
            F.col('url').alias('start'),
            F.col('loc_abs').alias('cur'),
            F.lit(1).alias('hops'),
            (F.col('loc_abs') == F.col('url')).alias('looped'),
        )
        settled = []
        for h in range(2, int(max_hops) + 1):
            frontier = frontier.localCheckpoint(eager=True)
            settled.append(frontier.where('looped'))
            open_ = frontier.where('NOT looped')
            j = open_.join(e2, open_.cur == e2._eu, 'left')
            settled.append(
                j.where(F.col('_et').isNull()).select('start', 'cur', 'hops', 'looped')
            )
            frontier = j.where(F.col('_et').isNotNull()).select(
                'start',
                F.col('_et').alias('cur'),
                F.lit(h).alias('hops'),
                (F.col('_et') == F.col('cur')).alias('looped'),
            )
        final = frontier
        for s in settled:
            final = final.unionByName(s)

    terms = (
        responses.where((F.col('http_status') < 300) | (F.col('http_status') >= 400))
        .groupBy('url')
        .agg(F.min('http_status').cast('int').alias('final_status'))
        .select(F.col('url').alias('_tu'), 'final_status')
    )
    srcs = edges.select(F.col('url').alias('_su')).distinct() \
        .withColumn('_is_src', F.lit(True))
    # the redirect-source url set == resolved's url set ((url, location)
    # distinct projected to url): read it from the cached resolved rows
    # instead of re-parsing the archives a third time
    rdirs = resolved.select(F.col('url').alias('_ru')).distinct() \
        .withColumn('_is_rdr', F.lit(True))
    out = (
        final.join(terms, final.cur == terms._tu, 'left')
        .join(srcs, final.cur == srcs._su, 'left')
        .join(rdirs, final.cur == rdirs._ru, 'left')
        .select(
            F.col('start').alias('url'),
            F.col('cur').alias('final_url'),
            'hops',
            F.when(F.col('looped'), F.lit('loop'))
            .when(F.col('final_status').isNotNull(), F.lit('ok'))
            .when(F.col('_is_src'), F.lit('truncated'))
            .when(F.col('_is_rdr'), F.lit('dead_redirect'))
            .otherwise(F.lit('dangling'))
            .alias('state'),
            F.when(~F.col('looped'), F.col('final_status')).alias('final_status'),
        )
    )
    return out.unionByName(dead)

"""Focused pins for the r7 optimization round's internal changes:

* the frontier build runs the outlink-extraction stage ONCE per build
  (r6 verdict #2 — it previously ran once per consumer: robots gate,
  PageRank nodes/out-degree/join side);
* CDX ``matchType=domain`` no longer over-matches sibling hosts that
  share a string prefix (r6 ADVICE #1 — the corpus hosts cannot expose
  this, so the index here is synthesized);
* ``lookup_closest`` survives WARC-1.1 fractional-second dates and
  dateless captures (r6 ADVICE #2 — NULLS-FIRST struct ordering would
  otherwise make a dateless capture win every race);
* the O(n) rolling reformulation of the positional window-hash kernel
  is BIT-IDENTICAL to the r1-r6 O(k·n) windowed form it replaced (the
  values are replayed by the independent oracle twin, so any drift is
  an oracle break, not just a perf delta).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestRollingWindowHashIdentity:
    def test_rolling_kernel_matches_windowed_form(self):
        """``_window_hashes`` r7 shape: prefix sums in the inverse base
        (B odd → invertible mod 2^64) instead of the windowed mat-vec.
        Fuzz both forms over edge cases (empty / shorter-than-k /
        equal-k / long, multilingual codepoints) and every shingle
        width the engine uses (5 = minhash, 16, 25 = span/winnow)."""
        import random

        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        from markdown_articles_tool_spark.training.dedup import (
            _POLY_B,
            _window_hashes,
        )

        def windowed_form(t, shingle):
            t = ' '.join((t or '').lower().split())
            if not t:
                return np.empty(0, dtype=np.uint64)
            cp = np.frombuffer(t.encode('utf-32-le'), dtype=np.uint32).astype(np.uint64)
            n = min(len(cp), shingle)
            win = cp[None, :] if len(cp) <= shingle else sliding_window_view(cp, shingle)
            powers = np.full(n, _POLY_B, dtype=np.uint64)
            powers[-1] = 1
            powers = np.cumprod(powers[::-1], dtype=np.uint64)[::-1]
            hs = (win * powers[None, :]).sum(axis=1, dtype=np.uint64)
            z = hs + np.uint64(0x9E3779B97F4A7C15)
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return z ^ (z >> np.uint64(31))

        random.seed(20260822)
        cases = ['', ' ', 'a', 'x' * 24, 'y' * 25, 'z' * 26,
                 'Hello  World\t\nFoo',
                 ''.join(chr(random.randrange(32, 0x2500)) for _ in range(2000))]
        cases += [' '.join('w%d' % random.randrange(99)
                           for _ in range(random.randrange(1, 400)))
                  for _ in range(100)]
        for k in (5, 16, 25):
            for t in cases:
                a, b = windowed_form(t, k), _window_hashes(t, k)
                assert a.shape == b.shape and (a == b).all(), (k, t[:40])


class TestFrontierSingleExtractionPass:
    def test_extraction_stage_runs_once_per_build(self, spark):
        """crawl_frontier consumes the outlink records in TWO branches
        (robots gate + PageRank edges); the persist inside it must make
        the upstream extraction stage execute exactly once.  Counted
        with an accumulator inside a stand-in extraction mapInPandas
        (local mode: no retries, so the count is exact)."""
        from markdown_articles_tool_spark.training.frontier import crawl_frontier

        n_pages = 40
        acc = spark.sparkContext.accumulator(0)

        pages = spark.createDataFrame(
            [(f'https://s{i % 4}.example/p{i}',) for i in range(n_pages)],
            'url string',
        )

        def extract(batches):
            for pdf in batches:
                acc.add(len(pdf))
                rows = []
                for u in pdf['url']:
                    i = int(u.rsplit('p', 1)[1])
                    rows.append((u, 0, f'/x{i}',
                                 f'https://s{(i + 1) % 4}.example/x{i}', 'a'))
                yield pd.DataFrame(
                    rows, columns=['url', 'ord', 'href', 'abs_url', 'anchor'])

        outlinks = pages.mapInPandas(
            extract,
            schema='url string, ord int, href string, abs_url string, anchor string',
        )
        robots = spark.createDataFrame([], 'host string, robots_txt string')
        crawled = spark.createDataFrame(
            [(f'https://s1.example/x{i}',) for i in range(0, n_pages, 7)],
            'url string',
        )
        out = crawl_frontier(outlinks, robots, crawled, iterations=2)
        out.write.format('noop').mode('overwrite').save()
        assert acc.value == n_pages, (
            f'extraction stage saw {acc.value} rows for {n_pages} pages — '
            'it ran more than once per frontier build'
        )


class TestCdxDomainBoundary:
    def _index(self, spark, tmp_path_factory, rows):
        from markdown_articles_tool_spark.sources.cdxindex import write_cdx_index

        cdx = spark.createDataFrame(
            [(f, 0, 'response', u, s, 0, 10, True, '2020-09-13T12:26:40Z')
             for f, u, s in rows],
            'file_name string, ord int, warc_type string, url string, '
            'surt string, offset long, length long, addressable boolean, '
            'warc_date string',
        )
        path = str(tmp_path_factory.mktemp('cdxdom') / 'index')
        write_cdx_index(cdx, path, n_shards=2)
        return path

    def test_domain_does_not_match_prefix_sibling_hosts(self, spark, tmp_path_factory):
        """query for site1.example must return site1 + its subdomains,
        NOT site10.example (string-prefix sibling) — the ')' / ','
        continuation rule of real CDX domain-range semantics."""
        from markdown_articles_tool_spark.sources.cdxindex import cdx_query

        path = self._index(spark, tmp_path_factory, [
            ('a.warc.gz', 'https://site1.example/a', 'example,site1)/a'),
            ('a.warc.gz', 'https://www.site1.example/b', 'example,site1,www)/b'),
            ('a.warc.gz', 'https://site10.example/c', 'example,site10)/c'),
            ('a.warc.gz', 'https://site1x.example/d', 'example,site1x)/d'),
        ])
        got = sorted(r['surt'] for r in
                     cdx_query(spark, path, 'https://site1.example/', 'domain').collect())
        assert got == ['example,site1)/a', 'example,site1,www)/b'], got
        # host matchType stays exact-host (no subdomains)
        got_host = sorted(r['surt'] for r in
                          cdx_query(spark, path, 'https://site1.example/', 'host').collect())
        assert got_host == ['example,site1)/a'], got_host


class TestCdxDefaultShardCount:
    """``write_cdx_index(n_shards=None)`` derives the shard count from
    the row count: ``ceil(rows / _TARGET_ROWS_PER_SHARD)``, capped at
    the cluster parallelism."""

    @pytest.mark.parametrize('rows_per_shard', [1, 2])
    def test_size_derived_shard_count(self, spark, tmp_path, monkeypatch, rows_per_shard):
        from markdown_articles_tool_spark.sources import cdxindex

        cdx = spark.createDataFrame(
            [('a.warc.gz', i, 'response', f'https://h.example/{i}',
              f'example,h)/{i}', 0, 10, True, '2020-09-13T12:26:40Z') for i in range(3)],
            'file_name string, ord int, warc_type string, url string, '
            'surt string, offset long, length long, addressable boolean, '
            'warc_date string',
        )
        monkeypatch.setattr(cdxindex, '_TARGET_ROWS_PER_SHARD', rows_per_shard)
        path = str(tmp_path / 'index')
        cdxindex.write_cdx_index(cdx, path)
        shards = spark.read.parquet(f'{path}/_boundaries').count()
        assert shards == min(-(-3 // rows_per_shard), spark.sparkContext.defaultParallelism)


class TestClosestDateEdgeCases:
    def _index(self, spark, tmp_path_factory, dates):
        from markdown_articles_tool_spark.sources.cdxindex import write_cdx_index

        cdx = spark.createDataFrame(
            [(f'f{i}.warc.gz', i, 'response', 'https://h.example/p',
              'example,h)/p', 0, 10, True, d) for i, d in enumerate(dates)],
            'file_name string, ord int, warc_type string, url string, '
            'surt string, offset long, length long, addressable boolean, '
            'warc_date string',
        )
        path = str(tmp_path_factory.mktemp('cdxnull') / 'index')
        write_cdx_index(cdx, path, n_shards=1)
        return path

    def test_dateless_capture_never_wins(self, spark, tmp_path_factory):
        """a capture with a missing/unparseable WARC-Date must lose
        every distance race (NULLS-FIRST min-struct would have picked
        it for every query on the URL)."""
        from markdown_articles_tool_spark.sources.cdxindex import lookup_closest

        path = self._index(spark, tmp_path_factory, [
            None, '', '2020-09-13T12:26:40Z', '2021-01-01T00:00:00Z',
        ])
        rows = lookup_closest(
            spark, path, [('https://h.example/p', 20200913122641)]).collect()
        assert len(rows) == 1
        assert rows[0]['warc_date'] == '2020-09-13T12:26:40Z'
        assert rows[0]['ts_diff'] == 1

    def test_fractional_seconds_parse_instead_of_vanishing(self, spark, tmp_path_factory):
        """WARC-1.1 fractional-second dates must stay in the race with
        the fraction stripped (the bare cast yielded NULL)."""
        from markdown_articles_tool_spark.sources.cdxindex import lookup_closest

        path = self._index(spark, tmp_path_factory, [
            '2020-09-13T12:26:40.123Z', '2021-01-01T00:00:00Z',
        ])
        rows = lookup_closest(
            spark, path, [('https://h.example/p', 20200913122640)]).collect()
        assert len(rows) == 1
        assert rows[0]['warc_date'] == '2020-09-13T12:26:40.123Z'
        assert rows[0]['ts_diff'] == 0


class TestFitsOneTask:
    """The one size gate of the single-task fast paths: at most
    ``limit`` rows fit; ``limit <= 0`` disables the gate without
    starting a Spark job, so an empty table is no exception."""

    @pytest.mark.parametrize('limit', [-1, 0, 1, 5])
    def test_boundaries(self, spark, limit):
        from markdown_articles_tool_spark.training.util import fits_one_task

        for n in sorted({0, max(limit, 0), limit + 1}):
            assert fits_one_task(spark.range(n), limit) == (0 < limit and n <= limit), n

    def test_disabled_gate_starts_no_job(self, spark):
        from markdown_articles_tool_spark.training.util import fits_one_task

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        jobs = {}
        for limit in (0, 1):
            sc.setJobGroup(f'gate-{limit}', 'fits_one_task probe')
            try:
                fits_one_task(spark.range(0), limit)
            finally:
                sc.setJobGroup(None, None)
            jobs[limit] = len(tracker.getJobIdsForGroup(f'gate-{limit}') or [])
        # the enabled gate's probe is seen, so 0 for the disabled one counts
        assert jobs[0] == 0 and jobs[1] >= 1, jobs


class TestPagerankSingleTaskFastPath:
    """Session-3 change: below ``LOCAL_MAX_EDGES`` the whole power
    iteration runs inside ONE mapInPandas task (no per-iteration job
    scheduling); the kernel replays the identical integer spec, so the
    two paths must be bit-identical on any graph."""

    def test_fast_path_matches_distributed_loop(self, spark):
        import random

        from markdown_articles_tool_spark.training.linkgraph import pagerank_hosts

        rng = random.Random(1234)
        graphs = []
        for _ in range(3):
            hosts = [f'h{i}.example' for i in range(rng.randint(2, 30))]
            pairs = set()
            for _e in range(rng.randint(1, 90)):
                s, d = rng.sample(hosts, 2)
                pairs.add((s, d))
            graphs.append([(s, d, rng.randint(1, 9)) for (s, d) in pairs])
        graphs.append([])  # empty edge table: no ranks on either path
        for rows in graphs:
            df = spark.createDataFrame(
                rows, 'src_host string, dst_host string, n_links long')
            fast = {r['host']: r['rank_units']
                    for r in pagerank_hosts(df, iterations=6).collect()}
            # local_max_edges=0 forces the distributed K-round loop
            slow = {r['host']: r['rank_units']
                    for r in pagerank_hosts(df, iterations=6,
                                            local_max_edges=0).collect()}
            assert fast == slow
        assert fast == {}

    def test_zero_out_weight_source_matches_distributed_loop(self, spark):
        """A source whose out-weights sum to 0 contributes nothing on
        either path (the kernel once raised ZeroDivisionError, the SQL
        loop DIVIDE_BY_ZERO under ANSI); both also match the sequential
        twin."""
        import os
        import random
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(__file__), '..', 'tools'))
        from oracle_kernels import pagerank_seq

        from markdown_articles_tool_spark.training.linkgraph import pagerank_hosts

        rng = random.Random(4321)
        for _ in range(3):
            hosts = [f'h{i}.example' for i in range(rng.randint(3, 20))]
            pairs = set()
            for _e in range(rng.randint(2, 50)):
                pairs.add(tuple(rng.sample(hosts, 2)))
            # zero_src: every out-edge weighs 0; others: some 0-weight edges
            zero_src = rng.choice(sorted({s for s, _ in pairs}))
            rows = [(s, d, 0 if s == zero_src else rng.choice([0, 1, 2, 5]))
                    for (s, d) in sorted(pairs)]
            df = spark.createDataFrame(
                rows, 'src_host string, dst_host string, n_links long')
            fast = {r['host']: r['rank_units']
                    for r in pagerank_hosts(df, iterations=5).collect()}
            slow = {r['host']: r['rank_units']
                    for r in pagerank_hosts(df, iterations=5,
                                            local_max_edges=0).collect()}
            assert fast == slow == pagerank_seq(rows, iterations=5)

    def test_fast_path_runs_zero_iteration_jobs(self, spark):
        """The fast path's plan is one exchange + one mapInPandas —
        no per-iteration join/agg chain; pin it via the plan string of
        the pre-checkpoint frame shape (the public result is already
        materialized, so pin the job count instead: building ranks
        costs the size probe + the checkpoint, whatever the iteration
        count)."""
        from markdown_articles_tool_spark.training.linkgraph import pagerank_hosts

        df = spark.createDataFrame(
            [('a.example', 'b.example', 3), ('b.example', 'c.example', 1)],
            'src_host string, dst_host string, n_links long')
        tracker = spark.sparkContext.statusTracker()
        sc = spark.sparkContext
        sc.setJobGroup('pr-fast', 'pagerank fast path build')
        pagerank_hosts(df, iterations=10)
        fast_jobs = len(tracker.getJobIdsForGroup('pr-fast') or [])
        sc.setJobGroup('pr-slow', 'pagerank distributed build')
        pagerank_hosts(df, iterations=10, local_max_edges=0)
        slow_jobs = len(tracker.getJobIdsForGroup('pr-slow') or [])
        sc.setJobGroup(None, None)
        # the distributed loop schedules >= 1 job per iteration (plus
        # setup); the single-task build is iteration-count-free
        assert slow_jobs >= fast_jobs + 8, (
            f'fast path {fast_jobs} jobs vs distributed {slow_jobs} — '
            'the single-task fast path did not engage')


class TestConnectedComponentsSingleTaskFastPath:
    """Session-3 change: below the size bounds the whole label
    propagation runs inside ONE mapInPandas task; the kernel is the
    sequential twin of the distributed round loop — fixpoint AND
    convergence verdict must agree on any graph."""

    def _run(self, spark, pairs_rows, node_rows, **kw):
        from markdown_articles_tool_spark.training.cluster import connected_components

        pairs = (spark.createDataFrame(pairs_rows, 'a_id long, b_id long')
                 if pairs_rows else
                 spark.createDataFrame([], 'a_id long, b_id long'))
        nodes = spark.createDataFrame([(n,) for n in node_rows], 'doc_id long')
        try:
            out = {(r['doc_id'], r['cluster_rep'])
                   for r in connected_components(pairs, nodes, **kw).collect()}
            return ('ok', out)
        except RuntimeError as e:
            assert 'did not converge' in str(e)
            return ('raise', None)

    def test_fast_path_matches_distributed_loop(self, spark):
        import random

        rng = random.Random(4321)
        graphs = []
        for _ in range(3):
            node_rows = rng.sample(range(500), rng.randint(2, 40))
            pairs_rows = [tuple(rng.sample(node_rows, 2))
                          for _ in range(rng.randint(0, 60))]
            # edges referencing ids OUTSIDE the node set must drop the
            # same way the left joins drop them
            pairs_rows.append((node_rows[0], 9001))
            pairs_rows.append((9002, node_rows[0]))
            graphs.append((pairs_rows, node_rows))
        # no pairs over a non-empty node set: every node is a singleton
        graphs.append(([], [3, 1, 2]))
        for pairs_rows, node_rows in graphs:
            # max_iter=1 is too small for any graph with an edge inside
            # the node set: both paths must raise alike
            for kw in ({}, {'max_iter': 1}):
                fast = self._run(spark, pairs_rows, node_rows, **kw)
                slow = self._run(spark, pairs_rows, node_rows, **kw,
                                 local_max_edges=0)
                assert fast == slow
        assert fast == ('ok', {(1, 1), (2, 2), (3, 3)})

    def test_duplicate_node_ids_match_distributed_loop(self, spark):
        """A node id listed more than once yields ONE output row on both
        paths (rows compared as a multiset, not a set)."""
        import random

        from markdown_articles_tool_spark.training.cluster import connected_components

        rng = random.Random(97)
        for _ in range(3):
            ids = rng.sample(range(300), rng.randint(2, 25))
            node_rows = ids + [rng.choice(ids) for _ in range(rng.randint(1, 10))]
            rng.shuffle(node_rows)
            pairs = spark.createDataFrame(
                [tuple(rng.sample(ids, 2)) for _ in range(rng.randint(1, 30))],
                'a_id long, b_id long')
            nodes = spark.createDataFrame([(n,) for n in node_rows], 'doc_id long')
            fast, slow = (
                sorted(tuple(r) for r in connected_components(pairs, nodes, **kw).collect())
                for kw in ({}, {'local_max_edges': 0}))
            assert fast == slow
            assert len(fast) == len(ids)

    def test_convergence_verdict_parity_on_chain(self, spark):
        chain = [(i, i + 1) for i in range(40)]
        nodes = list(range(41))
        # round-count-sensitive regime: the 40-hop chain converges in
        # exactly 7 rounds, so max_iter=7 converges and max_iter=6 must
        # raise — in BOTH execution paths
        for max_iter, verdict in ((7, 'ok'), (6, 'raise')):
            fast = self._run(spark, chain, nodes, max_iter=max_iter)
            slow = self._run(spark, chain, nodes, max_iter=max_iter,
                             local_max_edges=0)
            assert fast[0] == verdict and slow[0] == verdict
            assert fast == slow


class TestRedirectWalkSingleTaskFastPath:
    """Session-3 change: below the edge bound the whole hop walk runs
    inside ONE mapInPandas task; the pandas kernel replays the exact
    relational steps of the distributed loop (fan-out left joins,
    dead-end settling, pre-hop loop flag), so the output MULTISET must
    be identical — including duplicate rows from multi-target edges."""

    def test_fast_path_matches_distributed_walk(self, spark):
        import collections
        import random

        from markdown_articles_tool_spark.training.redirects import (
            resolve_redirect_chains,
        )

        rng = random.Random(2468)

        def run(red, resp, mh, **kw):
            out = resolve_redirect_chains(red, resp, max_hops=mh, **kw).collect()
            return collections.Counter(
                (r['url'], r['final_url'], r['hops'], r['state'],
                 r['final_status']) for r in out)

        cases = []
        for _ in range(3):
            urls = [f'https://s.example/u{i}'
                    for i in range(rng.randint(3, 20))]
            rows_red = []
            for u in urls:
                if rng.random() < 0.8:
                    for _ in range(rng.randint(1, 2)):  # multi-target fan-out
                        rows_red.append((u, rng.choice(
                            [rng.choice(urls), u, '',
                             'https://off.example/x'])))
            rows_resp = [(u, rng.choice([200, 301, 404]))
                         for u in urls if rng.random() < 0.7]
            cases.append((rows_red, rows_resp))
        cases.append(([], cases[0][1]))  # no redirects at all
        for rows_red, rows_resp in cases:
            red = spark.createDataFrame(rows_red, 'url string, location string')
            resp = spark.createDataFrame(rows_resp, 'url string, http_status int')
            for mh in (2, 4):
                fast = run(red, resp, mh)
                # local_max_edges=-1 forces the distributed hop loop
                slow = run(red, resp, mh, local_max_edges=-1)
                assert fast == slow
        assert fast == collections.Counter()

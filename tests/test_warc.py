"""WARC source tier (core/warc.py, sources/warc.py): spec goldens on
hand-built records, the engine-vs-independent-twin corpus differential
(twin = gzip.GzipFile + readline walk + email.parser +
http.client.HTTPResponse, tools/oracle_kernels.warc_responses_seq),
mutation soup (no crash), and the Spark operator plan lock."""

import gzip
import os
import random
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), '..', 'tools'))

from markdown_articles_tool_spark import corpus
from markdown_articles_tool_spark.core import warc as W

from oracle_kernels import warc_cdx_seq, warc_responses_seq


def rec(payload: bytes, rec_type: str = 'response',
        target: str = 'https://x.example/a', extra: str = '') -> bytes:
    return (
        f'WARC/1.0\r\nWARC-Type: {rec_type}\r\n'
        f'WARC-Date: 2020-01-01T00:00:00Z\r\n'
        f'WARC-Target-URI: {target}\r\n{extra}'
        f'Content-Length: {len(payload)}\r\n\r\n'
    ).encode() + payload + b'\r\n\r\n'


def _chunk_bytes(body: bytes, size: int = 512) -> bytes:
    from markdown_articles_tool_spark.corpus import _chunk
    return _chunk(body, size)


def http(body: bytes, status: str = '200 OK', extra: str = '',
         ctype: str = 'text/html; charset=UTF-8') -> bytes:
    head = f'HTTP/1.1 {status}\r\n'
    if ctype:
        head += f'Content-Type: {ctype}\r\n'
    head += extra + f'Content-Length: {len(body)}\r\n\r\n'
    return head.encode() + body


class TestGoldens:
    def test_basic_and_ordinal_counts_responses_only(self):
        data = (rec(b'info', 'warcinfo') + rec(http(b'one'))
                + rec(b'GET / HTTP/1.1\r\n\r\n', 'request')
                + rec(http(b'two'), target='https://y.example/b'))
        rows = W.warc_responses(data)
        assert [(r[0], r[1]) for r in rows] == [
            (0, 'https://x.example/a'), (1, 'https://y.example/b')]
        assert rows[0][7] == 'one' and rows[1][7] == 'two'
        assert rows[0][3] == 200 and rows[0][4] == 'text/html'

    def test_angle_bracket_target_stripped(self):
        rows = W.warc_responses(rec(http(b'x'), target='<https://a.example/p>'))
        assert rows[0][1] == 'https://a.example/p'

    def test_first_wins_headers_both_layers(self):
        data = rec(http(b'x', extra='Content-Type: text/plain\r\n'),
                   extra='WARC-Date: 1999-01-01T00:00:00Z\r\n')
        # WARC-Date appears twice (rec writes its own first): first wins
        rows = W.warc_responses(data)
        assert rows[0][2] == '2020-01-01T00:00:00Z'
        assert rows[0][4] == 'text/html'  # duplicate HTTP Content-Type: first wins

    def test_chunked_decode_with_extension(self):
        body = b'5;x=1\r\nhello\r\n7\r\n world!\r\n0\r\n\r\n'
        payload = (b'HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n'
                   b'Transfer-Encoding: chunked\r\n\r\n' + body)
        rows = W.warc_responses(rec(payload))
        assert rows[0][7] == 'hello world!' and rows[0][6] == 12

    def test_malformed_chunk_framing_falls_back_to_raw(self):
        payload = (b'HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n'
                   b'ZZZ\r\nnot-a-chunk')
        rows = W.warc_responses(rec(payload))
        assert rows[0][7] == 'ZZZ\r\nnot-a-chunk'

    @pytest.mark.parametrize('ctype,charset', [
        ('text/html; charset=ISO-8859-1', 'iso8859-1'),
        ('text/html; charset="UTF-8"', 'utf-8'),
        ('text/html; charset=x-no-such-charset', 'utf-8'),
        ('text/HTML', 'utf-8'),
        ('', 'utf-8'),
    ])
    def test_charset_resolution(self, ctype, charset):
        rows = W.warc_responses(rec(http(b'ab', ctype=ctype)))
        assert rows[0][5] == charset
        assert rows[0][4] == ('text/html' if ctype else '')

    def test_mojibake_is_deterministic(self):
        body = 'héllo'.encode('utf-8')
        rows = W.warc_responses(rec(http(body, ctype='text/plain; charset=ISO-8859-1')))
        assert rows[0][7] == body.decode('iso8859-1')

    def test_resync_past_missing_content_length(self):
        bad = b'WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://b.example/\r\n\r\n'
        rows = W.warc_responses(bad + rec(http(b'ok')))
        assert len(rows) == 1 and rows[0][7] == 'ok'

    def test_truncated_tail_drops_and_stops(self):
        full = rec(http(b'A' * 400))
        truncated = full[:len(full) - 250]
        rows = W.warc_responses(rec(http(b'first')) + truncated)
        assert len(rows) == 1 and rows[0][7] == 'first'

    def test_unparseable_status_line_drops_record(self):
        rows = W.warc_responses(rec(b'NOT-HTTP nonsense\r\n\r\nbody') + rec(http(b'ok')))
        assert len(rows) == 1 and rows[0][7] == 'ok'

    def test_gzip_members_and_trailing_garbage(self):
        members = [gzip.compress(rec(http(b'one')), mtime=0),
                   gzip.compress(rec(http(b'two')), mtime=0)]
        data = b''.join(members) + b'not gzip trailing junk'
        rows = W.warc_responses(data)
        assert [r[7] for r in rows] == ['one', 'two']

    def test_whole_file_gzip_and_plain_agree(self):
        plain = rec(http(b'one')) + rec(http(b'two'))
        assert W.warc_responses(plain) == W.warc_responses(gzip.compress(plain, mtime=0))

    @pytest.mark.parametrize('enc,codec', [
        ('gzip', lambda b: gzip.compress(b, mtime=0)),
        ('x-gzip', lambda b: gzip.compress(b, mtime=0)),
        ('deflate', lambda b: __import__('zlib').compress(b)),
        ('deflate', lambda b: __import__('zlib').compress(b)[2:-4]),  # raw form
    ])
    def test_content_encoding_decoded(self, enc, codec):
        body = codec(b'payload text here')
        rows = W.warc_responses(rec(http(body, extra=f'Content-Encoding: {enc}\r\n')))
        assert rows[0][7] == 'payload text here' and rows[0][6] == 17

    def test_content_encoding_garbage_and_unknown_stay_raw(self):
        rows = W.warc_responses(
            rec(http(b'notgzip', extra='Content-Encoding: gzip\r\n'))
            + rec(http(b'brdata', extra='Content-Encoding: br\r\n')))
        assert rows[0][7] == 'notgzip' and rows[1][7] == 'brdata'

    def test_chunked_wraps_content_encoding(self):
        inner = gzip.compress(b'chunked and gzipped', mtime=0)
        payload = (b'HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n'
                   b'Transfer-Encoding: chunked\r\n\r\n' + _chunk_bytes(inner))
        rows = W.warc_responses(rec(payload))
        assert rows[0][7] == 'chunked and gzipped'

    def test_status_rotation_rows_survive(self):
        rows = W.warc_responses(
            rec(http(b'gone', status='404 Not Found'))
            + rec(http(b'moved', status='301 Moved Permanently',
                       extra='Location: https://new.example/\r\n')))
        assert [(r[0], r[3]) for r in rows] == [(0, 404), (1, 301)]


class TestDifferential:
    def test_engine_equals_twin_on_corpus(self):
        n = 60
        n_files = (n + corpus.DOCS_PER_WARC - 1) // corpus.DOCS_PER_WARC
        total = 0
        for f in range(n_files):
            data = corpus.warc_file_bytes(f, n)
            a = W.warc_responses(data)
            assert a == warc_responses_seq(data), f'file {f} diverges'
            assert a, f'file {f} emitted nothing'
            total += len(a)
        assert total == n  # every doc yields exactly one response record

    def test_corpus_rotations_are_all_present(self):
        n = 60
        n_files = (n + corpus.DOCS_PER_WARC - 1) // corpus.DOCS_PER_WARC
        rows = [r for f in range(n_files)
                for r in W.warc_responses(corpus.warc_file_bytes(f, n))]
        statuses = {r[3] for r in rows}
        charsets = {r[5] for r in rows}
        assert {200, 301, 404} <= statuses
        assert {'utf-8', 'iso8859-1'} <= charsets
        assert any(r[4] == '' for r in rows)  # absent content-type
        exts = {corpus.warc_file_name(f).rsplit('.', 1)[-1] for f in range(n_files)}
        assert exts == {'gz', 'warc'}


class TestCdx:
    def test_plain_file_extents_and_seek(self):
        data = rec(http(b'one')) + rec(http(b'two'), 'request') + rec(http(b'three'))
        cdx = W.warc_cdx(data)
        assert [(r[0], r[1], r[5]) for r in cdx] == [
            (0, 'response', True), (1, 'request', True), (2, 'response', True)]
        # extents tile the file exactly (trailer CRLFs included)
        assert cdx[0][3] == 0
        for a, b in zip(cdx, cdx[1:]):
            assert a[3] + a[4] == b[3]
        assert cdx[-1][3] + cdx[-1][4] == len(data)

    def test_member_per_record_is_addressable_by_compressed_extent(self):
        recs = [rec(http(b'one')), rec(http(b'two'))]
        members = [gzip.compress(r, mtime=0) for r in recs]
        data = b''.join(members)
        cdx = W.warc_cdx(data)
        assert [(r[3], r[4], r[5]) for r in cdx] == [
            (0, len(members[0]), True), (len(members[0]), len(members[1]), True)]
        for row, r in zip(cdx, recs):
            hdrs, payload = W.read_record_at(data, row[3], row[4], row[5])
            assert payload in r

    def test_whole_file_gzip_degrades_to_stream_offsets(self):
        plain = rec(http(b'one')) + rec(http(b'two'))
        data = gzip.compress(plain, mtime=0)
        cdx = W.warc_cdx(data)
        assert all(not r[5] for r in cdx)
        # offsets address the DECOMPRESSED stream and match the plain index
        assert [(r[3], r[4]) for r in cdx] == [(r[3], r[4]) for r in W.warc_cdx(plain)]
        hdrs, payload = W.read_record_at(data, cdx[1][3], cdx[1][4], cdx[1][5])
        assert payload.endswith(b'two')

    def test_multi_record_member_degrades(self):
        two = gzip.compress(rec(http(b'one')) + rec(http(b'two')), mtime=0)
        one = gzip.compress(rec(http(b'three')), mtime=0)
        cdx = W.warc_cdx(two + one)
        assert [r[5] for r in cdx] == [False, False, True]
        assert cdx[2][3] == len(two) and cdx[2][4] == len(one)

    def test_cdx_counts_all_types_and_skips_malformed(self):
        bad = b'WARC/1.0\r\nWARC-Type: response\r\n\r\n'
        data = rec(b'i', 'warcinfo') + bad + rec(http(b'ok'))
        cdx = W.warc_cdx(data)
        assert [r[1] for r in cdx] == ['warcinfo', 'response']

    def test_seek_read_roundtrip_whole_corpus(self):
        n = 60
        for f in range((n + corpus.DOCS_PER_WARC - 1) // corpus.DOCS_PER_WARC):
            data = corpus.warc_file_bytes(f, n)
            cdx = W.warc_cdx(data)
            full = list(W.iter_warc_records(data))
            assert len(cdx) == len(full)
            for row, (hdrs, payload) in zip(cdx, full):
                got = W.read_record_at(data, row[3], row[4], row[5])
                assert got == (hdrs, payload), (f, row)

    def test_cdx_engine_equals_twin_on_corpus(self):
        n = 60
        for f in range((n + corpus.DOCS_PER_WARC - 1) // corpus.DOCS_PER_WARC):
            data = corpus.warc_file_bytes(f, n)
            assert W.warc_cdx(data) == warc_cdx_seq(data), f'file {f} diverges'


class TestSoup:
    def test_mutation_soup_never_crashes_either_side(self):
        rng = random.Random(42)
        base = corpus.warc_file_bytes(2, 60)  # plain-mode file
        assert not base.startswith(b'\x1f\x8b')
        for _ in range(60):
            mutated = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                mutated[rng.randrange(len(mutated))] = rng.randrange(256)
            cut = bytes(mutated[:rng.randrange(1, len(mutated))])
            for payload in (bytes(mutated), cut):
                for fn in (W.warc_responses, warc_responses_seq,
                           W.warc_cdx, warc_cdx_seq):
                    rows = fn(payload)
                    assert isinstance(rows, list)

    def test_empty_and_garbage_inputs(self):
        for data in (b'', b'\r\n\r\n', b'garbage no records', b'WARC/1.0\r\n'):
            assert W.warc_responses(data) == []
            assert warc_responses_seq(data) == []


class TestWet:
    def test_wet_bytes_reparse_and_cdx_addressable(self):
        entries = [('https://h/a', '2020-01-01T00:00:00Z', 'text one'),
                   ('https://h/b', '2020-01-02T00:00:00Z', 'héllo ünïcode')]
        wet = W.build_wet(entries)
        recs = list(W.iter_warc_records(wet))
        assert recs[0][0].get('warc-type') == 'warcinfo'
        conv = [(h.get('warc-target-uri'), h.get('warc-date'),
                 p.decode('utf-8')) for h, p in recs[1:]]
        assert conv == entries
        # every record addressable by compressed member extent
        cdx = W.warc_cdx(wet)
        assert len(cdx) == 3 and all(r[5] for r in cdx)
        for row, (hdrs, payload) in zip(cdx, recs):
            assert W.read_record_at(wet, row[3], row[4], True) == (hdrs, payload)

    def test_wet_deterministic(self):
        e = [('https://h/a', 'd', 'x')]
        assert W.build_wet(e) == W.build_wet(e)

    def test_warc_to_wet_mirrors_gate(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.core import maincontent as mc
        from markdown_articles_tool_spark.sources.warc import (
            read_wet_records, warc_to_wet)

        n = 20
        tmp = str(tmp_path_factory.mktemp('wet') / 'files')
        corpus.warc_files_df(spark, n).write.parquet(tmp)
        wet = warc_to_wet(spark.read.parquet(tmp))
        back = {(r['file_name'], r['rec_ord']): (r['url'], r['text'])
                for r in read_wet_records(wet).collect()}
        exp = {}
        for f in range((n + corpus.DOCS_PER_WARC - 1) // corpus.DOCS_PER_WARC):
            wet_name = corpus.warc_file_name(f).rsplit('.warc', 1)[0] + '.warc.wet.gz'
            k = 0
            for rec_ in warc_responses_seq(corpus.warc_file_bytes(f, n)):
                if rec_[3] == 200 and rec_[4] == 'text/html':
                    blocks = mc.extract_blocks(rec_[7].encode('utf-8'))
                    exp[(wet_name, k)] = (rec_[1], mc.main_text(blocks))
                    k += 1
        assert back == exp and back


class TestWat:
    def test_wat_bytes_reparse_and_envelope(self):
        import json

        from markdown_articles_tool_spark.sources.warc import wat_payload_json

        j = wat_payload_json('https://h/a', '2020-01-01T00:00:00Z', 200,
                             'text/html',
                             '<html><head><title>T</title></head>'
                             '<body><a href="/x">anchor</a></body></html>')
        doc = json.loads(j)
        html = doc['envelope']['payload']['html']
        assert html['title'] == 'T'
        assert html['links'] == [{'href': '/x', 'abs_url': 'https://h/x',
                                  'anchor': 'anchor'}]
        # non-html responses carry no html block
        j404 = wat_payload_json('https://h/b', 'd', 404, 'text/html', 'nf')
        assert 'html' not in json.loads(j404)['envelope']['payload']
        wat = W.build_wat_records([('https://h/a', 'd', j)])
        recs = list(W.iter_warc_records(wat))
        assert recs[0][0].get('warc-type') == 'warcinfo'
        assert recs[1][0].get('warc-type') == 'metadata'
        assert recs[1][1] == j.encode('utf-8')
        assert all(r[5] for r in W.warc_cdx(wat))  # member-addressable

    def test_wat_derive_counts_all_responses(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.sources.warc import (
            read_wat_records, warc_to_wat)

        n = 20
        tmp = str(tmp_path_factory.mktemp('wat') / 'files')
        corpus.warc_files_df(spark, n).write.parquet(tmp)
        back = read_wat_records(warc_to_wat(spark.read.parquet(tmp))).collect()
        assert len(back) == n  # every response, 404/301 included
        assert any(r['n_links'] > 0 for r in back)
        assert any(r['n_links'] == 0 for r in back)  # the non-200s


class TestStreaming:
    def test_streaming_warc_native_and_delta_only(self, spark, tmp_path):
        """WARC ingestion runs as a NATIVE streaming transform:
        availableNow drains the backlog exactly once, a second start
        processes only newly-landed archives, and rows match the
        sequential twin byte-for-byte."""
        import os as _os

        from markdown_articles_tool_spark.streaming.incremental import (
            start_incremental_warc,
        )

        n = 20
        n_files = (n + corpus.DOCS_PER_WARC - 1) // corpus.DOCS_PER_WARC
        in_dir = str(tmp_path / 'in')
        out_dir = str(tmp_path / 'out')
        spark.createDataFrame(
            [(corpus.warc_file_name(f), bytearray(corpus.warc_file_bytes(f, n)))
             for f in range(n_files)], corpus.WARCS_SCHEMA
        ).write.mode('overwrite').parquet(in_dir)

        q = start_incremental_warc(spark, in_dir, out_dir)
        q.awaitTermination(240)
        got = spark.read.parquet(_os.path.join(out_dir, 'warc_responses'))
        rows = {(r['file_name'], r['rec_ord']):
                (r['url'], r['warc_date'], r['http_status'], r['mime'],
                 r['charset'], r['n_bytes'], r['text']) for r in got.collect()}
        assert len(rows) == n
        for f in range(n_files):
            for rec_ in warc_responses_seq(corpus.warc_file_bytes(f, n)):
                assert rows[(corpus.warc_file_name(f), rec_[0])] == rec_[1:], (f, rec_[0])

        # a new archive lands: only the delta is processed
        extra = [('crawl/extra.warc', bytearray(corpus.warc_file_bytes(0, n)))]
        spark.createDataFrame(extra, corpus.WARCS_SCHEMA) \
            .write.mode('append').parquet(in_dir)
        q2 = start_incremental_warc(spark, in_dir, out_dir)
        q2.awaitTermination(240)
        got2 = spark.read.parquet(_os.path.join(out_dir, 'warc_responses'))
        assert got2.count() == n + len(warc_responses_seq(corpus.warc_file_bytes(0, n)))


class TestSparkOperator:
    def test_operator_matches_twin_and_plan(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.sources.warc import read_warc_responses

        n = 20
        tmp = str(tmp_path_factory.mktemp('warcplan') / 'files')
        corpus.warc_files_df(spark, n).write.parquet(tmp)
        files = spark.read.parquet(tmp)
        df = read_warc_responses(files)
        got = sorted(tuple(r) for r in df.collect())
        exp = sorted(
            (corpus.warc_file_name(f), *rec_)
            for f in range((n + corpus.DOCS_PER_WARC - 1) // corpus.DOCS_PER_WARC)
            for rec_ in warc_responses_seq(corpus.warc_file_bytes(f, n))
        )
        assert got == exp

        jdf = df._jdf
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('formatted')
        plan_str = jdf.queryExecution().explainString(mode)
        scans = re.findall(r'ReadSchema: struct<([^>]*)>', plan_str)
        assert scans
        for cols in scans:
            names = {c.split(':')[0] for c in cols.split(',')}
            assert names == {'file_name', 'data'}, names
        assert 'MapInPandas' in plan_str
        assert 'Exchange' not in plan_str, 'warc read must not shuffle'

    def test_composition_matches_twin_and_no_shuffle(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.sources.warc import warc_main_content

        n = 20
        tmp = str(tmp_path_factory.mktemp('warcmc') / 'files')
        corpus.warc_files_df(spark, n).write.parquet(tmp)
        df = warc_main_content(spark.read.parquet(tmp))
        exp, _dropped = _twin_main_content(
            corpus.warc_file_bytes(f, n)
            for f in range((n + corpus.DOCS_PER_WARC - 1) // corpus.DOCS_PER_WARC))
        assert _main_content_rows(df) == exp
        assert exp  # the gate kept something

        jdf = df._jdf
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('formatted')
        plan_str = jdf.queryExecution().explainString(mode)
        # the record walk, the gate and the strip share ONE Python pass
        assert len(re.findall(r'\(\d+\) MapInPandas', plan_str)) == 1
        assert 'Exchange' not in plan_str, 'warc→main-content must not shuffle'

    def test_gate_drops_non_200_and_non_html_records(self, spark):
        """Records that fail the fetch-policy gate (non-200 status,
        non-HTML mime) never reach the strip; the kept pages equal the
        twin chain (record walk → gate → main-content kernel)."""
        from markdown_articles_tool_spark.sources.warc import warc_main_content

        page = ('<html><body><nav>home | about</nav><article><p>{} is the '
                'story of the day, told in words that a reader keeps.</p>'
                '</article><footer>(c) site</footer></body></html>')
        shapes = [(200, 'text/html'), (404, 'text/html'), (200, 'text/plain'),
                  (301, 'text/html'), (500, 'text/html'), (200, 'application/pdf'),
                  (200, 'application/xhtml+xml')]
        blobs = [
            W.build_warc([('response', f'https://gate.example/{f}/{k}', f'2024-01-0{f + 1}T00:00:00Z',
                           status, mime, page.format(f'page {f}-{k} é'), None, None)
                          for k, (status, mime) in enumerate(shapes)])
            for f in range(3)]
        files = spark.createDataFrame(
            [(f'gate-{f}.warc.gz', b) for f, b in enumerate(blobs)], 'file_name string, data binary')
        got = _main_content_rows(warc_main_content(files))
        exp, dropped = _twin_main_content(blobs)
        assert got == exp
        assert len(exp) == 3 and len(dropped) == 3 * (len(shapes) - 1)
        assert not {u for u, *_ in got} & set(dropped)


def _main_content_rows(df) -> list:
    """Sorted (url, main_sha, n_blocks, n_kept) of a main-content frame."""
    import hashlib

    return sorted((r['url'], hashlib.sha256(r['main_text'].encode()).hexdigest(),
                   r['n_blocks'], r['n_kept']) for r in df.collect())


def _twin_main_content(blobs):
    """The twin chain over archive blobs (record walk → 200 + text/html
    gate → main-content kernel): sorted (url, main_sha, n_blocks,
    n_kept) of the kept pages, and the urls of the gated-out records."""
    import hashlib

    from oracle_kernels import main_content_blocks, main_content_text

    kept, dropped = [], []
    for data in blobs:
        for rec_ in warc_responses_seq(data):
            if rec_[3] == 200 and rec_[4] == 'text/html':
                blocks = main_content_blocks(rec_[7].encode('utf-8'))
                kept.append((rec_[1],
                             hashlib.sha256(main_content_text(blocks).encode()).hexdigest(),
                             len(blocks), sum(1 for b in blocks if b[5])))
            else:
                dropped.append(rec_[1])
    return sorted(kept), dropped


class TestCdxSurt:
    """The surt column on the CDX index operator: engine string-munch
    vs urllib twin per row, and the corpus's messy metadata targets
    actually exercise the trap shapes."""

    def test_surt_column_matches_twin_per_row(self, spark, tmp_path_factory):
        from oracle_kernels import surt_key_seq
        from markdown_articles_tool_spark.sources.warc import read_warc_cdx

        n = 60
        tmp = str(tmp_path_factory.mktemp('cdxsurt') / 'files')
        corpus.warc_files_df(spark, n).write.parquet(tmp)
        rows = read_warc_cdx(spark.read.parquet(tmp)).collect()
        assert rows
        for r in rows:
            assert r['surt'] == surt_key_seq(r['url']), r['url']
        # warcinfo records carry no Target-URI → empty key
        assert all(r['surt'] == '' for r in rows if r['warc_type'] == 'warcinfo')
        # sorting by surt clusters one host's records adjacently even
        # though file order interleaves hosts (the mergeability point)
        keyed = sorted((r['surt'], r['url']) for r in rows if r['surt'])
        hosts = [k.split(')')[0] for k, _ in keyed]
        assert hosts == sorted(hosts)

    def test_messy_metadata_targets_cover_all_trap_shapes(self):
        from markdown_articles_tool_spark.core.wwwtools import surt_key

        seen = set()
        for i in range(6, 300, 8):  # the metadata-record doc indexes
            t = corpus._messy_target(i, corpus.doc_url(i))
            seen.add((i // 8) % 6)
            k = surt_key(t)
            if (i // 8) % 6 == 5:
                assert k.startswith('urn:uuid:')  # identity fallback
            elif (i // 8) % 6 == 4:
                assert k.startswith('192.168.')  # IPv4 not reversed
                assert ':8080)' in k
            else:
                assert k.startswith('example,site')  # reversed + www/port strip
                assert ':443' not in k and 'www' not in k
        assert seen == {0, 1, 2, 3, 4, 5}
        # variant 3 (fragment holds a '?') must not grow a query
        assert '?' not in surt_key(corpus._messy_target(30, corpus.doc_url(30)))


class TestCdxGlobalIndex:
    def test_global_rank_exact_and_partition_invariant(self, spark):
        import random

        from markdown_articles_tool_spark.training.util import global_rank

        rng = random.Random(9)
        rows = [(f'k{rng.randrange(40):02d}', i) for i in range(157)]
        want = {t: r for r, t in enumerate(sorted(rows), start=1)}
        for parts in (1, 4, 11):
            df = spark.createDataFrame(rows, 'k string, i long').repartition(parts)
            got = {(r['k'], r['i']): r['rank']
                   for r in global_rank(df, ['k', 'i']).collect()}
            assert got == want, parts

    def test_cdx_index_is_binary_searchable(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.sources.warc import read_warc_cdx
        from markdown_articles_tool_spark.training.util import global_rank

        n = 40
        tmp = str(tmp_path_factory.mktemp('cdxidx') / 'files')
        corpus.warc_files_df(spark, n).write.parquet(tmp)
        cdx = read_warc_cdx(spark.read.parquet(tmp)).select('surt', 'file_name', 'ord')
        rows = global_rank(cdx, ['surt', 'file_name', 'ord'], 'idx').collect()
        by_idx = sorted(rows, key=lambda r: r['idx'])
        # ranks are 1..n dense and the key sequence is non-decreasing —
        # exactly the property binary search over (surt, idx) needs
        assert [r['idx'] for r in by_idx] == list(range(1, len(rows) + 1))
        keys = [(r['surt'], r['file_name'], r['ord']) for r in by_idx]
        assert keys == sorted(keys)


class TestRevisit:
    """WARC-Type: revisit — the CC URL-agnostic-dedup record type:
    spec goldens, the engine-vs-independent-twin corpus differential,
    and resolution (Spark join + CDX seek-read roundtrip)."""

    def test_spec_goldens(self):
        extra = ('WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest\r\n'
                 'WARC-Refers-To-Target-URI: <https://orig.example/a>\r\n'
                 'WARC-Refers-To-Date: 2019-01-01T00:00:00Z\r\n')
        data = rec(b'HTTP/1.1 200 OK\r\nServer: s\r\n\r\n', 'revisit',
                   '<https://x.example/a>', extra)
        got = W.warc_revisits(data)
        assert got == [(0, 'https://x.example/a', '2020-01-01T00:00:00Z',
                        'http://netpreserve.org/warc/1.0/revisit/identical-payload-digest',
                        'https://orig.example/a', '2019-01-01T00:00:00Z', 200)]
        # unparseable payload: status 0, record KEPT (unlike responses)
        data2 = rec(b'not an http block', 'revisit', 'https://x.example/b', extra)
        got2 = W.warc_revisits(data2)
        assert len(got2) == 1 and got2[0][6] == 0
        # missing optional headers: empty strings
        data3 = rec(b'HTTP/1.1 304 Not Modified\r\n\r\n', 'revisit', 'https://x.example/c')
        got3 = W.warc_revisits(data3)
        assert got3 == [(0, 'https://x.example/c', '2020-01-01T00:00:00Z', '', '', '', 304)]
        # a response record is NOT a revisit
        assert W.warc_revisits(rec(b'HTTP/1.1 200 OK\r\n\r\nx')) == []

    def test_matches_twin_on_corpus(self):
        from oracle_kernels import warc_revisits_seq

        n = 120
        n_files = (n + corpus.DOCS_PER_WARC - 1) // corpus.DOCS_PER_WARC
        tot, n304, unresolved, bracketed = 0, 0, 0, 0
        for f in range(n_files):
            data = corpus.warc_file_bytes(f, n)
            got = W.warc_revisits(data)
            assert got == warc_revisits_seq(data), f
            tot += len(got)
            n304 += sum(1 for r in got if r[6] == 304)
            unresolved += sum(1 for r in got if 'gone.example' in r[4])
        assert tot and n304 and unresolved  # rotations all present
        assert 0 < n304 < tot and 0 < unresolved < tot

    def test_resolution_and_cdx_seek_roundtrip(self, spark):
        """resolve_revisits joins each revisit to its original across
        FILES; for an addressable original the CDX extent seek-read
        reparses to the same capture — the record-granular fetch a
        real revisit consumer performs."""
        from markdown_articles_tool_spark.sources.warc import (
            read_warc_cdx, read_warc_responses, read_warc_revisits,
            resolve_revisits)

        n = 120
        files = corpus.warc_files_df(spark, n)
        resolved = resolve_revisits(
            read_warc_revisits(files), read_warc_responses(files)).collect()
        assert resolved
        responses = {(r['url'], r['warc_date']): r
                     for r in read_warc_responses(files).collect()}
        hits = misses = 0
        for r in resolved:
            key = (r['refers_to_uri'], r['refers_to_date'])
            if key in responses:
                hits += 1
                assert r['orig_text'] == responses[key]['text']
                assert r['orig_n_bytes'] == responses[key]['n_bytes']
            else:
                misses += 1
                assert r['orig_text'] is None and r['orig_status'] is None
        assert hits and misses  # both join outcomes exercised
        # CDX seek-read: pick resolvable revisits whose original's
        # record extent is addressable; slice + reparse == direct row
        cdx = read_warc_cdx(files).collect()
        raw = {fn: corpus.warc_file_bytes(i, n)
               for i, fn in enumerate(sorted({c['file_name'] for c in cdx}))}
        by_url = {}
        for c in cdx:
            if c['warc_type'] == 'response' and c['addressable']:
                by_url.setdefault(c['url'], c)
        done = 0
        for r in resolved:
            c = by_url.get(r['refers_to_uri'])
            if c is None or r['orig_text'] is None:
                continue
            hdrs, payload = W.read_record_at(
                raw[c['file_name']], c['offset'], c['length'], True)
            assert hdrs.get('warc-type') == 'response'
            status, _hh, _body = W.parse_http_response(payload)
            assert status == r['orig_status']
            done += 1
            if done >= 5:
                break
        assert done


class TestDedupToRevisits:
    """The WRITER side of CC's URL-agnostic dedup: decision operator,
    byte writer, and the full write→reparse→resolve roundtrip."""

    def _both(self, spark, n=60):
        from markdown_articles_tool_spark.sources.warc import read_warc_responses
        from pyspark.sql import functions as F

        files = corpus.warc_files_df(spark, n)
        resp = read_warc_responses(files)
        refetch = resp.withColumn(
            'warc_date', F.concat(F.lit('2021'), F.substring('warc_date', 5, 1000)))
        return resp, resp.unionByName(refetch)

    def test_decision_and_partition_invariance(self, spark):
        from markdown_articles_tool_spark.sources.warc import dedup_to_revisits

        resp, both = self._both(spark)
        out = dedup_to_revisits(both).collect()
        n_resp = resp.count()
        winners = [r for r in out if r['kind'] == 'response']
        revisits = [r for r in out if r['kind'] == 'revisit']
        assert len(out) == 2 * n_resp
        assert len(revisits) >= n_resp  # every refetch demotes (+ in-2020 dups)
        by_key = {(r['url'], r['warc_date']): r for r in out}
        for r in revisits:
            w = by_key[(r['refers_to_uri'], r['refers_to_date'])]
            assert w['kind'] == 'response'
            assert w['payload_sha'] == r['payload_sha']
            assert (w['warc_date'], w['url']) <= (r['warc_date'], r['url'])
        for r in winners:
            assert r['refers_to_uri'] is None and r['refers_to_date'] is None
        # partition-invariant (total-order winner)
        again = dedup_to_revisits(
            self._both(spark)[1].repartition(13)).collect()
        key = lambda r: (r['url'], r['warc_date'], r['kind'])
        assert sorted(map(key, again)) == sorted(map(key, out))

    def test_no_window_in_plan(self, spark):
        from markdown_articles_tool_spark.sources.warc import dedup_to_revisits

        _resp, both = self._both(spark)
        plan = dedup_to_revisits(both)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('formatted'))
        assert 'Window' not in plan  # winner = agg + join, never a window
        assert 'partial_min' in plan  # map-side combined winner selection

    def test_write_reparse_resolve_roundtrip(self, spark):
        """write_dedup_warc bytes reparse to the same record set, and
        resolve_revisits restores every demoted capture's exact
        text — the complete dedup→publish→read cycle."""
        from markdown_articles_tool_spark.sources.warc import (
            dedup_to_revisits, read_warc_responses, read_warc_revisits,
            resolve_revisits, write_dedup_warc)

        resp, both = self._both(spark)
        deduped = dedup_to_revisits(both)
        archives = write_dedup_warc(deduped, out_files=4)
        rows = archives.collect()
        assert 1 <= len(rows) <= 4
        assert sum(r['n_records'] for r in rows) == deduped.count()
        arch_df = spark.createDataFrame(
            [(r['file_name'], r['data']) for r in rows], 'file_name string, data binary')
        # responses in the new archive = the winner set, text intact
        reread = {(r['url'], r['warc_date']): r
                  for r in read_warc_responses(arch_df).collect()}
        originals = {(r['url'], r['warc_date']): r for r in
                     deduped.where("kind = 'response'").collect()}
        assert set(reread) == set(originals)
        for k, r in reread.items():
            assert r['text'] == originals[k]['text']
            assert r['http_status'] == originals[k]['http_status']
            assert r['mime'] == originals[k]['mime']
        # revisits resolve back to the exact demoted text
        resolved = resolve_revisits(
            read_warc_revisits(arch_df), read_warc_responses(arch_df)).collect()
        demoted = {(r['url'], r['warc_date']): r for r in
                   deduped.where("kind = 'revisit'").collect()}
        assert len(resolved) == len(demoted)
        for r in resolved:
            want = demoted[(r['url'], r['warc_date'])]
            assert r['orig_text'] == want['text']  # restored through the pointer
        # and the archives are CDX-addressable like any CC file
        from markdown_articles_tool_spark.sources.warc import read_warc_cdx
        cdx = read_warc_cdx(arch_df)
        assert cdx.where('NOT addressable').count() == 0


class TestCdxShardedIndex:
    def test_write_prune_lookup_roundtrip(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.sources.cdxindex import (
            covering_shards, lookup_surt, write_cdx_index,
        )
        from markdown_articles_tool_spark.sources.warc import read_warc_cdx

        n = 60
        tmp = str(tmp_path_factory.mktemp('cdxshard') / 'files')
        corpus.warc_files_df(spark, n).write.parquet(tmp)
        cdx = read_warc_cdx(spark.read.parquet(tmp))
        path = str(tmp_path_factory.mktemp('cdxshard') / 'index')
        write_cdx_index(cdx, path, n_shards=4)

        import glob
        shard_files = glob.glob(f'{path}/shards/*.parquet')
        bounds = spark.read.parquet(f'{path}/_boundaries').collect()
        assert len(bounds) == len(shard_files) >= 2  # one row per shard

        full = cdx.collect()
        keys = sorted({r['surt'] for r in full if r['surt']})
        # a middle key is covered by exactly ONE shard (the prune), and
        # the pruned lookup equals the full-scan filter — for EVERY key
        mid = keys[len(keys) // 2]
        assert len(covering_shards(spark, path, mid)) == 1
        for key in keys[:: max(1, len(keys) // 20)]:
            got = sorted((r['surt'], r['file_name'], r['ord'])
                         for r in lookup_surt(spark, path, key).collect())
            want = sorted((r['surt'], r['file_name'], r['ord'])
                          for r in full if r['surt'] == key)
            assert got == want, key
        # a key outside every range: no shard touched, empty result
        assert covering_shards(spark, path, '￿') == []
        assert lookup_surt(spark, path, '￿').count() == 0

    def test_shards_are_globally_sorted(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.sources.cdxindex import write_cdx_index
        from markdown_articles_tool_spark.sources.warc import read_warc_cdx

        n = 40
        tmp = str(tmp_path_factory.mktemp('cdxsort') / 'files')
        corpus.warc_files_df(spark, n).write.parquet(tmp)
        path = str(tmp_path_factory.mktemp('cdxsort') / 'index')
        write_cdx_index(read_warc_cdx(spark.read.parquet(tmp)), path, n_shards=3)
        bounds = sorted((r['lo'], r['hi']) for r in
                        spark.read.parquet(f'{path}/_boundaries').collect())
        # shard ranges are disjoint and ordered: hi(i) <= lo(i+1)
        for (l1, h1), (l2, h2) in zip(bounds, bounds[1:]):
            assert l1 <= h1 <= l2 <= h2

    def _build(self, spark, tmp_path_factory, n=60, n_shards=4):
        from markdown_articles_tool_spark.sources.cdxindex import write_cdx_index
        from markdown_articles_tool_spark.sources.warc import read_warc_cdx

        tmp = str(tmp_path_factory.mktemp('cdxb') / 'files')
        corpus.warc_files_df(spark, n).write.parquet(tmp)
        cdx = read_warc_cdx(spark.read.parquet(tmp))
        path = str(tmp_path_factory.mktemp('cdxb') / 'index')
        write_cdx_index(cdx, path, n_shards=n_shards)
        return path, cdx.collect()

    def test_index_is_relocatable(self, spark, tmp_path_factory):
        """_boundaries stores basenames: after MOVING the whole index
        directory (the normal fate of a published artifact), lookups
        against the new path still work."""
        import shutil

        from markdown_articles_tool_spark.sources.cdxindex import lookup_surt

        path, full = self._build(spark, tmp_path_factory)
        moved = str(tmp_path_factory.mktemp('cdxmoved') / 'relocated')
        shutil.move(path, moved)
        keys = sorted({r['surt'] for r in full if r['surt']})
        key = keys[len(keys) // 3]
        got = sorted((r['surt'], r['file_name'], r['ord'])
                     for r in lookup_surt(spark, moved, key).collect())
        want = sorted((r['surt'], r['file_name'], r['ord'])
                      for r in full if r['surt'] == key)
        assert got == want and got

    def test_batch_lookup_one_scan(self, spark, tmp_path_factory):
        """lookup_surts == union of point lookups, through ONE read of
        the covering-shard union (no per-key jobs)."""
        from markdown_articles_tool_spark.sources.cdxindex import (
            covering_shards, lookup_surt, lookup_surts)

        path, full = self._build(spark, tmp_path_factory)
        keys = sorted({r['surt'] for r in full if r['surt']})
        picked = keys[::7] + ['￿-missing']
        got = sorted((r['surt'], r['file_name'], r['ord'])
                     for r in lookup_surts(spark, path, picked).collect())
        want = sorted(
            (r['surt'], r['file_name'], r['ord'])
            for k in picked
            for r in lookup_surt(spark, path, k).collect())
        assert got == want and got
        # the scan reads exactly the union of covering shards
        out = lookup_surts(spark, path, picked)
        files_in_plan = {f for f in out.inputFiles()}
        union = {f for k in picked for f in covering_shards(spark, path, k)}
        assert {f.split('/')[-1] for f in files_in_plan} == \
            {f.split('/')[-1] for f in union}
        assert lookup_surts(spark, path, []).count() == 0

    def test_prefix_lookup_and_pruning(self, spark, tmp_path_factory):
        """lookup_prefix == full-scan startswith filter; a prefix whose
        key range spans exactly two shards touches exactly those two;
        an out-of-range prefix touches nothing."""
        from markdown_articles_tool_spark.sources.cdxindex import (
            covering_shards_prefix, lookup_prefix)

        path, full = self._build(spark, tmp_path_factory, n=60, n_shards=6)
        bounds = sorted(
            (r['lo'], r['hi'], r['shard']) for r in
            spark.read.parquet(f'{path}/_boundaries').collect())
        # every site-host prefix matches the flat filter
        prefixes = sorted({r['surt'].split(')')[0] + ')' for r in full
                           if r['surt'] and ')' in r['surt']})
        for p in prefixes:
            got = sorted((r['surt'], r['file_name'], r['ord'])
                         for r in lookup_prefix(spark, path, p).collect())
            want = sorted((r['surt'], r['file_name'], r['ord'])
                          for r in full if r['surt'].startswith(p))
            assert got == want, p
            assert got
        # construct a prefix spanning EXACTLY two adjacent shards: the
        # common prefix of (hi of shard i, lo of shard i+1) extended to
        # hi's next char — i.e. use hi(i)'s first char run shared with
        # lo(i+1); simplest robust pick: a prefix equal to the shared
        # leading run of hi(i) and lo(i+1) IF that run is non-empty and
        # longer than every other shard's overlap.  Cheaper and exact:
        # prefix = hi(i) itself truncated to where it still prefixes
        # lo(i+1)?  Instead pin the CONTRACT: the pruned set equals the
        # brute-force interval-overlap set for every tested prefix.
        for p in prefixes + [b[0][:4] for b in bounds] + ['￿']:
            pruned = {f.split('/')[-1] for f in covering_shards_prefix(spark, path, p)}
            brute = {shard for lo, hi, shard in bounds if lo[:len(p)] <= p <= hi}
            assert pruned == brute, p
        assert covering_shards_prefix(spark, path, '￿') == []
        assert lookup_prefix(spark, path, '￿').count() == 0
        # and at least one corpus prefix genuinely spans >= 2 shards
        # while excluding >= 1 (the pruning is non-vacuous)
        n_shards = len(bounds)
        spans = [len(covering_shards_prefix(spark, path, p)) for p in prefixes]
        assert any(1 < s < n_shards for s in spans) or any(
            s == 1 for s in spans), spans

    def test_host_and_domain_prefix_helpers(self):
        from markdown_articles_tool_spark.sources.cdxindex import (
            domain_prefix, host_prefix)

        assert host_prefix('HTTPS://WWW.Site1.Example:443/x?b=2') == 'example,site1)'
        assert domain_prefix('https://site1.example/x') == 'example,site1'
        # domain prefix also catches subdomains after SURT reversal
        assert host_prefix('http://api.site1.example/') == 'example,site1,api)'
        assert domain_prefix('http://api.site1.example/').startswith('example,site1')


class TestCdxClosest:
    """lookup_closest — wayback `closest` matchType over the sharded
    index (distance on the numeric 14-digit timestamp form, ties to
    the earlier capture)."""

    def _build(self, spark, tmp_path_factory, n=60, n_shards=4):
        from markdown_articles_tool_spark.sources.cdxindex import write_cdx_index
        from markdown_articles_tool_spark.sources.warc import read_warc_cdx

        tmp = str(tmp_path_factory.mktemp('cdxc') / 'files')
        corpus.warc_files_df(spark, n).write.parquet(tmp)
        cdx = read_warc_cdx(spark.read.parquet(tmp))
        path = str(tmp_path_factory.mktemp('cdxc') / 'index')
        write_cdx_index(cdx, path, n_shards=n_shards)
        return path, cdx.collect()

    @staticmethod
    def _ts14(iso):
        return int(iso.replace('-', '').replace(':', '')
                   .replace('T', '').replace('Z', ''))

    def _brute(self, full, url, q_ts):
        from markdown_articles_tool_spark.core.wwwtools import surt_key

        key = surt_key(url)
        caps = [r for r in full
                if r['surt'] == key and r['warc_type'] in ('response', 'revisit')]
        if not caps:
            return None
        return min(caps, key=lambda r: (abs(self._ts14(r['warc_date']) - q_ts),
                                        self._ts14(r['warc_date']),
                                        r['file_name'], r['ord']))

    def test_matches_brute_force_for_every_capture_url(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.sources.cdxindex import lookup_closest

        path, full = self._build(spark, tmp_path_factory)
        urls = sorted({r['url'] for r in full if r['warc_type'] == 'response'})
        urls = urls[:: max(1, len(urls) // 12)]
        for q_ts in (20150101000000, 20200913122650, 20990101000000):
            queries = [(u, q_ts) for u in urls]
            got = {(r['surt'], r['q_ts']): (r['file_name'], r['ord'], r['warc_date'])
                   for r in lookup_closest(spark, path, queries).collect()}
            for u in urls:
                w = self._brute(full, u, q_ts)
                k = (w['surt'], q_ts)
                assert got[k] == (w['file_name'], w['ord'], w['warc_date']), (u, q_ts)

    def test_revisit_beats_response_when_nearer(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.corpus import doc_url
        from markdown_articles_tool_spark.sources.cdxindex import lookup_closest

        path, full = self._build(spark, tmp_path_factory)
        # doc_url(0) is recaptured as a revisit 5s after its response
        # (corpus revisit rotation i=5): a far-future query must pick
        # the revisit, an exact-response-ts query the response
        rows = lookup_closest(
            spark, path,
            [(doc_url(0), 20990101000000)],
        ).collect()
        assert len(rows) == 1 and rows[0]['warc_date'] == '2020-09-13T12:26:45Z'
        rows = lookup_closest(spark, path, [(doc_url(0), 20200913122640)]).collect()
        assert rows[0]['warc_date'] == '2020-09-13T12:26:40Z'
        assert rows[0]['ts_diff'] == 0

    def test_messy_spelling_collapses_to_same_captures(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.corpus import doc_url
        from markdown_articles_tool_spark.sources.cdxindex import lookup_closest

        path, _ = self._build(spark, tmp_path_factory)
        clean = doc_url(0)
        host_path = clean.split('://', 1)[1]
        host, _, tail = host_path.partition('/')
        messy = f'HTTPS://WWW.{host.upper()}:443/{tail}'
        a = lookup_closest(spark, path, [(clean, 20200913122642)]).collect()
        b = lookup_closest(spark, path, [(messy, 20200913122642)]).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_one_job_aggregation_not_window(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.corpus import doc_url
        from markdown_articles_tool_spark.sources.cdxindex import lookup_closest

        path, _ = self._build(spark, tmp_path_factory)
        df = lookup_closest(
            spark, path,
            [(doc_url(i), 20200913122650) for i in range(10)],
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert 'Window' not in plan
        assert 'partial_min' in plan       # map-side combined winner
        assert 'BroadcastHashJoin' in plan  # query set broadcast

    def test_no_capture_url_returns_no_row(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.sources.cdxindex import lookup_closest

        path, _ = self._build(spark, tmp_path_factory)
        out = lookup_closest(
            spark, path, [('https://never-crawled.example/x', 20200101000000)]
        ).collect()
        assert out == []


class TestRedirects:
    """warc_redirects walker + training/redirects chain resolution."""

    def test_walker_engine_equals_twin_all_rotations(self):
        from markdown_articles_tool_spark.core.warc import warc_redirects

        from oracle_kernels import warc_redirects_seq

        total = 0
        for f in range(12):
            data = corpus.warc_file_bytes(f, 120)
            assert warc_redirects(data) == warc_redirects_seq(data), f
            total += len(warc_redirects(data))
        assert total >= 9  # n=120 corpus plants 17 redirects, 9 in files 0-11

    def _chains(self, spark, edges, resp_rows, max_hops=4):
        from markdown_articles_tool_spark.training.redirects import (
            resolve_redirect_chains)

        red = spark.createDataFrame(
            [(u, 301, loc) for u, loc in edges],
            'url string, http_status int, location string')
        resp = spark.createDataFrame(
            resp_rows, 'url string, http_status int')
        rows = resolve_redirect_chains(red, resp, max_hops=max_hops).collect()
        return {r['url']: (r['final_url'], r['hops'], r['state'],
                           r['final_status']) for r in rows}

    def test_golden_states(self, spark):
        h = 'https://h.example'
        out = self._chains(
            spark,
            edges=[
                (f'{h}/a', f'{h}/b'),       # a -> b -> c(200): 2 hops ok
                (f'{h}/b', f'{h}/c'),
                (f'{h}/self', f'{h}/self'),  # immediate self-loop
                (f'{h}/into', f'{h}/self'),  # hop INTO the self-loop
                (f'{h}/gone', f'{h}/nowhere'),   # dangling
                (f'{h}/dead', ''),               # dead redirect, no target
                (f'{h}/todead', f'{h}/dead'),    # lands on the dead redirect
                (f'{h}/rel', 'sub/page.html'),   # relative resolution
            ],
            resp_rows=[
                (f'{h}/c', 200),
                (f'{h}/a', 301), (f'{h}/b', 301), (f'{h}/self', 301),
                (f'{h}/into', 301), (f'{h}/gone', 301), (f'{h}/dead', 301),
                (f'{h}/todead', 301), (f'{h}/rel', 301),
            ],
        )
        assert out[f'{h}/a'] == (f'{h}/c', 2, 'ok', 200)
        assert out[f'{h}/b'] == (f'{h}/c', 1, 'ok', 200)
        assert out[f'{h}/self'] == (f'{h}/self', 1, 'loop', None)
        assert out[f'{h}/into'] == (f'{h}/self', 2, 'loop', None)
        assert out[f'{h}/gone'] == (f'{h}/nowhere', 1, 'dangling', None)
        assert out[f'{h}/dead'] == (None, 0, 'dead_redirect', None)
        assert out[f'{h}/todead'] == (f'{h}/dead', 1, 'dead_redirect', None)
        assert out[f'{h}/rel'] == (f'{h}/sub/page.html', 1, 'dangling', None)

    def test_truncated_at_hop_cap_and_two_cycle(self, spark):
        h = 'https://h.example'
        # a 6-deep ladder under max_hops=4 + an A<->B two-cycle (longer
        # cycles classify truncated by the bounded-follow rule)
        edges = [(f'{h}/p{i}', f'{h}/p{i+1}') for i in range(6)]
        edges += [(f'{h}/x', f'{h}/y'), (f'{h}/y', f'{h}/x')]
        resp = [(f'{h}/p6', 200)] + [
            (u, 301) for u, _ in edges
        ]
        out = self._chains(spark, edges, resp, max_hops=4)
        assert out[f'{h}/p0'] == (f'{h}/p4', 4, 'truncated', None)
        assert out[f'{h}/p2'] == (f'{h}/p6', 4, 'ok', 200)
        assert out[f'{h}/x'] == (f'{h}/x', 4, 'truncated', None)
        # raising the cap resolves the ladder
        out8 = self._chains(spark, edges, resp, max_hops=8)
        assert out8[f'{h}/p0'] == (f'{h}/p6', 6, 'ok', 200)

    def test_plan_no_window_bounded_joins(self, spark):
        from markdown_articles_tool_spark.corpus import warc_files_df
        from markdown_articles_tool_spark.sources.warc import (
            read_warc_redirects, read_warc_responses)
        from markdown_articles_tool_spark.training.redirects import (
            resolve_redirect_chains)

        files = warc_files_df(spark, 40)
        df = resolve_redirect_chains(
            read_warc_redirects(files), read_warc_responses(files))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert 'Window' not in plan
        assert 'CartesianProduct' not in plan


class TestCdxMerge:
    def test_merged_index_equals_from_scratch_union(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.sources.cdxindex import (
            lookup_prefix, merge_cdx_indexes, write_cdx_index)
        from markdown_articles_tool_spark.sources.warc import read_warc_cdx

        base = tmp_path_factory.mktemp('cdxmerge')
        # two "crawls": files 0..5 and 6..11 of the n=120 corpus
        tmp = str(base / 'files')
        corpus.warc_files_df(spark, 120).write.parquet(tmp)
        files = spark.read.parquet(tmp)
        half_a = files.where("file_name < 'crawl/00006'")
        half_b = files.where("file_name >= 'crawl/00006'")
        pa_, pb, pm, pf = (str(base / x) for x in ('a', 'b', 'merged', 'full'))
        write_cdx_index(read_warc_cdx(half_a), pa_, n_shards=3)
        write_cdx_index(read_warc_cdx(half_b), pb, n_shards=3)
        merge_cdx_indexes(spark, [pa_, pb], pm, n_shards=4)
        write_cdx_index(read_warc_cdx(files), pf, n_shards=4)

        key = lambda r: (r['surt'], r['file_name'], r['ord'])
        got = sorted(map(key, spark.read.parquet(f'{pm}/shards').collect()))
        want = sorted(map(key, spark.read.parquet(f'{pf}/shards').collect()))
        assert got == want
        # and the merged boundary table serves a host query identically
        m = sorted(map(key, lookup_prefix(spark, pm, 'example,site1)').collect()))
        f = sorted(map(key, lookup_prefix(spark, pf, 'example,site1)').collect()))
        assert m == f and len(m) > 0


class TestCdxQueryDispatch:
    def test_all_match_types_route_correctly(self, spark, tmp_path_factory):
        import pytest as _pytest

        from markdown_articles_tool_spark.core.wwwtools import surt_key
        from markdown_articles_tool_spark.corpus import doc_url
        from markdown_articles_tool_spark.sources.cdxindex import (
            cdx_query, domain_prefix, host_prefix, lookup_closest,
            lookup_prefix, lookup_surt, write_cdx_index)
        from markdown_articles_tool_spark.sources.warc import read_warc_cdx

        tmp = str(tmp_path_factory.mktemp('cdxq') / 'files')
        corpus.warc_files_df(spark, 60).write.parquet(tmp)
        path = str(tmp_path_factory.mktemp('cdxq') / 'index')
        write_cdx_index(read_warc_cdx(spark.read.parquet(tmp)), path, n_shards=4)

        u = doc_url(0)
        key = lambda r: (r['surt'], r['file_name'], r['ord'])
        assert (sorted(map(key, cdx_query(spark, path, u).collect()))
                == sorted(map(key, lookup_surt(spark, path, surt_key(u)).collect())))
        assert (sorted(map(key, cdx_query(spark, path, u, 'host').collect()))
                == sorted(map(key, lookup_prefix(spark, path, host_prefix(u)).collect())))
        assert (sorted(map(key, cdx_query(spark, path, u, 'domain').collect()))
                == sorted(map(key, lookup_prefix(spark, path, domain_prefix(u)).collect())))
        got = cdx_query(spark, path, u, 'closest', ts=20200913122640).collect()
        want = lookup_closest(spark, path, [(u, 20200913122640)]).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        with _pytest.raises(ValueError):
            cdx_query(spark, path, u, 'closest')
        with _pytest.raises(ValueError):
            cdx_query(spark, path, u, 'regex')

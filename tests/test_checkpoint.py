"""Resume semantics: kill-after-k-shards restart must produce
byte-identical final tables and skip completed shards (SURVEY.md §5
rebuild test plan, point e) — and a sharded/resumed run must be
byte-identical to a NON-sharded global run, including cross-shard
content-dedup winners (r01 DIVERGENCES #12, now closed)."""

import os

import pytest
from pyspark.sql import functions as F

from markdown_articles_tool_spark import corpus
from markdown_articles_tool_spark.checkpoint import (
    lineage,
    lineage_df,
    pass_lineage,
    read_images,
    read_output,
    run_with_resume,
)
from markdown_articles_tool_spark.core.linkflow import DedupVariant, TransformConfig
from markdown_articles_tool_spark.io_sinks import ParquetMarkerSink, TableSink
from markdown_articles_tool_spark.pipeline import transform_documents


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(corpus.docs_list(24), 'url string, text string')


def _texts(spark, out):
    return {r['url']: r['text_out'] for r in read_output(spark, out).collect()}


def _images(spark, out):
    return {r['real_path']: bytes(r['content']) for r in read_images(spark, out).collect()}


# a chained md+html run with dedup state shared across its passes
MULTI_PASS_CFG = TransformConfig(
    skip_all_errors=True, input_formats=('md', 'html'), deduplication=DedupVariant.CONTENT_HASH,
)


def test_full_run_then_resume_noop(spark, docs, tmp_path):
    out = str(tmp_path / 'out')
    cfg = TransformConfig(skip_all_errors=True)
    rep1 = run_with_resume(spark, docs, cfg, out, n_shards=4)
    assert sorted(rep1.shards_run) == [0, 1, 2, 3]
    texts1 = _texts(spark, out)

    rep2 = run_with_resume(spark, docs, cfg, out, n_shards=4)
    assert rep2.shards_run == []
    assert sorted(rep2.shards_skipped) == [0, 1, 2, 3]
    assert _texts(spark, out) == texts1


def _run_counters():
    import sys as _sys

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), '..', 'tools'))
    from run_cost import counters, delta

    return counters, delta


def test_one_pass_run_cost(spark, docs, tmp_path):
    """A one-pass 4-shard run (one wave) starts 4 SQL executions: the
    wave's links and fetched staging writes (lineage rides on the scan
    and the links write) and the pass's docs and images writes.  It
    stages no images (phase B writes the final table) and no dedup
    registrations (no later pass reads them)."""
    counters, delta = _run_counters()
    out = tmp_path / 'out'
    cfg = TransformConfig(skip_all_errors=True, deduplication=DedupVariant.CONTENT_HASH)
    c0 = counters(spark)
    run_with_resume(spark, docs, cfg, str(out), n_shards=4)
    assert delta(c0, counters(spark))['sql_executions'] == 4
    for staged in ('images', 'registrations'):
        assert not os.path.exists(out / 'stage' / 'pass=0' / staged)


def test_multi_pass_run_stages_no_last_pass_output(spark, docs, tmp_path):
    """Only a non-last pass stages its images and dedup registrations
    (the next pass reads them); the last pass writes the final images
    itself and leaves nothing under its own stage."""
    out = tmp_path / 'out'
    run_with_resume(spark, docs, MULTI_PASS_CFG, str(out), n_shards=3)
    for staged in ('images', 'registrations'):
        assert os.path.exists(out / 'stage' / 'pass=0' / staged)
        assert not os.path.exists(out / 'stage' / 'pass=1' / staged)


def test_warm_run_compiles_no_class(spark, docs, tmp_path):
    """The session's codegen cache holds every class a sharded run
    generates, so warm runs compile none.  Phase B's dedup-winner join
    is planned by AQE as the shuffle stages finish, and each order of
    finishing yields its own classes, so a warm run may still meet a
    new variant: allow a few warm runs to see them all, none of which
    compiles more than a handful.  (At Spark's default cap of 100
    entries every warm run recompiled 75-91 of about 116 classes.)"""
    counters, delta = _run_counters()
    cfg = TransformConfig(skip_all_errors=True, deduplication=DedupVariant.CONTENT_HASH)

    def compiles(run: int) -> int:
        c0 = counters(spark)
        run_with_resume(spark, docs, cfg, str(tmp_path / f'run{run}'), n_shards=4)
        return delta(c0, counters(spark))['janino_compiles']

    compiles(0)  # cold, unless an earlier test ran the same plans
    warm = []
    while len(warm) < 3 and (not warm or warm[-1] > 0):
        warm.append(compiles(len(warm) + 1))
    assert warm[-1] == 0 and max(warm) <= 10, warm


def test_crash_and_resume_byte_identical(spark, docs, tmp_path):
    out_a = str(tmp_path / 'a')
    out_b = str(tmp_path / 'b')
    cfg = TransformConfig(skip_all_errors=True)

    # uninterrupted run
    run_with_resume(spark, docs, cfg, out_a, n_shards=4)

    # "crashed" runs, each from a complete output: the markers a crash
    # leaves missing (markers are written last) -> the shards it re-runs
    crashes = [
        # dying after 2 shard commits, before the global finish
        (('pass=0_shard=2', 'pass=0_shard=3', 'pass=0_final', 'images_final'), [2, 3]),
        # dying after phase B's direct `images` write, before its markers
        (('pass=0_final', 'images_final'), []),
        # dying between the two markers
        (('images_final',), []),
    ]
    run_with_resume(spark, docs, cfg, out_b, n_shards=4)
    for lost, rerun in crashes:
        for name in lost:
            os.remove(os.path.join(out_b, 'commits', name))
        rep = run_with_resume(spark, docs, cfg, out_b, n_shards=4)
        assert rep.shards_run == rerun, lost
        assert rep.shards_skipped == [k for k in range(4) if k not in rerun], lost
        # phase B re-ran: it rewrote both markers
        assert all(os.path.exists(os.path.join(out_b, 'commits', m))
                   for m in ('pass=0_final', 'images_final')), lost

        assert _texts(spark, out_a) == _texts(spark, out_b), lost
        assert _images(spark, out_a) == _images(spark, out_b), lost


def test_multi_pass_crash_and_resume_byte_identical(spark, tmp_path):
    """A 2-pass run commits pass 0 on its own and the last pass together
    with the final images; each crash resumes to the uninterrupted
    output and re-runs exactly the shards whose markers it lost."""
    docs48 = spark.createDataFrame(corpus.docs_list(48), 'url string, text string')
    out_a = str(tmp_path / 'a')
    out_b = str(tmp_path / 'b')
    run_with_resume(spark, docs48, MULTI_PASS_CFG, out_a, n_shards=3)
    run_with_resume(spark, docs48, MULTI_PASS_CFG, out_b, n_shards=3)

    pass1 = tuple(f'pass=1_shard={k}' for k in range(3)) + ('pass=1_final',)
    crashes = [
        # dying in pass 1's shard pool
        (('pass=1_shard=1', 'pass=1_final', 'images_final'), [1]),
        # dying in pass 0's shard pool: pass 1 re-runs every shard
        (('pass=0_shard=2', 'pass=0_final') + pass1 + ('images_final',), [0, 1, 2]),
        # dying between the last pass's two markers
        (('images_final',), []),
    ]
    for lost, rerun in crashes:
        for name in lost:
            os.remove(os.path.join(out_b, 'commits', name))
        rep = run_with_resume(spark, docs48, MULTI_PASS_CFG, out_b, n_shards=3)
        assert rep.shards_run == rerun, lost
        assert rep.shards_skipped == [k for k in range(3) if k not in rerun], lost
        assert all(os.path.exists(os.path.join(out_b, 'commits', m))
                   for m in ('pass=0_final', 'pass=1_final', 'images_final')), lost

        assert _texts(spark, out_a) == _texts(spark, out_b), lost
        assert _images(spark, out_a) == _images(spark, out_b), lost


# (config, shard count) per lineage case: the 24-doc fixture yields only
# ok, error and mime_drop links; a skip-list hit adds skipped, and more
# shards than docs leave some shards empty
SKIP_HITS = frozenset({'https://www.google.com/', './pic/pic6s.png'})
LINEAGE_CASES = [
    (TransformConfig(skip_all_errors=True), 2),
    (TransformConfig(skip_all_errors=True), 3),
    (TransformConfig(skip_all_errors=True, skip_list=SKIP_HITS), 40),
]


def test_lineage_rows(spark, docs, tmp_path):
    """Shard lineage counts agree with the staged links they describe,
    and the pass row with the docs written."""
    for case, (cfg, n_shards) in enumerate(LINEAGE_CASES):
        out = str(tmp_path / f'out{case}')
        run_with_resume(spark, docs, cfg, out, n_shards=n_shards)
        rows = lineage(out)
        assert len(rows) == n_shards
        assert sum(r['n_docs'] for r in rows) == 24
        assert all('status_counts' in r and 'wall_sec' in r for r in rows)

        staged = {}
        for r in (spark.read.parquet(os.path.join(out, 'stage', 'pass=0', 'links'))
                  .groupBy('shard', 'status').count().collect()):
            staged.setdefault(r['shard'], {})[r['status']] = r['count']
        for r in rows:
            want = staged.get(r['shard'], {})
            assert r['status_counts'] == want, r
            assert r['n_links'] == sum(want.values()), r
            # a status missing from the lineage would leave this short
            assert sum(r['status_counts'].values()) == r['n_links'], r
        if cfg.skip_list:
            assert any('skipped' in r['status_counts'] for r in rows)
            assert any(r['n_docs'] == 0 and r['n_links'] == 0 for r in rows)

        prows = pass_lineage(out)
        assert len(prows) == 1 and prows[0]['n_docs_out'] == read_output(spark, out).count() == 24


def test_xxhash64_twin_matches_spark(spark):
    """The stdlib XXH64 reimplementation the lineage oracle shards with
    is bit-identical to Spark's xxhash64() over UTF-8 string bytes —
    empty, short, 8/4-byte-word, 32-byte-stripe, and multibyte cases."""
    import random
    import sys as _sys

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), '..', 'tools'))
    from oracle_extract import xxhash64_spark

    rng = random.Random(42)
    cases = ['', 'a', 'abc', 'x' * 31, 'y' * 32, 'z' * 100,
             'https://h0.example.com/articles/7.md', 'héllo wörld ü££'] + [
        ''.join(rng.choices('abcdefghij:/._-é', k=rng.randint(0, 90))) for _ in range(30)
    ]
    got = {r['u']: r['h'] for r in spark.createDataFrame(
        [(c,) for c in cases], 'u string'
    ).selectExpr('u', 'xxhash64(u) as h').collect()}
    for c in cases:
        assert got[c] == xxhash64_spark(c.encode('utf-8')), c


def test_lineage_df_matches_independent_twin(spark, docs, tmp_path):
    """lineage_df over a RESUMED run == the sequential twin: shard
    assignment via the XXH64 reimplementation, per-link statuses via
    oracle_extract.link_status — the engine's staged-links lineage and
    an independent single-threaded walk must agree row-for-row."""
    import sys as _sys
    from collections import defaultdict

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), '..', 'tools'))
    from oracle_extract import link_status, md_image_links, shard_of

    assets = corpus.ModelAssetStore()
    for case, (cfg, n_shards) in enumerate(LINEAGE_CASES):
        out = str(tmp_path / f'out{case}')
        run_with_resume(spark, docs, cfg, out, n_shards=n_shards)
        rep = run_with_resume(spark, docs, cfg, out, n_shards=n_shards)  # resumed
        assert rep.shards_run == []

        got = sorted(
            tuple(r) for r in lineage_df(spark, out)
            .select('pass_idx', 'shard', 'n_docs', 'n_links', 'status', 'n_status').collect()
        )

        n_docs, n_links = defaultdict(int), defaultdict(int)
        counts = defaultdict(lambda: defaultdict(int))
        for url, text in corpus.docs_list(24):
            k = shard_of(url, n_shards)
            n_docs[k] += 1
            for src, _w, _h in md_image_links(text):
                n_links[k] += 1
                counts[k][link_status(cfg, url, src, assets)] += 1
        want = sorted(
            (0, k, n_docs[k], n_links[k], s, c)
            for k in range(n_shards)
            # a shard without links keeps one '(none)' row
            for s, c in (counts[k].items() or [('(none)', 0)])
        )
        assert got == want


def test_sharded_equals_global_on_dup_heavy_corpus(spark, tmp_path):
    """The r2 gate: sharded-resume output == non-sharded output,
    byte-for-byte, on a dup-heavy corpus with content-hash dedup —
    cross-shard dedup winners must be GLOBAL, not per-shard."""
    out = str(tmp_path / 'out')
    cfg = TransformConfig(skip_all_errors=True, deduplication=DedupVariant.CONTENT_HASH)
    docs120 = corpus.docs_list(120)  # includes cross-document dup groups
    docs_df = spark.createDataFrame(docs120, 'url string, text string')

    run_with_resume(spark, docs_df, cfg, out, n_shards=5)
    got_texts = _texts(spark, out)
    got_images = _images(spark, out)

    res = transform_documents(docs_df, cfg)
    want_texts = {r['url']: r['text_out'] for r in res.docs_out.collect()}
    want_images = {r['real_path']: bytes(r['content']) for r in res.images_out.collect()}

    mismatches = [u for u in want_texts if got_texts.get(u) != want_texts[u]]
    assert not mismatches, f'{len(mismatches)} docs differ sharded vs global: {mismatches[:3]}'
    assert got_images == want_images


def test_waves_cost_and_identity(spark, docs, tmp_path, monkeypatch):
    """Phase A runs one extract → fetch → stage chain per wave of
    ``SPARK_GRAFT_SHARD_WORKERS`` shards.  At a fixed wave size the SQL
    executions of a run do not grow with ``n_shards`` until a second
    wave starts, and then only by that wave's two staging writes;
    outputs are identical whatever the wave size; and a one-wave run
    stages each fetched key once, although some keys are linked from
    several shards."""
    counters, delta = _run_counters()
    cfg = TransformConfig(skip_all_errors=True, deduplication=DedupVariant.CONTENT_HASH)
    # docs on other hosts linking one live and one dead image of the corpus
    shared_links = '![logo](https://img10.example/gallery/p0_a.png) ![x](https://dead.example/missing/p0.jpg)\n'
    docs_df = docs.unionByName(spark.createDataFrame(
        [(f'https://share{i}.example.com/a/{i}.md', shared_links) for i in range(8)],
        'url string, text string'))

    def run(wave: int, n_shards: int) -> str:
        monkeypatch.setenv('SPARK_GRAFT_SHARD_WORKERS', str(wave))
        out = str(tmp_path / f'w{wave}-n{n_shards}')
        c0 = counters(spark)
        run_with_resume(spark, docs_df, cfg, out, n_shards=n_shards)
        execs[wave, n_shards] = delta(c0, counters(spark))['sql_executions']
        return out

    execs = {}
    outs = {n: run(4, n) for n in (1, 4, 8)}
    assert execs[4, 1] == execs[4, 4] and execs[4, 8] == execs[4, 4] + 2, execs

    one_by_one = run(1, 8)
    assert _texts(spark, one_by_one) == _texts(spark, outs[8])
    assert _images(spark, one_by_one) == _images(spark, outs[8])

    stage = os.path.join(outs[4], 'stage', 'pass=0')
    fetched = spark.read.parquet(os.path.join(stage, 'fetched'))
    assert fetched.count() == fetched.select('fetch_key').distinct().count() > 0
    shared = (spark.read.parquet(os.path.join(stage, 'links')).where('fetch_key IS NOT NULL')
              .groupBy('fetch_key').agg(F.countDistinct('shard').alias('n'))
              .where('n > 1').count())
    assert shared > 0


@pytest.mark.parametrize('value', ['0', '-2', 'four', ''])
def test_wave_size_is_validated_before_any_job(spark, docs, tmp_path, monkeypatch, value):
    counters, delta = _run_counters()
    monkeypatch.setenv('SPARK_GRAFT_SHARD_WORKERS', value)
    c0 = counters(spark)
    with pytest.raises(ValueError, match='SPARK_GRAFT_SHARD_WORKERS'):
        run_with_resume(spark, docs, TransformConfig(), str(tmp_path / 'out'), n_shards=4)
    assert delta(c0, counters(spark))['jobs'] == 0
    assert not os.path.exists(tmp_path / 'out')


@pytest.mark.parametrize('out', ['s3://bucket/out/', 'file:///tmp/out', 'hdfs://nn:8020/out'])
def test_uri_output_is_refused_before_any_job(spark, docs, tmp_path, monkeypatch, out):
    """Commit markers and lineage are plain files: a URI output would
    leave them in a local directory named after it (``./s3:/bucket/...``)
    while the lineage reader looks in the store."""
    counters, delta = _run_counters()
    monkeypatch.chdir(tmp_path)
    c0 = counters(spark)
    with pytest.raises(ValueError) as err:
        run_with_resume(spark, docs, TransformConfig(), out, n_shards=4)
    assert f'out_dir={out!r}' in str(err.value)
    assert delta(c0, counters(spark))['jobs'] == 0
    assert os.listdir(tmp_path) == []


NO_LINK_DOCS = [(f'https://h{i}.example.com/a/{i}.md', f'# title {i}\n\nplain text, [a link](x.md)\n')
                for i in range(6)]
DEGENERATE_CASES = {
    'empty_table': ([], 4),
    'no_image_links': (NO_LINK_DOCS, 4),
    'more_shards_than_docs': (corpus.docs_list(5), 12),
}


@pytest.mark.parametrize('wave', [1, 4])
@pytest.mark.parametrize('case', sorted(DEGENERATE_CASES))
def test_degenerate_inputs(spark, tmp_path, monkeypatch, case, wave):
    """Waves write partitioned staging tables that may get zero rows in
    some or all shards: outputs still equal the unsharded transform, and
    every empty shard keeps its one '(none)' lineage row."""
    rows, n_shards = DEGENERATE_CASES[case]
    monkeypatch.setenv('SPARK_GRAFT_SHARD_WORKERS', str(wave))
    cfg = TransformConfig(skip_all_errors=True, deduplication=DedupVariant.CONTENT_HASH)
    docs_df = spark.createDataFrame(rows, 'url string, text string')
    out = str(tmp_path / 'out')
    rep = run_with_resume(spark, docs_df, cfg, out, n_shards=n_shards)
    assert rep.shards_run == list(range(n_shards))

    res = transform_documents(docs_df, cfg)
    assert _texts(spark, out) == {r['url']: r['text_out'] for r in res.docs_out.collect()}
    assert _images(spark, out) == {r['real_path']: bytes(r['content'])
                                   for r in res.images_out.collect()}

    rows_out = lineage(out)
    assert sorted(r['shard'] for r in rows_out) == list(range(n_shards))
    assert sum(r['n_docs'] for r in rows_out) == len(rows)
    if case == 'no_image_links':
        # every shard has docs and no link: the docs are counted even
        # though no wave stages a link
        assert all(r['n_docs'] > 0 and r['n_links'] == 0 for r in rows_out)
    else:
        assert any(r['n_docs'] == 0 for r in rows_out)
    got = lineage_df(spark, out).collect()
    for r in rows_out:
        if r['n_links'] == 0:
            assert [(x['status'], x['n_status']) for x in got
                    if x['shard'] == r['shard']] == [('(none)', 0)]


class _WriteReadSink(TableSink):
    """A sink wrapper that knows only ``write`` and ``read`` (as a
    timing wrapper might): waves go through ``TableSink``'s one-write-
    per-shard defaults."""

    def __init__(self, inner):
        self.inner = inner

    def write(self, df, name):
        self.inner.write(df, name)

    def read(self, spark, name):
        return self.inner.read(spark, name)

    def mark_committed(self, marker):
        self.inner.mark_committed(marker)

    def is_committed(self, marker):
        return self.inner.is_committed(marker)


def test_sink_with_only_write_and_read(spark, docs, tmp_path):
    cfg = TransformConfig(skip_all_errors=True)
    out_a, out_b = str(tmp_path / 'a'), str(tmp_path / 'b')
    run_with_resume(spark, docs, cfg, out_a, n_shards=3)
    run_with_resume(spark, docs, cfg, out_b, n_shards=3, sink=_WriteReadSink(ParquetMarkerSink(out_b)))
    assert _texts(spark, out_a) == _texts(spark, out_b)
    assert _images(spark, out_a) == _images(spark, out_b)
    assert lineage(out_a) == [dict(r, wall_sec=a['wall_sec']) for r, a in zip(lineage(out_b), lineage(out_a))]


def test_sharded_equals_global_multipass_chain(spark, tmp_path):
    """Same gate for a chained md+html run with shared dedup state."""
    out = str(tmp_path / 'out')
    cfg = TransformConfig(
        skip_all_errors=True,
        input_formats=('md', 'html'),
        deduplication=DedupVariant.CONTENT_HASH,
    )
    docs48 = corpus.docs_list(48)
    docs_df = spark.createDataFrame(docs48, 'url string, text string')

    run_with_resume(spark, docs_df, cfg, out, n_shards=3)
    got_texts = _texts(spark, out)
    got_images = _images(spark, out)

    res = transform_documents(docs_df, cfg)
    want_texts = {r['url']: r['text_out'] for r in res.docs_out.collect()}
    want_images = {r['real_path']: bytes(r['content']) for r in res.images_out.collect()}
    assert got_texts == want_texts
    assert got_images == want_images

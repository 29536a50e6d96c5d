"""The benchmark's workloads: inputs, the timed operation, the output
check and the traced pass of each.

Both are closed loops: one driver thread runs one job at a time on
``local[nproc]``.  The only concurrency is ``run_with_resume``'s own
shard pool.
"""

from __future__ import annotations

import os
import shutil
import statistics
import traceback
from dataclasses import dataclass
from typing import Optional

import pyarrow.parquet as pq

from . import inputs
from .procstat import Window, window
from .trace import TimingSink, parquet_footprint

SHARDS = 4


@dataclass
class Op:
    """One timed (or traced) operation and whether its output checked out."""

    window: Window
    ok: bool
    error: Optional[str] = None


def _attempt(name: str, fn, check) -> Op:
    """Time ``fn`` in a measured window, then run ``check`` outside it.
    A raise or a mismatch is a failed operation."""
    win = Window(name)
    try:
        with window(name) as win:
            fn()
    except Exception:
        return Op(win, False, traceback.format_exc(limit=3))
    try:
        err = check()
    except Exception:
        err = traceback.format_exc(limit=3)
    return Op(win, err is None, err)


def _noop(df) -> None:
    """Force every column of ``df`` without writing it anywhere."""
    df.write.format('noop').mode('overwrite').save()


class TransformUnique:
    """The resumable sharded transform of record over fat pages whose
    image links are nearly all distinct: an uninterrupted run, then a
    crash (half the shards' commit markers and the final markers
    removed) and a resume."""

    name = 'transform_unique'
    n_docs = 800

    def __init__(self, work: str, seed: int, parquet_files: int):
        self.work = work
        self.seed = seed
        self.parquet_files = parquet_files
        self.pages = os.path.join(work, 'input', 'pages')
        self.out = os.path.join(work, 'out')

    # ---------------------------------------------------------- inputs
    def prepare(self, ref_cache: str) -> dict:
        rows = inputs.transform_rows(self.seed, self.n_docs)
        fp = inputs.fingerprint(rows)
        inputs.write_parquet(rows, ('url', 'text'), self.pages, self.parquet_files)
        self.ref = inputs.cached_reference(
            ref_cache, self.name, self.seed, fp, lambda: inputs.transform_reference(rows))
        return {'rows': len(rows), 'fingerprint': fp,
                'input_mb': sum(len(t.encode()) for _u, t in rows) / 1e6}

    # ------------------------------------------------------- operation
    def _full(self, spark, sink=None):
        from markdown_articles_tool_spark.checkpoint import run_with_resume

        shutil.rmtree(self.out, ignore_errors=True)
        docs = spark.read.parquet(self.pages)
        return run_with_resume(spark, docs, inputs.transform_config(), self.out,
                               n_shards=SHARDS, sink=sink)

    def _crash(self) -> list:
        """Lose half the shards and every final: their commit markers
        go, which is what a crash before the marker leaves behind
        (markers are written last)."""
        crashed = list(range(0, SHARDS, 2))
        commits = os.path.join(self.out, 'commits')
        for marker in [f'pass=0_shard={k}' for k in crashed] + ['pass=0_final', 'images_final']:
            os.remove(os.path.join(commits, marker))
        return crashed

    def _resume(self, spark, crashed: list, sink=None):
        from markdown_articles_tool_spark.checkpoint import run_with_resume

        docs = spark.read.parquet(self.pages)
        rep = run_with_resume(spark, docs, inputs.transform_config(), self.out,
                              n_shards=SHARDS, sink=sink)
        if rep.shards_run != crashed:
            raise RuntimeError(f'resume re-ran shards {rep.shards_run}, expected {crashed}')
        return rep

    def check(self, out: Optional[str] = None) -> Optional[str]:
        """None if docs and images match the reference digests."""
        out = out or self.out
        docs = pq.read_table(os.path.join(out, 'docs'), columns=['url', 'text_out']).to_pydict()
        texts = {u: inputs.sha256_hex(t.encode('utf-8')) for u, t in zip(docs['url'], docs['text_out'])}
        imgs = pq.read_table(os.path.join(out, 'images'), columns=['real_path', 'content']).to_pydict()
        images = {p: inputs.sha256_hex(c) for p, c in zip(imgs['real_path'], imgs['content'])}
        if len(docs['url']) != len(texts) or texts != self.ref['texts']:
            bad = sum(texts.get(u) != d for u, d in self.ref['texts'].items())
            return f'text_out differs from the reference on {bad} of {len(self.ref["texts"])} urls'
        if len(imgs['real_path']) != len(images) or images != self.ref['images']:
            return (f'images differ from the reference: {len(images)} written, '
                    f'{len(self.ref["images"])} expected')
        return None

    def warm_up(self, spark) -> None:
        """One full-size uninterrupted run; it also leaves the complete
        output the first timed resume starts from."""
        self._full(spark)

    def iteration(self, spark) -> list:
        """Crash the last complete output and resume it, then run
        uninterrupted from scratch (which leaves the next complete
        output).  The resume goes first so the uninterrupted run, the
        longer and more warm-up-sensitive of the two, runs later."""
        try:
            crashed = self._crash()
        except OSError as e:
            resume = Op(Window('resume'), False, f'no complete output to crash: {e}')
        else:
            resume = _attempt('resume', lambda: self._resume(spark, crashed), self.check)
        full = _attempt('full', lambda: self._full(spark), self.check)
        return [resume, full]

    @staticmethod
    def end_to_end(ops: list, n_docs: int) -> dict:
        full = [o.window for o in ops if o.window.name == 'full' and o.window.wall_s > 0]
        resume = [o.window for o in ops if o.window.name == 'resume' and o.window.wall_s > 0]
        return {
            'docs_per_sec': n_docs / statistics.median(w.wall_s for w in full),
            'cpu_s_per_kdoc': statistics.median(w.cpu_s for w in full) * 1000 / n_docs,
            'peak_rss_mb': statistics.median(w.peak_rss_mb for w in full),
            'resume_s': statistics.median(w.wall_s for w in resume),
        }

    # ----------------------------------------------------------- trace
    def trace(self, spark, tracer) -> tuple:
        """Forced calls into each layer's public functions, one span
        each, then the checkpointed run and its resume through a
        timing sink.  Returns (ops, per-layer metrics, traced wall)."""
        from pyspark.sql import functions as F

        from markdown_articles_tool_spark.checkpoint import lineage, pass_lineage
        from markdown_articles_tool_spark.io_sinks import ParquetMarkerSink
        from markdown_articles_tool_spark.operators import udfs
        from markdown_articles_tool_spark.operators.fetch import fetch_distinct, model_fetcher
        from markdown_articles_tool_spark.pipeline import extract_pass_links, finish_pass

        cfg = inputs.transform_config()
        docs = spark.read.parquet(self.pages)
        traced_out = os.path.join(self.work, 'traced')
        m: dict = {}

        def layers() -> None:
            with tracer.span('udfs.extract'):
                _noop(docs.select('url', F.posexplode_outer(udfs.extract_md_links(F.col('text')))))
            with tracer.span('pipeline.extract_pass'):
                links, fetched, cached = extract_pass_links(docs, cfg)
                _noop(links)
            links_pre = cached[0]
            eligible = links_pre.where('status0 IS NULL AND is_remote')

            def fetch_again(batches):
                # the same fetcher under a new function object: the plan no
                # longer matches the cached ``fetched``, so it really runs
                yield from model_fetcher(batches)

            with tracer.span('fetch.fetch'):
                _noop(fetch_distinct(eligible, 'fetch_key', fetch_again))
            with tracer.span('pipeline.finish_pass'):
                res = finish_pass(docs, links, fetched, cfg)
                res.docs_out.write.mode('overwrite').parquet(os.path.join(traced_out, 'docs'))
                res.images_out.write.mode('overwrite').parquet(os.path.join(traced_out, 'images'))
            m['pipeline.cached_mb'] = _cached_mb(spark)
            # work counts, outside every span
            n_elig = eligible.count()
            f = fetched.agg(
                F.count('*').alias('n'),
                F.sum(F.length('content')).alias('nbytes'),
                F.sum((F.col('content').isNull() | (F.col('fetch_status') >= 400)).cast('int')).alias('err'),
            ).first()
            d = links.where("status = 'ok' AND NOT need_rescaling").agg(
                F.count('*').alias('n'), F.countDistinct('sha_hex').alias('distinct')).first()
            m['udfs.links_per_doc'] = links_pre.count() / self.n_docs
            m['fetch.distinct_keys'] = f['n']
            m['fetch.fetch_ratio'] = f['n'] / n_elig if n_elig else 0.0
            m['fetch.content_mb'] = (f['nbytes'] or 0) / 1e6
            m['fetch.error_share'] = (f['err'] or 0) / f['n'] if f['n'] else 0.0
            m['pipeline.dedup_hit_ratio'] = (d['n'] - d['distinct']) / d['n'] if d['n'] else 0.0
            for df in cached:
                df.unpersist()

        ops = [_attempt('traced_layers', layers, lambda: self.check(traced_out))]
        if not ops[-1].ok:
            return ops, m, 0.0
        imgs = pq.read_table(os.path.join(traced_out, 'images'), columns=['content']).column('content')
        m['pipeline.images_written'] = len(imgs)
        m['pipeline.images_mb'] = sum(len(c.as_py()) for c in imgs) / 1e6

        sinks = []

        def full() -> None:
            with tracer.span('checkpoint.full_run'):
                sinks.append(TimingSink(ParquetMarkerSink(self.out), tracer, root=self.out))
                self._full(spark, sinks[-1])

        ops.append(_attempt('traced_full', full, self.check))
        if not ops[-1].ok:
            return ops, m, 0.0
        shard_walls = [r['wall_sec'] for r in lineage(self.out)]
        m['checkpoint.shard_skew'] = max(shard_walls) / statistics.median(shard_walls)
        m['checkpoint.staged_mb'] = parquet_footprint(os.path.join(self.out, 'stage'))[0] / 1e6
        crashed = self._crash()
        reports = []

        def resume() -> None:
            with tracer.span('checkpoint.resume'):
                sinks.append(TimingSink(ParquetMarkerSink(self.out), tracer, root=self.out))
                reports.append(self._resume(spark, crashed, sinks[-1]))

        ops.append(_attempt('traced_resume', resume, self.check))
        rerun = set(reports[0].shards_run) if reports else set()
        m['checkpoint.shards_rerun'] = len(rerun)
        m['checkpoint.phase_a_s'] = max((r['wall_sec'] for r in lineage(self.out) if r['shard'] in rerun),
                                        default=0.0)
        m['checkpoint.phase_b_s'] = sum(r['wall_sec'] for r in pass_lineage(self.out))
        resume_span = tracer.by_name('checkpoint.resume')[-1].span_id
        m['checkpoint.images_final_s'] = sum(
            s.wall_s for s in tracer.by_name('io_sinks.write')
            if s.parent == resume_span and s.counters['table'] == 'images')
        m['io_sinks.write_s'] = sum(s.wall_s for s in tracer.by_name('io_sinks.write'))
        m['io_sinks.read_s'] = sum(s.wall_s for s in tracer.by_name('io_sinks.read'))
        m['io_sinks.written_mb'] = sum(s.written_bytes for s in sinks) / 1e6
        m['io_sinks.files_written'] = sum(s.files_written for s in sinks)
        traced_wall = sum(o.window.wall_s for o in ops[1:])
        return ops, m, traced_wall

    @staticmethod
    def untraced_wall(ops: list) -> float:
        """The end-to-end work the traced pass repeats: one uninterrupted
        run plus one resume."""
        full = [o.window.wall_s for o in ops if o.window.name == 'full']
        resume = [o.window.wall_s for o in ops if o.window.name == 'resume']
        return statistics.median(full) + statistics.median(resume)

    @staticmethod
    def span_metrics(tracer) -> dict:
        """Per-layer metrics that come from the spans' Spark counters."""
        c = _counter(tracer)
        return {
            'udfs.extract_s': _span_wall(tracer, 'udfs.extract'),
            'udfs.extract_cpu_s': c('udfs.extract', 'executor_cpu_s'),
            'udfs.python_in_mb': c('udfs.extract', 'python_in_mb'),
            'fetch.fetch_s': _span_wall(tracer, 'fetch.fetch'),
            'fetch.task_skew': c('fetch.fetch', 'task_skew'),
            'pipeline.extract_pass_s': _span_wall(tracer, 'pipeline.extract_pass'),
            'pipeline.finish_pass_s': _span_wall(tracer, 'pipeline.finish_pass'),
            'pipeline.shuffle_write_mb': (c('pipeline.extract_pass', 'shuffle_write_mb')
                                          + c('pipeline.finish_pass', 'shuffle_write_mb')),
            'pipeline.python_crossings': (c('pipeline.extract_pass', 'python_crossings')
                                          + c('pipeline.finish_pass', 'python_crossings')),
        }


class CrawlRelease:
    """WARC blobs → ``warc_main_content`` → ``hygiene.scrub`` → parquet:
    the release run, with no fetch, dedup, checkpoint or shuffle."""

    name = 'crawl_release'
    n_files = 240

    def __init__(self, work: str, seed: int, parquet_files: int):
        self.work = work
        self.seed = seed
        self.parquet_files = parquet_files
        self.warcs = os.path.join(work, 'input', 'warcs')
        self.out = os.path.join(work, 'out')

    @property
    def n_docs(self) -> int:
        from markdown_articles_tool_spark.corpus import DOCS_PER_WARC

        return self.n_files * DOCS_PER_WARC

    def prepare(self, ref_cache: str) -> dict:
        rows = inputs.warc_rows(self.seed, self.n_files)
        fp = inputs.fingerprint(rows)
        inputs.write_parquet(rows, ('file_name', 'data'), self.warcs, self.parquet_files)
        self.ref = inputs.cached_reference(
            ref_cache, self.name, self.seed, fp, lambda: inputs.crawl_reference(rows))
        self.input_mb = sum(len(d) for _n, d in rows) / 1e6
        return {'rows': len(rows), 'fingerprint': fp, 'input_mb': self.input_mb}

    def _release(self, spark, out: Optional[str] = None) -> None:
        from pyspark.sql import functions as F

        from markdown_articles_tool_spark.sources.warc import warc_main_content
        from markdown_articles_tool_spark.training.hygiene import scrub

        files = spark.read.parquet(self.warcs)
        mc = warc_main_content(files).select('url', F.col('main_text').alias('text'))
        scrub(mc, id_col='url', keep_text=True).write.mode('overwrite').parquet(out or self.out)

    def check(self, out: Optional[str] = None) -> Optional[str]:
        t = pq.read_table(out or self.out, columns=['url', 'n_pii', 'clean_sha', 'clean_text']).to_pydict()
        for text, sha in zip(t['clean_text'], t['clean_sha']):
            if inputs.sha256_hex(text.encode('utf-8')) != sha:
                return 'clean_sha does not digest clean_text'
        got = sorted([u, s, n] for u, s, n in zip(t['url'], t['clean_sha'], t['n_pii']))
        if got != self.ref['pages']:
            bad = len({tuple(r) for r in got} ^ {tuple(r) for r in self.ref['pages']})
            return f'release output differs from the reference on {bad} rows'
        return None

    def warm_up(self, spark) -> None:
        """One full-size release pass."""
        self._release(spark)

    def iteration(self, spark) -> list:
        return [_attempt('release', lambda: self._release(spark), self.check)]

    @staticmethod
    def end_to_end(ops: list, n_docs: int) -> dict:
        wins = [o.window for o in ops]
        wall = statistics.median(w.wall_s for w in wins)
        return {
            'docs_per_sec': n_docs / wall,
            'cpu_s_per_kdoc': statistics.median(w.cpu_s for w in wins) * 1000 / n_docs,
            'peak_rss_mb': statistics.median(w.peak_rss_mb for w in wins),
            # no checkpoint: recovering lost output is a full re-run
            'resume_s': wall,
        }

    def trace(self, spark, tracer) -> tuple:
        from pyspark.sql import functions as F

        from markdown_articles_tool_spark.operators.maincontent import extract_main_content
        from markdown_articles_tool_spark.sources.warc import read_warc_responses
        from markdown_articles_tool_spark.training.hygiene import scrub

        traced_out = os.path.join(self.work, 'traced')
        m: dict = {}

        def layers() -> None:
            files = spark.read.parquet(self.warcs)
            with tracer.span('warc.responses'):
                resp = read_warc_responses(files).persist()
                m['warc.records'] = resp.count()
            with tracer.span('maincontent.strip'):
                pages = resp.filter((F.col('http_status') == 200) & (F.col('mime') == 'text/html')).select(
                    'url', F.encode('text', 'utf-8').alias('html'))
                mc = extract_main_content(pages).persist()
                mc.count()
            with tracer.span('hygiene.scrub'):
                scrub(mc.select('url', F.col('main_text').alias('text')), id_col='url',
                      keep_text=True).write.mode('overwrite').parquet(traced_out)
            resp.unpersist()
            mc.unpersist()

        ops = [_attempt('traced_layers', layers, lambda: self.check(traced_out))]
        if not ops[-1].ok:
            return ops, m, 0.0
        keep = pq.read_table(traced_out, columns=['keep']).column('keep').to_pylist()
        m['hygiene.keep_ratio'] = sum(bool(k) for k in keep) / len(keep) if keep else 0.0
        m['warc.input_mb'] = self.input_mb
        return ops, m, ops[0].window.wall_s

    @staticmethod
    def untraced_wall(ops: list) -> float:
        return statistics.median(o.window.wall_s for o in ops)

    @staticmethod
    def span_metrics(tracer) -> dict:
        return {
            'warc.responses_s': _span_wall(tracer, 'warc.responses'),
            'maincontent.strip_s': _span_wall(tracer, 'maincontent.strip'),
            'hygiene.scrub_s': _span_wall(tracer, 'hygiene.scrub'),
            'hygiene.python_crossings': _counter(tracer)('hygiene.scrub', 'python_crossings'),
        }


def _span_wall(tracer, name: str) -> float:
    return sum(s.wall_s for s in tracer.by_name(name))


def _counter(tracer):
    """``c(span, counter)``: a span's folded counter, 0 if the span never
    opened (an earlier layer failed)."""
    counters = {s.name: s.counters for s in tracer.spans}
    return lambda span, key: counters.get(span, {}).get(key, 0)


def _cached_mb(spark) -> float:
    """Memory and disk held by persisted blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


WORKLOADS = {w.name: w for w in (TransformUnique, CrawlRelease)}

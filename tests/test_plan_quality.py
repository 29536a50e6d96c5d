"""Physical-plan regression guards (SURVEY.md §4).

These lock in the scale properties that were bugs once already:
column pruning must reach the scan, image bytes must never be
broadcast, and per-branch UDF re-evaluation must not come back.
"""

import re

import pytest
from pyspark.sql import functions as F

from markdown_articles_tool_spark import corpus
from markdown_articles_tool_spark.core.linkflow import DedupVariant, TransformConfig
from markdown_articles_tool_spark.pipeline import transform_documents


@pytest.fixture(scope='module')
def plan(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp('plan') / 'pages')
    rows = [corpus.doc_row(i) for i in range(40)]
    spark.createDataFrame(rows, corpus.PAGES_SCHEMA).write.parquet(tmp)
    pages = spark.read.parquet(tmp).where("lang = 'en'").select('url', 'text')
    cfg = TransformConfig(skip_all_errors=True, deduplication=DedupVariant.CONTENT_HASH)
    res = transform_documents(pages, cfg)
    jdf = res.docs_out._jdf
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('formatted')
    return jdf.queryExecution().explainString(mode)


class TestPlanQuality:
    def test_column_pruning_reaches_scan(self, plan):
        # the 5-column table must be pruned to (url, text, lang) at the
        # parquet scan — html/warc_ts never read for an md pass
        scans = re.findall(r'ReadSchema: struct<([^>]*)>', plan)
        assert scans, 'no parquet scans in plan'
        for cols in scans:
            names = {c.split(':')[0] for c in cols.split(',')}
            assert 'html' not in names and 'warc_ts' not in names, names

    def test_filter_pushdown_reaches_scan(self, plan):
        assert re.search(r'PushedFilters: \[[^\]]*EqualTo\(lang,en\)', plan), (
            'lang filter not pushed to the parquet scan'
        )

    def test_content_bytes_never_broadcast(self, plan):
        # every BroadcastExchange's input must not carry the binary
        # content column
        for m in re.finditer(r'BroadcastExchange[^\n]*\n(?:.*\n){0,3}', plan):
            assert 'content#' not in m.group(0), (
                'image content column feeds a broadcast exchange'
            )

    def test_extraction_udf_evaluated_once(self, plan):
        assert plan.count('extract_md_links') <= 2, (
            'extraction UDF fan-out regression (was 1 logical ref; formatted '
            'plan shows node + detail line)'
        )

    def test_filename_derived_inside_fetch(self, plan):
        # sha256 + filename are derived INSIDE the fetch mapInPandas
        # batch (operators.fetch.derive_fetched) — no separate python
        # operator, no JVM sha2 re-hash of the content bytes
        # (3x-per-branch regression caught 2026-08-16; operator fused r2)
        assert plan.count('remote_filename_udf') == 0, plan.count('remote_filename_udf')
        assert 'sha2(content' not in plan, 'JVM re-hash of fetched bytes crept back'

    def test_mime_gate_is_jvm_side(self, plan):
        assert 'mime_type_of' not in plan, 'MIME gate fell back to the python UDF'

    def test_fetch_stage_is_map_in_pandas(self, plan):
        assert 'MapInPandas' in plan

    def test_no_cartesian_product(self, plan):
        # nothing in the transform may degenerate to an all-pairs join
        assert 'CartesianProduct' not in plan
        assert 'BroadcastNestedLoopJoin' not in plan


    def test_one_pass_images_not_folded(self, spark):
        # a single pass's images are already unique per real_path: no
        # cross-pass first-write-wins aggregate (and its shuffle of every
        # image's bytes) may run on top of them
        docs = spark.createDataFrame(corpus.docs_list(24), 'url string, text string')
        images = transform_documents(docs, TransformConfig(skip_all_errors=True)).images_out
        assert images.count() > 0
        executed = images._jdf.queryExecution().executedPlan().toString()
        assert 'min_by(content' not in executed, executed


class TestMainContentPlan:
    def test_scan_pruned_to_url_html(self, spark, tmp_path_factory):
        """The main-content operator must read ONLY (url, html) from the
        5-column pages table — the fat text column and warc_ts stay out
        of the scan."""
        from markdown_articles_tool_spark.operators.maincontent import extract_main_content

        tmp = str(tmp_path_factory.mktemp('mcplan') / 'pages')
        rows = [corpus.doc_row(i) for i in range(20)]
        spark.createDataFrame(rows, corpus.PAGES_SCHEMA).write.parquet(tmp)
        df = extract_main_content(spark.read.parquet(tmp))
        jdf = df._jdf
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('formatted')
        plan_str = jdf.queryExecution().explainString(mode)
        scans = re.findall(r'ReadSchema: struct<([^>]*)>', plan_str)
        assert scans
        for cols in scans:
            names = {c.split(':')[0] for c in cols.split(',')}
            assert names == {'url', 'html'}, names
        assert 'MapInPandas' in plan_str
        assert 'Exchange' not in plan_str, 'main-content extraction must not shuffle'

    def test_operator_matches_kernel(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.core import maincontent as mc
        from markdown_articles_tool_spark.operators.maincontent import (
            extract_content_spans,
            extract_main_content,
        )

        rows = [corpus.doc_row(i) for i in range(30)]
        pages = spark.createDataFrame(rows, corpus.PAGES_SCHEMA)
        got = {r['url']: r for r in extract_main_content(pages).collect()}
        for i in range(30):
            blocks = mc.extract_blocks(corpus.doc_html(i))
            r = got[corpus.doc_url(i)]
            assert r['main_text'] == mc.main_text(blocks)
            assert r['n_blocks'] == len(blocks)
            assert r['n_kept'] == sum(1 for b in blocks if b.kept)
        span_rows = extract_content_spans(pages).where(F.col('url') == corpus.doc_url(5))
        want = mc.spans(mc.extract_blocks(corpus.doc_html(5)))
        got_spans = [
            (r['ord'], r['tag'], r['n_chars'], r['link_density'], r['kept'], r['start'], r['end'])
            for r in span_rows.orderBy('ord').collect()
        ]
        assert got_spans == want


class TestExactDedupPlan:
    def test_shuffle_key_is_digest_not_text(self, spark):
        """exact_dedup's exchange must carry the 32-byte sha2 digest as
        its grouping key — never the raw text column (at corpus scale a
        raw-text grouping key IS the corpus riding the shuffle)."""
        from markdown_articles_tool_spark.training.dedup import exact_dedup

        docs = spark.createDataFrame(
            [(i, 'x' * 200) for i in range(10)], 'doc_id long, text string'
        )
        jdf = exact_dedup(docs)._jdf
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('formatted')
        plan_str = jdf.queryExecution().explainString(mode)
        assert re.search(r'sha2\(cast\(text#\d+ as binary\), 256\)', plan_str), (
            'grouping key is not the sha2 digest'
        )
        blocks = re.findall(r'\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]', plan_str)
        assert blocks, 'no shuffle in exact_dedup plan'
        for cols in blocks:
            assert not re.search(r'\btext#\d+', cols), (
                f'raw text column rides the exchange: {cols}'
            )

    def test_line_dedup_plan_shape(self, spark):
        """dedup_lines (r6 de-skewed shape): winner selection is a
        partial-aggregated groupBy on the sha2 digest — NO window node
        anywhere in the plan (a row_number window over the digest puts
        every copy of a duplicated line in one window partition: a
        corpus-ubiquitous boilerplate line = a corpus-sized single-task
        sort, on exactly the input this operator exists to clean).  The
        digest keys the exchange, the raw line string never does, and
        no Python UDF enters the plan."""
        from markdown_articles_tool_spark.training.dedup import dedup_lines

        docs = spark.createDataFrame(
            [(i, 'line a\nline b\nline a') for i in range(40)], 'doc_id long, text string'
        )
        jdf = dedup_lines(docs)._jdf
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('formatted')
        plan_str = jdf.queryExecution().explainString(mode)
        # no window machinery at all — winners come from an aggregation
        assert 'Window' not in plan_str, 'window node back in dedup_lines plan'
        assert 'row_number' not in plan_str
        # the winner exchange keys on the digest grouping column …
        m = re.search(
            r'sha2\([^\n]*norm#\d+[^\n]*\), 256\) AS (_groupingexpression|_digest)#(\d+)',
            plan_str,
        )
        assert m, 'no sha2-digest grouping projection in plan'
        assert re.search(rf'hashpartitioning\({m.group(1)}#{m.group(2)}', plan_str), (
            'winner exchange does not key on the digest column'
        )
        # … fed by a map-side partial aggregate (the skew armor: the
        # hot line collapses to one row per map partition pre-shuffle)
        assert 'partial_min' in plan_str, 'no partial min aggregation before the exchange'
        assert not re.search(r'hashpartitioning\(norm#\d+', plan_str), (
            'raw line string keys an exchange'
        )
        for udf_node in ('ArrowEvalPython', 'BatchEvalPython', 'PythonUDF', 'MapInPandas'):
            assert udf_node not in plan_str, f'python UDF in plan: {udf_node}'
        # widen (×2: the explode feeds both aggregations) + digest agg
        # + winners-per-doc + stats-per-doc + join alignment — every
        # one carries partially-aggregated or input-sized rows only
        assert plan_str.count('Exchange') <= 6
    """Every bucketed sketch operator must consume its (expensive)
    signature UDF exactly ONCE — the band self-join formulations
    evaluated it once per join side (minhash 2x, simhash 4x, winnow
    4x: the same per-consumer fan-out class as the r2 extraction
    regression).  Bucket-pairing (groupBy + collect_list + Column-
    algebra pair expansion) is the locked shape."""

    def _plan(self, spark, df):
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('formatted')
        return df._jdf.queryExecution().explainString(mode)

    def test_sketch_udfs_evaluated_once(self, spark):
        import numpy as np

        from markdown_articles_tool_spark.training.dedup import (
            minhash_lsh_candidates,
            simhash_near_duplicates,
            winnow_duplicate_pairs,
        )
        from markdown_articles_tool_spark.training.similarity import embedding_near_duplicates

        docs = spark.createDataFrame(
            [(i, f'document number {i} body text') for i in range(12)],
            'doc_id long, text string',
        )
        emb = spark.createDataFrame(
            [(i, [float(x) for x in np.random.default_rng(i).standard_normal(8)])
             for i in range(12)],
            'vec_id long, embedding array<double>',
        )
        from markdown_articles_tool_spark.training.similarity import lsh_cosine_topk

        queries = spark.createDataFrame([(0,), (5,)], 'query_id long')
        for df in (
            winnow_duplicate_pairs(docs),
            minhash_lsh_candidates(docs),
            simhash_near_duplicates(docs),
            embedding_near_duplicates(emb, threshold=0.4),
            lsh_cosine_topk(emb, queries, k=3),
        ):
            plan_str = self._plan(spark, df)
            # one ArrowEvalPython node + its detail line in formatted plans
            assert len(re.findall(r'ArrowEvalPython', plan_str)) <= 2, plan_str
            assert 'CartesianProduct' not in plan_str

    def test_one_candidate_layer(self):
        """The capped bucket step has one home: every banded operator
        reaches ``capped_buckets`` through ``util.bucket_pairs`` or
        ``util.bucket_neighbors``, and the per-module copies that once
        expanded pairs or signatures on their own stay deleted."""
        import pathlib

        package = pathlib.Path(__file__).resolve().parent.parent / 'markdown_articles_tool_spark'
        callers, gone = set(), []
        for path in sorted(package.rglob('*.py')):
            src = path.read_text()
            rel = str(path.relative_to(package))
            if re.search(r'\bcapped_buckets\(', src):
                callers.add(rel)
            gone += [(rel, name) for name in ('_array_pairs', 'make_signature_udf')
                     if re.search(rf'\b{name}\b', src)]
        assert callers == {'training/util.py'}, callers
        assert gone == []


class TestPdfExtractPlan:
    def test_pruned_scan_no_shuffle_and_kernel_match(self, spark, tmp_path_factory):
        from markdown_articles_tool_spark.core import pdftext as P
        from markdown_articles_tool_spark.operators.pdfextract import extract_pdf_text

        tmp = str(tmp_path_factory.mktemp('pdfplan') / 'pdfs')
        rows = [(corpus.doc_url(i), corpus.doc_pdf(i), i) for i in range(25)]
        spark.createDataFrame(rows, 'url string, pdf binary, extra long').write.parquet(tmp)
        df = extract_pdf_text(spark.read.parquet(tmp))
        jdf = df._jdf
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('formatted')
        plan_str = jdf.queryExecution().explainString(mode)
        scans = re.findall(r'ReadSchema: struct<([^>]*)>', plan_str)
        assert scans
        for cols in scans:
            assert {c.split(':')[0] for c in cols.split(',')} == {'url', 'pdf'}
        assert 'Exchange' not in plan_str
        got = {r['url']: r for r in df.collect()}
        for i in range(25):
            blocks = P.extract_pdf_blocks(corpus.doc_pdf(i))
            r = got[corpus.doc_url(i)]
            assert r['text'] == P.pdf_text(blocks)
            assert r['n_blocks'] == len(blocks)

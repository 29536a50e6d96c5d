"""The fused release-run operators: ``training/hygiene.scrub`` (one
Arrow eval for mojibake repair → PII scrub → repetition signals) must
equal the standalone operator chain on every output column, and the
release-run plans must keep their single crossing per operator."""

from __future__ import annotations

import os
import re
import sys

from hypothesis import example, given, settings, strategies as st

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), 'tools'))

from crossings import python_nodes  # noqa: E402
from test_entry_oracle import SF_DIR  # noqa: E402

STOP = 'the cat and dog of it to go is here was then that day with us'
# word pieces that exercise every stage: stopwords, latin-1 / cp1252 /
# double-encoded mojibake, legit non-Latin text, PII shapes and their
# negative controls, punctuation runs, line breaks (repetition)
PIECES = STOP.split() + [
    'Ã©tÃ©', 'cafÃ©', 'â€œquotedâ€\x9d', 'â€”', 'naÃƒÂ¯ve', 'naïve', 'Привет', '中文',
    'user.1%tag+x@mail.example.org', 'a@b@c.com', 'x@10.1.2.3', '10.0.0.1',
    '999.1.2.3', 'v1.2.3.4', '4111-1111-1111-1111', '4111 1111 1111 1112',
    '+1 (415) 555-0100', '415-555-0199', '2024 2025', '!!!', '...', '—',
    '\n', '\nsame line\n', '\n\n',
]
token = st.one_of(st.sampled_from(PIECES), st.text(max_size=6))
text = st.lists(token, max_size=90).map(' '.join)
docs = st.lists(st.one_of(st.none(), st.just(''), text), min_size=1, max_size=10)

KEEPER = ' '.join([STOP] * 5)
# distinct lines that only the PII scrub makes duplicates: the
# repetition verdict must read the scrubbed text
SCRUB_DUPS = KEEPER + ''.join(f'\nwrite to u{k}@mail.example.org' for k in range(8))


def _chain(df, id_col, plant):
    """The standalone operators, chained: fix_mojibake → pii_redact →
    gopher_filter → {id: (n_pii, keep, clean_sha, clean_text)}."""
    from pyspark.sql import functions as F

    from markdown_articles_tool_spark.training.mojibake import fix_mojibake
    from markdown_articles_tool_spark.training.pii import pii_redact
    from markdown_articles_tool_spark.training.textstats import gopher_filter

    fixed = fix_mojibake(df, id_col=id_col, plant=plant)
    red = pii_redact(fixed, text_col='fixed')
    n_pii = (F.col('n_emails') + F.col('n_ips') + F.col('n_ccs') + F.col('n_phones')).cast('int')
    cols = red.select('doc_id', n_pii.alias('n_pii'),
                      F.col('redacted_sha').alias('clean_sha'), 'redacted')
    out = gopher_filter(cols, text_col='redacted', carry=('n_pii', 'clean_sha', 'redacted'))
    return {r['doc_id']: (r['n_pii'], r['keep'], r['clean_sha'], r['redacted'])
            for r in out.collect()}


def _fused(df, id_col, plant):
    from markdown_articles_tool_spark.training.hygiene import scrub

    out = scrub(df, id_col=id_col, plant=plant, keep_text=True)
    assert out.columns == [id_col, 'n_pii', 'keep', 'clean_sha', 'clean_text']
    return {r[id_col]: (r['n_pii'], r['keep'], r['clean_sha'], r['clean_text'])
            for r in out.collect()}


class TestFusedScrub:
    @given(docs)
    @settings(max_examples=12, deadline=None)
    @example([None, '', KEEPER, KEEPER + ' mail bob@example.org or 10.0.0.1 Ã©tÃ©',
              '\n'.join([STOP] * 6), SCRUB_DUPS])
    def test_equals_standalone_chain_url_ids(self, spark, texts):
        rows = [(f'https://h{i % 3}.example/p/{i}', t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, 'url string, text string')
        assert _fused(df, 'url', None) == _chain(df, 'url', None)

    @given(docs.map(lambda ts: [t or '' for t in ts]))
    @settings(max_examples=8, deadline=None)
    @example(['', KEEPER, KEEPER, KEEPER, KEEPER, KEEPER, KEEPER, 'x'])
    def test_equals_standalone_chain_with_plant(self, spark, texts):
        from markdown_articles_tool_spark.corpus import mojibake_plant, pii_plant

        def plant(i, t):
            return pii_plant(i, mojibake_plant(i, t))

        df = spark.createDataFrame(list(enumerate(texts)), 'doc_id long, text string')
        assert _fused(df, 'doc_id', plant) == _chain(df, 'doc_id', plant)


class TestReleaseRunPlan:
    def test_warc_clean_two_python_evals_no_hash_exchange(self, spark):
        """warc_clean = synthetic archive source → warc_main_content →
        scrub: beyond the source generator, one MapInPandas (record
        walk + gate + strip) and one ArrowEvalPython (hygiene kernel),
        and no hash shuffle."""
        import __spark_entry__ as entry_mod

        q = entry_mod.queries()['warc_clean'](spark, SF_DIR)
        nodes = [(kind, desc) for kind, desc in python_nodes(q)
                 if not desc.startswith('MapInPandas gen(')]
        assert sorted(kind for kind, _desc in nodes) == ['ArrowEvalPython', 'MapInPandas'], nodes
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert 'hashpartitioning' not in plan
        assert set(re.findall(r'Exchange (\w+)', plan)) <= {'SinglePartition', 'RoundRobinPartitioning'}

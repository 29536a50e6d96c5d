"""PII redaction tier: engine (coarse-regex runs + validation) vs the
independent index-walk twin in tools/oracle_kernels.py, plus the Spark
operator contract."""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), 'tools'))

import oracle_kernels as ok  # noqa: E402

from markdown_articles_tool_spark.training import pii  # noqa: E402


class TestLuhn:
    def test_known_cards(self):
        assert pii.luhn_valid('4111111111111111')
        assert pii.luhn_valid('79927398713')
        assert not pii.luhn_valid('4111111111111112')
        assert not pii.luhn_valid('79927398710')

    def test_twin_agrees(self):
        rng = random.Random(3)
        for _ in range(2000):
            d = ''.join(rng.choice('0123456789') for _ in range(rng.randrange(1, 22)))
            assert pii.luhn_valid(d) == ok._pii_luhn_seq(d), d

    def test_check_digit(self):
        for base in ('411111111111111', '400000000000000', '7992739871'):
            assert pii.luhn_valid(base + str(pii.luhn_check_digit(base)))


class TestGoldens:
    def _r(self, s):
        return pii.redact_text(s)

    def test_email(self):
        assert self._r('mail user.5%tag+x@mail.example.org now') == (
            'mail <EMAIL> now', 1, 0, 0, 0)
        # trailing dot stays outside the match
        assert self._r('see a@b.co.') == ('see <EMAIL>.', 1, 0, 0, 0)
        # numeric final label is not a TLD; the IP pass then fires
        assert self._r('user@10.1.2.3 ok') == ('user@<IP> ok', 0, 1, 0, 0)
        # chained @ yields nothing (resume-after-candidate rule)
        assert self._r('a@b@c.com') == ('a@b@c.com', 0, 0, 0, 0)
        assert self._r('not-an-email@@example..com') == (
            'not-an-email@@example..com', 0, 0, 0, 0)

    def test_ipv4(self):
        assert self._r('node 10.5.15.101!') == ('node <IP>!', 0, 1, 0, 0)
        for neg in ('999.1.1.1', '10.2.3.4.5', 'v1.2.3.4', '1.2.3.4a', '1.2.3'):
            out = self._r(neg)
            assert out[2] == 0, neg

    def test_card(self):
        assert self._r('pay 4111-1111-1111-1111 now') == ('pay <CC> now', 0, 0, 1, 0)
        assert self._r('pay 4111 1111 1111 1111 now') == ('pay <CC> now', 0, 0, 1, 0)
        assert self._r('pay 4111111111111111 now') == ('pay <CC> now', 0, 0, 1, 0)
        # bad Luhn: 16 digits exceed the phone cap too → untouched
        assert self._r('bad 4111-1111-1111-1112 x') == (
            'bad 4111-1111-1111-1112 x', 0, 0, 0, 0)
        # 20-digit run is too long for a card
        assert self._r('ref 12345678901234567890')[3] == 0
        # a '+' prefix types the digits as PHONE even when Luhn passes
        assert self._r('+4915112345678 call') == ('<PHONE> call', 0, 0, 0, 1)

    def test_phone(self):
        assert self._r('call +1 (415) 555-0042.') == ('call <PHONE>.', 0, 0, 0, 1)
        assert self._r('or 415-555-0294!') == ('or <PHONE>!', 0, 0, 0, 1)
        assert self._r('tel (030) 1234567') == ('tel <PHONE>', 0, 0, 0, 1)
        # anti-prose rule: one separator and no +/( is not a phone
        assert self._r('years 2024 2025 here') == ('years 2024 2025 here', 0, 0, 0, 0)
        assert self._r('id 5551234 plain') == ('id 5551234 plain', 0, 0, 0, 0)
        # 13-digit Luhn-FAIL dashed run falls through to the phone pass
        assert self._r('n 1234-5678-9012-3 x')[0].count('<') == 1

    def test_residue_never_reseeds(self):
        # placeholders contain <> which no character class includes
        out = pii.redact_text('a@b.cc, 1.2.3.4, 4111111111111111, 415-555-0294 x')
        assert out[1:] == (1, 1, 1, 1)
        again = pii.redact_text(out[0])
        assert again[0] == out[0]      # text is a fixed point
        assert again[1:] == (0, 0, 0, 0)  # nothing left to find

    def test_space_adjacent_numeric_entities_merge_and_fail(self):
        # documented maximal-run consequence: a card and a phone
        # separated ONLY by a space form one 26-digit candidate that
        # is too long for either class — neither is redacted; any
        # punctuation between them restores both
        merged = pii.redact_text('4111111111111111 415-555-0294')
        assert merged[1:] == (0, 0, 0, 0)
        split = pii.redact_text('4111111111111111, 415-555-0294')
        assert split[1:] == (0, 0, 1, 1)


class TestTwinParity:
    def test_fuzz_matches_twin(self):
        rng = random.Random(5)
        atoms = [
            'user.5%tag+x@mail.example.org', 'a@b@c.com', 'x@y.co', 'x@y.c',
            '@@', 'a@.b.com', '10.5.15.101', '999.1.1.1', '10.2.3.4.5',
            'v1.2.3.4', '256.255.1.2', '1.2.3.4', '4111-1111-1111-1111',
            '4111 1111 1111 1111', '4111-1111-1111-1112', '4111111111111111',
            '+4915112345678', '+1 (415) 555-0042', '415-555-0294',
            '(030) 1234567', '555 1234', '2024 2025', '1234-5678-90123',
            '--12 34--', '()', '(abc) 123-4567', 'word', 'a', '.', ' ', '-',
            '+', '', '+-()', '5', 'mail me: x@y.zz, ip 8.8.8.8!', 'a@b.com.',
            'a@b.com-', 'x@y..zz', '(123)456-7890', '((1))', '+1+2 345678',
            '1 (23) 45678',
        ]
        glue = [' ', '', ', ', '.', '\n', ';', 'x', '@', '-', '0']
        for _ in range(5000):
            s = ''.join(rng.choice(atoms) + rng.choice(glue)
                        for _ in range(rng.randrange(1, 6)))
            assert pii.redact_text(s) == ok.pii_redact_seq(s), repr(s)

    def test_plant_rotations_match_twin(self):
        from markdown_articles_tool_spark.corpus import pii_plant

        for i in range(70):
            t = pii_plant(i, f'doc body {i}. ')
            assert pii.redact_text(t) == ok.pii_redact_seq(t), i
        # every rotation fires what it plants
        got = [pii.redact_text(pii_plant(i, 'x. '))[1:] for i in range(7)]
        assert got == [(1, 0, 0, 0), (0, 1, 0, 0), (0, 0, 0, 2), (0, 0, 1, 0),
                       (0, 0, 0, 0), (1, 1, 0, 1), (0, 0, 0, 0)]


class TestSparkOperator:
    def test_operator_matches_twin_and_plan(self, spark):
        import hashlib
        import re

        from markdown_articles_tool_spark.corpus import pii_plant

        rows = [(i, f'body of {i}. ') for i in range(40)]
        df = spark.createDataFrame(rows, 'doc_id long, text string')
        out = {r['doc_id']: r for r in
               pii.pii_redact(df, plant=pii_plant).collect()}
        for i, t in rows:
            red, ne, nip, ncc, nph = ok.pii_redact_seq(pii_plant(i, t))
            r = out[i]
            assert (r['n_emails'], r['n_ips'], r['n_ccs'], r['n_phones']) == (
                ne, nip, ncc, nph), i
            assert r['redacted'] == red
            assert r['redacted_sha'] == hashlib.sha256(red.encode()).hexdigest()
        plan = pii.pii_redact(df)._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r'ArrowEvalPython', plan)) <= 1, plan
        assert 'Exchange' not in plan


class TestCleanCorpusComposition:
    """The composed hygiene pipeline (mojibake → pii → quality) must
    stay ONE pipelined plan: one Python crossing, no joins, no hash
    shuffles."""

    def test_matches_chained_twins(self, spark):
        import hashlib

        from markdown_articles_tool_spark.corpus import mojibake_plant, pii_plant
        from markdown_articles_tool_spark.training.mojibake import fix_mojibake
        from markdown_articles_tool_spark.training.pii import pii_redact
        from pyspark.sql import functions as F

        rows = [(i, f'doc body {i} with words enough to exist. ')
                for i in range(28)]
        df = spark.createDataFrame(rows, 'doc_id long, text string')
        fixed = fix_mojibake(
            df, plant=lambda i, t: pii_plant(i, mojibake_plant(i, t)))
        scrubbed = pii_redact(fixed, text_col='fixed')
        got = {r['doc_id']: (r['n_emails'] + r['n_ips'] + r['n_ccs']
                             + r['n_phones'], r['redacted_sha'])
               for r in scrubbed.collect()}
        for i, t in rows:
            fixed_t, _, _ = ok.mojibake_fix_seq(pii_plant(i, mojibake_plant(i, t)))
            red, ne, nip, ncc, nph = ok.pii_redact_seq(fixed_t)
            assert got[i] == (ne + nip + ncc + nph,
                              hashlib.sha256(red.encode()).hexdigest()), i

    def test_plan_one_python_eval_no_hash_shuffle(self, spark):
        import re

        import __spark_entry__ as entry_mod
        from crossings import python_nodes

        q = entry_mod.queries()['clean_corpus'](spark, '/root/testdata/sf0.001')
        # mojibake repair, PII scrub and the repetition signals run in
        # ONE fused Arrow eval (the token features are JVM Columns)
        nodes = python_nodes(q)
        assert [kind for kind, _desc in nodes] == ['ArrowEvalPython'], nodes
        assert 'clean(' in nodes[0][1], nodes
        plan = q._jdf.queryExecution().executedPlan().toString()
        # only the small-scan widening and the final oracle sort may
        # exchange — never a hash shuffle or join in the hygiene chain.
        # r7: the sort funnels through a SinglePartition repartition
        # instead of rangepartitioning (range-bound SAMPLING re-executed
        # the whole zero-shuffle Arrow chain a second time; see
        # __spark_entry__._sorted1)
        kinds = set(re.findall(r'Exchange (\w+)', plan))
        assert kinds <= {'RoundRobinPartitioning', 'rangepartitioning',
                         'SinglePartition'}, kinds
        assert 'SortMergeJoin' not in plan and 'BroadcastHashJoin' not in plan

"""Text analysis operators: token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All pure Column algebra (whole-stage codegen; zero Python in the hot
path) — each has an exact ANSI-SQL twin in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

import re
from collections import Counter
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

# BPE-ish token regex: word runs OR single non-space punctuation
BPE_TOKEN_RE = r'[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'
PUNCT_RE = r'[^A-Za-z0-9_\s]'

# tiny per-language marker lexicons for the n-gram/stopword heuristic
LANG_MARKERS = {
    'en': r'(?i)\b(the|and|of|to|is|was|that|with)\b',
    'de': r'(?i)\b(der|die|das|und|ist|nicht|mit|ein)\b',
    'ru': r'[а-яА-ЯёЁ]',
}


def token_count(text: Column) -> Column:
    """Whitespace token count (empty text → 0)."""
    t = F.trim(text)
    return F.when(t == '', F.lit(0)).otherwise(F.size(F.split(t, r'\s+')))


def bpe_token_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def quality_features(df: DataFrame, text_col: str = 'text') -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length
    quality features plus a composite score in [0, 1]."""
    from .util import ensure_parallelism

    df = ensure_parallelism(df)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.regexp_count(t, F.lit(PUNCT_RE))
    n_stop = F.regexp_count(t, F.lit(LANG_MARKERS['en']))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio * 5) * 0.3
        + F.least(stop_ratio * 3, F.lit(1.0)) * 0.3
    )
    return df.select(
        'doc_id',
        n_chars.alias('n_chars'),
        n_tokens.alias('n_tokens'),
        bpe_token_count(t).alias('n_bpe_tokens'),
        F.round(punct_ratio, 6).alias('punct_ratio'),
        F.round(stop_ratio, 6).alias('stopword_ratio'),
        F.round(mean_word_len, 6).alias('mean_word_len'),
        F.round(score, 6).alias('quality_score'),
    )


def langid(df: DataFrame, text_col: str = 'text') -> DataFrame:
    """Marker-count language heuristic: argmax over per-language
    marker hits, deterministic tie-break by language code."""
    from .util import ensure_parallelism

    df = ensure_parallelism(df)
    t = F.col(text_col)
    hits = {lang: F.regexp_count(t, F.lit(pat)) for lang, pat in LANG_MARKERS.items()}
    # struct-max trick: max(struct(hits, negated-lang-rank)) — ties break
    # toward the lexicographically smallest language code
    pairs = F.array(
        *[F.struct(hits[lang].alias('hits'), F.lit(_lang_rank(lang)).alias('rank')) for lang in sorted(LANG_MARKERS)]
    )
    best = F.array_max(pairs)
    codes = sorted(LANG_MARKERS)
    lang_expr = F.when(best['hits'] == 0, F.lit('unknown'))
    for i, code in enumerate(codes):
        lang_expr = lang_expr.when(best['rank'] == _lang_rank(code), F.lit(code))
    return df.select(
        'doc_id',
        *[hits[lang].alias(f'hits_{lang}') for lang in codes],
        lang_expr.alias('lang_pred'),
    )


def _lang_rank(lang: str) -> int:
    # higher rank wins ties in array_max(struct) — invert lexicographic
    return {c: i for i, c in enumerate(sorted(LANG_MARKERS, reverse=True))}[lang]


REP_SCHEMA = StructType([
    StructField('n_lines', IntegerType()),
    StructField('dup_line_frac', DoubleType()),
    StructField('dup_line_char_frac', DoubleType()),
    StructField('top_bigram_frac', DoubleType()),
])

_ws_split = re.compile(r'[ \t\n\r\f\v]+').split


def repetition_signals(text):
    """(n_lines, dup_line_frac, dup_line_char_frac, top_bigram_frac)
    of one document (spec in ``repetition_stats``); ``None`` reads as
    the empty document."""
    t = text or ''
    lines = [x for x in (s.strip(' \t\r\v\f') for s in t.split('\n')) if x]
    n = len(lines)
    if n:
        counts = Counter(lines)
        dup_line = (n - len(counts)) / n
        total_chars = sum(len(x) for x in lines)
        dup_chars = sum(len(x) * c for x, c in counts.items() if c > 1)
        dup_char_frac = dup_chars / total_chars if total_chars else 0.0
    else:
        dup_line, dup_char_frac = 0.0, 0.0
    words = [w for w in _ws_split(t) if w]
    if len(words) >= 2:
        # NUL-joined (not tuples): matches the oracle's string
        # gram key exactly, incl. pathological NUL-bearing words
        grams = Counter(a + '\0' + b for a, b in zip(words, words[1:]))
        top_bigram = max(grams.values()) / (len(words) - 1)
    else:
        top_bigram = 0.0
    return n, round(dup_line, 6), round(dup_char_frac, 6), round(top_bigram, 6)


def _make_rep_udf():
    """The repetition-signals Arrow kernel, shared by repetition_stats
    and gopher_filter (ONE scan each — the filter must not rescan the
    corpus to reuse these signals)."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf(REP_SCHEMA)
    def rep_udf(text: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([repetition_signals(t) for t in text], columns=REP_SCHEMA.fieldNames())

    return rep_udf


def repetition_stats(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text') -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1 quality filters — the standard pretraining-data heuristics):

    * ``dup_line_frac``       — repeated lines / total lines
    * ``dup_line_char_frac``  — chars inside repeated lines / line chars
    * ``top_bigram_frac``     — occurrences of the most frequent word
      bigram / total bigram occurrences

    Lines = '\\n'-split, ASCII-stripped (' \\t\\r\\v\\f'), empties
    dropped; words = split on the explicit ASCII class
    ``[ \\t\\n\\r\\f\\v]+`` (not python's unicode ``.split()`` — the
    DuckDB twin must be byte-equivalent).  Per-document aggregation is
    embarrassingly parallel, so it runs in ONE Arrow pass (pandas_udf
    with per-doc Counters) — no (doc, gram) shuffle; grams never leave
    the python worker.  Exact inline DuckDB twin in oracle_sql().
    """
    from .util import ensure_parallelism

    rep_udf = _make_rep_udf()
    r = F.col('_r')
    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias('doc_id'), rep_udf(F.col(text_col)).alias('_r'))
        .select('doc_id', r['n_lines'].alias('n_lines'),
                r['dup_line_frac'].alias('dup_line_frac'),
                r['dup_line_char_frac'].alias('dup_line_char_frac'),
                r['top_bigram_frac'].alias('top_bigram_frac'))
    )


def gopher_features(text: Column) -> list:
    """The four token features the Gopher rules read — ``n_tokens``,
    ``mean_word_len``, ``stopword_ratio``, ``punct_ratio`` — as aliased
    Column algebra, rounded to the 6 places the stats queries publish
    (so a document's flags always agree with its published stats row)."""
    n_chars = F.length(text)
    n_tokens = token_count(text)

    def ratio(num: Column, den: Column) -> Column:
        return F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6)

    return [
        n_tokens.alias('n_tokens'),
        ratio(n_chars, n_tokens).alias('mean_word_len'),
        ratio(F.regexp_count(text, F.lit(LANG_MARKERS['en'])), n_tokens).alias('stopword_ratio'),
        ratio(F.regexp_count(text, F.lit(PUNCT_RE)), n_chars).alias('punct_ratio'),
    ]


def gopher_flags(
    rep: Column,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopword_ratio: float = 0.005,
    max_punct_ratio: float = 0.2,
    max_dup_line_frac: float = 0.30,
    max_top_bigram_frac: float = 0.18,
) -> dict:
    """The six Gopher rules (Rae et al. 2021 §A1.1, the subset our
    features express) as ``{ok_<rule>: Column}`` over a projection that
    carries ``gopher_features``' columns and a struct ``rep`` with the
    ``dup_line_frac`` and ``top_bigram_frac`` repetition signals.  The
    one home of the rule thresholds (the DuckDB twin in
    ``__spark_entry__.oracle_sql`` must equal these defaults)."""
    n_tokens, mwl = F.col('n_tokens'), F.col('mean_word_len')
    return {
        'ok_n_tokens': (n_tokens >= min_tokens) & (n_tokens <= max_tokens),
        'ok_mean_word_len': (mwl >= min_mean_word_len) & (mwl <= max_mean_word_len),
        'ok_stopwords': F.col('stopword_ratio') >= min_stopword_ratio,
        'ok_punct': F.col('punct_ratio') <= max_punct_ratio,
        'ok_dup_lines': rep['dup_line_frac'] <= max_dup_line_frac,
        'ok_top_bigram': rep['top_bigram_frac'] <= max_top_bigram_frac,
    }


def all_of(cols) -> Column:
    """Conjunction of boolean Columns (the ``keep`` verdict)."""
    return reduce(lambda a, b: a & b, cols)


def gopher_filter(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    carry: tuple = (),
    **thresholds,
) -> DataFrame:
    """Composite Gopher-rule document filter: per-doc boolean per rule
    (``gopher_flags``; ``thresholds`` override its defaults) plus the
    conjunction ``keep``.  Token-count window, mean-word-length window,
    stopword floor, punctuation ceiling (``gopher_features`` Column
    algebra), duplicate-line and top-bigram ceilings (from the
    repetition Arrow kernel).

    ONE corpus scan: the Column features and the repetition pandas_udf
    evaluate in the same projection — composing ``quality_features ⋈
    repetition_stats`` would scan the text twice and shuffle for the
    join, pure waste at crawl scale.
    """
    from .util import ensure_parallelism

    t = F.col(text_col)
    base = ensure_parallelism(df).select(
        F.col(id_col),
        *[F.col(c) for c in carry],  # ride the same projection, zero cost
        *gopher_features(t),
        _make_rep_udf()(t).alias('_r'),
    )
    flags = gopher_flags(F.col('_r'), **thresholds)
    out = base.select(id_col, *[F.col(c) for c in carry],
                      *[c.alias(nm) for nm, c in flags.items()])
    return out.withColumn('keep', all_of(F.col(nm) for nm in flags))


def fingerprint(df: DataFrame, text_col: str = 'text') -> DataFrame:
    """Whitespace-normalized sha256 document fingerprint (stable across
    formatting-only edits)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r'\s+', ' ')
    return df.select('doc_id', F.sha2(norm, 256).alias('fingerprint'))

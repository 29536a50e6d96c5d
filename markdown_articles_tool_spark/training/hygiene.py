"""The composed corpus-hygiene pipeline: mojibake repair → PII scrub →
Gopher quality verdict, as ONE pipelined Spark plan with ONE Python
crossing.

This is the shape a release run actually executes, and the shape that
matters at 10^12 documents.  The per-document Python work — the
mojibake repair (``mojibake.fix_text``), the PII scrub
(``pii.redact_text``), the clean-text sha256 and the repetition
signals (``textstats.repetition_signals``) — runs as one plain row
kernel (``clean_row``) inside ONE ``pandas_udf``, so each document's
text crosses the JVM↔Python boundary once and comes back once.  The
Gopher token, stopword, punctuation and mean-word-length features stay
JVM Column algebra over the returned clean text
(``textstats.gopher_features`` / ``gopher_flags``: the same thresholds
as ``gopher_filter``).  Zero joins, zero hash shuffles.  Every step is
stateless, so the same function serves batch frames and
Structured-Streaming frames unchanged
(``streaming/incremental.start_incremental_scrub``).

Driver-checked as the ``clean_corpus`` query against three independent
machineries (chained sequential twins for the clean text, DuckDB SQL
for the quality verdict over it)."""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from .mojibake import fix_text
from .pii import redact_text
from .textstats import all_of, gopher_features, gopher_flags, repetition_signals

CLEAN_SCHEMA = StructType([
    StructField('n_pii', IntegerType()),
    StructField('clean_sha', StringType()),
    StructField('clean_text', StringType()),
    StructField('dup_line_frac', DoubleType()),
    StructField('top_bigram_frac', DoubleType()),
])


def clean_row(text):
    """One document through the hygiene row kernel → (n_pii,
    clean_sha, clean_text, dup_line_frac, top_bigram_frac)."""
    fixed, _n_runs, _n_rounds = fix_text(text)
    clean, *counts = redact_text(fixed)
    _n_lines, dup_line, _dup_chars, top_bigram = repetition_signals(clean)
    return (sum(counts), hashlib.sha256(clean.encode('utf-8')).hexdigest(), clean,
            dup_line, top_bigram)


def scrub(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    plant=None,
    keep_text: bool = False,
) -> DataFrame:
    """(docs) → (id_col, n_pii, keep, clean_sha [, clean_text]).

    ``plant(id, text) -> text`` is the synthetic-corpus hook applied
    inside the Arrow pass before the repair (requires integer ids;
    production runs leave it None).  ``keep_text`` carries the scrubbed
    text through to the output (the release-run case); off by default
    so query and benchmark outputs stay narrow."""
    from pyspark.sql.pandas.functions import pandas_udf

    from .util import ensure_parallelism

    @pandas_udf(CLEAN_SCHEMA)
    def clean(doc_id: pd.Series, text: pd.Series) -> pd.DataFrame:
        if plant is not None:
            text = [plant(int(d), t) for d, t in zip(doc_id, text)]
        return pd.DataFrame([clean_row(t) for t in text], columns=CLEAN_SCHEMA.fieldNames())

    r = F.col('_r')
    base = ensure_parallelism(df).select(
        id_col, clean(F.col(id_col), F.col(text_col)).alias('_r'))
    feats = base.select(id_col, '_r', *gopher_features(r['clean_text']))
    return feats.select(
        id_col,
        r['n_pii'].alias('n_pii'),
        all_of(gopher_flags(r).values()).alias('keep'),
        r['clean_sha'].alias('clean_sha'),
        *([r['clean_text'].alias('clean_text')] if keep_text else []),
    )

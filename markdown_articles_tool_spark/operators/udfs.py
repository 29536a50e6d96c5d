"""Vectorized pandas UDFs wrapping the pure-Python semantic core.

Every row-level operation that cannot be expressed as built-in Column
algebra lives here as an Arrow-batched pandas UDF (no per-row Python
UDFs anywhere — input_hint mandate, BASELINE.json:16).  Each UDF is a
thin vectorized wrapper over ``markdown_articles_tool_spark.core``, so
the Spark pipeline and the sequential oracle share one semantic
implementation.

Operators that turn one input record into zero or more output rows
(page → main content, archive blob → WARC records, fetch key → fetched
row, ...) are one ``mapInPandas`` each, built by ``map_rows``: the
operator supplies only its per-record function and its DDL schema.
``row_batches`` is the same Arrow-batch loop without Spark, for
callers that already hold the batch iterator (the fetchers).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core import mdparse
from ..core.pathalgebra import PathConfig, get_document_img_path, get_real_path, image_local_url
from ..core.wwwtools import guess_mime_type

RowFn = Callable[..., Iterable[tuple]]


def row_batches(fn: RowFn, names: Sequence[str]) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The Arrow-batch loop of ``map_rows``, without Spark: a
    ``mapInPandas`` function that calls ``fn(*values)`` on every row of
    every input batch and yields one frame per batch of the tuples it
    yields, under ``names`` (an empty batch yields an empty frame with
    those columns).  It carries ``fn``'s name, which is what the
    ``MapInPandas`` plan node prints."""

    def batches_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [out for values in pdf.itertuples(index=False, name=None) for out in fn(*values)],
                columns=names,
            )

    batches_fn.__name__ = batches_fn.__qualname__ = fn.__name__
    return batches_fn


def map_rows(df: DataFrame, cols: Sequence[str], fn: RowFn, schema: str) -> DataFrame:
    """One ``mapInPandas`` over ``df.select(*cols)``: ``fn`` gets each
    row's values in ``cols`` order and yields output tuples in the
    order of the DDL ``schema``.  The output column names are read from
    the schema once, on the driver; the plan node is named after
    ``fn``."""
    struct = DataType.fromDDL(schema)
    return df.select(*cols).mapInPandas(row_batches(fn, struct.names), schema=struct)


LINK_STRUCT = StructType(
    [
        StructField('link', StringType()),
        StructField('w', IntegerType()),
        StructField('h', IntegerType()),
    ]
)

EXTRACT_SCHEMA = ArrayType(LINK_STRUCT)


@pandas_udf(EXTRACT_SCHEMA)
def extract_md_links(text: pd.Series) -> pd.Series:
    """E1-E3: CommonMark-style image extraction + size-suffix parse
    (SURVEY.md §2.2; transformers/md/transformer.py:47-83)."""
    return text.map(
        lambda t: [
            {'link': l, 'w': w, 'h': h} for l, w, h in mdparse.extract_image_links(t or '')
        ]
    )


@pandas_udf(EXTRACT_SCHEMA)
def extract_html_links(text: pd.Series) -> pd.Series:
    """E4: HTML <img src> extraction (transformers/html/transformer.py:14-31)."""
    return text.map(
        lambda t: [
            {'link': l, 'w': w, 'h': h} for l, w, h in mdparse.extract_html_image_links(t or '')
        ]
    )


@pandas_udf(StringType())
def mime_type_of(download_url: pd.Series) -> pd.Series:
    """P3 MIME gate input (frozen stdlib tables, image_downloader.py:124-131).

    Python-exact version; the pipeline hot path uses ``mime_gate_col``
    (pure Column algebra, whole-stage codegen) instead.
    """
    return download_url.map(lambda u: guess_mime_type(u) if u is not None else None)


def _mime_gate_maps():
    """Precomputed gate tables replicating stdlib guess_type resolution
    (see core.wwwtools.guess_mime_type): direct ext → pass, suffix-map
    exts (.tgz → .tar.gz …) resolved ahead of time, and encoding exts
    (.gz/.bz2/…) that defer to the previous extension."""
    from ..mime_frozen import ENCODINGS_MAP, SUFFIX_MAP, TYPES_MAP

    direct = sorted({e.lower() for e in TYPES_MAP})
    suffix_pass = sorted(
        e.lower() for e in SUFFIX_MAP if guess_mime_type('x' + SUFFIX_MAP[e]) is not None
    )
    encodings = sorted(ENCODINGS_MAP)  # case-sensitive in the stdlib
    return direct, suffix_pass, encodings


def mime_gate_col(download_url):
    """P3 as pure Column algebra: true iff ``guess_mime_type(url)`` is
    non-null.  Exact except for multi-level compression chains beyond
    one encoding suffix (e.g. ``a.tgz.gz``), which no image URL has.
    """
    direct, suffix_pass, encodings = _mime_gate_maps()
    stripped = F.regexp_replace(download_url, '^[^/:]+:', '')
    bn = F.substring_index(stripped, '/', -1)
    bn2 = F.regexp_replace(bn, r'^\.+', '')
    has_ext = bn2.contains('.')
    last = F.concat(F.lit('.'), F.substring_index(bn2, '.', -1))
    base_wo_last = F.regexp_extract(bn2, r'^(.*)\.[^.]*$', 1)
    prev = F.when(
        base_wo_last.contains('.'),
        F.concat(F.lit('.'), F.substring_index(base_wo_last, '.', -1)),
    ).otherwise(F.lit(''))
    ll = F.lower(last)
    return (
        F.when(F.lower(download_url).startswith('data:'), download_url.contains(','))
        .when(~has_ext, F.lit(False))
        .when(ll.isin(*suffix_pass) if suffix_pass else F.lit(False), F.lit(True))
        .when(last.isin(*encodings), F.lower(prev).isin(*direct))
        .otherwise(ll.isin(*direct))
    )


@pandas_udf(StringType())
def local_name_udf(download_url: pd.Series) -> pd.Series:
    """S5 naming: ``Path(download_path).name``
    (image_downloader.py:277-282); only used in local-article configs."""
    from pathlib import PurePosixPath

    return download_url.map(lambda du: PurePosixPath(du).name if du is not None else None)


PATHS_STRUCT = StructType(
    [
        StructField('real_path', StringType()),
        StructField('doc_path', StringType()),
        StructField('doc_path_posix', StringType()),
    ]
)


def make_paths_udf(cfg: PathConfig):
    """F11-F13 path algebra over (link, base_url, filename[, local_url_override]).

    ``local_url_override`` carries the reference's `_fix_name_collision`
    same-content quirk (image_downloader.py:327-331): when set, the
    document path is computed with the full original URL instead of the
    link's directory.  The collision-repair path (sha256(url)_filename)
    is derived lazily inside the fold — never shipped per link.
    """

    @pandas_udf(PATHS_STRUCT)
    def paths_udf(
        link: pd.Series, base_url: pd.Series, filename: pd.Series, local_url_override: pd.Series
    ) -> pd.DataFrame:
        rows = []
        for lk, bu, fn, ov in zip(link, base_url, filename, local_url_override):
            if fn is None or lk is None:
                rows.append((None, None, None))
                continue
            local_url = ov if ov is not None else image_local_url(lk)
            real_path = get_real_path(cfg, image_local_url(lk), fn, bu or '')
            doc_path, doc_path_posix = get_document_img_path(cfg, local_url, fn)
            rows.append((real_path, doc_path, doc_path_posix))
        return pd.DataFrame(rows, columns=['real_path', 'doc_path', 'doc_path_posix'])

    return paths_udf


REC_STRUCT = StructType(
    [
        StructField('ord', IntegerType()),
        StructField('src', StringType()),
        StructField('status', StringType()),
        StructField('dedup_path', StringType()),
        StructField('doc_path', StringType()),
        StructField('doc_path_posix', StringType()),
        StructField('filename', StringType()),
    ]
)


MAPPING_STRUCT = ArrayType(
    StructType([StructField('src', StringType()), StructField('dst', StringType())])
)


def make_mapping_udf(strict_duplicate_assert: bool, skip_all_errors: bool, path_cfg: PathConfig = None):
    """A1/A5 fold ONLY: per-document insertion-ordered ``src → dst``
    replacement pairs (core.docfold.fold_mapping) from the link records.

    The document TEXT never enters this UDF — the ordered cascading
    replace itself (R1) runs JVM-side as
    ``F.aggregate(mapping, text, (acc, m) -> replace(acc, m.src, m.dst))``,
    which is byte-identical to the reference's per-line loop
    (string_tools.py:42-51) because src/dst can never contain a newline
    (srcs come from single-line extraction; dsts are path strings) and a
    mapping src can never be the empty string (an empty src yields an
    empty derived filename → `no_filename` status → no mapping entry) —
    the only two inputs where whole-text JVM replace and python's
    per-line ``str.replace`` could diverge.  Cutting the text's
    python round trip halves the Arrow traffic of the whole pipeline.

    Failure semantics enforced here (they belong to record processing):
    the duplicate-URL assert (image_downloader.py:116) and
    fail-on-error when ``skip_all_errors`` is unset
    (image_downloader.py:152-161).
    """
    from ..core import docfold

    @pandas_udf(MAPPING_STRUCT)
    def mapping_udf(recs: pd.Series) -> pd.Series:
        out = []
        for rs in recs:
            if rs is None or len(rs) == 0:
                out.append([])
                continue
            records = []
            seen_ok = set()
            for r in sorted(rs, key=lambda r: r['ord']):
                if strict_duplicate_assert and r['src'] in seen_ok:
                    raise AssertionError(f'BUG: already downloaded image "{r["src"]}"...')
                if not skip_all_errors and r['status'] == docfold.ERROR:
                    raise OSError(f'image fetch failed for "{r["src"]}" (skip_all_errors unset)')
                if r['status'] == docfold.OK:
                    seen_ok.add(r['src'])
                records.append(
                    docfold.LinkRecord(
                        ord=r['ord'],
                        src=r['src'],
                        status=r['status'],
                        dedup_path=r['dedup_path'],
                        doc_path=r['doc_path'],
                        doc_path_posix=r['doc_path_posix'],
                        filename=r['filename'],
                    )
                )
            out.append([{'src': s, 'dst': d} for s, d in docfold.fold_mapping(records, path_cfg)])
        return pd.Series(out, dtype=object)

    return mapping_udf


def is_url_col(c):
    """P1: case-insensitive prefix test — http/ftp prefixes subsume
    https/ftps (www_tools.py:21-30, quirk preserved)."""
    lc = F.lower(c)
    return lc.startswith('http') | lc.startswith('ftp')


def base_url_col(url):
    """F8: everything before the last '/' (www_tools.py:119-126)."""
    return F.regexp_replace(url, r'/[^/]*$', '')

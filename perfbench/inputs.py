"""Seeded inputs and their reference digests.

The seed picks an index range of the program's deterministic corpus
generators (``markdown_articles_tool_spark.corpus``).  The program under
test only ever sees the parquet written here.  Reference digests come
from implementations that share no Spark code with the program: the
sequential ``oracle.ReferenceOracle`` for the transform, the
``tools/oracle_kernels`` twins for the WARC release chain.  They are
cached per (workload, seed, input fingerprint), so a generator change
re-runs the reference instead of matching a stale one.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from markdown_articles_tool_spark import corpus

# fat image links are keyed by ``i % 50000``: a range inside one
# window of 50000 keeps every page's links distinct
_FAT_WINDOW = 50000
# first index the transform range may start at; the file range for the
# WARC workload starts anywhere below _WARC_FILE_SPAN
_FIRST_DOC = 1000
_WARC_FILE_SPAN = 20000


def sha256_hex(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def transform_rows(seed: int, n_docs: int) -> list:
    """(url, text) of ``n_docs`` fat pages from a seed-chosen range."""
    span = _FAT_WINDOW - _FIRST_DOC - n_docs
    start = _FIRST_DOC + (seed * 7919) % span
    return [(corpus.doc_url(i), corpus.doc_text(i, fat=True)) for i in range(start, start + n_docs)]


def warc_rows(seed: int, n_files: int) -> list:
    """(file_name, data) of ``n_files`` WARC blobs from a seed-chosen
    file range (each file holds ``corpus.DOCS_PER_WARC`` documents)."""
    f0 = (seed * 104729) % _WARC_FILE_SPAN
    n_docs = (f0 + n_files) * corpus.DOCS_PER_WARC
    return [(corpus.warc_file_name(f), corpus.warc_file_bytes(f, n_docs)) for f in range(f0, f0 + n_files)]


def fingerprint(rows: list) -> str:
    """Digest of the generated rows, recorded with every run."""
    h = hashlib.sha256()
    for key, value in rows:
        h.update(key.encode())
        h.update(b'\0')
        h.update(value if isinstance(value, bytes) else value.encode())
        h.update(b'\0')
    return h.hexdigest()


def write_parquet(rows: list, names: tuple, path: str, n_files: int) -> None:
    """Rows as ``n_files`` parquet files, so a scan splits into that
    many tasks."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({names[0]: [r[0] for r in rows], names[1]: [r[1] for r in rows]})
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f'part-{k:03d}.parquet'))


def transform_config():
    """The configuration of record: one md pass, content-hash dedup,
    skip all errors (``jobs/run_transform.py --dedup content_hash
    --skip-all-errors``)."""
    from markdown_articles_tool_spark.core.linkflow import DedupVariant, TransformConfig

    return TransformConfig(skip_all_errors=True, deduplication=DedupVariant.CONTENT_HASH)


def transform_reference(rows: list) -> dict:
    """sha256 of ``text_out`` per url and of the stored bytes per
    ``real_path``, from the sequential reference transform."""
    from markdown_articles_tool_spark.oracle import ReferenceOracle

    res = ReferenceOracle(transform_config(), corpus.ModelAssetStore()).run(rows)
    return {
        'texts': {u: sha256_hex(t.encode('utf-8')) for u, t in res.texts.items()},
        'images': {p: sha256_hex(b) for p, b in res.images.items()},
    }


def _oracle_kernels():
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), 'tools')
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import oracle_kernels

    return oracle_kernels


def crawl_reference(rows: list) -> dict:
    """Sorted (url, sha256 of the clean text, PII count) of every page
    the release chain keeps: WARC walk → HTTP 200 text/html gate →
    main-content strip → mojibake repair → PII redaction."""
    ok = _oracle_kernels()
    out = []
    for _name, data in rows:
        for _ord, url, _date, status, mime, _cs, _nb, text in ok.warc_responses_seq(data):
            if status != 200 or mime != 'text/html':
                continue
            main = ok.main_content_text(ok.main_content_blocks(text.encode('utf-8')))
            fixed, _n, _r = ok.mojibake_fix_seq(main)
            red, ne, nip, ncc, nph = ok.pii_redact_seq(fixed)
            out.append([url, sha256_hex(red.encode('utf-8')), ne + nip + ncc + nph])
    return {'pages': sorted(out)}


def cached_reference(cache_dir: str, workload: str, seed: int, fp: str, build) -> dict:
    """``build()`` once per (workload, seed, fingerprint); JSON on disk."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f'{workload}-{seed}-{fp[:16]}.json')
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    ref = build()
    tmp = path + '.tmp'
    with open(tmp, 'w') as f:
        json.dump(ref, f)
    os.replace(tmp, path)
    return ref

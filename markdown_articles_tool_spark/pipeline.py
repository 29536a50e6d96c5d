"""The end-to-end document-transform plan (idiomatic Spark).

Plan shape (SURVEY.md §3 "Rebuild lifecycle"):

    pages ──extract UDF + posexplode──► links(url, ord, src, w, h)
      │        │ column algebra: skip-list, resolve, MIME gate
      │        ▼
      │    distinct fetch_key ──salted mapInPandas fetch──► bytes
      │        │ hash-join back (AQE picks broadcast vs shuffle)
      │        ▼
      │    sha2(content) ──groupBy(hash) min(first-wins)──► dedup map
      │        │ join back; path algebra (column exprs / pandas UDF)
      │        ▼
      └──► groupBy(url) collect_list(struct) ──rewrite UDF──► text_out
           images: first-write-wins per real_path ──► images_out

Everything order-sensitive carries an explicit ``ord``/pass key — the
optimizer is free to reorder execution because first-wins is expressed
as ``min(struct(key, ...))`` over a canonical total order
(pass, url, ord), never as ``first()`` (SURVEY.md §4 determinism).

At 10^12-doc scale the only state that is not embarrassingly
partitionable is the dedup winners map, which is a groupBy on the
content hash (near-uniform keys) — no driver-side collection anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import PurePosixPath
from typing import List, Optional

from pyspark.sql import DataFrame, Window, functions as F

from .core.linkflow import DedupVariant, TransformConfig
from .operators import udfs
from .operators.fetch import Fetcher, fetch_distinct, local_store_fetcher, model_fetcher
from .operators.udfs import base_url_col, is_url_col


# above this many entries the P2 skip list joins as a broadcast dim
# table instead of compiling into an IN-literal expression tree
SKIP_LIST_BROADCAST_THRESHOLD = 1000


@dataclass
class PassResult:
    docs_out: DataFrame          # url, text_out
    links_audit: DataFrame       # url, pass, ord, src, status, fetch_key, real_path
    images_out: DataFrame        # real_path, content
    dedup_registrations: Optional[DataFrame]  # sha_hex, key, filename (CONTENT_HASH only)
    cached: tuple = ()           # persisted intermediates; unpersist via cleanup()


@dataclass
class PipelineResult:
    docs_out: DataFrame          # url, text_out (after all passes)
    links_audit: DataFrame
    images_out: DataFrame        # real_path, content (first-write-wins overall)
    cached: tuple = ()           # persisted intermediates across passes

    def cleanup(self) -> None:
        """Unpersist intermediates after sinks are written — keeps
        long-lived sessions (sharded resume loops) from accumulating
        dead cache blocks."""
        for df in self.cached:
            df.unpersist()


def _doc_prefix_strings(cfg: TransformConfig):
    p = PurePosixPath(
        cfg.paths.img_public_path if cfg.paths.img_public_path is not None else cfg.paths.img_dir_name
    )
    dedup_p = PurePosixPath(
        cfg.paths.img_public_path if cfg.paths.img_public_path else cfg.paths.img_dir_name
    )
    return '/'.join(p.parts), str(p), str(dedup_p)


# columns extract_pass_links hands to finish_pass — everything the
# global half needs, nothing else (this is also the sharded-resume
# staging schema: narrow per-link metadata, no content bytes)
LINKMETA_COLS = (
    'url', 'ord', 'src', 'w', 'h', 'base_url', 'status',
    'fetch_key', 'sha_hex', 'filename1', 'need_rescaling',
)


def extract_pass_links(
    docs: DataFrame,
    cfg: TransformConfig,
    fmt: str = 'md',
    fetcher: Optional[Fetcher] = None,
    local_assets: Optional[dict] = None,
):
    """Shard-local half of one transformer pass: extraction UDF →
    filters → distinct-URL fetch → per-link filename/status derivation.

    No global state enters here, so this half can run per shard under
    checkpointed resume; ``finish_pass`` is the global half (dedup
    winners, paths, rewrite, sinks).  Returns ``(links, fetched,
    cached)`` where ``links`` has LINKMETA_COLS and ``fetched`` the
    distinct-URL bytes ``(fetch_key, content)`` plus metadata.
    """
    fetcher = fetcher or model_fetcher
    extract = udfs.extract_md_links if fmt == 'md' else udfs.extract_html_links

    links = docs.select(
        'url',
        F.posexplode_outer(extract(F.col('text'))).alias('ord', 'lk'),
    ).select(
        'url',
        'ord',
        F.col('lk.link').alias('src'),
        F.col('lk.w').alias('w'),
        F.col('lk.h').alias('h'),
    ).where(F.col('src').isNotNull())

    if cfg.derive_base_url_from_doc_url:
        links = links.withColumn('base_url', base_url_col(F.col('url')))
    else:
        links = links.withColumn('base_url', F.lit(cfg.paths.article_base_url))

    # P2 skip list (exact-match set, image_downloader.py:262-269).
    # Small lists compile to an isin literal; above the threshold a
    # 100k-term IN becomes a 100k-node expression tree shipped into
    # every task, so large lists go through a broadcast hash join
    # instead (SURVEY.md §2.3 P2) — same exact-match semantics, and
    # skipped rows keep their audit/status row (they are markers, not
    # drops: a skipped link gets no mapping entry but its text row
    # still flows to the rewrite fold untouched).
    if cfg.skip_list and len(cfg.skip_list) > SKIP_LIST_BROADCAST_THRESHOLD:
        skip_df = docs.sparkSession.createDataFrame(
            [(s,) for s in sorted(cfg.skip_list)], 'src string'
        ).withColumn('_skipped', F.lit(True))
        links = links.join(F.broadcast(skip_df), on='src', how='left')
        skip = F.coalesce(F.col('_skipped'), F.lit(False))
    elif cfg.skip_list:
        skip = F.col('src').isin(*cfg.skip_list)
    else:
        skip = F.lit(False)

    # F9 relative→absolute resolution (image_downloader.py:194-210)
    article_dir = str(PurePosixPath(cfg.paths.article_file_path).parent)
    links = links.withColumn(
        'download_url',
        F.when(is_url_col(F.col('src')), F.col('src'))
        .when(F.col('base_url') != '', F.concat(F.col('base_url'), F.lit('/'), F.col('src')))
        .otherwise(F.concat(F.lit(article_dir + '/'), F.col('src'))),
    )

    # P3 MIME gate — pure Column algebra (JVM-side); the python-exact
    # twin udfs.mime_type_of backs the oracle and the parity test
    gate_ok = (
        F.lit(True) if cfg.download_incorrect_mime_types else udfs.mime_gate_col(F.col('download_url'))
    )
    links = links.withColumn(
        'status0',
        F.when(skip, F.lit('skipped')).when(~gate_ok, F.lit('mime_drop')),
    )
    if '_skipped' in links.columns:
        links = links.drop('_skipped')

    # S4: fetch each distinct URL once cluster-wide
    links = links.withColumn('is_remote', is_url_col(F.col('download_url')))
    links = links.withColumn(
        'fetch_key',
        F.when(
            F.col('status0').isNull(),
            F.when(
                F.col('is_remote'),
                F.element_at(F.split(F.col('download_url'), r'\s+'), 1),
            ).otherwise(F.col('download_url')),
        ),
    )
    # the links table feeds the fetch scan(s) plus the main join —
    # persist the (still content-free, narrow) projection so the
    # extraction UDF runs once per pass, not per consumer
    links = links_pre = links.persist()
    fetched = fetch_distinct(
        links.where('status0 IS NULL AND is_remote'), 'fetch_key', fetcher,
        salt_by_host=cfg.salt_fetch_by_host,
    )
    # the local-file branch only exists for local articles (base_url '')
    # — when base URLs derive from doc URLs every resolved link is
    # remote, so don't pay for an empty mapInPandas stage + union
    if not cfg.derive_base_url_from_doc_url and not cfg.paths.article_base_url:
        local_fetched = fetch_distinct(
            links.where('status0 IS NULL AND NOT is_remote'),
            'fetch_key',
            local_store_fetcher(local_assets or {}),
        )
        fetched = fetched.unionByName(local_fetched)
    # Image BYTES never ride through the link joins: the content hash
    # AND the derived filename are computed once per distinct URL
    # INSIDE the fetch's own python batch (operators.fetch.derive_fetched
    # — F7 is a pure function of the response, and the bytes are already
    # in that worker's memory); only narrow metadata joins onto links.
    # The bytes themselves are joined exactly once, at the images sink,
    # for the rows that actually get written.  At corpus scale this is
    # the difference between shuffling TBs of binaries through every
    # stage and 100-byte rows.
    fetched = fetched.persist()
    fetched_meta = fetched.select('fetch_key', 'fetch_status', 'sha_hex', 'filename_remote')
    links = links.join(fetched_meta, on='fetch_key', how='left')

    # F7/S5 filename, F4 hashed rename
    if not cfg.derive_base_url_from_doc_url and not cfg.paths.article_base_url:
        filename0 = F.when(F.col('is_remote'), F.col('filename_remote')).otherwise(
            udfs.local_name_udf(F.col('download_url'))
        )
    else:
        filename0 = F.col('filename_remote')
    links = links.withColumn('filename0', filename0)

    links = links.withColumn(
        'status',
        F.when(F.col('status0').isNotNull(), F.col('status0'))
        .when(F.col('sha_hex').isNull() | (F.col('fetch_status') >= 400), F.lit('error'))
        .when(F.col('filename0') == udfs.FILENAME_KEYERROR, F.lit('error'))
        .when(F.col('filename0').isNull(), F.lit('no_filename'))
        .otherwise(F.lit('ok')),
    )

    filename = F.col('filename0')
    if cfg.replace_image_names:
        # f'{sha256}.{ext}' — missing ext renders literal None
        # (image_downloader.py:333-341)
        ext = F.when(
            F.col('filename0').contains('.'), F.substring_index(F.col('filename0'), '.', -1)
        ).otherwise(F.lit('None'))
        filename = F.concat(F.col('sha_hex'), F.lit('.'), ext)
    links = links.withColumn('filename1', F.when(F.col('status') == 'ok', filename))

    links = links.withColumn('need_rescaling', F.col('w').isNotNull() | F.col('h').isNotNull())

    # second materialization point: the dedup-winners branch and the
    # main branch both consume the joined+derived links — without this,
    # the meta join and its upstream UDFs execute once per branch
    links = links.select(*LINKMETA_COLS).persist()
    return links, fetched, (links_pre, links, fetched)


def finish_pass(
    docs: DataFrame,
    links: DataFrame,
    fetched: DataFrame,
    cfg: TransformConfig,
    pass_idx: int = 0,
    dedup_state: Optional[DataFrame] = None,
    cached: tuple = (),
) -> PassResult:
    """Global half of one transformer pass: cluster-wide dedup winners,
    path algebra, per-document fold + rewrite, and both sinks.

    ``links``: LINKMETA_COLS rows (live from ``extract_pass_links`` or
    read back from the resume staging parquet — identical semantics
    either way, which is what makes sharded resume byte-identical to
    the global run).  ``fetched`` needs (fetch_key, content).
    """
    # canonical total order for cluster-wide first-wins (SURVEY.md §2.5)
    links = links.withColumn(
        'pass_key', F.struct(F.lit(pass_idx).alias('p'), F.col('url').alias('u'), F.col('ord').alias('o'))
    )

    doc_prefix_join, doc_prefix_posix, dedup_prefix = _doc_prefix_strings(cfg)

    # A2 content-hash dedup / A3 name-hash dedup
    links = links.withColumn('dedup_path', F.lit(None).cast('string'))
    dedup_registrations = None
    if cfg.deduplication == DedupVariant.CONTENT_HASH:
        elig = (F.col('status') == 'ok') & ~F.col('need_rescaling')
        cand = links.where(elig).select(
            'sha_hex', F.col('pass_key').alias('key'), F.col('filename1').alias('filename')
        )
        if dedup_state is not None:
            cand = dedup_state.unionByName(cand)
        winners = cand.groupBy('sha_hex').agg(
            F.min(F.struct(F.col('key'), F.col('filename'))).alias('win')
        ).select(
            'sha_hex', F.col('win.key').alias('win_key'), F.col('win.filename').alias('win_filename')
        )
        # winners has one row per distinct image content — small enough
        # to broadcast at test scale, but at 10^12 docs it is not: let
        # AQE pick broadcast vs shuffled hash join by actual size
        links = links.join(winners, on='sha_hex', how='left')
        is_dup = elig & (F.col('pass_key') != F.col('win_key'))
        links = links.withColumn(
            'dedup_path',
            F.when(is_dup, F.concat(F.lit(dedup_prefix + '/'), F.col('win_filename'))),
        ).drop('win_key', 'win_filename')
        dedup_registrations = winners.selectExpr(
            'sha_hex', 'win_key as key', 'win_filename as filename'
        )
    elif cfg.deduplication == DedupVariant.NAMES_HASHING:
        # A3: rename to '{sha256}{suffix}' (name_hash_dedup.py:13-17)
        suffix = F.regexp_extract(F.col('filename1'), r'^.+(\.[^.]+)$', 1)
        links = links.withColumn(
            'filename1',
            F.when(
                (F.col('status') == 'ok') & ~F.col('need_rescaling'),
                F.concat(F.col('sha_hex'), suffix),
            ).otherwise(F.col('filename1')),
        )

    links = _attach_paths(links, cfg, doc_prefix_join, doc_prefix_posix)

    # ------------------------------------------------------------- sinks
    rec = F.struct(
        F.col('ord'),
        F.col('src'),
        F.col('status'),
        F.col('dedup_path'),
        F.col('doc_path'),
        F.col('doc_path_posix'),
        F.col('filename1').alias('filename'),
    ).alias('rec')
    per_doc = links.groupBy('url').agg(F.collect_list(rec).alias('recs'))

    # R1 split: the per-doc FOLD (first-wins + collision repair) runs in
    # python over the small record structs; the ordered cascading
    # replace runs JVM-side over the text — the fat text column never
    # crosses into python here (see udfs.make_mapping_udf for the
    # byte-identity argument)
    mapping = udfs.make_mapping_udf(cfg.strict_duplicate_assert, cfg.skip_all_errors, cfg.paths)
    docs_out = (
        docs.join(per_doc, on='url', how='left')
        .withColumn('_mapping', mapping(F.col('recs')))
        .withColumn(
            'text_out',
            F.aggregate(
                F.coalesce(F.col('_mapping'), F.array().cast(udfs.MAPPING_STRUCT)),
                F.col('text'),
                lambda acc, m: F.replace(acc, m['src'], m['dst']),
            ),
        )
        .select('url', 'text_out')
    )

    # images sink: pick the winning (first) writer per path on narrow
    # columns, then join the bytes in once — one content shuffle total
    writable = links.where((F.col('status') == 'ok') & F.col('dedup_path').isNull())
    winners_by_path = writable.groupBy('real_path').agg(
        F.min_by(
            F.struct(F.col('fetch_key'), F.col('w'), F.col('h'), F.col('need_rescaling')),
            F.col('pass_key'),
        ).alias('win')
    )
    images_out = (
        winners_by_path.select(
            'real_path',
            F.col('win.fetch_key').alias('fetch_key'),
            F.col('win.w').alias('w'),
            F.col('win.h').alias('h'),
            F.col('win.need_rescaling').alias('need_rescaling'),
        )
        .join(fetched.select('fetch_key', 'content'), on='fetch_key', how='inner')
        .select(
            'real_path',
            F.when(F.col('need_rescaling'), _resized_bytes()).otherwise(F.col('content')).alias('content'),
        )
    )

    links_audit = links.select(
        'url',
        F.lit(pass_idx).alias('pass'),
        'ord',
        'src',
        'status',
        'fetch_key',
        'real_path',
        'sha_hex',
    )

    return PassResult(docs_out, links_audit, images_out, dedup_registrations, cached=cached)


def transform_pass(
    docs: DataFrame,
    cfg: TransformConfig,
    fmt: str = 'md',
    pass_idx: int = 0,
    fetcher: Optional[Fetcher] = None,
    local_assets: Optional[dict] = None,
    dedup_state: Optional[DataFrame] = None,
) -> PassResult:
    """One transformer pass (E5 chaining runs these sequentially).

    ``docs``: DataFrame(url string, text string).  Composition of the
    shard-local and global halves above.
    """
    links, fetched, cached = extract_pass_links(
        docs, cfg, fmt=fmt, fetcher=fetcher, local_assets=local_assets
    )
    return finish_pass(docs, links, fetched, cfg, pass_idx=pass_idx, dedup_state=dedup_state, cached=cached)


def _resized_bytes():
    """Modeled resize-on-write (F14): deterministic tagged bytes, the
    same model as ``oracle._model_resize`` (PIL is unavailable here; the
    real PIL re-encode slots in behind the same column contract)."""
    return F.concat(
        F.encode(
            F.concat(
                F.lit('RESIZED:'),
                F.coalesce(F.col('w'), F.lit(-1)).cast('string'),
                F.lit('x'),
                F.coalesce(F.col('h'), F.lit(-1)).cast('string'),
                F.lit(':'),
            ),
            'utf-8',
        ),
        F.col('content'),
    )


def _attach_paths(links: DataFrame, cfg: TransformConfig, doc_prefix_join: str, doc_prefix_posix: str) -> DataFrame:
    """F11-F13 + A5/A6 path computation.

    Fast path: without ``save_hierarchy`` every path is a pure Column
    concat (whole-stage codegen); the pandas UDF only runs in hierarchy
    mode.  ``_fix_name_collision`` (A6, image_downloader.py:314-331)
    applies only under ``replace_image_names``.
    """
    ok = F.col('status') == 'ok'
    fn = F.col('filename1')

    if cfg.replace_image_names:
        # pre-compute the write path to find collisions; dedup'd links
        # return before the write in the reference
        # (content_hash_dedup.py:38) so they never join the window
        links = _with_real_path(links, cfg, fn)
        elig = (ok & F.col('dedup_path').isNull() & F.col('real_path').isNotNull()).cast('int')
        links = links.withColumn('_elig', elig)
        w_path = Window.partitionBy('real_path', '_elig').orderBy('pass_key')
        # the byte-compare is raw fetched content vs the bytes WRITTEN
        # by the first link at this path — i.e. its resized form when it
        # rescales (image_downloader.py:296-301, 317-319).  Expressed on
        # hashes: equal iff the first writer did NOT resize and the
        # content hashes match (sha256 stands in for byte equality, F15)
        links = (
            links.withColumn('_rn', F.row_number().over(w_path))
            .withColumn('_first_sha', F.first('sha_hex').over(w_path))
            .withColumn('_first_resc', F.first('need_rescaling').over(w_path))
        )
        same = ~F.col('_first_resc') & (F.col('sha_hex') == F.col('_first_sha'))
        collide = (F.col('_elig') == 1) & (F.col('_rn') > 1)
        # same-content collision: reference passes the full URL as
        # image_local_url (bug kept, image_downloader.py:327-331)
        links = links.withColumn('local_url_override', F.when(collide & same, F.col('src')))
        # differing-content collision: numbered prefix 0,1,2,... in
        # canonical order (image_downloader.py:320-326)
        links = links.withColumn('_renaming', (collide & ~same).cast('int'))
        w_diff = Window.partitionBy('real_path', '_renaming').orderBy('pass_key')
        diff_idx = F.row_number().over(w_diff) - 1
        links = links.withColumn(
            'filename1',
            F.when(F.col('_renaming') == 1, F.concat(diff_idx.cast('string'), fn)).otherwise(fn),
        ).drop('real_path', '_rn', '_first_sha', '_first_resc', '_elig', '_renaming')
    else:
        links = links.withColumn('local_url_override', F.lit(None).cast('string'))

    fn = F.col('filename1')
    if not cfg.paths.save_hierarchy:
        images_dir = str(cfg.paths.images_dir())
        links = links.withColumn('real_path', F.when(ok, F.concat(F.lit(images_dir + '/'), fn)))
        links = links.withColumn('doc_path', F.when(ok, F.concat(F.lit(doc_prefix_join + '/'), fn)))
        links = links.withColumn('doc_path_posix', F.when(ok, F.concat(F.lit(doc_prefix_posix + '/'), fn)))
    else:
        paths_udf = udfs.make_paths_udf(cfg.paths)
        links = links.withColumn(
            '_paths',
            F.when(ok, paths_udf(F.col('src'), F.col('base_url'), fn, F.col('local_url_override'))),
        )
        for c in ('real_path', 'doc_path', 'doc_path_posix'):
            links = links.withColumn(c, F.col(f'_paths.{c}'))
        links = links.drop('_paths')
    return links


def _with_real_path(links: DataFrame, cfg: TransformConfig, fn) -> DataFrame:
    ok = F.col('status') == 'ok'
    if not cfg.paths.save_hierarchy:
        images_dir = str(cfg.paths.images_dir())
        return links.withColumn('real_path', F.when(ok, F.concat(F.lit(images_dir + '/'), fn)))
    paths_udf = udfs.make_paths_udf(cfg.paths)
    return links.withColumn(
        'real_path',
        F.when(ok, paths_udf(F.col('src'), F.col('base_url'), fn, F.lit(None).cast('string')).real_path),
    )


def transform_documents(
    docs: DataFrame,
    cfg: TransformConfig,
    fetcher: Optional[Fetcher] = None,
    local_assets: Optional[dict] = None,
) -> PipelineResult:
    """Full transform: sequential transformer chain (E5,
    article_processor.py:129-149), shared dedup state across passes."""
    cur = docs.select('url', 'text')
    audits: List[DataFrame] = []
    images: List[DataFrame] = []
    cached: List[DataFrame] = []
    dedup_state = None
    for i, fmt in enumerate(cfg.input_formats):
        res = transform_pass(
            cur, cfg, fmt=fmt, pass_idx=i, fetcher=fetcher, local_assets=local_assets, dedup_state=dedup_state
        )
        audits.append(res.links_audit)
        images.append(res.images_out.withColumn('_pass', F.lit(i)))
        cached.extend(res.cached)
        if res.dedup_registrations is not None:
            dedup_state = res.dedup_registrations
        cur = res.docs_out.withColumnRenamed('text_out', 'text')
        if i < len(cfg.input_formats) - 1:
            # materialization barrier between passes: pass N+1 extracts
            # from pass N's rewritten text (article_processor.py:147)
            cur = cur.localCheckpoint(eager=False)

    audit = audits[0]
    for a in audits[1:]:
        audit = audit.unionByName(a)
    imgs = images[0]
    for im in images[1:]:
        imgs = imgs.unionByName(im)
    # first write wins across passes (skip-if-exists, image_downloader.py:287-289)
    images_out = imgs.groupBy('real_path').agg(F.min_by('content', '_pass').alias('content'))

    return PipelineResult(cur.withColumnRenamed('text', 'text_out'), audit, images_out, cached=tuple(cached))

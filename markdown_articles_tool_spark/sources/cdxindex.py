"""Sharded CDX index layout + pruned lookup — the queryable form of
the merged index (the Common-Crawl publication shape: sorted
``cdx-00000..cdx-NNNNN`` shards plus a tiny ``cluster.idx`` that maps
key ranges to shards, so a point lookup touches ONE shard out of
thousands instead of scanning the crawl).

Spark-native translation:

* ``write_cdx_index`` range-partitions the CDX rows by
  ``(surt, file_name, ord)`` and sorts within partitions, writing one
  parquet file per shard — globally SURT-ordered storage, built
  entirely distributed (the same two-level machinery as
  ``training/util.global_rank``; no single-task sort anywhere);
* a ``_boundaries`` side table (the ``cluster.idx`` analog) records
  each shard file's (lo, hi) surt range from a cheap post-write scan.
  It stores shard BASENAMES, not absolute paths, so a written index
  is relocatable — move or re-mount the directory and lookups rejoin
  the caller-supplied path (the normal fate of a published artifact);
* ``lookup_surt`` reads the tiny boundary table, selects ONLY the
  shard files whose range covers the key, and scans just those —
  plus parquet row-group min/max stats prune WITHIN the shard because
  the rows are sorted.  At web scale that is a thousands-of-shards
  index answering a URL lookup from one file;
* ``lookup_surts`` is the BATCH form (a reprocessing pipeline's
  million-key lookup): ONE job — the union of covering shards for
  all keys, scanned once, broadcast-joined against the key set —
  instead of one Spark job per key;
* ``lookup_prefix`` answers ``matchType=prefix`` range scans, which
  is how "everything for example.com" — the most common CDX query —
  works: SURT keys make host and domain queries plain prefix queries
  (``host_prefix``/``domain_prefix`` derive them from a URL).  A
  shard can contain a key starting with ``p`` iff
  ``lo[:len(p)] <= p <= hi`` (interval overlap with the prefix range
  ``[p, p·sup)``), so pruning stays boundary-table-only.

Driver-checked as the ``cdx_lookup`` query (point lookups through the
SURT-collapse property: ``HTTPS://WWW.Example.COM:443/A?b=2&a=1``
finds ``https://example.com/a?a=1&b=2``'s records) and the
``cdx_prefix`` query (host matchType via prefix scan vs DuckDB
``LIKE 'prefix%'`` over the independent twin table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

KEY_COLS = ('surt', 'file_name', 'ord')

#: Default shard sizing for ``write_cdx_index(n_shards=None)``: rows
#: per shard, not a core-count constant — output file count must track
#: DATA size, not cluster width (a 6k-row bench index in 32 shards of
#: 200 rows is as wrong as a 10 TB index in 32 shards of 300 GB).
#: 250k CDX rows is a conservative stand-in for the "few hundred MB a
#: shard" production rule; real deployments size explicitly.
_TARGET_ROWS_PER_SHARD = 250_000


def write_cdx_index(cdx: DataFrame, path: str, n_shards: int | None = None) -> None:
    """Write the range-partitioned, SURT-sorted shard layout plus the
    ``_boundaries`` table.  ``n_shards`` defaults to a SIZE-derived
    count (``ceil(rows / _TARGET_ROWS_PER_SHARD)``, capped at the
    cluster parallelism) — the count costs one pass over ``cdx``
    (cheap when the caller persists it, as the entry queries do);
    production runs with a known corpus pass ``n_shards`` explicitly
    and skip it."""
    spark = cdx.sparkSession
    if n_shards:
        n = n_shards
    else:
        rows = cdx.count()
        n = max(1, min(spark.sparkContext.defaultParallelism,
                       -(-rows // _TARGET_ROWS_PER_SHARD)))
    (
        cdx.repartitionByRange(n, *[F.col(c) for c in KEY_COLS])
        .sortWithinPartitions(*KEY_COLS)
        .write.mode('overwrite').parquet(f'{path}/shards')
    )
    # cluster.idx analog: one (file, lo, hi) row per written shard —
    # a cheap narrow scan over just the surt column at build time.
    # Basenames only: the index must survive a directory move.
    (
        spark.read.parquet(f'{path}/shards')
        .select(
            F.regexp_extract(F.input_file_name(), r'([^/]+)$', 1).alias('shard'),
            'surt',
        )
        .groupBy('shard')
        .agg(F.min('surt').alias('lo'), F.max('surt').alias('hi'))
        .coalesce(1)
        .write.mode('overwrite').parquet(f'{path}/_boundaries')
    )


def _boundary_rows(spark: SparkSession, path: str) -> list:
    """The boundary table, driver-side (one row per shard — tiny, read
    like any secondary index).  Tolerates the pre-r6 layout that stored
    absolute paths by reducing them to basenames."""
    rows = spark.read.parquet(f'{path}/_boundaries').collect()
    return [(r['shard'].rsplit('/', 1)[-1], r['lo'], r['hi']) for r in rows]


def _covering(rows: list, path: str, key: str) -> list:
    """``covering_shards`` over an already-read boundary row list —
    the batch lookups read ``_boundaries`` ONCE and intersect every
    key against it here, instead of one driver-side read-and-collect
    job per key (r6 ADVICE: a million-key batch lookup must stay ONE
    boundary read + one scan job)."""
    return sorted(
        f'{path}/shards/{shard}' for shard, lo, hi in rows if lo <= key <= hi
    )


def covering_shards(spark: SparkSession, path: str, key: str) -> list:
    """Full paths of the shard files whose (lo, hi) range covers
    ``key``, rejoined to the caller-supplied ``path``."""
    return _covering(_boundary_rows(spark, path), path, key)


def covering_shards_prefix(spark: SparkSession, path: str, prefix: str) -> list:
    """Full paths of the shard files that can contain a key starting
    with ``prefix``: the prefix-key range is ``[prefix, prefix·sup)``,
    and a sorted shard [lo, hi] overlaps it iff
    ``lo[:len(prefix)] <= prefix <= hi`` (lo below the range's top,
    hi at or above its bottom)."""
    p = prefix
    return sorted(
        f'{path}/shards/{shard}'
        for shard, lo, hi in _boundary_rows(spark, path)
        if lo[: len(p)] <= p <= hi
    )


def _empty_like_shards(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f'{path}/shards').where(F.lit(False))


def lookup_surt(spark: SparkSession, path: str, key: str) -> DataFrame:
    """Point lookup: boundary-prune to the covering shard file(s),
    scan only those, filter ``surt == key`` (pushed to the parquet
    row groups, which are sorted — min/max stats prune within the
    shard too).  Empty DataFrame when no shard covers the key."""
    files = covering_shards(spark, path, key)
    if not files:
        return _empty_like_shards(spark, path)
    return spark.read.parquet(*files).where(F.col('surt') == key)


def lookup_surts(spark: SparkSession, path: str, keys) -> DataFrame:
    """BATCH point lookup — ONE job for the whole key set (the
    reprocessing-pipeline shape; ``lookup_surt`` in a loop is one
    Spark job per key).  The union of covering shards is scanned once
    and inner-broadcast-joined against the key set, so each shard
    file is read exactly once no matter how many keys land in it."""
    keys = sorted(set(keys))
    if not keys:
        return _empty_like_shards(spark, path)
    rows = _boundary_rows(spark, path)  # ONE read for the whole batch
    files = sorted({
        f
        for k in keys
        for f in _covering(rows, path, k)
    })
    if not files:
        return _empty_like_shards(spark, path)
    keys_df = spark.createDataFrame([(k,) for k in keys], 'surt string')
    return spark.read.parquet(*files).join(F.broadcast(keys_df), 'surt')


def lookup_prefix(spark: SparkSession, path: str, prefix: str) -> DataFrame:
    """``matchType=prefix`` range scan: boundary-prune to the shards
    overlapping the prefix range, scan only those, filter
    ``startswith(prefix)`` (pushed down as a parquet filter; sorted
    row groups prune within the shard)."""
    files = covering_shards_prefix(spark, path, prefix)
    if not files:
        return _empty_like_shards(spark, path)
    return spark.read.parquet(*files).where(F.col('surt').startswith(prefix))


def host_prefix(url: str) -> str:
    """The SURT prefix that makes a ``matchType=host`` query a prefix
    query: everything up to and including the ``)`` authority
    terminator (``com,example)``)."""
    from ..core.wwwtools import surt_key

    key = surt_key(url)
    head, sep, _ = key.partition(')')
    return head + sep


def domain_prefix(url: str) -> str:
    """The SURT prefix for ``matchType=domain``: the reversed
    registered host WITHOUT the ``)`` terminator, so subdomains
    (``com,example,www)…``, ``com,example,api)…``) match too."""
    from ..core.wwwtools import surt_key

    return surt_key(url).partition(')')[0]


def _ts14(col):
    """The 14-digit numeric form of an ISO WARC-Date
    ('2020-09-13T12:26:40Z' → 20200913122640) — the key component real
    CDX lines carry; ``closest`` distance is defined on THIS number
    (the wayback convention), not on epoch seconds.  WARC-1.1 dates may
    carry fractional seconds ('…:40.123Z') — strip them first, or the
    cast yields NULL and the capture would vanish from the distance
    race (r6 ADVICE)."""
    digits = F.translate(F.regexp_replace(col, r'\.\d+', ''), '-:TZ', '')
    # try_cast, not cast: under ANSI a malformed/empty date must LOSE
    # the distance race (NULL, filtered below), not kill the job
    return digits.try_cast('long')


def lookup_closest(spark: SparkSession, path: str, queries) -> DataFrame:
    """Wayback-style ``closest`` match: for each (url, ts14) query,
    the capture (response or revisit record) of that URL whose
    14-digit timestamp is numerically nearest to ts14 — ties break
    toward the EARLIER capture, then (file_name, ord), a total order,
    so the winner is partition-invariant.

    Batch shape (the ``lookup_surts`` discipline): ONE job — the
    union of covering shards for all query SURTs scanned once,
    broadcast-joined against the query set, then the winner per query
    is a min-struct AGGREGATION (map-side combined; a mega-capture-
    count URL collapses per map partition), never a window sort.

    Returns one row per query that has any capture: (surt, q_ts,
    warc_date, ts_diff, file_name, ord, url, offset, length,
    addressable) — enough to seek-read the winning record via
    ``read_record_at``."""
    from ..core.wwwtools import surt_key

    pairs = sorted({(surt_key(u), int(t)) for u, t in queries})
    if not pairs:
        empty = _empty_like_shards(spark, path)
        return empty.select(
            'surt', F.lit(0).cast('long').alias('q_ts'),
            'warc_date', F.lit(0).cast('long').alias('ts_diff'),
            'file_name', 'ord', 'url', 'offset', 'length', 'addressable',
        )
    rows = _boundary_rows(spark, path)  # ONE read for the whole batch
    files = sorted({
        f for k, _ in pairs for f in _covering(rows, path, k)
    })
    qdf = spark.createDataFrame(pairs, 'surt string, q_ts long')
    src = (
        (spark.read.parquet(*files) if files else _empty_like_shards(spark, path))
        .where(F.col('warc_type').isin('response', 'revisit'))
        .join(F.broadcast(qdf), 'surt')
    )
    cap_ts = _ts14(F.col('warc_date'))
    # a capture with a missing/unparseable WARC-Date has NULL cap_ts,
    # and Spark's NULLS-FIRST struct ordering would make min() pick it
    # as the winner for every query on that URL (while the oracle's
    # window sorts NULLs last) — drop it from the race (r6 ADVICE)
    src = src.where(cap_ts.isNotNull())
    diff = F.abs(cap_ts - F.col('q_ts'))
    winner = F.min(F.struct(
        diff.alias('ts_diff'), cap_ts.alias('cap_ts'),
        F.col('file_name'), F.col('ord'), F.col('warc_date'),
        F.col('url'), F.col('offset'), F.col('length'), F.col('addressable'),
    )).alias('w')
    return (
        src.groupBy('surt', 'q_ts').agg(winner)
        .select(
            'surt', 'q_ts',
            F.col('w.warc_date').alias('warc_date'),
            F.col('w.ts_diff').alias('ts_diff'),
            F.col('w.file_name').alias('file_name'),
            F.col('w.ord').alias('ord'),
            F.col('w.url').alias('url'),
            F.col('w.offset').alias('offset'),
            F.col('w.length').alias('length'),
            F.col('w.addressable').alias('addressable'),
        )
    )


def merge_cdx_indexes(spark: SparkSession, paths, out_path: str,
                      n_shards: int | None = None) -> None:
    """Merge published indexes into one (the monthly-crawl cadence:
    each crawl ships its own cdx-NNNNN set; the combined index over
    all crawls is what lookup services actually serve).  Reading the
    already-sorted shards and re-range-partitioning IS the merge —
    ``write_cdx_index``'s repartitionByRange samples the union's key
    distribution, so the output shards re-balance to the merged
    density (a naive shard-file concatenation would keep each crawl's
    ranges interleaved and double every lookup's covering-shard set).
    Equivalent by construction to indexing the unioned rows from
    scratch, minus the archive re-parse."""
    dfs = [spark.read.parquet(f'{p}/shards') for p in paths]
    union = dfs[0]
    for d in dfs[1:]:
        union = union.unionByName(d)
    write_cdx_index(union, out_path, n_shards)


def cdx_query(spark: SparkSession, path: str, url: str,
              match_type: str = 'exact', ts: int | None = None) -> DataFrame:
    """The one-call CDX server surface — dispatch a URL query by
    ``matchType`` exactly as a real CDX(J) endpoint does:

    * ``exact``   → point lookup on the URL's SURT key;
    * ``prefix``  → everything under the URL's full SURT prefix;
    * ``host``    → everything on the URL's host (SURT makes it a
      prefix query up to the ``)`` authority terminator);
    * ``domain``  → the registered host AND its subdomains (prefix
      without the terminator);
    * ``closest`` → the capture nearest to the 14-digit ``ts``
      (requires ``ts``; see ``lookup_closest`` for the distance rule).

    All routes share the boundary-pruned sharded layout: each touches
    only its covering shard files."""
    from ..core.wwwtools import surt_key

    if match_type == 'exact':
        return lookup_surt(spark, path, surt_key(url))
    if match_type == 'prefix':
        return lookup_prefix(spark, path, surt_key(url))
    if match_type == 'host':
        return lookup_prefix(spark, path, host_prefix(url))
    if match_type == 'domain':
        # the registered-host prefix alone would over-match sibling
        # hosts sharing a string prefix (example,site1 also catches
        # example,site10) — a domain key continues with either the
        # authority terminator ')' or a subdomain label ',' (r6
        # ADVICE); prune shards with the bare prefix, then keep only
        # the two legal continuations
        p = domain_prefix(url)
        return lookup_prefix(spark, path, p).where(
            F.col('surt').startswith(p + ')') | F.col('surt').startswith(p + ',')
        )
    if match_type == 'closest':
        if ts is None:
            raise ValueError("matchType 'closest' requires ts (14-digit)")
        return lookup_closest(spark, path, [(url, int(ts))])
    raise ValueError(f'unknown matchType: {match_type!r}')

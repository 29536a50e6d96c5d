"""Shared helpers for the training-data operators."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Default bound of the single-task fast paths (PageRank, connected
#: components, redirect walk): 100k edges keep one task's memory and
#: CPU small (10 PageRank iterations of big-int dict algebra run well
#: under a second); a crawl-scale graph is far above it.
LOCAL_MAX_EDGES = 100_000


def fits_one_task(df: DataFrame, limit: int) -> bool:
    """True when ``df`` has at most ``limit`` rows, so an iterative
    operator may run its whole loop inside one executor task.

    The probe is ``LIMIT limit+1`` then count: it stops reading once
    the bound is exceeded, instead of counting a crawl-scale table.
    ``limit <= 0`` disables the fast path (``0`` is the documented
    value) and starts no Spark job, so even an empty table takes the
    distributed path.
    """
    return limit > 0 and df.limit(limit + 1).count() <= limit


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Give CPU-heavy per-row stages cluster-width parallelism even
    when the input arrives as a handful of scan partitions.

    Scan partitioning follows file splits; a small table (one parquet
    file, one row group) reads as ONE partition, which serializes every
    downstream sketch/UDF stage on a single core (measured: the sf0.1
    minhash stage ran 3.2 s single-partition vs 1.0 s at width 16).
    Repartition ONLY when the scan is narrower than the cluster — a
    production-scale input has thousands of splits, the condition is
    false, and no shuffle is added.
    """
    if df.isStreaming:
        # a streaming frame has no static partitioning to inspect (and
        # .rdd raises); micro-batch width follows the source's file
        # splits — exactly the production case the condition below
        # already declines to touch
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def capped_buckets(
    banded: DataFrame,
    group_cols,
    item_col: str,
    max_bucket: int,
    op_name: str,
    observation=None,
):
    """groupBy(group_cols) → (*group_cols, items array) inverted-index
    buckets, with buckets larger than ``max_bucket`` DROPPED — and the
    drops observable as Spark metrics when asked for (see below).

    This is the scale armor shared by every banded sketch operator
    (minhash / simhash / winnow / hyperplane-LSH), which reach it
    through ``bucket_pairs`` or ``bucket_neighbors``.  Why a cap is load-
    bearing at 10^9+ docs: bucket membership grows linearly with corpus
    size once a band-key space saturates (a 16-bit band has 65,536
    buckets *total*), and the downstream in-bucket pair expansion is
    quadratic — one degenerate bucket (mass exact-dups, empty docs, a
    ubiquitous boilerplate fingerprint) concentrates O(n²) pair structs
    in a single row on a single task and OOMs the executor.  Dropping
    an oversized bucket is the standard stop-gram rule (winnowing
    practice; exact duplicates belong to ``exact_dedup``, which runs
    first in a real pipeline and has no quadratic stage).

    Memory note: the transient aggregation buffer still holds the
    oversized bucket's id array once (O(bucket), ~8 bytes/member —
    a 10^6-member degenerate bucket is an 8 MB buffer, survivable);
    what the cap prevents is the O(bucket²) pair materialization
    (10^12 structs, fatal).  The filter runs before any expansion.

    Drop accounting is OPT-IN: pass a ``pyspark.sql.Observation`` (or
    a name string) and the bucket stream gains a ``CollectMetrics``
    node recording ``dropped_buckets``, ``dropped_members`` and
    ``max_bucket_seen`` — how the tests assert drops and how a
    production monitoring cadence reads them.  It is NOT attached by
    default because the node is a measured standing tax on the hot
    path: CollectMetrics between the hash aggregate and the pair
    expansion breaks whole-stage fusion there, and the r5 A/B at sf0.1
    (5-trial min, 16 pinned cores) priced it at 13-29% of the whole
    query (minhash 0.78→1.09 s, simhash 0.72→1.01 s; a bare count
    metric still cost most of it, so it is the fence, not the
    expressions).  Without it the cap still protects unconditionally,
    and dropped-bucket counts stay derivable on any cluster UI as
    (aggregate output rows − post-filter rows).

    AQE caveat (measured on Spark 4.1): if EVERY bucket is dropped the
    downstream query collapses to an empty relation and adaptive
    empty-relation propagation erases the CollectMetrics node — the
    query still completes correctly (that is the cap doing its job) but
    ``Observation.get`` then raises instead of returning the drop
    counts.  Metrics are reliable whenever at least one bucket
    survives; for a guaranteed read on a fully-degenerate corpus set
    ``spark.sql.adaptive.enabled=false`` for that query.
    """
    b = banded.groupBy(*group_cols).agg(F.collect_list(item_col).alias('items'))
    b = b.withColumn('bucket_n', F.size('items'))
    if observation is not None:
        b = b.observe(
            observation,
            F.sum(F.when(F.col('bucket_n') > max_bucket, 1).otherwise(0)).alias('dropped_buckets'),
            F.sum(F.when(F.col('bucket_n') > max_bucket, F.col('bucket_n')).otherwise(0)).alias('dropped_members'),
            F.max('bucket_n').alias('max_bucket_seen'),
        )
    return b.where((F.col('bucket_n') >= 2) & (F.col('bucket_n') <= F.lit(max_bucket))).drop('bucket_n')


def bucket_pairs(keyed: DataFrame, key_cols, item_col: str, max_bucket: int, op_name: str,
                 observation=None) -> DataFrame:
    """(a_id, b_id, n_shared): every pair of items sharing a capped
    bucket, ``a_id < b_id``, with the number of buckets they share.

    The banded candidate step of every near-duplicate sketch (MinHash
    bands, winnowing fingerprints, SimHash and hyperplane band keys):
    ONE groupBy builds each bucket and the pairs expand from its item
    array in Column algebra (nested transform → flatten → filter), so
    the sketch UDF upstream is consumed once and the narrow keyed rows
    shuffle once — a band self-join read ``keyed`` twice and re-ran
    the UDF per side (r4 plan audit).  Items may be structs (SimHash
    carries ``(id, sh)`` so Hamming verifies in-bucket); they compare
    field by field.
    """
    items = F.col('items')
    pairs = F.filter(F.flatten(F.transform(
        items, lambda a: F.transform(items, lambda b: F.struct(a.alias('a_id'), b.alias('b_id'))))),
        lambda p: p['a_id'] < p['b_id'])
    return (
        capped_buckets(keyed, key_cols, item_col, max_bucket, op_name, observation)
        .select(F.explode(pairs).alias('p'))
        .select('p.a_id', 'p.b_id')
        .groupBy('a_id', 'b_id')
        .agg(F.count(F.lit(1)).alias('n_shared'))
    )


def bucket_neighbors(keyed: DataFrame, key_cols, item_col: str, query_ids: DataFrame,
                     max_bucket: int, op_name: str, observation=None) -> DataFrame:
    """(query_id, neighbor_id): the distinct other members of every
    capped bucket a query id is in — the candidate step of the LSH
    top-k searches.

    The bucket member arrays ride alongside each exploded member, the
    small ``query_ids`` frame (column ``query_id``) broadcast-filters
    them, and the neighbours explode from the same array: the keyed
    rows are grouped once and never joined back to themselves.
    """
    return (
        capped_buckets(keyed, key_cols, item_col, max_bucket, op_name, observation)
        .select(F.explode('items').alias('query_id'), 'items')
        .join(F.broadcast(query_ids), 'query_id')
        .select('query_id', F.explode('items').alias('neighbor_id'))
        .where(F.col('query_id') != F.col('neighbor_id'))
        .distinct()
    )


def grouped_topk(
    df: DataFrame,
    group_cols,
    order_cols,
    k: int,
    salt_on,
    rank_col: str | None = None,
    n_salts: int = 32,
) -> DataFrame:
    """Per-group top-``k`` under a TOTAL order without ever sorting a
    whole group in one task — the explicit two-level form of what
    Catalyst's ``InferWindowGroupLimit`` does for rank filters at or
    below ``spark.sql.optimizer.windowGroupLimitThreshold`` (default
    1000): above the threshold the optimizer silently declines and a
    plain ``row_number() OVER (PARTITION BY group)`` window sorts a
    mega-group (a hot host's frontier, the order-1 unigram table) on a
    single task.

    Level 1 salts each row by ``xxhash64(salt_on) % n_salts`` and takes
    top-k per (group, salt): each window partition holds ~1/n_salts of
    the group.  Level 2 ranks the ≤ k·n_salts survivors per group.
    Correctness (requires ``order_cols`` to be a total order): every
    row in the true global top-k is also in the top-k of its own salt
    bucket, so it survives level 1; and every row ranked above it
    globally also survives, so its level-2 rank equals its global rank
    for ranks ≤ k.  Deterministic and partition-invariant (the salt is
    a hash of row values, not of placement).

    ``rank_col=None`` drops the rank (filter-only callers);
    ``salt_on`` should be (nearly) unique per row within a group for
    an even spread — a URL, a gram string.
    """
    from pyspark.sql import Window

    if isinstance(group_cols, str):
        group_cols = [group_cols]
    if isinstance(salt_on, str):
        salt_on = [salt_on]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_on]), F.lit(int(n_salts)))
    w1 = Window.partitionBy(*group_cols, '_gtk_salt').orderBy(*order_cols)
    lvl1 = (
        df.withColumn('_gtk_salt', salt)
        .withColumn('_gtk_r', F.row_number().over(w1))
        .where(F.col('_gtk_r') <= int(k))
        .drop('_gtk_salt', '_gtk_r')
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    out_col = rank_col or '_gtk_rank'
    out = (
        lvl1.withColumn(out_col, F.row_number().over(w2))
        .where(F.col(out_col) <= int(k))
    )
    return out if rank_col else out.drop(out_col)


def global_rank(df: DataFrame, cols, rank_col: str = 'rank',
                total_col: str | None = None) -> DataFrame:
    """1-based global position of every row under ``ORDER BY cols`` —
    computed WITHOUT a global single-partition window (``row_number()
    OVER (ORDER BY ...)`` with no partition key sorts the whole table
    in ONE task, the classic driver-shaped bottleneck).

    Two-level prefix count, the ONE shared implementation (``lm.
    ppl_ntile`` and ``packing.pack_sequences`` ride this machinery):
    range-partition by the key, sort within partitions, count per
    partition (a tiny n_partitions-row frame), exclusive prefix over
    that frame, broadcast the bases back, rank = base + local
    row_number.  Partition-count invariant; ``cols`` must be a TOTAL
    order (include a tiebreaker) or ranks within ties follow partition
    placement.

    ``total_col`` additionally attaches the grand row count to every
    row (from the same tiny per-partition totals frame — no extra pass
    over the data), which rank-derived quantities like NTILE need.

    The input is localCheckpointed: the rank needs two jobs over the
    same rows (totals, then the ranked pass), and re-running an
    expensive upstream (a scoring UDF, a WARC parse) per job would
    double the corpus scan.
    """
    from pyspark.sql import Window

    src = df.localCheckpoint(eager=True)
    parts = src.sparkSession.sparkContext.defaultParallelism
    ordered = (
        src.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn('_pid', F.spark_partition_id())
    )
    totals = ordered.groupBy('_pid').agg(F.count('*').alias('_pn'))
    wp = Window.orderBy('_pid').rowsBetween(Window.unboundedPreceding, -1)
    bases = totals.withColumn(
        '_base', F.coalesce(F.sum('_pn').over(wp), F.lit(0))
    ).select('_pid', '_base')
    ww = Window.partitionBy('_pid').orderBy(*cols)
    out = (
        ordered.join(F.broadcast(bases), '_pid')
        .withColumn(rank_col,
                    (F.col('_base') + F.row_number().over(ww)).cast('long'))
        .drop('_pid', '_base')
    )
    if total_col is not None:
        n_row = totals.agg(F.sum('_pn').cast('long').alias(total_col))
        out = out.crossJoin(F.broadcast(n_row))
    return out


def exact_quantiles(df: DataFrame, value_col: str, qs, tie_col: str) -> DataFrame:
    """EXACT order statistics of a corpus-sized column — the profile
    numbers (p50/p90/p99 doc length, token budget planning) that
    ``approx_percentile`` only estimates and a naive
    ``orderBy().limit()`` computes with a global single-task sort.

    Definition (lower quantile, the SQL ``quantile_disc`` convention):
    the value at rank ``max(1, ceil(q * total))`` under the TOTAL
    order (value, tie).  Rank comes from ``global_rank`` (two-level
    prefix count — distributed), so the whole computation is two
    bounded jobs plus a rank-set membership filter; output is one row
    per requested quantile.
    """
    ranked = global_rank(df.select(value_col, tie_col),
                         [value_col, tie_col], rank_col='_rank',
                         total_col='_total')
    conds = None
    for q in qs:
        # ceil(q*total) in exact integer arithmetic over a rational q:
        # q given as a float is exact enough only for round fractions,
        # so take it as (num, den) pairs or floats with exact binary
        # representation (0.5, 0.25, ...); general q uses ceil on the
        # double product — documented convention, identical in DuckDB
        c = F.col('_rank') == F.greatest(
            F.lit(1), F.ceil(F.lit(float(q)) * F.col('_total')).cast('long'))
        conds = c if conds is None else (conds | c)
    out = df.sparkSession.createDataFrame(
        [(float(q),) for q in qs], 'q double'
    )
    hits = (
        ranked.where(conds)
        .select(F.col(value_col).alias('value'), '_rank', '_total')
    )
    return (
        out.join(
            hits,
            F.col('_rank') == F.greatest(
                F.lit(1), F.ceil(F.col('q') * F.col('_total')).cast('long')),
        )
        .select('q', 'value')
    )

"""Host link graph + PageRank over the crawl's outlink records.

``host_edges`` collapses the page-level ``<a href>`` records
(operators/htmlmeta.extract_page_outlinks) into a (src_host,
dst_host, n_links) edge table; ``pagerank_hosts`` runs a fixed number
of power iterations over it; ``anchor_profiles`` aggregates the
cross-host inlink anchor texts per target URL (the classic
search/training signal: what OTHER sites call a page).  No reference
counterpart (the reference tool is single-article); engine-added
crawl-analytics surface.

Scale shapes
------------

* ``host_edges``: host extraction is a JVM ``regexp_extract``
  projection on the already-narrow outlink rows, then ONE shuffle —
  the groupBy on (src_host, dst_host).  Hosts are ~10^8 at web scale
  vs 10^12 pages, so the edge table is orders of magnitude smaller
  than its input; self-loops (intra-host nav, the overwhelming
  majority of raw links) are dropped BEFORE the aggregation so the
  shuffle never carries them.
* ``pagerank_hosts``: the textbook rank/out-degree power iteration as
  DataFrame algebra — per iteration one join (edges ⋈ ranks on src,
  both sides pre-partitioned on the join key by the previous round's
  shuffle), one groupBy dst, and one broadcast of two single-row
  aggregates (dangling mass, node count).  K iterations = K narrow
  shuffles over the HOST-sized table; the 10^12-row page table is
  never touched again after ``host_edges``.  Every round's ranks are
  materialized with ``localCheckpoint``, which also truncates lineage.

Determinism (why integer fixed-point)
-------------------------------------

Floating-point PageRank is NOT reproducible on a cluster: per-host
contribution sums change with shuffle arrival order, so two runs of
the same job differ in the low bits — poison for a hash-gated
pipeline and for cache-keyed recrawl scheduling.  This implementation
does ALL arithmetic in integer rank units (SCALE = 10^12 units of
total mass) where addition is associative and division is floor —
ranks are bit-identical under any partitioning, any executor count,
any run.  The sequential twin (tools/oracle_kernels.pagerank_seq)
reproduces the spec with plain Python ints.

Spec (shared with the twin):

* nodes = distinct hosts appearing as src or dst of the self-loop-free
  edge table;
* init: rank[h] = SCALE // N;
* per iteration:
  - contribution of edge (s → d, w): rank[s] * w // W_s, where W_s is
    s's total outgoing link count (floor division — mass may shrink by
    < 1 unit per edge; the spec IS the integer fixpoint);
  - dangling mass = Σ rank[h] over hosts with no outgoing edges,
    shared uniformly: dang = dangling_mass // N;
  - rank'[h] = (15 * (SCALE // N) + 85 * (in[h] + dang)) // 100
    (damping 0.85 in exact hundredths).
* output after K iterations: (host, rank_units), rank_units being the
  integer rank (rank_units / SCALE ≈ the classical probability).

``rank * w`` is computed in DECIMAL(38,0) before the integral ``div``
so a 10^12-unit rank times a large multiplicity can never wrap a
LONG; the result is cast back to LONG (≤ SCALE by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .util import LOCAL_MAX_EDGES, fits_one_task

_HOST_RE = r'^[a-zA-Z]+://([^/]+)'
SCALE = 10 ** 12


def host_of(col):
    """JVM-side host extraction ('' when the value has no authority)."""
    return F.regexp_extract(col, _HOST_RE, 1)


def host_edges(outlinks: DataFrame, src_col: str = 'url', dst_col: str = 'abs_url') -> DataFrame:
    """(src_host, dst_host, n_links) with self-loops and host-less
    endpoints dropped before the one aggregation shuffle."""
    e = outlinks.select(
        host_of(F.col(src_col)).alias('src_host'),
        host_of(F.col(dst_col)).alias('dst_host'),
    )
    return (
        e.where((F.col('src_host') != F.col('dst_host'))
                & (F.col('src_host') != '') & (F.col('dst_host') != ''))
        .groupBy('src_host', 'dst_host')
        .agg(F.count(F.lit(1)).alias('n_links'))
    )


def _pagerank_partition(batches, iterations: int):
    """Single-task integer PageRank kernel: the exact spec of the
    distributed loop (same floor divisions, same damping hundredths)
    over the full edge table, executed with plain Python ints so the
    big-int products can never wrap.  Addition over ints is
    associative and every division floors, so this is bit-identical to
    the distributed rounds by construction (fuzz-pinned in
    tests/test_r07_optimizations.py)."""
    import pandas as pd

    srcs: list = []
    dsts: list = []
    ws: list = []
    for pdf in batches:
        srcs.extend(pdf['src_host'].tolist())
        dsts.extend(pdf['dst_host'].tolist())
        ws.extend(int(x) for x in pdf['n_links'])
    hosts = set(srcs)
    hosts.update(dsts)
    n = len(hosts)
    if n == 0:
        yield pd.DataFrame({'host': pd.Series([], dtype=object),
                            'rank_units': pd.Series([], dtype='int64')})
        return
    out_w: dict = {}
    for s, w in zip(srcs, ws):
        out_w[s] = out_w.get(s, 0) + w
    base = SCALE // n
    rank = dict.fromkeys(hosts, base)
    dangling = [h for h in hosts if h not in out_w]
    elist = list(zip(srcs, dsts, ws))
    for _ in range(iterations):
        in_units = dict.fromkeys(hosts, 0)
        for s, d, w in elist:
            # a source whose out-weights sum to 0 contributes nothing:
            # the SQL loop's NULLIF(out_w, 0) gives a NULL that sum skips
            if out_w[s]:
                in_units[d] += rank[s] * w // out_w[s]
        dang = sum(rank[h] for h in dangling) // n
        rank = {h: (15 * base + 85 * (in_units[h] + dang)) // 100 for h in hosts}
    yield pd.DataFrame({'host': list(rank.keys()),
                        'rank_units': list(rank.values())})


def pagerank_hosts(edges: DataFrame, iterations: int = 10,
                   local_max_edges: int = LOCAL_MAX_EDGES) -> DataFrame:
    """(host, rank_units) after ``iterations`` integer power steps.

    One small job per iteration (eager ``localCheckpoint``, the same
    discipline as the pointer-shortcut loop in training/cluster.py):
    each round's ranks are materialized BEFORE the next round consumes
    them twice (contribution join + dangling-mass aggregate) — chaining
    the rounds lazily would re-evaluate round i once per reference from
    round i+1, i.e. 2^K plan blowup — and the checkpoint also truncates
    lineage so the plan stays flat at any K.  All the jobs run over the
    HOST-sized table, never the page table.

    Checkpointing only every few rounds was measured a LOSS in the r7
    A/B at sf0.1 (every round: 5.42 s, every 2nd: 5.58 s, every 3rd:
    6.42 s for the 10-iteration build): per-iteration cost is STAGE
    execution, which batching does not reduce, while the lazy window's
    2^k subtree duplication adds planning work.  What r7 did cut per
    iteration: the dangling-mass
    semi-join (the dangling flag is precomputed ONCE onto the node
    frame and rides every checkpoint, so the mass is a plain filtered
    aggregation over the cached ranks — one join + one broadcast build
    fewer per round), and the edge table is persisted (it feeds nodes,
    out-degree weights AND the join side — unpersisted it re-ran the
    page-table extraction ~3x per build; r6 verdict #2).  Ranks stay
    bit-identical: deterministic integer arithmetic, same spec.
    """
    # the edge table feeds nodes, out-degree weights AND the join side
    # of edges_w — without a persist each consumer re-evaluates the
    # upstream (host_edges over the outlink extraction)
    edges = edges.select('src_host', 'dst_host', 'n_links').persist()

    # Size-adaptive fast path (the broadcast-join philosophy applied to
    # iteration): when the collapsed host graph fits one task, run all
    # K rounds inside a single mapInPandas task instead of K scheduled
    # rounds of (join + agg + checkpoint) jobs — the distributed loop's
    # cost at this size is pure stage scheduling (~0.2 s/iteration
    # measured, data is host-sized), not data.  NOT a driver loop: the
    # edges shuffle to one executor task, nothing is collected.  The
    # kernel replays the identical integer spec, so ranks are
    # bit-identical (fuzz-pinned against the distributed loop).  A
    # web-scale graph exceeds the threshold and takes the distributed
    # rounds below, unchanged.  ``local_max_edges <= 0`` forces the
    # distributed loop.
    if fits_one_task(edges, local_max_edges):
        ranks = (
            edges.repartition(1)
            .mapInPandas(lambda it: _pagerank_partition(it, iterations),
                         schema='host string, rank_units long')
            .localCheckpoint(eager=True)
        )
        edges.unpersist()
        return ranks

    nodes = (
        edges.select(F.col('src_host').alias('host'))
        .union(edges.select(F.col('dst_host').alias('host')))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        nodes.unpersist()
        edges.unpersist()
        return edges.sparkSession.createDataFrame([], 'host string, rank_units long')
    base = SCALE // n_nodes

    # W_s rides every edge row once, computed with one reused shuffle
    out_w = edges.groupBy('src_host').agg(F.sum('n_links').alias('out_w'))
    edges_w = edges.join(out_w, 'src_host').persist()
    # dangling hosts never change across iterations: resolve them ONCE
    # as a boolean flag on the node frame; the flag rides every rank
    # checkpoint so the per-iteration dangling mass is a plain filtered
    # aggregation — no join, no extra broadcast, per round
    srcs = edges_w.select(F.col('src_host').alias('host')).distinct()         .withColumn('_has_out', F.lit(True))
    nodes_f = nodes.join(srcs, 'host', 'left').select(
        'host', F.coalesce('_has_out', F.lit(False)).alias('_has_out')
    ).persist()

    ranks = nodes_f.withColumn('rank_units', F.lit(base).cast('long'))
    ranks = ranks.localCheckpoint(eager=True)

    for _ in range(iterations):
        contribs = (
            edges_w.join(ranks, edges_w.src_host == ranks.host)
            .select(
                F.col('dst_host').alias('host'),
                F.expr(
                    'CAST((CAST(rank_units AS DECIMAL(38,0)) * n_links) DIV NULLIF(out_w, 0) AS LONG)'
                ).alias('contrib'),
            )
            .groupBy('host')
            .agg(F.sum('contrib').alias('in_units'))
        )
        dang_row = (
            ranks.where(~F.col('_has_out'))
            .agg(F.coalesce(F.sum('rank_units'), F.lit(0)).alias('dang_mass'))
            .select(F.expr(f'dang_mass DIV {n_nodes}').alias('dang_share'))
        )
        new_ranks = (
            nodes_f.join(contribs, 'host', 'left')
            .withColumn('in_units', F.coalesce(F.col('in_units'), F.lit(0)))
            .crossJoin(F.broadcast(dang_row))
            .select(
                'host',
                '_has_out',
                F.expr(
                    f'(15 * {base} + 85 * (in_units + dang_share)) DIV 100'
                ).alias('rank_units'),
            )
        )
        ranks = new_ranks.localCheckpoint(eager=True)

    nodes.unpersist()
    edges_w.unpersist()
    nodes_f.unpersist()
    edges.unpersist()
    return ranks.select('host', 'rank_units')


def anchor_profiles(
    outlinks: DataFrame,
    k: int = 5,
    min_count: int = 1,
    src_col: str = 'url',
    dst_col: str = 'abs_url',
    anchor_col: str = 'anchor',
) -> DataFrame:
    """Top-``k`` cross-host inlink anchors per target URL:
    (abs_url, rank, anchor, n_links), rank 1..k by (count desc, anchor
    asc) — a total order, so the cut is deterministic.

    Spec: only EXTERNAL links count (src host != dst host — intra-site
    anchors are nav text, not description), host-less endpoints and
    empty anchors are dropped, and anchors below ``min_count`` never
    enter the ranking.

    Scale shape: groupBy (abs_url, anchor) gets full map-side partial
    aggregation (the same anchor string pointing at the same target
    collapses within each partition before the shuffle), then the
    top-k window repartitions on abs_url alone.  A mega-target's
    window partition holds its DISTINCT (anchor, count) rows — already
    collapsed, orders of magnitude smaller than its raw inlink count;
    ``min_count`` > 1 shrinks it further before the second shuffle.
    """
    from pyspark.sql import Window

    counts = (
        outlinks.select(
            host_of(F.col(src_col)).alias('src_host'),
            host_of(F.col(dst_col)).alias('dst_host'),
            F.col(dst_col).alias('abs_url'),
            F.col(anchor_col).alias('anchor'),
        )
        .where(
            (F.col('src_host') != F.col('dst_host'))
            & (F.col('src_host') != '') & (F.col('dst_host') != '')
            & (F.col('anchor') != '')
        )
        .groupBy('abs_url', 'anchor')
        .agg(F.count(F.lit(1)).alias('n_links'))
    )
    if min_count > 1:
        counts = counts.where(F.col('n_links') >= min_count)
    w = Window.partitionBy('abs_url').orderBy(F.desc('n_links'), F.asc('anchor'))
    return (
        counts.withColumn('rank', F.row_number().over(w))
        .where(F.col('rank') <= k)
        .select('abs_url', 'rank', 'anchor', 'n_links')
    )

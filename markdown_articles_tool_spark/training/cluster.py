"""Duplicate-cluster assignment: connected components over verified
near-duplicate pairs, with a deterministic representative per cluster.

This is the step that turns pair lists (minhash/simhash/embedding
near-dup output) into an actual corpus-dedup decision: every document
gets a ``cluster_rep`` (the minimum doc id in its component); keeping
``doc_id == cluster_rep`` rows deduplicates the corpus.

Scale shape: iterative min-label propagation expressed as DataFrame
joins — labels(v) := min(labels(v), min over neighbors labels(u)) —
plus one pointer-shortcut hop per round (labels(v) := labels(labels(v)),
the hash-to-min idea from Rastogi et al., "Finding Connected Components
in Map-Reduce in Logarithmic Rounds"), which converges in
O(log diameter) rounds instead of O(diameter): a 300-hop transitive
near-dup chain resolves in ~9 rounds (tests/test_training_ops.py).
Near-dup clusters from LSH buckets have tiny diameters anyway (2-4
rounds in practice); the shortcut hop is one extra narrow join per
round, cheap insurance against adversarial chains at corpus scale.

Each round is ONE distributed action: the joins + min-aggregate
materialize through an eager ``localCheckpoint`` (which also truncates
lineage so the plan does not grow across iterations); the convergence
check is a count over the already-cached checkpoint, not a recompute.
No driver-side state beyond the convergence counter.  Non-convergence
within ``max_iter`` raises — silently-wrong cluster ids are worse than
a loud failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .util import LOCAL_MAX_EDGES, fits_one_task

# Below this node count (and LOCAL_MAX_EDGES pairs) the whole label
# propagation runs inside ONE executor task (see connected_components)
# instead of K distributed rounds of join+agg+checkpoint jobs — at
# near-dup-pair sizes the distributed loop's cost is stage scheduling,
# not data.  A crawl-scale pair table exceeds the bounds and takes the
# distributed rounds.
_CC_LOCAL_MAX_NODES = 500_000


def _cc_partition(batches, max_iter: int):
    """Single-task twin of the distributed round loop below — the SAME
    update rule per round (neighbor-min fold, pointer jump through the
    PRE-round labels, left-join drop semantics for edge endpoints
    outside the node set) so the fixpoint AND the
    round-count/convergence verdict are identical by construction
    (fuzz-pinned in tests/test_r07_optimizations.py).  Emits result
    rows with ``_nc = -1``; on non-convergence emits one sentinel row
    with ``_nc`` = the last round's delta (the driver raises)."""
    import pandas as pd

    node_ids: list = []
    eu: list = []
    ev: list = []
    for pdf in batches:
        tags = pdf['_tag']
        us = pdf['u'].tolist()
        vs = pdf['v'].tolist()
        for t, u, v in zip(tags, us, vs):
            if t:
                node_ids.append(u)
            else:
                eu.append(u)
                ev.append(v)
    labels = {u: u for u in node_ids}
    # symmetrized edge list, endpoints outside the node set kept —
    # the per-round folds drop them exactly as the left joins do
    edges = list(zip(eu, ev)) + list(zip(ev, eu))

    converged = False
    delta = 0
    for _ in range(max_iter):
        nbr_min: dict = {}
        for u, v in edges:
            lu = labels.get(u)
            if lu is None:
                continue  # edge source outside the node set: no label row to join
            prev = nbr_min.get(v)
            if prev is None or lu < prev:
                nbr_min[v] = lu
        delta = 0
        new_labels = {}
        for u, lab in labels.items():
            nl = nbr_min.get(u)
            cand = lab if nl is None or lab < nl else nl
            ptr = labels.get(cand)
            if ptr is not None and ptr < cand:
                cand = ptr
            if cand != lab:
                delta += 1
            new_labels[u] = cand
        labels = new_labels
        if delta == 0:
            converged = True
            break

    out_u = list(labels.keys())
    out_l = [labels[u] for u in out_u]
    nc = [-1] * len(out_u)
    if not converged:
        # sentinel: dummy id values (filtered out by _nc >= 0), delta payload
        probe = out_u[0] if out_u else None
        out_u.append(probe)
        out_l.append(probe)
        nc.append(delta)
    yield pd.DataFrame({'u': out_u, 'label': out_l, '_nc': nc})


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = 'doc_id',
    a_col: str = 'a_id',
    b_col: str = 'b_id',
    max_iter: int = 50,
    local_max_edges: int = LOCAL_MAX_EDGES,
) -> DataFrame:
    """(id_col, cluster_rep) for every node; cluster_rep = min id in the
    node's connected component (singletons map to themselves).

    Deterministic under any partitioning: the fixpoint of a min-fold is
    order-independent, and the pointer-shortcut hop only ever replaces
    a label with a smaller label from the same component, so the hop
    changes the round count, never the fixpoint.

    Raises ``RuntimeError`` if the propagation has not converged after
    ``max_iter`` rounds (with shortcutting that needs a component
    diameter around 2**max_iter — unreachable in practice).
    """
    # the symmetrization union consumes ``pairs`` twice; persist the
    # narrow pair rows first so an expensive pair producer (LSH
    # candidates + Jaccard verify) runs once, not once per direction
    pairs = pairs.select(F.col(a_col).alias('u'), F.col(b_col).alias('v')).persist()
    # one label row per node id on both paths: the single-task kernel
    # keys its labels by id, so a duplicated id row would otherwise
    # yield one output row there and one per duplicate in the round loop
    nodes_u = nodes.select(F.col(id_col).alias('u')).distinct()

    # Size-adaptive fast path (same move as linkgraph.pagerank_hosts):
    # when both the pair table and the node set fit one task, run the
    # whole propagation inside a single mapInPandas task — the kernel
    # is the exact sequential twin of the round loop below (same
    # update rule, same convergence verdict), so output AND the
    # non-convergence raise are identical.  NOT a driver loop: rows
    # shuffle to one executor task; only the one-row sentinel check
    # reads the materialized checkpoint.  ``local_max_edges <= 0``
    # forces the distributed rounds.
    if fits_one_task(pairs, local_max_edges) and fits_one_task(nodes_u, _CC_LOCAL_MAX_NODES):
        from pyspark.sql.types import LongType, StructField, StructType

        dt = nodes_u.schema['u'].dataType
        packed = nodes_u.select(
            'u', F.col('u').alias('v'), F.lit(True).alias('_tag')
        ).unionByName(pairs.select('u', 'v', F.lit(False).alias('_tag')))
        out_schema = StructType([
            StructField('u', dt), StructField('label', dt),
            StructField('_nc', LongType()),
        ])
        res = (
            packed.repartition(1)
            .mapInPandas(lambda it: _cc_partition(it, max_iter),
                         out_schema)
            .localCheckpoint(eager=True)
        )
        pairs.unpersist()
        sentinel = res.where(F.col('_nc') >= 0).select('_nc').collect()
        if sentinel:
            raise RuntimeError(
                f'connected_components did not converge within max_iter={max_iter} rounds '
                f'(last round still changed {sentinel[0]["_nc"]} labels); raise max_iter'
            )
        return res.where(F.col('_nc') < 0).select(
            F.col('u').alias(id_col), F.col('label').alias('cluster_rep'))

    edges = pairs.unionByName(pairs.select(F.col('v').alias('u'), F.col('u').alias('v'))).persist()
    labels = nodes_u.select('u', F.col('u').alias('label'))
    labels = labels.localCheckpoint(eager=True)

    converged = False
    delta = None  # max_iter <= 0 must raise the non-convergence error, not NameError
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, on='u')
            .groupBy('v')
            .agg(F.min('label').alias('nbr_label'))
            .withColumnRenamed('v', 'u')
        )
        new_labels = (
            labels.join(nbr_min, on='u', how='left')
            .select(
                'u',
                F.col('label').alias('old_label'),
                F.least(F.col('label'), F.coalesce('nbr_label', 'label')).alias('label'),
            )
        )
        # pointer jump: label(v) := label(label(v)).  The invariant
        # label(x) <= x holds throughout, so this only shrinks labels
        # within the component — chains collapse in O(log d) rounds
        # instead of O(d)
        ptr = labels.select(F.col('u').alias('label'), F.col('label').alias('ptr_label'))
        new_labels = (
            new_labels.join(ptr, on='label', how='left')
            .select(
                'u',
                'old_label',
                F.least(F.col('label'), F.coalesce('ptr_label', 'label')).alias('label'),
            )
        )
        # ONE expensive action per round: the checkpoint materializes
        # the joins; the convergence count below scans the cached
        # checkpoint (no recompute of the round's dataflow)
        new_labels = new_labels.localCheckpoint(eager=True)
        delta = new_labels.where(F.col('label') != F.col('old_label')).count()
        labels = new_labels.select('u', 'label')
        if delta == 0:
            converged = True
            break

    edges.unpersist()
    pairs.unpersist()
    if not converged:
        raise RuntimeError(
            f'connected_components did not converge within max_iter={max_iter} rounds '
            f'(last round still changed {delta} labels); raise max_iter'
        )
    return labels.select(F.col('u').alias(id_col), F.col('label').alias('cluster_rep'))


def neardup_clusters(
    docs: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    threshold: float = 0.8,
    **minhash_kw,
) -> DataFrame:
    """End-to-end corpus dedup decision: MinHash-LSH candidates →
    exact n-gram-Jaccard verify → connected components → one
    deterministic representative per duplicate cluster."""
    from .dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(
        docs, threshold=threshold, id_col=id_col, text_col=text_col, **minhash_kw
    ).select('a_id', 'b_id')
    return connected_components(pairs, docs.select(id_col), id_col=id_col)


def neardup_apply(df: DataFrame, id_col: str = 'doc_id',
                  text_col: str = 'text', threshold: float = 0.8) -> DataFrame:
    """The REMOVE stage over the near-dup decision: keep exactly the
    cluster representatives (``doc_id == cluster_rep``; singletons are
    their own rep, so the result IS the deduped corpus), joined back
    onto the document table so real columns survive.  The keeper set
    is corpus-sized minus duplicates — an ordinary AQE equi-join, not
    a broadcast, at crawl scale."""
    reps = (
        neardup_clusters(df, id_col=id_col, text_col=text_col,
                         threshold=threshold)
        .where(F.col('doc_id') == F.col('cluster_rep'))
        .select(F.col('doc_id').alias(id_col))
    )
    return df.join(reps, id_col)

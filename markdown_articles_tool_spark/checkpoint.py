"""Checkpointed, resumable corpus runs with per-partition lineage.

North-rule requirement: the 10^12-doc job must be resumable from
checkpoint with per-partition lineage + metrics, AND a resumed/sharded
run must be byte-identical to an uninterrupted global run.  The
reference has no fault tolerance at all (a crash re-runs the article
from scratch; partially written images are skipped by the exists-check,
image_downloader.py:287-289) — this module is the cluster-grade
replacement (SURVEY.md §4 "Resume / fault tolerance").

Design (batch-incremental, no Structured Streaming — the reference has
no streaming concept).  Each transformer pass runs in two phases:

* **Phase A (sharded, resumable)** — the expensive shard-local half
  (``pipeline.extract_pass_links``: extraction UDF, filters,
  distinct-URL fetch, per-link filename/status).  Work splits into
  deterministic shards by ``pmod(xxhash64(url), n)``.  A pass's
  uncommitted shards run in waves of ``SPARK_GRAFT_SHARD_WORKERS``
  shards: one extract → fetch → stage chain per wave, which fetches
  each distinct key once and writes the wave's narrow link metadata +
  fetched bytes partitioned by shard under
  ``stage/pass=P/{links,fetched}/shard=K`` (the bytes under the lowest
  of the wave's shards that links the key), followed by one commit
  marker per shard — marker-last gives idempotent commits on any
  filesystem (on Iceberg this becomes a MERGE + snapshot), and a crash
  loses at most one wave.  Restart = anti-join of the shard list
  against committed markers.
* **Phase B (global, idempotent)** — the cheap global half
  (``pipeline.finish_pass``: content-dedup winners over the union of
  ALL shards' links, path algebra, per-doc fold + rewrite, sinks).
  Because dedup winners are computed over the full corpus here, a
  sharded/resumed run produces byte-identical output to a non-sharded
  run **by construction** — there is no per-shard dedup scope to
  diverge (this closes r01's DIVERGENCES #12).  Phase B re-runs in
  full if its marker is missing; it is deterministic and overwrite-
  idempotent.

The pass loop is ``pipeline.run_passes``, shared with the lazy driver.
A non-last pass stages its docs (``docs_pass/pass=P``), images
(``stage/pass=P/images``) and, for content-hash dedup, registrations,
then commits ``pass=P_final``.  The last pass writes ``images`` in
every config (first write per path over the staged images and its
own) and commits both ``pass=P_final`` and ``images_final``; it is done
only when both are, so a crash before the second re-runs its phase B.

Lineage parquet-style rows: per (pass, shard) JSON with n_docs +
per-status link counts + the wave's wall seconds (the per-partition
metrics table), plus a per-pass global row.  Per shard, ``n_docs``
comes from a ``pyspark.sql.Observation`` on the wave's input scan and
``n_links`` and the status counts from one on the wave's links staging
write (a ``count_if`` per shard and status); the pass row's
``n_docs_out`` comes from one on its docs write.  The jobs count their
own rows, with no read-back.  A one-pass run starts 2 SQL executions
per wave (the two staging writes; one more in a wave that stages no
link) plus the docs and images writes.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .core import docfold
from .core.linkflow import DedupVariant, TransformConfig
from .io_sinks import ParquetMarkerSink, TableSink
from .pipeline import LINKMETA_COLS, extract_pass_links, run_passes

LINK_STATUSES = (docfold.OK, docfold.SKIPPED, docfold.MIME_DROP, docfold.NO_FILENAME, docfold.ERROR)

# declared schemas of the staged tables, read back with them: a wave
# whose shards all staged zero rows leaves no file to infer one from
STAGED_LINKS = ('url string, ord int, src string, w int, h int, base_url string, status string, '
                'fetch_key string, sha_hex string, filename1 string, need_rescaling boolean, '
                'shard int')
STAGED_FETCHED = 'fetch_key string, sha_hex string, content binary, shard int'


@dataclass
class RunReport:
    n_shards: int
    shards_run: List[int]       # shards whose phase A ran in ANY pass
    shards_skipped: List[int]   # shards skipped (already committed) in every pass


def _wave_size() -> int:
    """``SPARK_GRAFT_SHARD_WORKERS``: shards per phase-A wave (4)."""
    raw = os.environ.get('SPARK_GRAFT_SHARD_WORKERS', '4')
    try:
        size = int(raw)
    except ValueError:
        size = 0
    if size < 1:
        raise ValueError(f'SPARK_GRAFT_SHARD_WORKERS must be an integer >= 1, got {raw!r}')
    return size


def _write_lineage(out_dir: str, name: str, row: dict) -> None:
    p = os.path.join(out_dir, 'lineage')
    os.makedirs(p, exist_ok=True)
    with open(os.path.join(p, name), 'w') as f:
        json.dump(row, f)


def run_with_resume(
    spark: SparkSession,
    docs: DataFrame,
    cfg: TransformConfig,
    out_dir: str,
    n_shards: int = 8,
    fetcher=None,
    local_assets: Optional[dict] = None,
    sink: Optional[TableSink] = None,
) -> RunReport:
    """Transform ``docs`` (url, text) with checkpointed resume.

    Re-running after a crash skips committed shard stages and
    re-executes only missing work; the final tables are byte-identical
    to an uninterrupted (and to a non-sharded) run.

    ``sink`` is the storage seam (io_sinks.TableSink): parquet dirs +
    commit markers by default; pass ``IcebergTableSink`` on a real
    cluster for atomic snapshot commits (env-gated here — no Iceberg
    runtime in this sandbox).
    """
    wave_size = _wave_size()
    sink = sink or ParquetMarkerSink(out_dir)
    last = len(cfg.input_formats) - 1
    ran = set()
    phase_b_t0 = 0.0

    def finals(i: int) -> List[str]:
        return [f'pass={i}_final'] + (['images_final'] if i == last else [])

    # ---------------------------------------------- phase A (sharded)
    def run_wave(i: int, fmt: str, cur_docs: DataFrame, wave: List[int]) -> None:
        """One extract → fetch → stage chain over the shards in ``wave``;
        each distinct key is fetched once and staged under the lowest
        of the wave's shards that links it."""
        t0 = time.time()
        shard = F.pmod(F.xxhash64('url'), F.lit(n_shards))
        # per-shard doc, link and status counts: the wave's scan and its
        # links staging write count their own rows
        docs_obs, links_obs = Observation(), Observation()
        wave_docs = cur_docs.select('url', 'text').where(shard.isin(wave))
        links, fetched, cached = extract_pass_links(
            wave_docs.observe(docs_obs, *[F.count_if(shard == k).alias(str(k)) for k in wave]),
            cfg, fmt=fmt, fetcher=fetcher, local_assets=local_assets,
        )
        # rebalanced by shard: a wave's tasks would otherwise each write
        # one small links file per shard, and phase B open them all
        # (800 docs, 4 shards, 8 shuffle partitions: 32 files -> 4, and
        # a warm run's tree CPU 6.7 -> 5.6 s on 4 vCPUs).  The fetched
        # bytes are not shuffled for this
        sink.write_partitions(
            links.withColumn('shard', shard).hint('rebalance', 'shard').observe(
                links_obs,
                *[F.count_if(F.col('shard') == k).alias(str(k)) for k in wave],
                *[F.count_if((F.col('shard') == k) & (F.col('status') == s)).alias(f'{k}:{s}')
                  for k in wave for s in LINK_STATUSES]),
            f'stage/pass={i}/links', 'shard', wave,
        )
        # sha_hex staged WITH the content so phase B can pick a
        # consistent deterministic winner per fetch_key
        owner = links.where(F.col('fetch_key').isNotNull()).groupBy('fetch_key').agg(
            F.min(shard).alias('shard'))
        sink.write_partitions(
            fetched.join(owner, 'fetch_key').select('fetch_key', 'sha_hex', 'content', 'shard'),
            f'stage/pass={i}/fetched', 'shard', wave,
        )
        counts = links_obs.get
        if any(counts[str(k)] for k in wave):
            n_docs = docs_obs.get
        else:
            # a wave without links: AQE replaces the empty link join by
            # an empty relation, dropping the scan's metrics with it, so
            # only such a wave counts its docs in a job of its own
            n_docs = {str(r['shard']): r['count'] for r in
                      wave_docs.groupBy(shard.alias('shard')).count().collect()}
        wall = round(time.time() - t0, 3)
        for k in wave:
            status_counts = {s: counts[f'{k}:{s}'] for s in LINK_STATUSES if counts[f'{k}:{s}']}
            _write_lineage(out_dir, f'shard-{i}-{k}.json', {
                'pass': i,
                'shard': k,
                'n_links': counts[str(k)],
                'n_docs': n_docs.get(str(k), 0),
                'status_counts': status_counts,
                'wall_sec': wall,
            })
            sink.mark_committed(f'pass={i}_shard={k}')
        for df in cached:
            df.unpersist()

    def links_of(i: int, fmt: str, cur_docs: DataFrame):
        nonlocal phase_b_t0
        # a crash loses at most one wave: its shards' markers come last
        todo = [k for k in range(n_shards) if not sink.is_committed(f'pass={i}_shard={k}')]
        for w in range(0, len(todo), wave_size):
            run_wave(i, fmt, cur_docs, todo[w:w + wave_size])
        ran.update(todo)

        # ------------------------------------------ phase B (global)
        phase_b_t0 = time.time()
        # the shard=K dirs read back as a discovered partition column —
        # project it away so finish_pass sees exactly the linkmeta shape
        links_all = sink.read_partitions(spark, f'stage/pass={i}/links', STAGED_LINKS).select(*LINKMETA_COLS)
        # the same URL fetched independently in multiple waves: pick a
        # DETERMINISTIC winner (min shard id) so repeated/resumed runs
        # choose the same bytes.  For a deterministic fetcher (modeled /
        # content-addressed) every wave staged identical bytes and the
        # choice is vacuous; for a live fetcher whose responses vary
        # between waves, the byte-identity-to-uninterrupted-run
        # guarantee necessarily weakens to "deterministic winner per
        # key" — sha_hex is staged alongside the content so the picked
        # row stays internally consistent (bytes + hash from the SAME
        # fetch)
        fetched_all = (
            sink.read_partitions(spark, f'stage/pass={i}/fetched', STAGED_FETCHED).groupBy('fetch_key')
            .agg(F.min_by(F.struct('sha_hex', 'content'), 'shard').alias('w'))
            .select('fetch_key', 'w.sha_hex', 'w.content')
        )
        return links_all, fetched_all, ()

    def commit(i: int, out: tuple, names: tuple) -> None:
        """Write pass ``i``'s ``(docs, registrations, images)`` under
        ``names`` and its lineage row (the docs write counts the docs),
        then commit its finals."""
        obs = Observation()
        docs_out, registrations, images = out
        sink.write(docs_out.observe(obs, F.count(F.lit(1)).alias('n_docs_out')), names[0])
        sink.write(images, names[2])
        if registrations is not None:
            sink.write(registrations, names[1])
        _write_lineage(out_dir, f'pass-{i}.json', {
            'pass': i,
            'n_docs_out': obs.get['n_docs_out'],
            'wall_sec': round(time.time() - phase_b_t0, 3),
        })
        for m in finals(i):
            sink.mark_committed(m)

    def stage(i: int, out) -> tuple:
        content_hash = cfg.deduplication == DedupVariant.CONTENT_HASH
        names = (f'docs_pass/pass={i}', f'stage/pass={i}/registrations' if content_hash else None,
                 f'stage/pass={i}/images')
        if out is not None:
            commit(i, out, names)
        return tuple(name and sink.read(spark, name) for name in names)

    res = run_passes(docs, cfg, links_of, stage,
                     done=lambda i: all(sink.is_committed(m) for m in finals(i)))
    if res is not None:
        commit(last, (res.docs_out, None, res.images_out), ('docs', None, 'images'))
    return RunReport(n_shards, sorted(ran), [k for k in range(n_shards) if k not in ran])


def read_output(spark: SparkSession, out_dir: str, sink: Optional[TableSink] = None) -> DataFrame:
    return (sink or ParquetMarkerSink(out_dir)).read(spark, 'docs')


def read_images(spark: SparkSession, out_dir: str, sink: Optional[TableSink] = None) -> DataFrame:
    return (sink or ParquetMarkerSink(out_dir)).read(spark, 'images')


def lineage(out_dir: str) -> List[dict]:
    """Per-(pass, shard) metrics rows (phase A)."""
    return _lineage_rows(out_dir, 'shard-')


def lineage_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """Shard lineage as a queryable DataFrame (north rule: per-partition
    lineage + metrics are a first-class OUTPUT, not a log) — one row per
    (pass, shard, link status) with the shard's doc/link totals.
    Deterministic columns only: ``wall_sec`` stays in the JSON (it is a
    metric, not a fact about the data).  ``explode_outer`` + '(none)'
    keeps shards that staged zero links visible with their n_docs —
    at corpus scale an empty shard is a skew signal, not a non-event."""
    schema = ('pass int, shard int, n_docs bigint, n_links bigint, '
              'status_counts map<string, bigint>, wall_sec double')
    raw = spark.read.schema(schema).json(os.path.join(out_dir, 'lineage', 'shard-*.json'))
    return (
        raw.select(
            F.col('pass').alias('pass_idx'), 'shard', 'n_docs', 'n_links',
            F.explode_outer('status_counts').alias('status', 'n_status'),
        )
        .withColumn('status', F.coalesce('status', F.lit('(none)')))
        .withColumn('n_status', F.coalesce('n_status', F.lit(0)))
    )


def pass_lineage(out_dir: str) -> List[dict]:
    """Per-pass global rows (phase B)."""
    return _lineage_rows(out_dir, 'pass-')


def _lineage_rows(out_dir: str, prefix: str) -> List[dict]:
    p = os.path.join(out_dir, 'lineage')
    if not os.path.isdir(p):
        return []
    rows = []
    for name in sorted(os.listdir(p)):
        if name.startswith(prefix):
            with open(os.path.join(p, name)) as f:
                rows.append(json.load(f))
    return rows

#!/usr/bin/env python
"""Per-run cost of a one-pass sharded transform: jobs, compiles, CPU.

    python tools/run_cost.py [--docs 800] [--shards 4] [--reps 3]

Starts a ``session.get_spark`` session and runs ``--reps`` uninterrupted
``checkpoint.run_with_resume`` runs (one md pass, content-hash dedup,
``--shards`` shards) over the first ``--docs`` documents of
``corpus.docs_list``, each into a fresh output directory.  Prints one
JSON line per run: SQL executions and jobs it started, Janino classes it
compiled and their compile milliseconds, its wall time, and the CPU of
the whole process tree (this process, the Spark JVM and the Python
workers, read from ``/proc``).  The first run is the cold one.  Phase A
runs in waves of ``SPARK_GRAFT_SHARD_WORKERS`` shards (4 by default), two
SQL executions per wave, plus the docs and images writes: at 1 and 4
shards a run should start 4 SQL executions (10 at 16 shards), and a warm
run compile 0 classes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procstat import tree_cpu_s  # noqa: E402


def counters(spark) -> dict:
    """Cumulative session counters: the last SQL execution id, the last
    job id, and the Janino compile count and milliseconds.  Ids are
    handed out in sequence, so the difference of two readings is what
    ran between them however many the status store still retains.
    Compile milliseconds sum the compile-time histogram's samples, which
    are all of them until the process has compiled 1028 classes."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store lags the listener bus
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    compile_ms = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return {
        'sql_executions': execs.last().executionId() if execs.size() else -1,
        'jobs': max(sc.statusTracker().getJobIdsForGroup(), default=-1),
        'janino_compiles': compile_ms.getCount(),
        'janino_ms': sum(compile_ms.getSnapshot().getValues()),
    }


def delta(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in before}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--docs', type=int, default=800)
    ap.add_argument('--shards', type=int, default=4)
    ap.add_argument('--reps', type=int, default=3)
    args = ap.parse_args(argv)

    from markdown_articles_tool_spark import corpus
    from markdown_articles_tool_spark.checkpoint import run_with_resume
    from markdown_articles_tool_spark.core.linkflow import DedupVariant, TransformConfig
    from markdown_articles_tool_spark.session import get_spark

    spark = get_spark(app_name='run-cost')
    cfg = TransformConfig(skip_all_errors=True, deduplication=DedupVariant.CONTENT_HASH)
    docs = spark.createDataFrame(corpus.docs_list(args.docs), 'url string, text string')
    work = tempfile.mkdtemp(prefix='run-cost-')
    out = os.path.join(work, 'out')
    try:
        for rep in range(args.reps):
            shutil.rmtree(out, ignore_errors=True)
            c0, cpu0, t0 = counters(spark), tree_cpu_s(), time.perf_counter()
            run_with_resume(spark, docs, cfg, out, n_shards=args.shards)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            print(json.dumps({'rep': rep, 'docs': args.docs, 'shards': args.shards,
                              **delta(c0, counters(spark)),
                              'wall_s': round(wall, 3), 'tree_cpu_s': round(cpu, 3)}), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == '__main__':
    sys.exit(main())

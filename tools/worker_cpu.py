#!/usr/bin/env python
"""Python-worker CPU per invocation of an identity pandas UDF.

    python tools/worker_cpu.py [--partitions 64] [--rounds 3]

Starts a ``session.get_spark`` session, warms it with one run, then
times ``--rounds`` runs of an identity pandas UDF over ``--partitions``
one-row partitions: one worker invocation per partition, so almost all
of the measured CPU is fixed per-invocation cost.  Worker CPU is
utime+stime (plus that of reaped children) of every process below the
Spark JVM, read from ``/proc``; the JVM's own CPU is not counted.
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procstat import _CLK, _proc_table, tree_pids  # noqa: E402


def _worker_cpu_s() -> float:
    """CPU seconds of every process below this process's Spark JVM."""
    table = _proc_table()
    jvms = {p for p, (ppid, _) in table.items() if ppid == os.getpid()}
    below = set(tree_pids(table)) - jvms - {os.getpid()}
    return sum(table[p][1] for p in below) / _CLK


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--partitions', type=int, default=64)
    ap.add_argument('--rounds', type=int, default=3)
    args = ap.parse_args(argv)

    from pyspark.sql.functions import pandas_udf

    from markdown_articles_tool_spark.session import get_spark

    spark = get_spark(app_name='worker-cpu')

    @pandas_udf('long')
    def identity(s):
        return s

    df = spark.range(0, args.partitions, numPartitions=args.partitions)
    run = df.select(identity('id').alias('id')).write.format('noop').mode('overwrite')
    run.save()  # warm-up: starts the daemon and the workers
    rounds = []
    for _ in range(args.rounds):
        cpu0, t0 = _worker_cpu_s(), time.perf_counter()
        run.save()
        rounds.append({'wall_s': round(time.perf_counter() - t0, 3),
                       'worker_cpu_s': round(_worker_cpu_s() - cpu0, 3)})
    worker_module = spark.sparkContext.getConf().get('spark.python.worker.module', 'pyspark.worker')
    spark.stop()
    cpu = sorted(r['worker_cpu_s'] for r in rounds)[len(rounds) // 2]
    print(json.dumps({
        'worker_module': worker_module,
        'partitions': args.partitions,
        'rounds': rounds,
        'median_worker_cpu_s': cpu,
        'worker_cpu_ms_per_invocation': round(1000 * cpu / args.partitions, 1),
    }))
    return 0


if __name__ == '__main__':
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark of record for the document transform and the WARC release run.

    python3 perfbench/run.py --workload transform_unique --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  It generates the seed's inputs,
computes (or loads) their reference digests, starts a Spark session with
the pinned settings below, warms up with full-size passes, then runs
timed operations until ``--seconds`` have passed and checks each output
against the reference.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run record (settings, input fingerprint, samples, load).  With
``--trace 1`` a traced pass follows and the metrics are the per-layer
ones; spans and the layer map go to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, '.perfbench_work')

NPROC = len(os.sched_getaffinity(0))
# Pinned run settings.  Every SPARK_GRAFT_* variable of the caller is
# dropped first so nothing outside this table reaches the program.
SETTINGS = {
    'SPARK_GRAFT_CPUS': str(NPROC),
    # well below the box's memory: with the 16g default, heap growth
    # (and so peak RSS) follows GC timing
    'SPARK_GRAFT_DRIVER_MEM': '2g',
    'SPARK_GRAFT_SHUFFLE_PARTITIONS': str(max(NPROC, 8)),
    'SPARK_GRAFT_SHARD_WORKERS': str(NPROC),
    'SPARK_LOCAL_DIRS': os.path.join(WORK, 'spark-local'),
    'TMPDIR': os.path.join(WORK, 'tmp'),
    # every JVM, the launcher's too: temp files in the checkout, and no
    # hsperfdata files in the system temp directory
    'JAVA_TOOL_OPTIONS': f'-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, "tmp")}',
}
# one input parquet file per core: one scan task per core
PARQUET_FILES = NPROC


def _pin_environment(event_dir: str | None) -> None:
    for k in [k for k in os.environ if k.startswith('SPARK_GRAFT_')]:
        del os.environ[k]
    os.environ.update(SETTINGS)
    os.environ['PYSPARK_PYTHON'] = sys.executable
    os.environ['PYTHONPATH'] = os.pathsep.join(
        p for p in (ROOT, os.environ.get('PYTHONPATH', '')) if p)
    args = '--conf spark.ui.showConsoleProgress=false '
    if event_dir is not None:
        args += (f'--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{event_dir} '
                '--conf spark.eventLog.compress=false ')
    os.environ['PYSPARK_SUBMIT_ARGS'] = args + 'pyspark-shell'
    for d in (SETTINGS['SPARK_LOCAL_DIRS'], SETTINGS['TMPDIR']):
        os.makedirs(d, exist_ok=True)


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and every process left in
    this tree, and wait for each to end."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, 'proc', None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    me = os.getpid()
    while True:
        left = [p for p in tree_pids() if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def _trend(values: list) -> float | None:
    """Theil-Sen slope over the iteration index, times (n-1), as a
    share of the median: the drift from the first timed iteration to
    the last.  None with fewer than three samples."""
    if len(values) < 3:
        return None
    slopes = [(values[j] - values[i]) / (j - i) for i in range(len(values)) for j in range(i + 1, len(values))]
    return statistics.median(slopes) * (len(values) - 1) / statistics.median(values)


def _layer_table() -> dict:
    with open(os.path.join(HERE, 'layers.json')) as f:
        return json.load(f)


def per_layer_names(table: dict) -> list:
    """Every per-layer metric name, in BENCHMARK.json order."""
    names = []
    for layer in table['layers']:
        names.extend(layer['metrics'])
    for span in table['spans']:
        names.extend(f'{span}.{c}' for c in table['span_counters'])
    return names


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS  # fails without the program's sources

    if args.workload not in WORKLOADS:
        ap.error(f'unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}')
    run_id = f'{args.workload}-{args.seed}-{os.getpid()}'
    work = os.path.join(WORK, 'runs', run_id)
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, 'eventlog') if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    _pin_environment(event_dir)

    from perfbench.procstat import loadavg, steal_s
    from perfbench.trace import Tracer, fold_event_log, read_event_log

    wl = WORKLOADS[args.workload](work, args.seed, PARQUET_FILES)
    t0 = time.perf_counter()
    input_record = wl.prepare(os.path.join(WORK, 'ref'))
    inputs_s = time.perf_counter() - t0
    load_before = loadavg()
    steal_before = steal_s()

    try:
        from markdown_articles_tool_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f'perfbench-{args.workload}')
        session_s = time.perf_counter() - t0
        try:
            wl.warm_up(spark)
            setup_s = time.perf_counter() - PROCESS_START - inputs_s
            ops = []
            loop0 = time.perf_counter()
            while True:
                ops.extend(wl.iteration(spark))
                if time.perf_counter() - loop0 >= args.seconds:
                    break
            traced = None
            if args.trace:
                tracer = Tracer(spark, run_id)
                traced = (tracer, *wl.trace(spark, tracer))
        finally:
            t0 = time.perf_counter()
            _stop_spark(spark)
            teardown_s = time.perf_counter() - t0
    finally:
        shutil.rmtree(os.path.join(work, 'input'), ignore_errors=True)
        shutil.rmtree(os.path.join(work, 'out'), ignore_errors=True)
        shutil.rmtree(os.path.join(work, 'traced'), ignore_errors=True)
    load_after = loadavg()
    steal = steal_s() - steal_before

    timed = [o for o in ops if o.window.wall_s > 0]
    wall = sum(o.window.wall_s for o in timed)
    record = {
        'workload': args.workload,
        'seed': args.seed,
        'settings': SETTINGS | {'parquet_files': PARQUET_FILES, 'nproc': NPROC},
        'input': input_record,
        'inputs_s': inputs_s,
        'session_s': session_s,
        'teardown_s': teardown_s,
        'samples': [[o.window.name, o.window.wall_s, o.window.cpu_s, o.window.peak_rss_mb, o.ok]
                    for o in ops],
        'trend': {name: _trend([o.window.wall_s for o in ops if o.window.name == name])
                  for name in sorted({o.window.name for o in ops})},
        'effective_cores': sum(o.window.cpu_s for o in timed) / wall if wall else 0.0,
        'loadavg_before': load_before,
        'loadavg_after': load_after,
        'steal_s': steal,
        'errors': [o.error for o in ops if o.error][:3],
    }

    if traced is None:
        metrics = wl.end_to_end(ops, wl.n_docs) | {'setup_s': setup_s}
        units = {'docs_per_sec': 'docs/s', 'cpu_s_per_kdoc': 's/kdoc', 'peak_rss_mb': 'MB',
                 'setup_s': 's', 'resume_s': 's'}
    else:
        tracer, traced_ops, layer_m, traced_wall = traced
        layer_m['trace.overhead_s'] = traced_wall - wl.untraced_wall(ops)
        ops = ops + traced_ops
        record['errors'] += [o.error for o in traced_ops if o.error][:3]
        fold_event_log(read_event_log(event_dir), tracer.spans)
        table = _layer_table()
        layer_m |= wl.span_metrics(tracer)
        layer_m['session.start_s'] = session_s
        by_name = {s.name: s.counters for s in tracer.spans}
        for span in table['spans']:
            for c in table['span_counters']:
                layer_m[f'{span}.{c}'] = by_name.get(span, {}).get(c, 0)
        names = per_layer_names(table)
        # a layer the workload bypasses did no work: its metrics read 0
        metrics = {n: layer_m.get(n, 0) for n in names}
        units = {n: u for layer in table['layers'] for n, (u, _better) in layer['metrics'].items()}
        units |= {f'{s}.{c}': u for s in table['spans'] for c, (u, _better) in table['span_counters'].items()}
        os.makedirs(os.path.join(WORK, 'traces'), exist_ok=True)
        trace_path = os.path.join(WORK, 'traces', f'{run_id}.json')
        with open(trace_path, 'w') as f:
            json.dump({
                'run_id': run_id,
                'spans': [{'id': s.span_id, 'name': s.name, 'start': s.start, 'end': s.end,
                           'parent': s.parent, 'run_id': s.run_id, 'counters': s.counters}
                          for s in tracer.spans],
                'metrics': metrics,
                'layer_map': table,
            }, f, indent=1)
        record['trace_file'] = os.path.relpath(trace_path, ROOT)
    shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o.ok for o in ops)
    print(json.dumps(record))
    print(json.dumps({
        'correct': failed == 0,
        'attempted': len(ops),
        'failed': failed,
        'metrics': {k: {'value': v, 'unit': units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == '__main__':
    sys.exit(main())

"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The last two tests share one end-to-end run of the release workload
(about a minute).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.trace import Span, fold_event_log  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return json.load(f)


def test_per_layer_metrics_match_the_layer_map():
    table = run._layer_table()
    declared = {m['name']: (m['unit'], m['better']) for m in _benchmark_json()['per_layer']}
    mapped = {n: tuple(v) for layer in table['layers'] for n, v in layer['metrics'].items()}
    mapped |= {f'{s}.{c}': tuple(v) for s in table['spans'] for c, v in table['span_counters'].items()}
    assert declared == mapped
    assert [m['name'] for m in _benchmark_json()['per_layer']] == run.per_layer_names(table)


def test_every_layer_maps_to_declared_metrics_and_workloads():
    bench = _benchmark_json()
    e2e = {m['name'] for m in bench['end_to_end']}
    workloads = {w['name'] for w in bench['workloads']}
    table = run._layer_table()
    for layer in table['layers']:
        assert set(layer['moves']) <= e2e
        assert set(layer['on']) | set(layer['no_change_on']) <= workloads
    assert set(table['spans'].values()) <= workloads


def test_trend_reads_drift_not_noise():
    assert run._trend([2.0, 2.0]) is None
    assert abs(run._trend([3.0, 3.1, 2.9, 3.0, 3.05])) < 0.05
    assert run._trend([4.0, 3.6, 3.3, 3.0]) < -0.2


def test_event_log_fold_attributes_by_group_then_time():
    outer = Span('r:0', 'checkpoint.full_run', start=10.0, end=20.0)
    inner = Span('r:1', 'io_sinks.write', start=12.0, end=14.0, parent='r:0')

    def task(stage, cpu_ns, ok=True):
        return {'Event': 'SparkListenerTaskEnd', 'Stage ID': stage,
                'Task End Reason': {'Reason': 'Success' if ok else 'ExceptionFailure'},
                'Task Info': {'Launch Time': 0, 'Finish Time': 1000, 'Failed': not ok},
                'Task Metrics': {'Executor CPU Time': cpu_ns, 'JVM GC Time': 5,
                                 'Shuffle Read Metrics': {'Fetch Wait Time': 0},
                                 'Shuffle Write Metrics': {'Shuffle Bytes Written': 2_000_000}}}

    events = [
        # grouped job of the outer span
        {'Event': 'SparkListenerJobStart', 'Submission Time': 11_000, 'Stage IDs': [1],
         'Properties': {'spark.jobGroup.id': 'r:0'}},
        task(1, 1_000_000_000),
        # a pool thread's job: no group, submitted inside the inner span
        {'Event': 'SparkListenerJobStart', 'Submission Time': 13_000, 'Stage IDs': [2],
         'Properties': {}},
        task(2, 2_000_000_000),
        task(2, 0, ok=False),
        {'Event': 'SparkListenerStageCompleted',
         'Stage Info': {'Stage ID': 2, 'Accumulables': [
             {'ID': 7, 'Name': 'data sent to Python workers', 'Value': '3000000'},
             {'ID': 8, 'Name': 'data sent to Python workers', 'Value': '0'}]}},
        # outside every span: ignored
        {'Event': 'SparkListenerJobStart', 'Submission Time': 30_000, 'Stage IDs': [3],
         'Properties': {}},
        task(3, 9_000_000_000),
    ]
    fold_event_log(events, [outer, inner])
    assert inner.counters['tasks'] == 2 and inner.counters['failed_tasks'] == 1
    assert inner.counters['executor_cpu_s'] == 2.0
    assert inner.counters['python_in_mb'] == 3.0
    assert inner.counters['python_crossings'] == 1
    # inclusive: the outer span covers its child
    assert outer.counters['tasks'] == 3
    assert outer.counters['executor_cpu_s'] == 3.0
    assert outer.counters['shuffle_write_mb'] == 6.0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, 'BENCHMARK.json'), tmp_path)
    shutil.copytree(os.path.join(ROOT, 'perfbench'), tmp_path / 'perfbench',
                    ignore=shutil.ignore_patterns('__pycache__'))
    cmd = _benchmark_json()['command'] + ['--workload', 'crawl_release', '--seed', '1',
                                          '--seconds', '1', '--trace', '0']
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ''


@pytest.fixture(scope='module')
def release_run():
    """One benchmark run of the release workload, as the benchmark's
    own command runs it."""
    bench = _benchmark_json()
    cmd = bench['command'] + ['--workload', 'crawl_release', '--seed', '3',
                              '--seconds', str(bench['run_seconds']), '--trace', '0']
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert p.returncode == 0, p.stderr[-2000:]
    record_line, result_line = p.stdout.strip().splitlines()[-2:]
    return json.loads(record_line), json.loads(result_line)


def test_run_prints_every_end_to_end_metric_and_checks_output(release_run):
    _record, result = release_run
    assert set(result) == {'correct', 'attempted', 'failed', 'metrics'}
    assert result['correct'] and result['attempted'] >= 1 and result['failed'] == 0
    declared = {m['name']: m['unit'] for m in _benchmark_json()['end_to_end']}
    assert {k: v['unit'] for k, v in result['metrics'].items()} == declared
    assert all(v['value'] > 0 for v in result['metrics'].values())


@pytest.mark.xfail(reason='known limit: the JIT keeps speeding up for more full-size passes than '
                          'the run-time budget allows to warm up; the timed release passes of one '
                          'run still drift down (DESIGN.md, "Known limits")', strict=False)
def test_timed_iterations_show_no_trend(release_run):
    """Warm-up reaches steady state: the release passes timed in one
    run drift by less than a tenth from first to last."""
    record, _result = release_run
    trend = record['trend']['release']
    assert trend is not None and abs(trend) < 0.10, record['samples']

"""SparkSession factory with the configs this engine assumes.

Tuned for correctness-critical determinism plus the scale posture from
SURVEY.md §4: AQE on (skew joins, coalesced shuffle), Arrow on (every
row-level op here is a pandas UDF), and shuffle partitions sized for
the local harness (on a real cluster these come from spark-submit).

The package reads five environment settings, all deployment-shaped
(an address or the size of the machine it runs on):

- ``SPARK_GRAFT_MASTER``: the Spark master URL (default
  ``local[$SPARK_GRAFT_CPUS]``).
- ``SPARK_GRAFT_CPUS``: local cores when no master is given (32).
- ``SPARK_GRAFT_SHUFFLE_PARTITIONS``: ``spark.sql.shuffle.partitions``
  when the caller passes none (32).
- ``SPARK_GRAFT_DRIVER_MEM``: ``spark.driver.memory`` (a quarter of
  the machine's physical memory, at least 1g and at most 16g; see
  ``default_driver_memory``).
- ``SPARK_GRAFT_SHARD_WORKERS``: shards per phase-A wave of
  ``checkpoint.run_with_resume`` (4; an integer >= 1, read and checked
  there before any job).

Every other config below is a constant; the comment beside it gives
the measurement that chose it.
"""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import SparkSession

WORKER_ENTRY = 'pyspark_graft_worker'


def worker_entry_path(master: str) -> str | None:
    """The ``sys.path`` entry (directory or zip) holding the worker entry
    when Python workers can be pointed at it, else None.

    Spark's daemon imports the worker module as it starts, before any
    task puts its ``--py-files`` on ``sys.path``, so the entry has to be
    on the workers' PYTHONPATH from the start.  With a local master the
    workers share this machine's files, so the entry's location here
    serves them too.  On a cluster that is not known: the stock worker
    runs unless the submitter selects the entry (see README).
    """
    if not master.startswith('local'):
        return None
    spec = importlib.util.find_spec(WORKER_ENTRY)
    if spec is None or not spec.has_location:
        return None
    return os.path.dirname(spec.origin)


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    a quarter of physical memory, clamped to [1g, 16g].

    A fixed 16g heap on a 16 GB machine let the local-mode JVM (driver
    and executors in one process) grow until the kernel's OOM killer
    ended it; a quarter leaves the rest to the Python workers, the
    page cache and the OS.  Where the page counts are unknown the
    upper bound is used.
    """
    lo, hi = 1024, 16 * 1024
    try:
        total = os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES')
    except (AttributeError, ValueError, OSError):
        return f'{hi}m'
    return f'{min(hi, max(lo, total // 4 // 2**20))}m'


def get_spark(
    app_name: str = 'markdown-articles-tool-spark',
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or os.environ.get('SPARK_GRAFT_MASTER', f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get('SPARK_GRAFT_SHUFFLE_PARTITIONS', '32'))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config('spark.sql.shuffle.partitions', str(shuffle_partitions))
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.adaptive.skewJoin.enabled', 'true')
        .config('spark.sql.adaptive.coalescePartitions.enabled', 'true')
        # AQE coalesces by shuffle-read BYTES; several of our stages are
        # compute-heavy on byte-narrow input (pandas-UDF extraction,
        # fetch fan-out, rewrite), so the 1MB default floor starves them
        # of parallelism on small-to-mid corpora
        .config('spark.sql.adaptive.coalescePartitions.minPartitionSize', '64k')
        # advisory stays at Spark's 64MB default: an 8MB A/B on the
        # 8-core corpus transform LOST 40% (21.0s vs 12.5s) — finer
        # post-shuffle partitions pay more in pandas-UDF batch setup
        # and scheduling than they win back in tail smoothing, same
        # verdict as the shuffle-mult and input-file-count A/Bs
        .config('spark.sql.adaptive.advisoryPartitionSizeInBytes', '64m')
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        # 20k-row Arrow batches: measured A/B on the 32-core corpus
        # transform — 10k: 7.80s, 20k: 7.20s (+8%), 40k: 7.44s,
        # 80k: 7.55s; bigger batches amortize per-batch UDF setup +
        # Arrow transfer until batch-tail skew wins
        .config('spark.sql.execution.arrow.maxRecordsPerBatch', '20000')
        # keep the broadcast threshold at Spark's default 10MB: the
        # pipeline carries binary image content in several tables and an
        # over-eager broadcast of one of those kills the driver
        .config('spark.sql.autoBroadcastJoinThreshold', str(10 * 1024 * 1024))
        .config('spark.driver.memory',
                os.environ.get('SPARK_GRAFT_DRIVER_MEM') or default_driver_memory())
        # throughput collector: G1's concurrent phases compete with task
        # threads for cores on small executors (measured 25s → 14s on
        # the 8-core corpus transform); batch pipelines want ParallelGC
        .config('spark.driver.extraJavaOptions', '-XX:+UseParallelGC')
        # same collector on real executors (driver==executor in local mode)
        .config('spark.executor.extraJavaOptions', '-XX:+UseParallelGC')
        .config('spark.ui.enabled', 'false')
        # image bytes are high-entropy (already-compressed formats):
        # columnar-cache compression burns CPU for ~no size win
        .config('spark.sql.inMemoryColumnarStorage.compressed', 'false')
        .config('spark.sql.session.timeZone', 'UTC')
        # a sharded transform run generates ~118 distinct classes; at
        # Spark's default of 100 cached entries every warm run
        # recompiled 72-79 of them (Janino, then the JIT warming each)
        .config('spark.sql.codegen.cache.maxEntries', '1000')
    )
    entry = worker_entry_path(master)
    if entry is not None:
        # worker entry that skips the per-task re-read of unchanged zip
        # archives (pyspark.zip): measured 246 -> 42 ms of worker CPU per
        # identity pandas-UDF invocation on 4 vCPUs (tools/worker_cpu.py)
        builder = (
            builder.config('spark.python.worker.module', WORKER_ENTRY)
            .config('spark.executorEnv.PYTHONPATH', entry)
        )
    return builder.getOrCreate()

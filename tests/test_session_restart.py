"""The suite's shared Spark session survives a lost JVM: the next test
that runs gets a new session, and the restart is reported on stderr.
Run in a child pytest that loads this suite's conftest as a plugin."""

import os
import subprocess
import sys
from pathlib import Path

TESTS = Path(__file__).resolve().parent

CHILD_TESTS = '''
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# a module-level UDF keeps the JVM twin made on its first use
plus_one = F.udf(lambda x: x + 1, LongType())


def test_kill_the_jvm(spark):
    assert spark.range(3).select(plus_one('id')).count() == 3
    proc = spark.sparkContext._gateway.proc
    proc.kill()
    proc.wait(timeout=60)


def test_next_test_gets_a_live_session(spark):
    assert [r[0] for r in spark.range(2).select(plus_one('id')).collect()] == [1, 2]


def test_then_the_same_session_again(spark):
    assert spark.range(7).count() == 7
'''


def test_dead_gateway_is_replaced_for_the_next_test(tmp_path):
    (tmp_path / 'test_child.py').write_text(CHILD_TESTS)
    env = {k: v for k, v in os.environ.items() if not k.startswith('SPARK_GRAFT_')}
    env.update(SPARK_GRAFT_DRIVER_MEM='1g',
               PYTHONPATH=os.pathsep.join(p for p in (str(TESTS), env.get('PYTHONPATH', '')) if p))
    res = subprocess.run(
        [sys.executable, '-m', 'pytest', '-q', '-p', 'conftest', '-p', 'no:cacheprovider',
         '--rootdir', str(tmp_path), str(tmp_path / 'test_child.py')],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stdout[-3000:] + res.stderr[-3000:]
    assert '3 passed' in res.stdout, res.stdout[-3000:]
    # reported once, before the test after the kill, and no test re-ran
    reports = [ln for ln in res.stderr.splitlines() if ln.startswith('[spark fixture]')]
    assert len(reports) == 1 and 'test_next_test_gets_a_live_session' in reports[0], res.stderr[-3000:]

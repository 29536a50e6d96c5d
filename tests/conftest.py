import gc
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the suite's data is small; the package's 16g default heap lets the
# JVM grow past a 16 GB machine's memory until the kernel kills it
os.environ.setdefault('SPARK_GRAFT_DRIVER_MEM', '4g')

# the one session the suite shares (the ``spark`` fixture's value)
_SESSION = None


def _start():
    from markdown_articles_tool_spark.session import get_spark

    return get_spark(app_name='mats-tests', master='local[4]', shuffle_partitions=8)


def _alive(s) -> bool:
    """Whether the session's gateway JVM still answers."""
    proc = getattr(s.sparkContext._gateway, 'proc', None)
    if proc is not None and proc.poll() is not None:
        return False
    try:
        s.sparkContext._jvm.java.lang.System.nanoTime()
        return True
    except Exception:
        return False


def _revive(s) -> None:
    """Start a new session and make ``s`` it, in place: every fixture
    and test holding the shared session object gets the live one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.sql.udf import UserDefinedFunction

    try:
        s.stop()
    except Exception:
        pass  # the gateway is gone; forget it below
    SparkContext._active_spark_context = None
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    fresh = _start()
    s.__dict__.clear()
    s.__dict__.update(fresh.__dict__)
    # a UDF object keeps the JVM twin made on its first use
    for o in gc.get_objects():
        if isinstance(o, UserDefinedFunction):
            o._judf_placeholder = None


def pytest_runtest_setup(item):
    # before the item's fixtures are set up (a module fixture built on
    # a dead session would fail every test of its module).  The test
    # that met the dead JVM has already failed; it is not retried.
    if _SESSION is not None and not _alive(_SESSION):
        _revive(_SESSION)
        capman = item.config.pluginmanager.getplugin('capturemanager')
        with capman.global_and_fixture_disabled():
            sys.stderr.write(f'\n[spark fixture] gateway JVM was dead; started a new session '
                             f'before {item.nodeid}\n')


@pytest.fixture(scope='session')
def spark():
    global _SESSION
    _SESSION = _start()
    yield _SESSION
    _SESSION.stop()
    _SESSION = None

"""The Python worker entry (``pyspark_graft_worker``): Spark's workers
run it, and its ``zipimporter.invalidate_caches`` re-reads an archive
only when the archive changed on disk."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from markdown_articles_tool_spark.session import worker_entry_path

ROOT = Path(__file__).resolve().parent.parent


def test_spark_workers_run_the_entry(spark):
    """A pandas UDF sees the wrapped ``invalidate_caches`` in its worker,
    and every zipimporter there already carries a read stamp (the
    daemon stamped them before forking)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf('string')
    def probe(ids: pd.Series) -> pd.Series:
        import sys as _sys
        import zipimport as _zi

        wrapped = _zi.zipimporter.invalidate_caches.__module__
        stamped = all(getattr(f, '_read_stamp', None) is not None
                      for f in _sys.path_importer_cache.values()
                      if isinstance(f, _zi.zipimporter))
        return pd.Series([f'{wrapped}:{stamped}'] * len(ids))

    got = {r[0] for r in spark.range(0, 8, numPartitions=4).select(probe('id')).collect()}
    assert got == {'pyspark_graft_worker:True'}, got


@pytest.fixture
def worker_entry():
    import pyspark_graft_worker

    yield pyspark_graft_worker
    # leave this process's importers as they were
    zipimport.zipimporter.invalidate_caches = pyspark_graft_worker._reread


def test_only_a_changed_zip_is_reread(worker_entry, tmp_path, monkeypatch):
    archive = str(tmp_path / 'graft_entry.zip')
    with zipfile.ZipFile(archive, 'w') as z:
        z.writestr('graft_entry_a.py', 'VALUE = 1\n')
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, '_read_directory',
                        lambda path: reads.append(path) or read_directory(path))
    try:
        assert importlib.import_module('graft_entry_a').VALUE == 1
        reads.clear()  # the import made the importer, which read the zip
        # an importer made after the entry was imported has no stamp yet
        # (a zip added with addPyFile): read once, then stamped
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        with zipfile.ZipFile(archive, 'a') as z:
            z.writestr('graft_entry_b.py', 'VALUE = 2\n')
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module('graft_entry_b').VALUE == 2
    finally:
        for name in ('graft_entry_a', 'graft_entry_b'):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_entry_selected_only_where_workers_share_this_machine():
    assert worker_entry_path('local[4]') == str(ROOT)
    assert worker_entry_path('local-cluster[2,1,1024]') == str(ROOT)
    assert worker_entry_path('yarn') is None
    assert worker_entry_path('spark://head:7077') is None


PROBE = """
import pandas as pd
from pyspark.sql.functions import pandas_udf

from markdown_articles_tool_spark.session import get_spark

spark = get_spark(app_name='worker-entry-deploy', master='local[1]')


@pandas_udf('string')
def entry_file(ids: pd.Series) -> pd.Series:
    import zipimport
    return pd.Series([zipimport.zipimporter.invalidate_caches.__code__.co_filename] * len(ids))


print('ENTRY', spark.range(0, 2, numPartitions=1).select(entry_file('id')).first()[0])
spark.stop()
"""


@pytest.mark.parametrize('daemon', ['true', 'false'])
def test_spark_submit_with_py_files_from_another_directory(tmp_path, daemon):
    """The documented job run: ``spark-submit --py-files mats.zip`` from a
    directory other than the repo root, with nothing on PYTHONPATH.  The
    workers import the entry from mats.zip, through the daemon and, with
    the daemon off, as a script."""
    from pyspark.find_spark_home import _find_spark_home

    mats = tmp_path / 'mats.zip'
    with zipfile.ZipFile(mats, 'w') as z:
        for path in sorted((ROOT / 'markdown_articles_tool_spark').rglob('*.py')):
            z.write(path, path.relative_to(ROOT))
        z.write(ROOT / 'pyspark_graft_worker.py', 'pyspark_graft_worker.py')
    (tmp_path / 'probe.py').write_text(PROBE)
    env = {k: v for k, v in os.environ.items()
           if k not in ('PYTHONPATH', 'PYSPARK_SUBMIT_ARGS') and not k.startswith('SPARK_GRAFT_')}
    env['PYSPARK_PYTHON'] = env['PYSPARK_DRIVER_PYTHON'] = sys.executable
    run = subprocess.run(
        [os.path.join(_find_spark_home(), 'bin', 'spark-submit'), '--driver-memory', '1g',
         '--conf', f'spark.python.use.daemon={daemon}', '--py-files', str(mats), 'probe.py'],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-4000:]
    assert f'ENTRY {mats}{os.sep}pyspark_graft_worker.py' in run.stdout, run.stdout

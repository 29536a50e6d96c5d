"""The package reads exactly the five deployment settings that
``session`` documents, and no other environment variable (no Spark
needed: the check parses the source)."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / 'markdown_articles_tool_spark'

SETTINGS = {
    'SPARK_GRAFT_MASTER',
    'SPARK_GRAFT_CPUS',
    'SPARK_GRAFT_SHUFFLE_PARTITIONS',
    'SPARK_GRAFT_DRIVER_MEM',
    'SPARK_GRAFT_SHARD_WORKERS',
}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == 'environ'
            and isinstance(node.value, ast.Name) and node.value.id == 'os')


def _name(node) -> str:
    # a computed name cannot be pinned: report it so the test fails
    return node.value if isinstance(node, ast.Constant) else f'<computed: {ast.unparse(node)}>'


def env_reads(tree) -> set:
    """Names read through ``os.environ.get``, ``os.environ[...]``,
    ``os.getenv`` and ``... in os.environ``."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.args:
            f = node.func
            if (f.attr == 'get' and _is_environ(f.value)) or (
                    f.attr == 'getenv' and isinstance(f.value, ast.Name) and f.value.id == 'os'):
                names.add(_name(node.args[0]))
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            names.add(_name(node.slice))
        elif isinstance(node, ast.Compare) and any(_is_environ(c) for c in node.comparators):
            names.add(_name(node.left))
    return names


def test_package_reads_exactly_the_documented_settings():
    read = {}
    for path in sorted(PACKAGE.rglob('*.py')):
        for name in env_reads(ast.parse(path.read_text(), str(path))):
            read.setdefault(name, []).append(str(path.relative_to(PACKAGE)))
    assert set(read) == SETTINGS, read


def test_scanner_sees_every_read_form():
    src = '''
import os
a = os.environ.get('A', '1')
b = os.environ['B']
c = os.getenv('C')
d = 'D' in os.environ
e = os.environ.get(name)
'''
    got = env_reads(ast.parse(src))
    assert got == {'A', 'B', 'C', 'D', '<computed: name>'}


def _patched_sysconf(monkeypatch, total_bytes):
    import os

    page = 4096
    names = {'SC_PAGE_SIZE': page, 'SC_PHYS_PAGES': total_bytes // page}
    monkeypatch.setattr(os, 'sysconf', lambda name: names[name])


def test_driver_memory_default_is_a_quarter_of_the_machine(monkeypatch):
    from markdown_articles_tool_spark.session import default_driver_memory

    gib = 2**30
    for total, want in ((16 * gib, '4096m'), (6 * gib, '1536m'),
                        (2 * gib, '1024m'), (256 * gib, '16384m'),
                        (64 * gib, '16384m')):
        _patched_sysconf(monkeypatch, total)
        assert default_driver_memory() == want, total


def test_driver_memory_default_without_page_counts(monkeypatch):
    import os

    from markdown_articles_tool_spark.session import default_driver_memory

    def unknown(name):
        raise ValueError(name)

    monkeypatch.setattr(os, 'sysconf', unknown)
    assert default_driver_memory() == '16384m'

#!/usr/bin/env python
"""JVM↔Python crossings per ``__spark_entry__`` query: the Python eval
nodes of each query's executed plan.

    python tools/crossings.py SF_DIR QUERY [QUERY ...]

Starts a ``session.get_spark`` session, runs each named
``__spark_entry__.queries()`` query over the tables in ``SF_DIR`` to
completion (rows stay in the JVM), then counts the Python eval nodes
(``ArrowEvalPython``, ``BatchEvalPython``, ``MapInPandas``,
``MapInArrow``, ``FlatMapGroupsInPandas``) of its executed plan: the
final plan of an adaptive plan, and a cached relation's plan once
however many scans read it.  Each such node is one batch crossing into
a Python worker and back.  Prints one JSON line per query:
``{"query", "python_nodes", "by_kind"}``.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PYTHON_NODES = ('ArrowEvalPython', 'BatchEvalPython', 'MapInPandas', 'MapInArrow',
                'FlatMapGroupsInPandas')


def _walk(plan, seen: set, identity):
    """Every operator of a physical plan, looking through adaptive
    wrappers and query stages; a cached relation's plan is walked once
    however many scans read it, and a reused exchange not again."""
    kind = plan.getClass().getSimpleName()
    if kind == 'AdaptiveSparkPlanExec':
        yield from _walk(plan.executedPlan(), seen, identity)
    elif kind.endswith('QueryStageExec'):
        yield from _walk(plan.plan(), seen, identity)
    elif kind == 'ReusedExchangeExec':
        return
    elif kind == 'InMemoryTableScanExec':
        key = identity(plan.relation().cacheBuilder())
        if key not in seen:
            seen.add(key)
            yield from _walk(plan.relation().cachedPlan(), seen, identity)
    else:
        yield plan
        children = plan.children()
        for i in range(children.size()):
            yield from _walk(children.apply(i), seen, identity)


def python_nodes(df) -> list:
    """Executes ``df`` (rows stay in the JVM), then lists the Python
    eval nodes of its executed plan — the final plan of an adaptive
    one — as ``(kind, one-line description)`` pairs."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    identity = df.sparkSession._jvm.java.lang.System.identityHashCode
    return [(node.nodeName(), node.simpleString(25))
            for node in _walk(qe.executedPlan(), set(), identity)
            if node.nodeName() in PYTHON_NODES]


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, names = argv[0], argv[1:]
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry_mod
    from markdown_articles_tool_spark.session import get_spark

    queries = entry_mod.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f'unknown queries: {unknown}', file=sys.stderr)
        return 2
    spark = get_spark(app_name='crossings')
    for name in names:
        kinds = Counter(kind for kind, _desc in python_nodes(queries[name](spark, sf_dir)))
        print(json.dumps({'query': name, 'python_nodes': sum(kinds.values()),
                          'by_kind': dict(sorted(kinds.items()))}), flush=True)
    spark.stop()
    return 0


if __name__ == '__main__':
    sys.exit(main())

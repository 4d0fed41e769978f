"""Physical-plan introspection helpers.

Used by tests (and humans) to assert the plans we designed for actually
materialize: parquet filter/column pushdown, broadcast joins, whole-stage
codegen coverage, and counting the Python (Arrow UDF) boundary crossings.
At 100 TB these properties ARE the performance model, so they are tested
like behavior, not eyeballed.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), 'formatted')


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    out = []
    for m in re.finditer(r'PushedFilters: \[([^\]]*)\]', formatted_plan(df)):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(','))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan — verifies column pruning."""
    return re.findall(r'ReadSchema: (\S+)', formatted_plan(df))


def has_broadcast_join(df: DataFrame) -> bool:
    return 'BroadcastHashJoin' in physical_plan(df) or \
        'BroadcastNestedLoopJoin' in physical_plan(df)


def count_shuffles(df: DataFrame) -> int:
    return physical_plan(df).count('Exchange hashpartitioning') + \
        physical_plan(df).count('Exchange rangepartitioning')


def count_python_udf_passes(df: DataFrame) -> int:
    """Arrow boundary crossings — each is a JVM->Python->JVM round trip."""
    p = physical_plan(df)
    return p.count('ArrowEvalPython') + p.count('BatchEvalPython')


def _arrow_nodes(plan: str) -> list[set[str]]:
    """The UDF expressions of each ArrowEvalPython node, ``#id``s
    stripped so one expression compares equal across nodes."""
    nodes = []
    for m in re.finditer(r'ArrowEvalPython \[', plan):
        exprs, start, depth, i = set(), m.end(), 1, m.end()
        while depth and i < len(plan):
            ch = plan[i]
            depth += (ch in '([') - (ch in ')]')
            if depth == 0 or (depth == 1 and ch == ','):
                exprs.add(re.sub(r'#\d+L?', '', plan[start:i]).strip())
                start = i + 1
            i += 1
        nodes.append(exprs)
    return nodes


def duplicated_udfs(plan: str) -> list[str]:
    """UDF expressions evaluated in more than one Arrow node of a physical
    plan: each re-runs its Python work, and that of the UDFs under it."""
    seen = Counter(e for node in _arrow_nodes(plan) for e in node)
    return sorted(e for e, n in seen.items() if n > 1)

"""Physical-plan audit over the bench query set.

For every headline query, capture the optimized physical plan and
count the structures that matter at 100 TB: exchanges (shuffles),
Python evaluation nodes (Arrow/batch UDF boundaries), cartesian
products, broadcast joins/nested loops, and ``dup``: UDF expressions
evaluated in more than one Arrow node (a side's geometry chain re-run).
Prints one row per query and flags hard red lines (a CartesianProduct
outside the explicitly brute-force verification ops, or row-at-a-time
BatchEvalPython anywhere). ``dup`` is informational, not a red line:
``sagg``'s left join-back legitimately re-evaluates the left side.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Exit 1 when a red line trips.
"""

import re
import sys

sys.path.insert(0, '.')
import __spark_entry__ as entry  # noqa: E402
from erde_spark.plans.inspect import duplicated_udfs  # noqa: E402

#: ops whose SEMANTICS are an explicit all-pairs verification tier —
#: a cartesian/BNL join there is the documented design, not a bug
CARTESIAN_OK = {'dedup_jaccard', 'dedup_embedding', 'similarity_topk',
                'range_band_join', 'snearest_rect', 'crossjoin_dims'}


def audit(spark, sf_dir, names):
    qs = entry.queries()
    bad = []
    print(f"{'query':28s} {'exch':>4} {'pyeval':>6} {'bnl':>3} "
          f"{'cart':>4} {'bcast':>5} {'dup':>3}")
    for name in names:
        try:
            plan = (qs[name](spark, sf_dir)
                    ._jdf.queryExecution().executedPlan().toString())
        except Exception as ex:
            print(f'{name:28s} PLAN-ERROR {type(ex).__name__}: '
                  f'{str(ex)[:60]}')
            bad.append((name, 'plan-error'))
            continue
        exch = len(re.findall(r'\bExchange\b', plan))
        pyeval = len(re.findall(r'BatchEvalPython', plan))
        arrow = len(re.findall(r'ArrowEvalPython|MapInPandas|'
                               r'FlatMapGroupsInPandas', plan))
        bnl = len(re.findall(r'BroadcastNestedLoopJoin', plan))
        cart = len(re.findall(r'CartesianProduct', plan))
        bcast = len(re.findall(r'BroadcastHashJoin|BroadcastExchange',
                               plan))
        dup = len(duplicated_udfs(plan))
        flags = []
        if pyeval:
            flags.append('ROW-AT-A-TIME-PYTHON')
        if cart and name not in CARTESIAN_OK:
            flags.append('CARTESIAN')
        print(f'{name:28s} {exch:4d} {pyeval:4d}/{arrow:1d} {bnl:3d} '
              f'{cart:4d} {bcast:5d} {dup:3d} {" ".join(flags)}')
        if flags:
            bad.append((name, flags))
    return bad


def main():
    from erde_spark.session import get_spark
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    names = sys.argv[2:] or [q for q in entry.bench_queries()
                             if q != 'streaming_neardup_backfill']
    spark = get_spark(app_name='plan_audit')
    bad = audit(spark, sf_dir, names)
    if bad:
        print(f'RED LINES: {bad}')
        return 1
    print('plan audit clean')
    return 0


if __name__ == '__main__':
    sys.exit(main())

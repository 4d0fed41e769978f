"""Counterbalanced pinned-commit A/B bench runner (round-7 verdict ask).

Runs a target-query subset of the bench in a FRESH process per (tree,
repetition), interleaved in a counterbalanced order (ABC CBA ...), with
the code-independent CPU sentinel timed in every process — the only
protocol that separates code effects from this box's ~1 h-scale drift
(see bench.py docstring and ROUND6_NOTES §2).

Usage:
    python tools/ab_bench.py run <tree_dir> <sf_dir> <query> [query ...]
        -> one JSON line {"tree", "sentinel", "queries": {q: [runs...]}}
    python tools/ab_bench.py drive <sf_dir> <query...> --trees a=/p1 b=/p2
        -> orchestrates the counterbalanced sequence, prints a summary
"""

import importlib.util
import json
import os
import subprocess
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    """This checkout's bench.py (warm-up, sentinel, per-run cleanup), so
    every tree is measured by the same harness. Loaded by path after the
    tree's ``__spark_entry__``, which it then shares."""
    spec = importlib.util.spec_from_file_location(
        'bench', os.path.join(REPO_DIR, 'bench.py'))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_one(tree, sf_dir, queries, n_runs=3):
    sys.path.insert(0, tree)
    os.chdir(tree)
    import __spark_entry__ as entry
    from erde_spark.session import get_spark
    bench = _bench()
    spark = get_spark(app_name='ab_bench')
    qs = entry.queries()
    bench.warm_up(spark, sf_dir)
    s0 = bench._sentinel_cpu()
    out = {name: [round(w, 3) for w, _, _, _ in
                  bench.time_runs(spark, qs[name], sf_dir, n_runs)]
           for name in queries}
    s1 = bench._sentinel_cpu()
    print(json.dumps({'tree': tree, 'sentinel': [round(s0, 3), round(s1, 3)],
                      'queries': out}))


def drive(sf_dir, queries, trees, reps=2):
    """Counterbalanced: forward order then reverse, `reps` times."""
    labels = list(trees)
    order = []
    for _ in range(reps):
        order += labels + labels[::-1]
    results = {k: [] for k in labels}
    for i, lab in enumerate(order):
        cmd = [sys.executable, os.path.abspath(__file__), 'run',
               trees[lab], sf_dir] + queries
        env = dict(os.environ)
        p = subprocess.run(cmd, capture_output=True, text=True, env=env,
                           timeout=1200)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ''
        try:
            rec = json.loads(line)
        except Exception:
            print(f'[{i}] {lab}: FAILED rc={p.returncode}\n{p.stderr[-2000:]}',
                  file=sys.stderr)
            continue
        results[lab].append(rec)
        mins = {q: min(v) for q, v in rec['queries'].items()}
        print(f'[{i}] {lab}: sentinel={rec["sentinel"]} mins={mins}',
              flush=True)
    print(json.dumps({'summary': {
        lab: {
            'sentinel_min': min((min(r['sentinel']) for r in rs),
                                default=None),
            'per_query_min': {q: min(min(r['queries'][q]) for r in rs)
                              for q in queries} if rs else {},
            'per_query_all': {q: [r['queries'][q] for r in rs]
                              for q in queries} if rs else {},
        } for lab, rs in results.items()}}))


if __name__ == '__main__':
    if sys.argv[1] == 'run':
        run_one(sys.argv[2], sys.argv[3], sys.argv[4:])
    elif sys.argv[1] == 'drive':
        args = sys.argv[2:]
        ti = args.index('--trees')
        sf, queries = args[0], args[1:ti]
        trees = dict(kv.split('=', 1) for kv in args[ti + 1:])
        drive(sf, queries, trees)

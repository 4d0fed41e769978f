"""Profile registry queries by name: warm best-of-N wall time, and where
the time went, read from Spark's own status stores (UI off).

Usage:
  python tools/profile.py [--sf DIR] [--runs N] [--plandir DIR] [--top N] [name ...]
  python tools/profile.py --scale [--sf DIR] [--runs N] [--top N] [name ...]

Timing is bench.py's: the same warm-up, ``count()`` action, per-run
cleanup and job counter, so a record's per-run job counts match bench.py's
``jobs_per_run`` at the same sf. Counters come from
``perfbench/spantrace.py`` and are read after the timed runs, outside the
timed window. One JSON line per name:

* ``runs``, ``jobs``, ``job_union_s``, ``driver_gap_s``: per run, the wall
  time, the jobs it launched, the union of their intervals and wall minus
  union (driver-side time no job covers);
* the rest describe the last run: ``top_jobs`` (the 8 longest, with their
  descriptions), ``stages`` (stage totals), ``python`` (pandas-UDF worker
  run/boot/init ms and bytes; see below), ``jvm`` (codegen ms, scan
  bytes, files written), ``skew`` (stages whose max task runs > 4x the
  median task, with >= 8 tasks and a max >= 1 s) and ``streaming``
  (per-trigger durations and input rows, one entry per micro-batch; Spark
  counts the input rows of every scan of the batch, so a ``foreachBatch``
  body that reads its batch three times reports three times its rows).

``python``'s ``init_ms`` is Spark's "time to initialize Python workers".
The worker starts that clock when it enters ``pyspark.worker.main()``,
before its blocking read of the task. A reused worker enters ``main()``
again as soon as its previous task ends, so on a reused worker the
figure includes the idle time between tasks and is not a cost.

``--sf`` defaults to bench.py's sf dir. ``--top N`` adds the N slowest
names of the latest ``BENCH_r<N>.json``. ``--plandir DIR`` writes each
query's formatted plan to ``DIR/<name>.txt``. ``--scale`` builds a 10x
corpus from ``--sf`` into ``.scale_sf1/`` (once), profiles every name at
both sizes after one untimed warm run at the small one, and ends with one
SCALE.md table row per name. The CPU sentinel (bench.py's) is read before
and after the runs and printed to stderr.
"""

import json
import os
import sys

if __name__ == 'profile':
    # A script run from tools/ has this directory first on sys.path, so
    # the stdlib ``profile`` that cProfile (imported by pyspark) loads
    # resolves to this file: hand that import the stdlib module. Nothing
    # below imports pyspark when the module loads.
    import importlib.util
    import sysconfig
    _spec = importlib.util.spec_from_file_location(
        'profile', os.path.join(sysconfig.get_path('stdlib'), 'profile.py'))
    sys.modules['profile'] = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(sys.modules['profile'])

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.path.join(REPO_DIR, '.scale_sf1')

SKEW_RATIO = 4.0
MIN_TASKS = 8
MIN_MAX_MS = 1000


def _skew_rows(counters, jobs) -> list[dict]:
    """Stages of ``jobs`` whose slowest task ran more than SKEW_RATIO x
    the median, with >= MIN_TASKS tasks and a slowest task >= MIN_MAX_MS:
    one straggler carrying the stage (a hot key, one giant file)."""
    ids = {seq.apply(k) for j in jobs
           for seq in [j.stageIds()] for k in range(seq.size())}
    jvm, gw = counters.sc._jvm, counters.sc._gateway
    quantiles = gw.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    sl = counters.app.stageList(None, False, False,
                                gw.new_array(jvm.double, 0), None)
    rows = []
    for k in range(sl.size()):
        s = sl.apply(k)
        if (s.stageId() not in ids or s.numCompleteTasks() < MIN_TASKS
                or s.executorRunTime() < MIN_MAX_MS):
            continue
        summary = counters.app.taskSummary(s.stageId(), s.attemptId(),
                                           quantiles)
        if not summary.isDefined():
            continue
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        if mx >= MIN_MAX_MS and mx > SKEW_RATIO * max(med, 1.0):
            rows.append({'stage': s.stageId(), 'tasks': s.numCompleteTasks(),
                         'med_ms': med, 'max_ms': mx,
                         'name': s.name().split('\n')[0][:60]})
    return rows


def _job_row(j) -> list:
    sub, comp = j.submissionTime(), j.completionTime()
    dur = ((comp.get().getTime() - sub.get().getTime()) / 1000.0
           if sub.isDefined() and comp.isDefined() else None)
    desc = j.description()
    label = desc.get() if desc.isDefined() else j.name()
    # nested phases append to the label: keep its tail
    return [j.jobId(), dur, label.replace('\n', ' ').strip()[-120:]]


def record(spark, name, sf_dir, runs=3, plandir=None) -> dict:
    """Profile one registry query: ``runs`` timed runs through
    ``bench.time_runs``, then the counters of what they ran."""
    import __spark_entry__ as entry
    import bench
    from perfbench.spantrace import (ProgressListener, SparkCounters,
                                     job_union_s, jvm_io_layers, udf_layers)
    fn = entry.queries()[name]
    if plandir:
        os.makedirs(plandir, exist_ok=True)
        df = fn(spark, sf_dir)
        with open(os.path.join(plandir, f'{name}.txt'), 'w') as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), 'formatted'))
        bench.release(spark)
    counters = SparkCounters(spark)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    def mark(s):
        # last_job_id drains the listener bus, so the previous run's
        # trailing jobs and progress events are already counted
        job = bench.last_job_id(s)
        return job, counters.marks()[1], len(listener.progress)

    try:
        timed = bench.time_runs(spark, fn, sf_dir, runs, mark=mark)
        first, last = timed[0][2], timed[-1][2]
        counters.drain(first[1])
    finally:
        spark.streams.removeListener(listener)
    jobs = counters.jobs_since(first[0])
    per_run = [[j for j in jobs if m0[0] < j.jobId() <= m1[0]]
               for _, _, m0, m1 in timed]
    per_run[-1] = [j for j in jobs if j.jobId() > last[0]]
    unions = [job_union_s(js) for js in per_run]
    nodes = counters.sql_nodes(last[1])
    stages = counters.stage_totals(per_run[-1])
    udf = udf_layers(nodes, {})
    jvm = jvm_io_layers(nodes)
    return {
        'name': name,
        'sf': sf_dir.rstrip('/').rsplit('/', 1)[-1],
        'rows': timed[-1][1],
        'runs': [round(w, 3) for w, _, _, _ in timed],
        'jobs': [m1[0] - m0[0] for _, _, m0, m1 in timed],
        'job_union_s': [round(u, 3) for u in unions],
        'driver_gap_s': [round(w - u, 3)
                         for (w, _, _, _), u in zip(timed, unions)],
        'top_jobs': sorted((_job_row(j) for j in per_run[-1]),
                           key=lambda r: -(r[1] or 0))[:8],
        'stages': stages,
        'python': {k.split('.', 1)[1]: round(v, 1) for k, v in udf.items()
                   if k.startswith('udf.') and k != 'udf.rel_bytes_sent'},
        'jvm': {'codegen_ms': round(jvm['jvm.codegen_ms'], 1),
                'scan_b': stages['input_b'],
                'files_written': int(jvm['io.files_written'])},
        'skew': _skew_rows(counters, per_run[-1]),
        'streaming': [{'batch': p['batch'], 'rows': p['rows'],
                       'durations_ms': p['durations']}
                      for p in listener.progress[last[2]:]],
    }


def top_names(n: int) -> list[str]:
    """The ``n`` slowest names of the latest BENCH_r<N>.json stdout line."""
    import bench
    q = bench.latest_round_queries()
    return sorted(q, key=lambda k: (-q[k], k))[:n]


def build_sf1(spark, src):
    """10 mutually-dissimilar copies of the sf0.1 documents + customer
    + embeddings. Embedding copies go through a per-copy random ROTATION
    (seeded QR): rotations preserve every intra-copy cosine exactly, so
    the near-dup ground truth is exactly 10x sf0.1's, while cross-copy
    cosines are random (~N(0, 1/sqrt(dim)) — far below threshold). The
    right fixture for verifying linear scaling of the embedding tier."""
    from pyspark.sql import functions as F
    if all(os.path.isdir(os.path.join(SF1_DIR, f'{t}.parquet'))
           for t in ('documents', 'customer', 'nation', 'embeddings')):
        return
    docs = spark.read.parquet(f'{src}/documents.parquet')
    n = docs.agg(F.max('doc_id')).first()[0] + 1
    copies = []
    for i in range(10):
        copies.append(docs.select(
            (F.col('doc_id') + i * n).alias('doc_id'),
            F.regexp_replace('text', r'(\S+)', r'$1' + f'x{i}').alias('text'),
            'lang'))
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.mode('overwrite').parquet(f'{SF1_DIR}/documents.parquet')
    cust = spark.read.parquet(f'{src}/customer.parquet')
    m = cust.agg(F.max('c_custkey')).first()[0] + 1
    cc = [cust.withColumn('c_custkey', F.col('c_custkey') + i * m)
          for i in range(10)]
    outc = cc[0]
    for c in cc[1:]:
        outc = outc.unionByName(c)
    outc.write.mode('overwrite').parquet(f'{SF1_DIR}/customer.parquet')
    for t in ('nation',):
        spark.read.parquet(f'{src}/{t}.parquet').write.mode(
            'overwrite').parquet(f'{SF1_DIR}/{t}.parquet')
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    emb = spark.read.parquet(f'{src}/embeddings.parquet')
    dim = len(emb.first()['embedding'])
    ne = emb.agg(F.max('vec_id')).first()[0] + 1
    rng = np.random.RandomState(1234)

    def _vec_udf(fn):
        @F.pandas_udf(T.ArrayType(T.FloatType()))
        def _u(v: pd.Series) -> pd.Series:
            if len(v) == 0:
                return pd.Series([], dtype='object')
            m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
            return pd.Series(list(fn(m).astype(np.float32)))
        return _u

    # the raw synthetic embeddings carry ~no pairs above 0.9, so the
    # fixture PLANTS near-dups (5% of vectors + small noise, cosine
    # ~0.999) into the base; sf1 then sees exactly 10x the base's pairs
    noise = rng.normal(size=(ne, dim)) * 0.02

    def _perturb(m):
        nz = noise[:len(m)]
        out = m / np.linalg.norm(m, axis=1, keepdims=True) + nz
        return out

    dup_src = emb.filter(F.col('vec_id') % 20 == 0)
    planted = dup_src.select((F.col('vec_id') + ne).alias('vec_id'),
                             _vec_udf(_perturb)(F.col('embedding'))
                             .alias('embedding'), 'label')
    base = emb.unionByName(planted)
    base.write.mode('overwrite').parquet(f'{SF1_DIR}/embeddings01.parquet')
    base = spark.read.parquet(f'{SF1_DIR}/embeddings01.parquet')
    nb = 2 * ne
    copies_e = []
    for i in range(10):
        q, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
        copies_e.append(base.select(
            (F.col('vec_id') + i * nb).alias('vec_id'),
            _vec_udf(lambda m, q=q: m @ q.T)(F.col('embedding'))
            .alias('embedding'), 'label'))
    oute = copies_e[0]
    for c in copies_e[1:]:
        oute = oute.unionByName(c)
    oute.write.mode('overwrite').parquet(f'{SF1_DIR}/embeddings.parquet')


def build_sf1_events(spark, src):
    """10 user-disjoint copies of the sf0.1 events (user_id and
    event_id offset per copy): interval-join ground truth is exactly
    10x sf0.1's because cross-copy users never match."""
    from pyspark.sql import functions as F
    if os.path.isdir(f'{SF1_DIR}/events.parquet'):
        return
    ev = spark.read.parquet(f'{src}/events.parquet')
    nu = ev.agg(F.max('user_id')).first()[0] + 1
    ne = ev.agg(F.max('event_id')).first()[0] + 1
    copies = [ev.select((F.col('event_id') + i * ne).alias('event_id'),
                        'ts', (F.col('user_id') + i * nu).alias('user_id'),
                        'event_type', 'value', 'props')
              for i in range(10)]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.mode('overwrite').parquet(f'{SF1_DIR}/events.parquet')


def link_sf1_rest(src):
    """Symlink every sf0.1 table the 10x builders do not write (the
    TPC-H tables other than customer/nation), so every registry query
    runs at both sizes."""
    for t in sorted(os.listdir(src)):
        dst = os.path.join(SF1_DIR, t)
        if t.endswith('.parquet') and not os.path.lexists(dst):
            os.symlink(os.path.abspath(os.path.join(src, t)), dst)


def _scale_row(small, big) -> str:
    """One SCALE.md row: best wall, and the last run's jobs and job union
    (plus its longest job at 10x), shuffle write, rows, and the ratios."""
    def cell(r):
        return (f"{min(r['runs']):.2f} s ({r['jobs'][-1]} / "
                f"{r['job_union_s'][-1]:.1f}")
    max_job = max((j[1] or 0 for j in big['top_jobs']), default=0)
    mb = [r['stages']['sh_write_b'] / 1e6 for r in (small, big)]
    return (f"| {small['name']} | {cell(small)}) | {cell(big)} / "
            f"{max_job:.1f}) | {mb[0]:.2f} -> {mb[1]:.2f} "
            f"| {small['rows']} -> {big['rows']} "
            f"| {min(big['runs']) / min(small['runs']):.1f}x / "
            f"{big['rows'] / max(small['rows'], 1):.1f}x |")


def main(argv):
    sys.path.insert(0, REPO_DIR)
    import __spark_entry__ as entry
    import bench
    args = list(argv)

    def opt(flag, default, cast=str):
        if flag not in args:
            return default
        i = args.index(flag)
        val = cast(args[i + 1])
        del args[i:i + 2]
        return val

    sf = opt('--sf', bench.SF_DIR).rstrip('/')
    runs = opt('--runs', 3, int)
    plandir = opt('--plandir', None)
    top = opt('--top', 0, int)
    scale = '--scale' in args
    names = [a for a in args if not a.startswith('--')]
    names += [n for n in top_names(top) if n not in names]

    from erde_spark.session import get_spark
    spark = get_spark(app_name='erde_spark_profile')
    if scale:
        build_sf1_events(spark, sf)
        build_sf1(spark, sf)
        link_sf1_rest(sf)
    bench.warm_up(spark, sf)
    sentinel = [bench._sentinel_cpu()]
    rows = []
    for name in names:
        if not scale:
            print(json.dumps(record(spark, name, sf, runs, plandir)),
                  flush=True)
            continue
        # one untimed run at the small size first: an op's first execution
        # pays Python-worker spin-up and codegen, which would otherwise
        # land on the small-size number alone
        bench.time_runs(spark, entry.queries()[name], sf, 1)
        pair = [record(spark, name, d, runs) for d in (sf, SF1_DIR)]
        for r in pair:
            print(json.dumps(r), flush=True)
        rows.append(_scale_row(*pair))
    sentinel.append(bench._sentinel_cpu())
    if scale:
        print('| query | small: best wall (jobs / job union s) '
              '| 10x: best wall (jobs / job union s / max job s) '
              '| shuffle write MB | rows | wall / rows ratio |')
        print('|---|---|---|---|---|---|')
        print('\n'.join(rows))
    print(f'cpu sentinel: {sentinel[0]:.3f} s before, '
          f'{sentinel[1]:.3f} s after', file=sys.stderr)


if __name__ == '__main__':
    main(sys.argv[1:])

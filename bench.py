"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is timed best-of-$SPARK_GRAFT_BENCH_RUNS (default 3): host
timing noise on this box is 10-20x on cold single runs, so best-of-N warm
is the only measurement that tracks plan changes rather than scheduler
luck. The per-query [min, max] band is emitted to stderr (stdout stays
one compact line the driver's 2000-char tail captures whole). Two
CODE-INDEPENDENT calibration sentinels (single-core md5 churn; a fixed
Spark range->shuffle->agg) run before AND after the suite and land in
the JSON — this box drifts 1.5-2x on the ~1 h scale, and the sentinel
ratio is what lets cross-round per-query deltas be normalized. The
artifact also DEFENDS itself: any query whose warm spread exceeds 2x
its min is re-run (two bounded passes, fresh sentinel brackets), and
the emitted line carries a `host_settled` flag so an unsettled-host
record is labeled as such instead of needing manual reinterpretation.

`streaming_neardup_backfill` is a PIPELINE entry, not a single query:
it runs two full spanning-dedup passes (one per micro-batch), the
batch-vs-store LSH bucket equi-join, and six parquet writes through the
Structured Streaming foreachBatch machinery — its ~11 s is the cost of
the whole ingest pipeline at sf0.1, kept in the bench because it is the
flagship streaming curation surface.

Headline set = every operator family with a scale-appropriate algorithm:
the intentionally-quadratic verification ops (exact all-pairs Jaccard,
brute-force embedding pairs) are exercised by the correctness gate at
sf0.01 and replaced here by their scale-path equivalents (MinHash LSH,
LSH top-k). Note on dedup entries: the sf0.1 documents corpus is
dup-dense — `dedup_minhash_lsh` VERIFIES AND EMITS ~2.9M near-dup pairs
(the pair list is the product; cliques are inherently quadratic in pair
count), while `dedup_clusters` is the linear-cost spanning path that
dedups the same corpus without enumerating cliques — it is the 100 TB
headline; the pairs op is kept as the verification-grade surface.
"""

import glob
import json
import os
import re
import sys
import time

import __spark_entry__ as entry

SF_DIR = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')
REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def latest_round_queries() -> dict:
    """Name -> seconds of the latest stdout artifact in the repo
    (``BENCH_r<N>.json``, highest N; the ``_c8`` core-count legs are not
    round artifacts). Empty when no artifact exists."""
    rounds = {}
    for path in glob.glob(os.path.join(REPO_DIR, 'BENCH_r*.json')):
        m = re.fullmatch(r'BENCH_r(\d+)\.json', os.path.basename(path))
        if m:
            rounds[int(m.group(1))] = path
    if not rounds:
        return {}
    with open(rounds[max(rounds)]) as fh:
        parsed = json.load(fh).get('parsed') or {}
    return parsed.get('queries', {})


def _stdout_keep() -> frozenset:
    """Every query name the latest stdout artifact carried: the
    round-over-round diff reads a name missing from stdout as a dropped
    query, so the fit tier always packs these first (biggest-first)
    before spending budget on anything else."""
    return frozenset(latest_round_queries())


def _sentinel_cpu():
    """Pure-CPU calibration sentinel, independent of every code path in
    this repo: a fixed md5 churn whose wall-time tracks the HOST's
    per-core speed at bench time. Recorded in every BENCH artifact so
    rounds can be normalized against each other — this box drifts
    1.5-2x on the ~1 h scale (measured via counterbalanced ABBA in
    rounds 5-6), which otherwise makes cross-round per-query deltas
    uninterpretable."""
    import hashlib
    t0 = time.perf_counter()
    h = b'calibration'
    for _ in range(400_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def _sentinel_spark(spark):
    """Spark-side calibration sentinel: a fixed range->shuffle->agg job
    (no repo code) capturing JVM/scheduler/shuffle overhead at bench
    time, complementing the single-core CPU sentinel."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    (spark.range(0, 2_000_000, 1, 32)
     .groupBy((F.col('id') % 1024).alias('k'))
     .agg(F.sum('id').alias('s'))
     .agg(F.sum('s')).collect())
    return time.perf_counter() - t0


def warm_up(spark, sf_dir):
    """Warm the JVM and the Python-worker/Arrow paths once so per-query
    numbers measure the queries, not session startup: tpch_q1 exercises
    scan+shuffle codegen; the tiny pandas UDF spawns the Python worker
    daemon and imports pandas/numpy in every worker before timing
    starts."""
    entry.queries()['tpch_q1_pricing'](spark, sf_dir).count()
    from pyspark.sql import functions as F, types as T

    @F.pandas_udf(T.LongType())
    def _warm(x):
        return x + 1
    spark.range(0, 1024, 1, 32).select(_warm('id')).count()


def release(spark):
    """Drop leftover localCheckpoint blocks and cached plans. Run after
    EVERY timed run, not just every query: checkpoint-heavy pipelines
    (the streaming backfill) accumulate blocks across their own repeats
    and ran ~30-40% slower on runs 2-3 than with per-run cleanup
    (measured round 7; the round-2/3 between-queries cleanup had the
    same root cause). Cleanup happens OUTSIDE the timed window."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


def last_job_id(spark) -> int:
    """Highest job id the app status store has seen: ids are monotonic
    +1 per job, so a before/after delta = jobs a run spawned
    (jobsList(None) covers every job group, including
    streaming/foreachBatch) — and a max-id delta stays correct past the
    spark.ui.retainedJobs retention limit. Waits for the listener bus
    first, so a job whose start event is still queued is not counted in
    the next run."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    jl = sc.statusStore().jobsList(None)
    return jl.apply(0).jobId() if jl.size() else -1


def time_runs(spark, fn, sf_dir, n_runs, mark=last_job_id):
    """``n_runs`` timed ``fn(spark, sf_dir).count()`` runs, each followed
    by :func:`release`. One (wall_s, rows, mark_before, mark_after) per
    run; ``mark(spark)`` is read outside the timed window."""
    out = []
    for _ in range(n_runs):
        m0 = mark(spark)
        t0 = time.perf_counter()
        rows = fn(spark, sf_dir).count()
        wall = time.perf_counter() - t0
        out.append((wall, rows, m0, mark(spark)))
        release(spark)
    return out


def main():
    from erde_spark.session import get_spark
    spark = get_spark(app_name='erde_spark_bench')

    qs = entry.queries()
    names = entry.bench_queries()
    warm_up(spark, SF_DIR)

    n_runs = max(1, int(os.environ.get('SPARK_GRAFT_BENCH_RUNS', '3')))
    sent_cpu = [_sentinel_cpu()]
    sent_spark = [_sentinel_spark(spark)]
    timings = {}
    spreads = {}
    job_counts = {}

    def _time_query(name):
        runs = time_runs(spark, qs[name], SF_DIR, n_runs)
        return [w for w, _, _, _ in runs], [j1 - j0 for _, _, j0, j1 in runs]

    def _spready(name):
        # a warm best-of-N whose max exceeds 2x its min was measured on
        # an unsettled host (identical code, same run — BENCH_r10
        # recorded an 8.2->75.5 s band on one query); the +0.05 floor
        # keeps sub-100 ms queries from tripping on scheduler jitter
        lo, hi = spreads[name]
        return hi > 2.0 * lo + 0.05

    for name in names:
        runs, jobs = _time_query(name)
        timings[name] = round(min(runs), 3)
        # min/max band so the recorded file itself shows host noise —
        # single warm numbers on this box flip-flop 10-40% run to run
        spreads[name] = [round(min(runs), 3), round(max(runs), 3)]
        # per-run Spark job counts (round-7 verdict ask #7): a future
        # "slower but same jobs" vs "slower with more jobs" question is
        # answerable from the recorded stderr artifact without a rerun
        job_counts[name] = jobs

    # sentinels re-run AFTER the suite: the pair brackets the bench
    # window, so monotonic host drift during the run is visible too
    sent_cpu.append(_sentinel_cpu())
    sent_spark.append(_sentinel_spark(spark))

    # Artifact defense (round-10 verdict ask #3): the recorded number
    # must not need manual reinterpretation when the host wobbles
    # mid-run. THREE unsettledness signals — intra-run sentinel drift
    # >10%, per-query spread/min > 2, and (round-12: the settled-flag
    # blind spot) a query whose sentinel-normalized best exceeds the
    # committed settled record by >2.5x — trigger bounded re-runs of
    # exactly the polluted queries; each retry pass re-brackets with
    # fresh sentinels. The third signal catches the case BENCH_r12's
    # 16:12 run exposed: an external load spike that covers ALL of one
    # query's runs uniformly (so the spread test passes) while missing
    # both sentinel brackets — its minhash recorded 39.7 s with spread
    # [39.7, 60.1] under a flag that read settled. min-of-all-runs is
    # kept (a slow run never makes a query's best worse), the spread
    # band is REPLACED by the retry pass's so the artifact reflects
    # the settled measurement, and the retry counts land in the
    # payload.
    settled_path = os.path.join(REPO_DIR, 'BENCH_SETTLED.json')
    cur_sf = float(SF_DIR.rstrip('/').rsplit('sf', 1)[-1])
    baseline = None
    baseline_sf = None
    if os.path.exists(settled_path):
        try:
            with open(settled_path) as fh:
                baseline = json.load(fh)
            baseline_sf = baseline.get('sf')
        except (OSError, ValueError):
            baseline = None
    if baseline is not None and baseline_sf != cur_sf:
        # a dev run at another scale factor must neither compare
        # against nor (below) displace the committed sf0.1 baseline
        baseline = None

    def _vs_extreme(name):
        # normalized best > 2.5x the settled record (+0.5 floor, the
        # vs_settled scale): either a real >2.5x code regression — in
        # which case the artifact SHOULD read unsettled until a human
        # blesses a new baseline (delete BENCH_SETTLED.json to
        # re-baseline) — or, far more often on this box, a uniform
        # external spike the spread test cannot see
        if not baseline:
            return False
        p = baseline.get('queries', {}).get(name, {}).get('norm')
        if not p:
            return False
        return timings[name] / min(sent_cpu) > 2.5 * p + 0.5

    retried = {}
    for _pass in range(2):
        suspect = [k for k in names
                   if _spready(k) or _vs_extreme(k)]
        if not suspect:
            break
        for name in suspect:
            runs, jobs = _time_query(name)
            retried[name] = retried.get(name, 0) + len(runs)
            timings[name] = round(min(timings[name], min(runs)), 3)
            # band lo = the global min across ALL passes (the recorded
            # best-of must sit inside its own band); hi = the retry
            # pass's max, so the band still reflects the settled
            # re-measurement rather than the polluted first pass
            spreads[name] = [timings[name], round(max(runs), 3)]
            job_counts[name] = jobs
        sent_cpu.append(_sentinel_cpu())
        sent_spark.append(_sentinel_spark(spark))

    total = sum(timings.values())
    # settled = the final bracketing sentinel sits within 15% of the
    # run's best AND no query kept a >2x spread through the retries
    # AND no query kept a >2.5x normalized regression vs the committed
    # settled record (the round-12 third signal — see the retry
    # comment); false means "interpret this artifact against
    # BENCH_NORM.json's sentinel column", recorded instead of needing
    # to be rediscovered
    host_settled = (sent_cpu[-1] / min(sent_cpu) - 1 <= 0.15
                    and not any(_spready(k) or _vs_extreme(k)
                                for k in names))

    # Self-normalizing record (round-9 verdict ask #3): every query as
    # BOTH min-of-N seconds AND sentinel-normalized units
    # (min_sec / min cpu-sentinel — a host-speed-independent number, so
    # round-over-round comparison stops requiring a manual A/B when the
    # box wobbles). The full dual record lands in BENCH_NORM.json at
    # the repo root (committed per round); the stdout payload carries
    # the normalized TOTAL plus the exact sentinel scalars, so each
    # query's normalized value is reconstructible from the payload
    # alone as queries[q] / sentinel.cpu.
    cpu_ref = min(sent_cpu)
    norm = {k: round(v / cpu_ref, 2) for k, v in timings.items()}

    # Self-interpretation vs the last SETTLED run (round-11 verdict ask
    # #3): a flagged artifact used to need the settled number fished
    # out of git history. bench.py now keeps BENCH_SETTLED.json — a
    # copy of the dual record updated ONLY when host_settled — and
    # every run compares its sentinel-normalized per-query values
    # against it: `vs_settled` carries the per-query ratio plus a
    # one-line verdict ("all within noise" / "REGRESSED: q1, q2"), so
    # even an unsettled artifact reads stand-alone. Regression bar =
    # normalized ratio > 1.6x with a +0.5 floor (the same scale as the
    # spread heuristic: smaller deltas are host noise on this box).
    # (baseline already loaded above, before the retry loop, so the
    # third unsettledness signal could use it)
    vs_settled = None
    vs_verdict = None
    if baseline:
        ratios = {}
        regressed = []
        for k, v in norm.items():
            p = baseline.get('queries', {}).get(k, {}).get('norm')
            if not p:
                continue
            ratios[k] = round(v / p, 2)
            if v > 1.6 * p + 0.5:
                regressed.append(k)
        regressed = sorted(regressed)
        if not regressed:
            vs_verdict = 'all within noise'
        elif len(regressed) <= 6:
            vs_verdict = 'REGRESSED: ' + ', '.join(regressed)
        else:
            # bounded for the 2000-char stdout window; the full ratio
            # map is in BENCH_NORM.json
            vs_verdict = (f'REGRESSED({len(regressed)}): '
                          + ', '.join(regressed[:6]) + ', ...')
        vs_settled = {'baseline_total_norm': baseline.get('total_norm'),
                      'verdict': vs_verdict, 'ratios': ratios}

    with open(os.path.join(REPO_DIR, 'BENCH_NORM.json'), 'w') as fh:
        json.dump({
            'sf': float(SF_DIR.rstrip('/').rsplit('sf', 1)[-1]),
            'runs_per_query': n_runs,
            'sentinel': {'cpu': [round(t, 4) for t in sent_cpu],
                         'spark': [round(t, 4) for t in sent_spark]},
            'cpu_ref': round(cpu_ref, 4),
            'host_settled': host_settled,
            'retried': retried,
            'total_sec': round(total, 3),
            'total_norm': round(total / cpu_ref, 1),
            'vs_settled': vs_settled,
            'queries': {k: {'sec': timings[k], 'norm': norm[k],
                            'spread': spreads[k]}
                        for k in timings},
        }, fh, indent=1, sort_keys=True)
        fh.write('\n')
    if host_settled and (baseline_sf is None or baseline_sf == cur_sf):
        # refresh the settled baseline the NEXT run interprets against
        # — but never let a dev run at another sf displace the
        # committed sf0.1 record (baseline_sf is None only when no
        # parseable baseline exists yet)
        import shutil as _sh
        _sh.copyfile(os.path.join(REPO_DIR, 'BENCH_NORM.json'),
                     settled_path)

    sf = SF_DIR.rstrip('/').rsplit('sf', 1)[-1]
    # full-fidelity record to STDERR (human/debug: 3-decimal times +
    # min/max spread bands); stdout carries exactly ONE compact JSON
    # line — the driver records the final 2000 characters of stdout, so
    # the line must fit that window in full (asserted below) or the
    # artifact loses rows (BENCH_r06 lost 23 of 79)
    print(json.dumps({'spread': spreads, 'queries_3dp': timings,
                      'jobs_per_run': job_counts,
                      'host_settled': host_settled, 'retried': retried,
                      'runs_per_query': n_runs,
                      'sentinel': {'cpu': [round(t, 3) for t in sent_cpu],
                                   'spark': [round(t, 3)
                                             for t in sent_spark]}}),
          file=sys.stderr)

    def _q(v, dp):
        # "1" not "1.0": whole-second 1dp values waste 2 chars each
        # across ~half the registry
        r = round(v, dp)
        return int(r) if float(r).is_integer() else r

    def _base_dict(dp, slim, vs):
        d = {
            'metric': 'headline_queries_total_sec',
            'value': round(total, 2),
            'unit': 'sec',
            # host-independent headline: total / min cpu-sentinel; the
            # per-query equivalents are queries[q]/sentinel.cpu and the
            # full dual record is BENCH_NORM.json in the repo
            'value_norm': round(total / cpu_ref, 1),
            # false = a >2x spread survived the bounded retries (or the
            # closing sentinel drifted >15%); read BENCH_NORM.json's
            # normalized column before comparing rounds
            'host_settled': host_settled,
            'queries': {},
            'sf': float(sf),
        }
        if vs is not None:
            # one short string: the artifact carries its own
            # interpretation vs the committed settled baseline
            d['vs_settled'] = vs
        if slim:
            # host-drift calibration survives as the two minima; the
            # full before/after pairs are in the stderr record above
            d['sentinel'] = {'cpu': round(min(sent_cpu), 3),
                             'spark': round(min(sent_spark), 3)}
        else:
            d['runs_per_query'] = n_runs
            d['sentinel'] = {'cpu': [round(t, 3) for t in sent_cpu],
                             'spark': [round(t, 3) for t in sent_spark]}
        return d

    def _compact(dp, slim=False, fit=False):
        vs = vs_verdict
        if fit and vs is not None:
            # fit tier: the shortest self-interpretation that still
            # names the leaders; the full ratio map is BENCH_NORM.json
            if not regressed:
                vs = 'ok'
            else:
                vs = (f'REGRESSED({len(regressed)}): '
                      + ', '.join(regressed[:2])
                      + (',..' if len(regressed) > 2 else ''))
        d = _base_dict(dp, slim, vs)
        if not fit:
            d['queries'] = {k: _q(v, dp) for k, v in timings.items()}
            return json.dumps(d, separators=(',', ':'))
        # fit tier — maximize per-query stdout coverage. ALL 102 query
        # names cannot fit: the names alone sum to ~1.6k chars and the
        # bare driver-contract line with every query at 1dp is ~2.4k
        # chars against the driver's 2000-char stdout tail (measured
        # round 13), so some omission is structural. Priority: (1) the
        # names the latest BENCH_r<N> artifact carried, biggest-first —
        # the round-over-round diff treats a name that disappears from
        # stdout as a dropped query, so the previous artifact's set
        # must stay covered; (2) anything else with drift signal
        # (>= 0.75 s) biggest-first; (3) the sub-threshold tail packed
        # cheapest-entry-first to maximize the number of names
        # included. NOT a silent cap: the count and summed seconds of
        # the dropped tail are recorded, and the full 3dp set is in
        # the stderr artifact + BENCH_NORM.json
        d['omitted'] = {'n': 0, 'sum_sec': 0.0}
        placeholder = dict(d)
        placeholder['omitted'] = {'n': len(timings),
                                  'sum_sec': round(total, 2)}
        budget = 1980 - len(json.dumps(placeholder, separators=(',', ':')))
        ecost = {k: len(k) + len(json.dumps(_q(timings[k], dp))) + 4
                 for k in timings}
        keep = _stdout_keep() & set(timings)
        pri1 = sorted(keep, key=lambda k: (-timings[k], k))
        pri2 = sorted((k for k in timings
                       if k not in keep and timings[k] >= 0.75),
                      key=lambda k: (-timings[k], k))
        pri3 = sorted((k for k in timings
                       if k not in keep and timings[k] < 0.75),
                      key=lambda k: (ecost[k], k))
        qd, used = {}, 0
        for k in pri1 + pri2 + pri3:
            if used + ecost[k] > budget:
                continue
            qd[k] = _q(timings[k], dp)
            used += ecost[k]
        dropped = [k for k in timings if k not in qd]
        d['queries'] = qd
        d['omitted'] = {'n': len(dropped),
                        'sum_sec': round(sum(timings[k]
                                             for k in dropped), 2)}
        return json.dumps(d, separators=(',', ':'))

    # the driver records the final 2000 characters of stdout, so the
    # ONE line must fit that window in full or the artifact loses rows
    # (BENCH_r06 lost 23 of 79). Degrade gracefully as the registry
    # grows: 2dp -> 1dp -> 1dp/scalar sentinels -> the coverage-
    # maximizing fit tier with an explicit omitted record; full 3dp
    # timings live in the stderr artifact at every tier
    for args in ((2,), (1,), (1, True)):
        compact = _compact(*args)
        if len(compact) < 1900:
            break
    else:
        compact = _compact(1, True, True)
    assert len(compact) < 1995, f'final bench line too long: {len(compact)}'
    print(compact)


if __name__ == '__main__':
    main()

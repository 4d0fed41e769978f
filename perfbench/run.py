"""Closed-loop benchmark of erde_spark on seeded workloads.

    python3 perfbench/run.py --workload geo_demand --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. One driver process on
``local[<cores>]`` starts a session, generates the workload's inputs from
``--seed`` and runs one warm-up pass, which pays for Spark's code
generation and the JVM's JIT compilation (together ``setup_s``). It then
runs passes back to back (closed loop, one client) until ``--seconds``
have passed, at least one. ``pass_s`` is their median. Every step's
output, the warm-up's too, is checked after its pass, outside the timed
window.

On a shared virtual machine the hypervisor gives part of the CPU time
the run asks for to other guests, and that share changes from minute to
minute. ``setup_s`` and ``pass_s`` are therefore wall times with the
stolen share taken out (``spantrace.Stopwatch``, from the steal column
of /proc/stat); the raw wall clock and the stolen share are printed
beside them. On an unshared host the two are the same.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics (medians
over the traced passes), including the tracing overhead (median traced
minus median untraced pass), and writes the spans to
``.perfbench_out/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Metric names and
units come from ``BENCHMARK.json``; ``perfbench/manifest.json`` records
each workload's inputs and which end-to-end metric each layer moves.

``--workload all`` runs the workloads of ``BENCHMARK.json`` one after
another, each in its own process, and ends with one JSON line whose
metric names are prefixed with the workload.

Everything the run writes stays under ``.perfbench_run/`` (removed at
exit) and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the workloads of BENCHMARK.json, in the order ``--workload all`` runs them
WORKLOADS = ['geo_demand', 'relational_curation']


def _metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json.
    Every per-layer metric is printed on every workload; a layer a
    workload does not touch reads 0."""
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as fh:
        b = json.load(fh)
    return ({m['name']: m['unit'] for m in b['end_to_end']},
            {m['name']: m['unit'] for m in b['per_layer']})


END_TO_END, PER_LAYER = _metric_units()

#: passes per run at least: one, or with tracing one untraced and one traced
MIN_PASSES = {0: 1, 1: 2}


def _host_env(run_dir: str) -> dict:
    """Fit the session to the host and keep every file inside the run
    directory; must run before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    with open('/proc/meminfo') as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith('MemTotal:')).split()[1])
    mem_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    tmp = os.path.join(run_dir, 'tmp')
    os.makedirs(tmp)
    env = {
        'SPARK_GRAFT_CPUS': str(cpus),
        'SPARK_GRAFT_DRIVER_MEM': f'{mem_mb}m',
        'TMPDIR': tmp,
        'SPARK_LOCAL_DIRS': os.path.join(run_dir, 'local'),
        'PYTHONPATH': os.pathsep.join(p for p in (ROOT, os.environ.get('PYTHONPATH'))
                                      if p),
        'PYSPARK_SUBMIT_ARGS': (f'--driver-java-options -Djava.io.tmpdir={tmp} '
                                f'--conf spark.sql.warehouse.dir={run_dir}/warehouse '
                                'pyspark-shell'),
    }
    os.environ.update(env)
    return env


def _tail(values: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it, with
    the sample count; with fewer than 11 samples no percentile qualifies."""
    n = len(values)
    if n >= 11:
        p = int(100 * (1 - 10 / n))
        return f'{statistics.quantiles(values, n=100)[p - 1]:.6g} s (p{p}, n={n})'
    return f'n/a (n={n}: no percentile has 10 samples beyond it)'


class StepError(str):
    """A step's traceback, standing in for its result."""


class Bench:
    def __init__(self, args, env):
        self.args, self.env = args, env
        self.run_dir = os.path.dirname(env['TMPDIR'])
        from spantrace import Tracer
        self.wl = W.WORKLOADS[args.workload](args.tiny)
        self.tracer = Tracer()
        self.plain = W.public_api()
        self.traced = W.public_api(self.tracer)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.rss = 0.0
        self.setup()

    # ------------------------------------------------------------ setup
    def setup(self):
        import numpy as np
        from spantrace import ProgressListener, SparkCounters
        from spantrace import Stopwatch
        self.tracer.enabled = True
        start = Stopwatch()
        self.spark = self.traced.get_spark(app_name='perfbench')
        start.stop()
        self.get_spark_s = start.unstolen
        self.tracer.enabled = False
        self.counters = SparkCounters(self.spark)
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        gen = Stopwatch()
        self.inputs = self.wl.generate(np.random.default_rng(self.args.seed),
                                       os.path.join(self.run_dir, 'in'))
        gen.stop()
        # expected outputs are the benchmark's own cost, not the program's
        self.wl.expect(self.plain)
        warm = self.run_pass(-1, traced=False)
        self.setup_s = self.get_spark_s + gen.unstolen + warm['pass_s']
        self.setup_wall = start.wall + gen.wall + warm['wall_s']

    # ------------------------------------------------------------ passes
    def run_pass(self, pass_id, traced):
        """One pass: the steps inside the timed window, then (untimed)
        counter collection, checks and cleanup. Returns the pass record."""
        out = os.path.join(self.run_dir, 'out')
        api = self.traced if traced else self.plain
        import spantrace as T
        marks = self.counters.marks()
        self.listener.take()
        self.tracer.pass_id = pass_id
        self.tracer.enabled = traced
        steps = self.wl.steps(self.spark, api, self.tracer, out)
        results, walls, windows = {}, {}, {}
        sw = T.Stopwatch()
        with self.tracer.span('pass'):
            for name, fn in steps:
                s0, e0 = time.perf_counter(), time.time()
                with self.tracer.span(name):
                    try:
                        results[name] = fn()
                    except Exception:
                        results[name] = StepError(traceback.format_exc(limit=3))
                walls[name] = time.perf_counter() - s0
                windows[name] = (int(e0 * 1000), int(time.time() * 1000) + 1)
        sw.stop()
        self.tracer.enabled = False
        self.counters.drain(marks[1])
        jobs = self.counters.jobs_since(marks[0])
        rec = {'pass_s': sw.unstolen, 'wall_s': sw.wall, 'steal': sw.steal, 'cpu_s': sw.cpu_s,
               'traced': traced, 'walls': walls, 'jobs': len(jobs),
               'step_jobs': T.jobs_per_step(jobs, windows)}
        if traced:
            rec['layers'] = self.layers(marks, jobs, sw.wall, windows, walls, results)
        for name, res in results.items():
            self._op(f'pass {pass_id} {name}',
                     str(res) if isinstance(res, StepError) else self._check(name, res))
        self.rss = max(self.rss, self._rss())
        W.clean_pass(self.spark, out)
        return rec

    def _op(self, what: str, err: str | None):
        """Count one attempted operation, and a failure when ``err``."""
        self.attempted += 1
        if err:
            self.failed += 1
            self.errors.append(f'{what}: {err.strip()}')

    def _check(self, name, res):
        try:
            return self.wl.check(name, res)
        except Exception:
            return traceback.format_exc(limit=3)

    def _rss(self):
        from spantrace import peak_rss_mb
        return peak_rss_mb(self.jvm_pid)

    def layers(self, marks, jobs, pass_s, windows, walls, results) -> dict:
        import spantrace as T
        c = self.counters
        st = c.stage_totals(jobs)
        nodes = c.sql_nodes(marks[1])
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(T.udf_layers(nodes, windows))
        m.update(T.jvm_io_layers(nodes))
        m.update(T.streaming_layers(self.listener.take()))
        m.update(self.wl.per_layer(walls, results))
        m.update({
            'io.scan_bytes': float(st['input_b']),
            'io.bytes_written': float(st['output_b']),
            'exec.cpu_s': st['cpu_ns'] / 1e9, 'jvm.gc_ms': float(st['gc_ms']),
            'shuffle.write_bytes': float(st['sh_write_b']),
            'shuffle.read_bytes': float(st['sh_read_b']),
            'shuffle.fetch_wait_ms': float(st['fetch_wait_ms']),
            'shuffle.spill_bytes': float(st['spill_b']),
            'driver.jobs': float(len(jobs)), 'driver.stages': float(st['stages']),
            'driver.gap_s': pass_s - T.job_union_s(jobs),
        })
        selfs = self.tracer.self_times(self.tracer.pass_id)
        for i, s in self.tracer.pass_spans(self.tracer.pass_id):
            layer = ('self.api_s' if s.name.startswith('erde_spark.') else
                     'self.queries_s' if s.name.startswith('queries.') else
                     'self.sink_s' if s.name.startswith('sink.') else 'self.bench_s')
            m[layer] += selfs[i]
        return m

    def loop(self):
        recs = []
        t_start = time.perf_counter()
        i = 0
        while (i < MIN_PASSES[self.args.trace]
               or time.perf_counter() - t_start < self.args.seconds):
            recs.append(self.run_pass(i, traced=bool(self.args.trace and i % 2)))
            i += 1
        self.recs = recs

    def design_checks(self):
        """With tracing, the workload design, checked as two more
        operations: every traced pass launches the same number of Spark
        jobs, and the per-layer medians load the layers the workload is
        meant to. (Untraced passes are not compared: on curation the first
        measured pass launches one job fewer than every later one.)"""
        if self.args.trace:
            traced = [r for r in self.recs if r['traced']]
            differ = sorted({k for r in traced for k, n in r['step_jobs'].items()
                             if n != traced[0]['step_jobs'].get(k)})
            self._op('driver.jobs repeats', ', '.join(
                f"{k} jobs per traced pass {[r['step_jobs'].get(k) for r in traced]}"
                for k in differ))
            self.per = {k: statistics.median(r['layers'][k] for r in traced)
                        for k in PER_LAYER}
            self.per['session.get_spark_s'] = self.get_spark_s
            self.per['trace.overhead_s'] = (
                statistics.median(r['pass_s'] for r in traced)
                - statistics.median(r['pass_s'] for r in self.recs if not r['traced']))
            self._op('layer expectations', '; '.join(self.wl.layer_checks(self.per)))

    # ------------------------------------------------------------ report
    def report(self) -> dict:
        import pyspark
        recs = self.recs
        plain = [r['pass_s'] for r in recs if not r['traced']]
        pass_s = statistics.median(plain)
        e2e = {'setup_s': self.setup_s, 'pass_s': pass_s,
               'rows_per_s': self.inputs['rows'] / pass_s}
        a = self.args
        print(f'perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} '
              f'trace={a.trace} loop=closed clients=1 spark={pyspark.__version__} '
              f'SPARK_GRAFT_CPUS={self.env["SPARK_GRAFT_CPUS"]} '
              f'SPARK_GRAFT_DRIVER_MEM={self.env["SPARK_GRAFT_DRIVER_MEM"]}')
        print(f'inputs rows={self.inputs["rows"]} bytes={self.inputs["bytes"]} '
              f'passes={len(recs)} (untraced {len(plain)})')
        print(f'  driver.jobs per pass: {[r["jobs"] for r in recs]}')
        print(f'  wall clock: setup {self.setup_wall:.3f} s, passes '
              f'{[round(r["wall_s"], 3) for r in recs]} s; CPU time stolen by the '
              f'hypervisor: {[round(100 * r["steal"], 1) for r in recs]} %; '
              f'CPU busy: {[round(r["cpu_s"], 2) for r in recs]} s')
        for k, u in END_TO_END.items():
            print(f'  {k} = {e2e[k]:.6g} {u}')
        print(f'  pass_s_tail = {_tail(plain)}')
        print(f'  peak_rss_mb = {self.rss:.6g} MB (driver JVM and Python workers)')
        ratio = self.failed / self.attempted if self.attempted else 1.0
        print(f'  failed_ops_ratio = {ratio:.6g} ratio '
              f'({self.failed}/{self.attempted})')
        for e in self.errors[:10]:
            print(f'  error: {e}')
        if not a.trace:
            return e2e
        per = self.per
        for k, u in PER_LAYER.items():
            print(f'  {k} = {per[k]:.6g} {u}')
        self.write_spans()
        return per

    def write_spans(self):
        out = os.path.join(ROOT, '.perfbench_out')
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f'spans-{self.args.workload}-seed{self.args.seed}.json')
        with open(path, 'w') as fh:
            json.dump({'workload': self.args.workload, 'seed': self.args.seed,
                       'spans': self.tracer.dump()}, fh)
        print(f'  spans written to {os.path.relpath(path, ROOT)}')

    def close(self):
        from pyspark import SparkContext
        spark = getattr(self, 'spark', None)
        if spark is None:
            return
        try:
            spark.streams.removeListener(self.listener)
        finally:
            spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, 'proc', None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except Exception:
                        proc.kill()
                        proc.wait()


def run_all(args) -> int:
    """Every workload in its own process, then one combined JSON line."""
    out = {'correct': True, 'attempted': 0, 'failed': 0, 'metrics': {}}
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), '--workload', wl,
               '--seed', str(args.seed), '--seconds', str(args.seconds),
               '--trace', str(args.trace)] + (['--tiny'] if args.tiny else [])
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        lines = p.stdout.strip().splitlines()
        print('\n'.join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        out['correct'] &= res['correct']
        out['attempted'] += res['attempted']
        out['failed'] += res['failed']
        out['metrics'].update({f'{wl}.{k}': v for k, v in res['metrics'].items()})
    print(json.dumps(out))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=list(W.WORKLOADS) + ['all'])
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--tiny', action='store_true',
                    help='tiny inputs, for the smoke test')
    args = ap.parse_args(argv)
    if args.workload == 'all':
        return run_all(args)
    run_dir = os.path.join(ROOT, '.perfbench_run',
                           f'{args.workload}-{args.seed}-{os.getpid()}')
    os.makedirs(run_dir)
    bench = None
    try:
        env = _host_env(run_dir)
        sys.path.insert(0, ROOT)
        bench = Bench(args, env)
        bench.loop()
        bench.design_checks()
        metrics = bench.report()
        units = PER_LAYER if args.trace else END_TO_END
        line = {'correct': bench.failed == 0, 'attempted': bench.attempted,
                'failed': bench.failed,
                'metrics': {k: {'value': float(metrics[k]), 'unit': u}
                            for k, u in units.items()}}
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == '__main__':
    sys.exit(main())

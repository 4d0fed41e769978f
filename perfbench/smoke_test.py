"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/smoke_test.py

For every workload it makes one untraced and two traced runs with
``--tiny`` and checks that

* every end-to-end metric (untraced) and every per-layer metric (traced)
  is printed by name with its unit, in the report and in the final JSON
  line, and ``manifest.json`` maps every per-layer metric exactly once;
* every output check passed (``correct`` is true, ``failed`` is 0);
* the layers confirm the workload design: ``udf.bytes_sent`` and
  ``operators.sagg_s`` are above 0 on geo_demand, ``udf.rel_bytes_sent``
  is near 0 on relational_curation, and ``driver.jobs`` repeats exactly
  from one traced run to the next;
* in the traced run, the self times of each pass's spans add up to the
  pass's wall time, and every span lies inside its parent.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

SEED = 7


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    p = subprocess.run([sys.executable, os.path.join(HERE, 'run.py'),
                        '--workload', workload, '--seed', str(SEED),
                        '--seconds', '1', '--trace', str(trace), '--tiny'],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f'{workload} trace={trace} exited {p.returncode}:\n'
                             f'{p.stderr[-3000:]}')
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def _check_metrics(report: list[str], result: dict, units: dict, tag: str):
    assert result['correct'] and result['failed'] == 0 and result['attempted'] >= 1, \
        f'{tag}: outputs failed their checks: {result} {report}'
    assert set(result['metrics']) == set(units), f'{tag}: metric names differ'
    for name, unit in units.items():
        m = result['metrics'][name]
        assert m['unit'] == unit and isinstance(m['value'], float), f'{tag}: {name} {m}'
        assert any(ln.strip().startswith(f'{name} = ') and ln.rstrip().endswith(unit)
                   for ln in report), f'{tag}: {name} not printed with its unit'


def _check_spans(workload: str):
    path = os.path.join(ROOT, '.perfbench_out', f'spans-{workload}-seed{SEED}.json')
    with open(path) as fh:
        spans = json.load(fh)['spans']
    passes = {s['pass'] for s in spans if s['pass'] >= 0}
    assert passes, f'{workload}: no traced pass recorded'
    for pid in passes:
        mine = [s for s in spans if s['pass'] == pid]
        by_id = {s['id']: s for s in mine}
        roots = [s for s in mine if s['parent'] is None]
        assert len(roots) == 1 and roots[0]['name'] == 'pass', f'{workload}: roots {roots}'
        total_self = 0.0
        for s in mine:
            kids = sum(k['end'] - k['start'] for k in mine if k['parent'] == s['id'])
            total_self += (s['end'] - s['start']) - kids
            if s['parent'] is not None:
                p = by_id[s['parent']]
                assert p['start'] <= s['start'] <= s['end'] <= p['end'], \
                    f'{workload}: span {s["name"]} outside its parent'
        wall = roots[0]['end'] - roots[0]['start']
        assert abs(total_self - wall) < 1e-6, f'{workload}: self times {total_self} != {wall}'


def _check_manifest():
    with open(os.path.join(HERE, 'manifest.json')) as fh:
        manifest = json.load(fh)
    mapped = [m for group in manifest['layers'] for m in group['metrics']]
    assert sorted(mapped) == sorted(run.PER_LAYER), 'manifest layers differ from BENCHMARK.json'
    assert [w['name'] for w in manifest['workloads']] == run.WORKLOADS


def _check_design(workload: str, first: dict, second: dict):
    m = {k: v['value'] for k, v in first['metrics'].items()}
    if workload == 'geo_demand':
        assert m['udf.bytes_sent'] > 0 and m['operators.sagg_s'] > 0, m
    else:
        assert m['udf.rel_bytes_sent'] <= workloads.UDF_NEAR_ZERO_B, m
    jobs = [r['metrics']['driver.jobs']['value'] for r in (first, second)]
    assert jobs[0] == jobs[1], f'{workload}: driver.jobs differs between runs: {jobs}'


def main() -> int:
    _check_manifest()
    for workload in run.WORKLOADS:
        report, result = _run(workload, 0)
        _check_metrics(report, result, run.END_TO_END, f'{workload} trace=0')
        for name in ('pass_s_tail', 'failed_ops_ratio', 'peak_rss_mb'):
            assert any(ln.strip().startswith(f'{name} = ') for ln in report), name
        report, result = _run(workload, 1)
        _check_metrics(report, result, run.PER_LAYER, f'{workload} trace=1')
        _check_spans(workload)
        _check_design(workload, result, _run(workload, 1)[1])
        print(f'ok {workload}', flush=True)
    return 0


if __name__ == '__main__':
    sys.exit(main())

"""Pins of the query registry derived from ``__spark_entry__.QUERY_TABLE``.

The digests were taken before the registry became one table, so any
change to query order, oracle SQL or the bench set shows up here. No
Spark session is needed: the registry only names the query callables.
"""

import hashlib
import json
import os

import __spark_entry__ as entry
import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_registry_pinned():
    names = [row[0] for row in entry.QUERY_TABLE]
    assert len(names) == len(set(names))
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert _sha('\n'.join(qs)) == (
        'd51504160d1747c0f946464422e3d1a08052cde71431c2c38b9308411e5b3d5a')
    assert _sha('\n'.join(f'{k}\t{v}' for k, v in sorted(oracles.items()))) == (
        'be16f1e227e60beb2dc26d1fe74657830628b78550ff5ccacf0942765f3c7cb3')
    assert _sha('\n'.join(sorted(entry.bench_queries()))) == (
        'e1f916319e899baf837daa720aeb4a45edda7d15595c6468accdf82cb5f1eb14')
    assert set(oracles) <= set(qs)


def test_stdout_keep_covers_latest_artifact():
    with open(os.path.join(REPO, 'BENCH_r13.json')) as fh:
        r13 = set(json.load(fh)['parsed']['queries'])
    assert r13 <= bench._stdout_keep()

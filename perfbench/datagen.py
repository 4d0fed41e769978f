"""Seeded inputs for the geo_demand, relational and curation workloads.

Every input function takes a ``numpy.random.Generator`` built from the
benchmark's ``--seed`` and writes plain files (parquet via pyarrow, CSV
via pandas) with no Spark involved, so the program under test receives
only finished inputs. The same seed gives byte-identical inputs.

* relational: the project's sf0.01 TPC-H-style test tables, shipped under
  ``data/relational/``; the seed only permutes the query order, so this
  module builds nothing for it;
* geo_demand: clustered houses (lon/lat + apartments, parquet), schools
  (WKT points, CSV) and a district grid (WKT polygons, CSV);
* curation: the first documents of the sf0.1 test ``documents`` (600
  are shipped under ``data/curation/``), copied with per-copy token suffixes as
  ``tools/scale_check.py::build_sf1`` does, in a seeded row order, and
  split into micro-batch files for the streaming path.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), 'data')


def _write_parquet(df: pd.DataFrame, path: str) -> int:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return os.path.getsize(path)


def dir_size(path: str) -> dict:
    """``{'rows': n, 'bytes': n}`` over the parquet files in ``path``."""
    rows = nbytes = 0
    for f in sorted(os.listdir(path)):
        if f.endswith('.parquet'):
            p = os.path.join(path, f)
            rows += pq.ParquetFile(p).metadata.num_rows
            nbytes += os.path.getsize(p)
    return {'rows': rows, 'bytes': nbytes}


# ---------------------------------------------------------------- geo

#: a Novosibirsk-sized lon/lat window (the reference's test fixtures
#: cluster there); 0.25 deg of longitude is ~16 km at this latitude
GEO_BOX = (82.80, 54.90, 83.20, 55.10)


def geo_inputs(rng: np.random.Generator, n_houses: int, n_schools: int,
               grid: int) -> dict:
    """Clustered houses, schools spread over the same clusters, and a
    ``grid`` x ``grid`` district grid whose origin is jittered by the
    seed. Returns numpy arrays the correctness check recounts from.

    Clusters sit on a jittered 4 x 4 lattice and every cluster gets the
    same number of houses and schools, so the number of house/school
    candidate pairs (the cost of the spatial refine) changes little
    from seed to seed while every position is still seeded."""
    x0, y0, x1, y1 = GEO_BOX
    k = 4
    sx, sy = (x1 - x0) / k, (y1 - y0) / k
    cx = x0 + sx * (np.repeat(np.arange(k), k) + 0.5 + rng.uniform(-0.2, 0.2, k * k))
    cy = y0 + sy * (np.tile(np.arange(k), k) + 0.5 + rng.uniform(-0.2, 0.2, k * k))
    # ~1-2 km Gaussian clusters, clipped to the box
    which = np.arange(n_houses) % (k * k)
    lon = np.clip(cx[which] + rng.normal(0, 0.25 * sx, n_houses), x0, x1)
    lat = np.clip(cy[which] + rng.normal(0, 0.25 * sy, n_houses), y0, y1)
    apartments = rng.integers(8, 201, n_houses).astype(np.int64)
    sw = np.arange(n_schools) % (k * k)
    s_lon = np.clip(cx[sw] + rng.normal(0, 0.3 * sx, n_schools), x0, x1)
    s_lat = np.clip(cy[sw] + rng.normal(0, 0.3 * sy, n_schools), y0, y1)
    jx, jy = rng.uniform(-0.01, 0.01, 2)
    gx = np.linspace(x0 - 0.02 + jx, x1 + 0.02 + jx, grid + 1)
    gy = np.linspace(y0 - 0.02 + jy, y1 + 0.02 + jy, grid + 1)
    return {'lon': lon, 'lat': lat, 'apartments': apartments,
            's_lon': s_lon, 's_lat': s_lat, 'gx': gx, 'gy': gy}


def write_geo(g: dict, out_dir: str) -> dict:
    """houses.parquet (hid, lon, lat, apartments), schools.csv (sid, WKT)
    and districts.csv (did, WKT polygon)."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(g['lon'])
    houses = pd.DataFrame({'hid': np.arange(n, dtype=np.int64), 'lon': g['lon'],
                           'lat': g['lat'], 'apartments': g['apartments']})
    nbytes = _write_parquet(houses, os.path.join(out_dir, 'houses.parquet'))
    # repr() keeps every digit, so the WKT parses back to the exact float
    schools = pd.DataFrame({
        'sid': np.arange(len(g['s_lon']), dtype=np.int64),
        'WKT': [f'POINT ({x!r} {y!r})' for x, y in zip(g['s_lon'], g['s_lat'])]})
    p = os.path.join(out_dir, 'schools.csv')
    schools.to_csv(p, index=False)
    nbytes += os.path.getsize(p)
    gx, gy = g['gx'], g['gy']
    rows = []
    for i in range(len(gx) - 1):
        for j in range(len(gy) - 1):
            a, b, c, d = gx[i], gy[j], gx[i + 1], gy[j + 1]
            rows.append((i * (len(gy) - 1) + j,
                         f'POLYGON (({a!r} {b!r}, {c!r} {b!r}, {c!r} {d!r}, '
                         f'{a!r} {d!r}, {a!r} {b!r}))'))
    p = os.path.join(out_dir, 'districts.csv')
    pd.DataFrame(rows, columns=['did', 'WKT']).to_csv(p, index=False)
    nbytes += os.path.getsize(p)
    return {'rows': n + len(schools) + len(rows), 'bytes': nbytes}


# ---------------------------------------------------------------- curation


def corpus(rng: np.random.Generator, n_base: int, copies: int) -> pd.DataFrame:
    """``copies`` mutually dissimilar copies of the first ``n_base``
    shipped documents: every token of copy ``c`` gets the suffix ``x<c>``
    (the sf1 construction of tools/scale_check.py), so cross-copy Jaccard
    is 0 and the duplicate structure repeats exactly per copy. Copy ``c``
    of document ``i`` has id ``c * n_base + i``; the rows come in a
    seeded order."""
    base = pd.read_parquet(os.path.join(DATA, 'curation', 'documents.parquet'),
                           columns=['doc_id', 'text', 'lang']).iloc[:n_base]
    docs = pd.concat([pd.DataFrame({
        'doc_id': base['doc_id'].to_numpy() + c * n_base,
        'text': base['text'].str.replace(r'(\S+)', rf'\1x{c}', regex=True),
        'lang': base['lang']}) for c in range(copies)], ignore_index=True)
    return docs.iloc[rng.permutation(len(docs))].reset_index(drop=True)


def write_curation(docs: pd.DataFrame, out_dir: str, n_batches: int) -> dict:
    """documents.parquet plus ``n_batches`` micro-batch files under
    ``stream_in/`` (consecutive slices of the seeded row order), with
    file names and mtimes pinned so the file source replays them in a
    fixed order."""
    os.makedirs(os.path.join(out_dir, 'stream_in'), exist_ok=True)
    nbytes = _write_parquet(docs, os.path.join(out_dir, 'documents.parquet'))
    for k, part in enumerate(np.array_split(np.arange(len(docs)), n_batches)):
        p = os.path.join(out_dir, 'stream_in', f'batch-{k}.parquet')
        nbytes += _write_parquet(docs.iloc[part], p)
        os.utime(p, (1_700_000_000 + k * 60,) * 2)
    return {'rows': len(docs), 'bytes': nbytes}

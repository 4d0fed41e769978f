"""The benchmark workloads: ``geo_demand`` and ``relational_curation``
(``relational`` then ``curation`` in one pass; each of the two also runs
alone).

Each workload generates its inputs from the seed (``generate``) into
``data``, then runs passes of named steps over them. A step calls the
program's public functions through ``api`` (plain or span-wrapped), ends
in a sink that reads every output column, and returns what its check
needs. Checks and cleanup run after the pass, outside the timed window.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import re
import shutil
import types

import numpy as np
import pandas as pd

import datagen

# ---------------------------------------------------------------- api


def public_api(tracer=None) -> types.SimpleNamespace:
    """The program's public functions the workloads call, each wrapped in
    a span when ``tracer`` is given."""
    import erde_spark as es
    from erde_spark.functions.geo import lonlat_to_geometry
    from erde_spark.geo.crs import set_crs
    from erde_spark.scale.dedup import (dedup_clusters, exact_dedup,
                                        minhash_lsh_pairs,
                                        streaming_neardup_dedup)
    from erde_spark.scale.text import quality_score
    import __spark_entry__ as entry
    fns = {'get_spark': es.get_spark, 'read_df': es.read_df,
           'write_df': es.write_df, 'buffer': es.buffer, 'sagg': es.sagg,
           'area': es.area, 'sjoin': es.sjoin, 'set_crs': set_crs,
           'lonlat_to_geometry': lonlat_to_geometry,
           'exact_dedup': exact_dedup, 'quality_score': quality_score,
           'dedup_clusters': dedup_clusters,
           'minhash_lsh_pairs': minhash_lsh_pairs,
           'streaming_neardup_dedup': streaming_neardup_dedup}
    wrap = tracer.wrap if tracer else (lambda name, fn: fn)
    ns = types.SimpleNamespace(**{k: wrap(f'erde_spark.{k}', f)
                                  for k, f in fns.items()})
    ns.queries = {k: wrap(f'queries.{k}', f) for k, f in entry.queries().items()}
    ns.oracle_sql = entry.oracle_sql
    return ns


def _collect(tracer, df) -> pd.DataFrame:
    with tracer.span('sink.collect'):
        return df.toPandas()


def _sorted_part_files(path: str, ext: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, '**', f'*.{ext}'), recursive=True))


def _read_parquet_dir(path: str) -> pd.DataFrame:
    return pd.concat([pd.read_parquet(f) for f in _sorted_part_files(path, 'parquet')],
                     ignore_index=True)


# ---------------------------------------------------------------- relational

#: four TPC-H plan shapes: scan + aggregate (q1), six-way join (q5),
#: aggregate subquery joined back (q18), EXISTS / NOT EXISTS (q21); and
#: four time-series shapes: as-of join, range band join, window top-k,
#: sessionization. Every query costs about 1.5 s of warm-up and 0.6 s per
#: pass; all 28 relational queries make one run about 60 s, too long for
#: the benchmark's run count.
RELATIONAL_QUERIES = [
    'tpch_q1_pricing', 'asof_last_click', 'tpch_q5_region_revenue',
    'range_band_join', 'tpch_q18_bigorders', 'window_top3_orders',
    'tpch_q21_waiting', 'events_sessionize',
]


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive value hash: columns sorted by name, dtypes
    canonicalized, rows sorted, then hashed."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.tz_localize(None) if s.dt.tz is not None else s
            df[c] = df[c].astype('datetime64[us]').astype('int64').where(s.notna(), None)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype('int64')
        elif pd.api.types.is_numeric_dtype(s):
            df[c] = s.astype('float64')
    rows = sorted(repr(tuple(None if (isinstance(v, float) and math.isnan(v)) else v
                             for v in r)) for r in df.itertuples(index=False))
    h = hashlib.sha256()
    h.update(repr(list(df.columns)).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


class Relational:
    """Registry queries over the shipped tables: scan, JVM codegen,
    aggregation, joins and shuffle with almost no Python; many short jobs,
    so driver orchestration is a large share."""
    name = 'relational'

    def __init__(self, tiny: bool):
        self.queries = RELATIONAL_QUERIES[:6] if tiny else RELATIONAL_QUERIES

    def generate(self, rng, work: str) -> dict:
        """The shipped sf0.01 tables, read in place; the seed permutes the
        query order."""
        self.data = os.path.join(datagen.DATA, 'relational')
        self.order = [self.queries[i] for i in rng.permutation(len(self.queries))]
        return datagen.dir_size(self.data)

    def expect(self, api) -> None:
        """Expected hashes from the DuckDB oracle of every query."""
        import duckdb
        con = duckdb.connect()
        for f in _sorted_part_files(self.data, 'parquet'):
            t = os.path.basename(f)[:-len('.parquet')]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
        oracle = api.oracle_sql()
        self.expected = {q: frame_hash(con.execute(oracle[q]).df())
                         for q in self.queries}
        con.close()

    def steps(self, spark, api, tracer, out):
        def run(q):
            return lambda: _collect(tracer, api.queries[q](spark, self.data))
        return [(f'rel.{q}', run(q)) for q in self.order]

    def check(self, step, result) -> str | None:
        q = step.split('.', 1)[1]
        got = frame_hash(result)
        return None if got == self.expected[q] else f'{q}: hash mismatch vs oracle'

    def per_layer(self, walls, results) -> dict:
        return {f'entry.{q}_s': walls[f'rel.{q}'] for q in self.queries}

    def layer_checks(self, per: dict) -> list[str]:
        """The design claim: almost no Python on this workload."""
        if per['udf.bytes_sent'] > UDF_NEAR_ZERO_B:
            return [f"udf.bytes_sent {per['udf.bytes_sent']:.0f} B is not near 0"]
        return []


# ---------------------------------------------------------------- geo_demand

_R = 6378137.0


def _merc(lon, lat):
    return (_R * np.radians(lon),
            _R * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)))


#: what "near 0" means for ``udf.bytes_sent`` on a workload that should
#: not cross the Python/Arrow boundary
UDF_NEAR_ZERO_B = 64 * 1024


class GeoDemand:
    """The flagship school-demand flow: pandas-UDF geo kernels and the
    Python/Arrow boundary dominate, ending in real CSV/parquet writes."""
    name = 'geo_demand'
    RADIUS = 1000.0
    SEGMENTS = 64          # buffer() resolution 16 -> a 64-gon

    def __init__(self, tiny: bool):
        self.n_houses, self.n_schools = (2000, 20) if tiny else (12000, 120)
        self.grid = 8
        # about a third of a district's width: each district spans a few cells
        self.cell_size = 0.02

    def generate(self, rng, work: str) -> dict:
        self.data = os.path.join(work, 'geo')
        self.g = datagen.geo_inputs(rng, self.n_houses, self.n_schools, self.grid)
        self._recount()
        return datagen.write_geo(self.g, self.data)

    def _recount(self):
        """numpy recount of the demand: a house within r*cos(pi/64) of a
        school is inside the inscribed 64-gon for sure, one beyond r is
        outside for sure; the band between is the stated tolerance."""
        g = self.g
        hx, hy = _merc(g['lon'], g['lat'])
        sx, sy = _merc(g['s_lon'], g['s_lat'])
        r = self.RADIUS / np.cos(np.radians(g['s_lat']))
        apt = g['apartments']
        parts = []
        for k in range(0, len(sx), 64):      # 64 schools at a time bounds memory
            sl = slice(k, k + 64)
            d = np.hypot(hx[None, :] - sx[sl, None], hy[None, :] - sy[sl, None])
            sure = d <= (r[sl] * math.cos(math.pi / self.SEGMENTS) * (1 - 1e-9))[:, None]
            maybe = d <= (r[sl] * (1 + 1e-9))[:, None]
            parts.append((sure.sum(1), maybe.sum(1), sure @ apt, maybe @ apt))
        self.bounds = tuple(np.concatenate(c) for c in zip(*parts))
        self.area = 0.5 * self.SEGMENTS * self.RADIUS ** 2 * \
            math.sin(2 * math.pi / self.SEGMENTS)
        ix = np.searchsorted(g['gx'], g['lon']) - 1
        iy = np.searchsorted(g['gy'], g['lat']) - 1
        self.district = ix * (len(g['gy']) - 1) + iy

    def expect(self, api) -> None:
        pass

    def steps(self, spark, api, tracer, out):
        frames = {}

        def read():
            frames['houses'] = api.set_crs(api.lonlat_to_geometry(
                api.read_df(os.path.join(self.data, 'houses.parquet'), spark)), 4326)
            frames['schools'] = api.read_df(os.path.join(self.data, 'schools.csv'), spark)
            frames['districts'] = api.read_df(os.path.join(self.data, 'districts.csv'), spark)

        def demand():
            reach = api.buffer(frames['schools'], self.RADIUS)
            d = api.area(api.sagg(reach, frames['houses'],
                                  {'apartments': 'sum', 'hid': 'count'}))
            path = os.path.join(out, 'demand.csv')
            api.write_df(d, path)
            return path

        def inside():
            j = api.sjoin(frames['houses'], frames['districts'], op='within',
                          cell_size=self.cell_size)
            path = os.path.join(out, 'inside.parquet')
            api.write_df(j, path)
            return path

        return [('geo.read', read), ('geo.demand', demand), ('geo.inside', inside)]

    def check(self, step, result) -> str | None:
        if step == 'geo.read':
            return None
        if step == 'geo.demand':
            df = pd.concat([pd.read_csv(f) for f in _sorted_part_files(result, 'csv')])
            df = df.sort_values('sid')
            if list(df['sid']) != list(range(self.n_schools)):
                return 'demand: not one row per school'
            n = df['hid'].fillna(0).to_numpy()
            a = df['apartments'].fillna(0).to_numpy()
            lo_n, hi_n, lo_a, hi_a = self.bounds
            if not ((lo_n <= n) & (n <= hi_n) & (lo_a <= a) & (a <= hi_a)).all():
                return 'demand: house count or apartment sum outside the 64-gon band'
            if not np.allclose(df['area'].to_numpy(), self.area, rtol=1e-6, atol=0):
                return 'demand: buffer area is not the 64-gon area'
            return None
        df = _read_parquet_dir(result).sort_values('hid')
        if list(df['hid']) != list(range(self.n_houses)):
            return 'inside: not every house matched exactly one district'
        if not (df['did'].to_numpy() == self.district).all():
            return 'inside: district assignment differs from the grid recount'
        return None

    def per_layer(self, walls, results) -> dict:
        return {}

    def layer_checks(self, per: dict) -> list[str]:
        """The design claim: the geo kernels cross the Python/Arrow
        boundary, and every operator layer is seen."""
        return [f'{k} is 0' for k in ('udf.bytes_sent', 'operators.buffer_s',
                                      'operators.sagg_s', 'operators.sjoin_s',
                                      'operators.refine_pass_ratio') if per[k] <= 0]


# ---------------------------------------------------------------- curation

_TOKEN_SPLIT = re.compile('[^a-z0-9]+')


def _norm_text(t: str) -> str:
    return re.sub(r'\s+', ' ', t.lower().strip(' '))


def _token_set(t: str) -> frozenset:
    return frozenset(w for w in _TOKEN_SPLIT.split(t.lower()) if w)


class Curation:
    """The scale dedup kernels, many-job pipelines and streaming sink
    commits over a near-duplicate corpus."""
    name = 'curation'
    THRESHOLD = 0.8
    QUALITY_MIN = 0.7
    BATCHES = 2

    def __init__(self, tiny: bool):
        self.n_base, self.copies = (100, 2) if tiny else (200, 2)

    def generate(self, rng, work: str) -> dict:
        self.data = os.path.join(work, 'corpus')
        docs = datagen.corpus(rng, self.n_base, self.copies)
        self.docs = docs
        self.sample_rng_seed = int(rng.integers(0, 2**31))
        return datagen.write_curation(docs, self.data, self.BATCHES)

    def expect(self, api) -> None:
        docs = self.docs
        self.ids = set(docs['doc_id'])
        self.texts = dict(zip(docs['doc_id'], docs['text']))
        groups: dict = {}
        for i, t in zip(docs['doc_id'], docs['text']):
            groups.setdefault(_norm_text(t), []).append(i)
        self.exact = {(hashlib.md5(k.encode()).hexdigest(), min(v), len(v))
                      for k, v in groups.items()}
        self.group_of = {i: k for k, v in groups.items() for i in v}
        sets: dict = {}
        for i, t in self.texts.items():
            sets.setdefault(_token_set(t), []).append(i)
        self.identical_pairs = {(a, b) for v in sets.values()
                                for a in v for b in v if a < b}
        self.first: dict = {}

    def steps(self, spark, api, tracer, out):
        frames = {}

        def read():
            frames['docs'] = api.read_df(os.path.join(self.data, 'documents.parquet'), spark)

        def exact():
            path = os.path.join(out, 'exact.parquet')
            api.write_df(api.exact_dedup(frames['docs']), path)
            return path

        def quality():
            d = frames['docs']
            path = os.path.join(out, 'quality.parquet')
            api.write_df(d.filter(api.quality_score('text') >= self.QUALITY_MIN), path)
            return path

        def clusters():
            return _collect(tracer, api.dedup_clusters(frames['docs'],
                                                       threshold=self.THRESHOLD))

        def pairs():
            return _collect(tracer, api.minhash_lsh_pairs(frames['docs'],
                                                          threshold=self.THRESHOLD))

        def stream():
            s = os.path.join(out, 'stream')
            api.streaming_neardup_dedup(
                spark, os.path.join(self.data, 'stream_in'), frames['docs'].schema,
                out_dir=os.path.join(s, 'out'), checkpoint_dir=os.path.join(s, 'ckpt'),
                state_dir=os.path.join(s, 'state'), threshold=self.THRESHOLD,
                max_files_per_trigger=1)
            return os.path.join(s, 'out')

        return [('cur.read', read), ('cur.exact_dedup', exact),
                ('cur.quality', quality), ('cur.dedup_clusters', clusters),
                ('cur.minhash_pairs', pairs), ('cur.streaming', stream)]

    def _one_per_group(self, ids) -> bool:
        g = [self.group_of[i] for i in ids]
        return len(g) == len(set(g))

    def _stable(self, step, value) -> bool:
        return self.first.setdefault(step, value) == value

    def check(self, step, result) -> str | None:
        if step == 'cur.read':
            return None
        if step == 'cur.exact_dedup':
            df = _read_parquet_dir(result)
            got = set(zip(df['fingerprint'], df['doc_id'], df['n_dups']))
            return None if got == self.exact else 'exact_dedup: groups differ from recount'
        if step == 'cur.quality':
            kept = set(_read_parquet_dir(result)['doc_id'])
            if not kept <= self.ids:
                return 'quality: unknown ids kept'
            # a copy differs from the base only by a fixed per-token suffix,
            # so every copy must keep the same base documents
            per_copy = {c: {i % self.n_base for i in kept if i // self.n_base == c}
                        for c in range(self.copies)}
            if any(v != per_copy[0] for v in per_copy.values()):
                return 'quality: copies of one document scored differently'
            if not self._stable(step, tuple(sorted(kept))):
                return 'quality: kept set changed between passes'
            return None
        if step == 'cur.dedup_clusters':
            ids = list(result['doc_id'])
            if int(result['cluster_size'].sum()) != len(self.ids):
                return 'dedup_clusters: cluster sizes do not sum to the document count'
            if len(set(ids)) != len(ids) or not set(ids) <= self.ids:
                return 'dedup_clusters: kept ids not unique or unknown'
            if not self._one_per_group(ids):
                return 'dedup_clusters: two exact duplicates both kept'
            if not self._stable(step, tuple(sorted(ids))):
                return 'dedup_clusters: kept set changed between passes'
            return None
        if step == 'cur.minhash_pairs':
            pairs = set(zip(result['id_a'], result['id_b']))
            if any(a >= b or a // self.n_base != b // self.n_base for a, b in pairs):
                return 'minhash_pairs: unordered or cross-copy pair'
            if not self.identical_pairs <= pairs:
                return 'minhash_pairs: an identical-token-set pair is missing'
            rng = np.random.default_rng(self.sample_rng_seed)
            plist = sorted(pairs)
            for k in rng.choice(len(plist), min(50, len(plist)), replace=False):
                a, b = plist[k]
                sa, sb = _token_set(self.texts[a]), _token_set(self.texts[b])
                if len(sa & sb) / len(sa | sb) < self.THRESHOLD:
                    return f'minhash_pairs: pair {a},{b} below the threshold'
            if not self._stable(step, len(pairs)):
                return 'minhash_pairs: pair count changed between passes'
            return None
        ids = list(_read_parquet_dir(result)['doc_id'])
        if len(set(ids)) != len(ids) or not set(ids) <= self.ids:
            return 'streaming: survivor ids not unique or unknown'
        if not self._one_per_group(ids):
            return 'streaming: two exact duplicates both survived'
        if not self._stable(step, tuple(sorted(ids))):
            return 'streaming: survivor set changed between passes'
        return None

    def per_layer(self, walls, results) -> dict:
        clusters, pairs = results.get('cur.dedup_clusters'), results.get('cur.minhash_pairs')
        return {'scale.dedup_clusters_s': walls['cur.dedup_clusters'],
                'scale.minhash_pairs_s': walls['cur.minhash_pairs'],
                'scale.kept_docs': float(len(clusters)) if isinstance(clusters, pd.DataFrame) else 0.0,
                'scale.pairs_emitted': float(len(pairs)) if isinstance(pairs, pd.DataFrame) else 0.0}

    def layer_checks(self, per: dict) -> list[str]:
        """The design claim: MinHash signatures cross the Python/Arrow
        boundary and the backfill commits one batch per staged file."""
        errs = [f'{k} is 0' for k in ('udf.bytes_sent', 'scale.pairs_emitted',
                                      'scale.kept_docs', 'streaming.input_rows')
                if per[k] <= 0]
        if per['streaming.batches'] < self.BATCHES:
            errs.append(f"streaming.batches {per['streaming.batches']:.0f} "
                        f'< {self.BATCHES} staged files')
        return errs


class RelationalCuration:
    """``relational`` then ``curation`` in one pass. Each alone pays a
    session start and a warm-up that cost more than its pass; together
    they pay them once, which keeps the benchmark's runs within its time
    budget. Their steps keep their own names, checks and per-layer
    metrics; ``udf.rel_bytes_sent`` keeps the relational share of the
    Python/Arrow traffic apart."""
    name = 'relational_curation'

    def __init__(self, tiny: bool):
        self.parts = (Relational(tiny), Curation(tiny))

    def generate(self, rng, work: str) -> dict:
        sizes = [p.generate(rng, work) for p in self.parts]
        return {k: sum(z[k] for z in sizes) for k in ('rows', 'bytes')}

    def expect(self, api) -> None:
        for p in self.parts:
            p.expect(api)

    def steps(self, spark, api, tracer, out):
        return [st for p in self.parts for st in p.steps(spark, api, tracer, out)]

    def check(self, step, result) -> str | None:
        return self.parts[step.startswith('cur.')].check(step, result)

    def per_layer(self, walls, results) -> dict:
        return {k: v for p in self.parts for k, v in p.per_layer(walls, results).items()}

    def layer_checks(self, per: dict) -> list[str]:
        return (self.parts[0].layer_checks({'udf.bytes_sent': per['udf.rel_bytes_sent']})
                + self.parts[1].layer_checks(per))


WORKLOADS = {w.name: w for w in (GeoDemand, RelationalCuration, Relational, Curation)}


def clean_pass(spark, out: str) -> None:
    """Between passes, outside the timed window: drop cached and
    checkpointed blocks and delete the pass's outputs, streaming
    checkpoint, state and output directories."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()
    shutil.rmtree(out, ignore_errors=True)

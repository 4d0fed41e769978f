"""Vectorized geo functions for Spark DataFrames.

Every function here is an Arrow-batched pandas UDF over the pure-Python
kernel in ``erde_spark.geo`` — the sanctioned slow path for semantics Spark
lacks (geometry). Relational work stays JVM-side; only the per-geometry
math crosses into Python, one Arrow batch at a time.

Geometry columns are WKB ``BinaryType``. WKT exists only at IO edges,
mirroring the reference (WKT in CSV, WKB toward PostGIS —
`/root/reference/erde/io/csv.py:59`, `/root/reference/erde/io/postgres.py:34`).
"""

from __future__ import annotations

import itertools
import math
import struct

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from erde_spark.geo import geom as G
from erde_spark.geo import ops as O

_BOUNDS_T = T.StructType([
    T.StructField('minx', T.DoubleType()), T.StructField('miny', T.DoubleType()),
    T.StructField('maxx', T.DoubleType()), T.StructField('maxy', T.DoubleType()),
])
_XY_T = T.StructType([T.StructField('x', T.DoubleType()), T.StructField('y', T.DoubleType())])


def _wkb_map(series: pd.Series, fn, default=None):
    """Apply ``fn`` per parsed geometry, memoizing per Arrow batch: join
    fan-out repeats the small side's geometries thousands of times (e.g.
    every point paired with the same 25 region polygons), so the parse +
    compute runs once per DISTINCT value instead of once per row."""
    cache = {}
    out = []
    for v in series:
        if v is None:
            out.append(default)
            continue
        b = bytes(v)
        if b in cache:
            out.append(cache[b])
        else:
            cache[b] = r = fn(G.wkb_loads(b))
            out.append(r)
    return out


def _wkb_point_fast(b: bytes):
    """('Point', (x, y)) without the generic parser when the buffer is a
    plain 2D WKB point (21 bytes: endian + type + 2 doubles), else None."""
    if len(b) == 21 and (b[1:5] == b'\x01\x00\x00\x00'
                         or b[1:5] == b'\x00\x00\x00\x01'):
        return ('Point', struct.unpack_from('<2d' if b[0] == 1 else '>2d', b, 5))
    return None


@F.pandas_udf(T.BinaryType())
def st_geomfromtext(wkt: pd.Series) -> pd.Series:
    """WKT -> WKB; null on null. Raises on malformed WKT."""
    return pd.Series([None if v is None else G.wkb_dumps(G.wkt_loads(v)) for v in wkt])


@F.pandas_udf(T.BinaryType())
def st_try_geomfromtext(wkt: pd.Series) -> pd.Series:
    """WKT -> WKB; null on null OR parse failure (reference tolerates broken
    WKT during autodetect, `/root/reference/erde/io/__init__.py:17-24`)."""
    out = []
    for v in wkt:
        if v is None:
            out.append(None)
        else:
            try:
                out.append(G.wkb_dumps(G.wkt_loads(v)))
            except Exception:
                out.append(None)
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def st_astext(wkb: pd.Series) -> pd.Series:
    return pd.Series(_wkb_map(wkb, G.wkt_dumps))


@F.pandas_udf(T.BinaryType())
def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series([
        None if (a is None or b is None or (isinstance(a, float) and math.isnan(a)))
        else G.wkb_dumps(('Point', (float(a), float(b))))
        for a, b in zip(x, y)])


def _measure_udf(measure, type_suffix):
    def factory(col, nullify_irrelevant: bool = False):
        @F.pandas_udf(T.DoubleType())
        def _m(wkb: pd.Series) -> pd.Series:
            out = []
            for v in wkb:
                if v is None:
                    out.append(None)
                    continue
                g = G.wkb_loads(bytes(v))
                if nullify_irrelevant and not O.geom_type_of(g).endswith(type_suffix):
                    out.append(float('nan'))
                else:
                    out.append(measure(g))
            return pd.Series(out, dtype='float64')
        return _m(col)
    return factory


st_area = _measure_udf(O.geom_area, 'Polygon')
st_length = _measure_udf(O.geom_length, 'LineString')


@F.pandas_udf(T.StringType())
def st_geometrytype(wkb: pd.Series) -> pd.Series:
    return pd.Series(_wkb_map(wkb, O.geom_type_of))


@F.pandas_udf(_BOUNDS_T)
def st_bounds(wkb: pd.Series) -> pd.DataFrame:
    cache = {}
    rows = []
    for v in wkb:
        if v is None:
            rows.append((None,) * 4)
            continue
        b = bytes(v)
        pt = _wkb_point_fast(b)
        if pt is not None:
            x, y = pt[1]
            rows.append((x, y, x, y))
        elif b in cache:
            rows.append(cache[b])
        else:
            cache[b] = r = O.geom_bounds(G.wkb_loads(b))
            rows.append(r)
    return pd.DataFrame(rows, columns=['minx', 'miny', 'maxx', 'maxy'])


@F.pandas_udf(_XY_T)
def st_centroid_xy(wkb: pd.Series) -> pd.DataFrame:
    rows = _wkb_map(wkb, O.geom_centroid, default=(None, None))
    return pd.DataFrame(rows, columns=['x', 'y'])


@F.pandas_udf(T.BinaryType())
def st_centroid(wkb: pd.Series) -> pd.Series:
    return pd.Series(_wkb_map(wkb, lambda g: G.wkb_dumps(('Point', O.geom_centroid(g)))))


def st_transform(col, from_crs, to_crs):
    """Column reprojection between any two supported CRS (EPSG ints or
    projection parameter dicts). The transform is resolved on the
    DRIVER and captured in the UDF closure, so CRS registered at
    runtime via ``erde_spark.geo.ops.register_crs`` (or passed as
    dicts) work on executors that never saw the registration."""
    tf = O.resolve_transform(from_crs, to_crs)
    if tf is None:
        return col

    @F.pandas_udf(T.BinaryType())
    def _tf(wkb: pd.Series) -> pd.Series:
        return pd.Series(_wkb_map(wkb, lambda g: G.wkb_dumps(tf(g))))
    return _tf(col)


def st_coslat(col, crs: int = 4326):
    """cos(latitude of centroid) correction factor column."""
    @F.pandas_udf(T.DoubleType())
    def _cl(wkb: pd.Series) -> pd.Series:
        return pd.Series(_wkb_map(wkb, lambda g: O.coslat_factor(g, crs)), dtype='float64')
    return _cl(col)


def st_buffer(col, radius, crs: int = 4326, resolution: int = 16):
    """Metric buffer, reference formula (`/root/reference/erde/op/buffer.py:44`):
    to 3857, buffer by ``radius / cos(lat)``, back to source CRS.
    ``radius`` may be a scalar (metres) or a Column for per-row radii.

    A scalar radius is closed over, so ``_buf`` takes the geometry alone:
    Spark chains only single-argument pandas UDFs into one Arrow node, and
    a literal radius column would split ``_buf`` from the UDF that
    produced its geometry (e.g. ``st_try_geomfromtext`` at a CSV edge)."""
    # resolve on the driver: runtime-registered / dict CRS are not
    # visible to a worker-side int lookup
    fwd = O.resolve_transform(crs, 3857)
    back = O.resolve_transform(3857, crs)

    def kernel(wkb, rad):
        out = []
        for v, r in zip(wkb, rad):
            if v is None or r is None:
                out.append(None)
                continue
            g = G.wkb_loads(bytes(v))
            g3857 = fwd(g) if fwd else g
            c = O.coslat_factor(g3857, 3857)
            buf = O.buffer_geom(g3857, float(r) / c, resolution)
            if back:
                buf = back(buf)
            out.append(G.wkb_dumps(buf))
        return pd.Series(out)

    if hasattr(radius, '_jc'):
        @F.pandas_udf(T.BinaryType())
        def _buf(wkb: pd.Series, rad: pd.Series) -> pd.Series:
            return kernel(wkb, rad)
        return _buf(col, radius)

    r = float(radius)

    @F.pandas_udf(T.BinaryType())
    def _buf(wkb: pd.Series) -> pd.Series:
        return kernel(wkb, itertools.repeat(r))
    return _buf(col)


def st_metric_area(col, crs: int = 4326, nullify_irrelevant: bool = False):
    """Planar 3857 area × cos²(lat) (`/root/reference/erde/op/area.py:44`)."""
    fwd = O.resolve_transform(crs, 3857)

    @F.pandas_udf(T.DoubleType())
    def _ar(wkb: pd.Series) -> pd.Series:
        out = []
        for v in wkb:
            if v is None:
                out.append(None)
                continue
            g = G.wkb_loads(bytes(v))
            if nullify_irrelevant and not O.geom_type_of(g).endswith('Polygon'):
                out.append(float('nan'))
                continue
            g3857 = fwd(g) if fwd else g
            c = O.coslat_factor(g3857, 3857)
            out.append(O.geom_area(g3857) * c * c)
        return pd.Series(out, dtype='float64')
    return _ar(col)


def st_metric_length(col, crs: int = 4326, nullify_irrelevant: bool = False):
    """Planar 3857 length × cos(lat) (`/root/reference/erde/op/length.py:44`)."""
    fwd = O.resolve_transform(crs, 3857)

    @F.pandas_udf(T.DoubleType())
    def _ln(wkb: pd.Series) -> pd.Series:
        out = []
        for v in wkb:
            if v is None:
                out.append(None)
                continue
            g = G.wkb_loads(bytes(v))
            if nullify_irrelevant and not O.geom_type_of(g).endswith('LineString'):
                out.append(float('nan'))
                continue
            g3857 = fwd(g) if fwd else g
            c = O.coslat_factor(g3857, 3857)
            out.append(O.geom_length(g3857) * c)
        return pd.Series(out, dtype='float64')
    return _ln(col)


@F.pandas_udf(T.BinaryType())
def st_linestring_between(wkb1: pd.Series, wkb2: pd.Series) -> pd.Series:
    """2-point LineString between two point columns
    (reference `erde/utils.py:26-50`)."""
    out = []
    for a, b in zip(wkb1, wkb2):
        if a is None or b is None:
            out.append(None)
            continue
        ga, gb = G.wkb_loads(bytes(a)), G.wkb_loads(bytes(b))
        if ga[0] != 'Point' or gb[0] != 'Point':
            raise ValueError('st_linestring_between expects Point geometries')
        out.append(G.wkb_dumps(('LineString', [ga[1], gb[1]])))
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_envelope(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    """Axis-aligned rectangle Polygon from bounds columns (CCW shell)."""
    out = []
    for x0, y0, x1, y1 in zip(xmin, ymin, xmax, ymax):
        if x0 is None or y0 is None or x1 is None or y1 is None:
            out.append(None)
            continue
        x0, y0, x1, y1 = float(x0), float(y0), float(x1), float(y1)
        ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        out.append(G.wkb_dumps(('Polygon', [ring])))
    return pd.Series(out)


def st_predicate(left_col, right_col, op: str = 'intersects'):
    """Exact spatial predicate column (used as the refine step of the
    grid spatial join)."""
    pred = O.PREDICATES[op]

    @F.pandas_udf(T.BooleanType())
    def _pr(a: pd.Series, b: pd.Series) -> pd.Series:
        # parse memoized per batch: the refine step sees each small-side
        # geometry once per candidate pair, not once overall
        cache = {}

        def load(v):
            k = bytes(v)
            g = cache.get(k)
            if g is None:
                g = _wkb_point_fast(k) or G.wkb_loads(k)
                cache[k] = g
            return g

        out = []
        for va, vb in zip(a, b):
            if va is None or vb is None:
                out.append(False)
            else:
                out.append(bool(pred(load(va), load(vb))))
        return pd.Series(out, dtype='bool')
    return _pr(left_col, right_col)


@F.pandas_udf(T.DoubleType())
def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """Planar minimum distance in CRS units (0 when intersecting); WKB
    parses memoized per Arrow batch like st_predicate."""
    cache = {}

    def load(v):
        k = bytes(v)
        g = cache.get(k)
        if g is None:
            g = _wkb_point_fast(k) or G.wkb_loads(k)
            cache[k] = g
        return g

    out = []
    for va, vb in zip(a, b):
        if va is None or vb is None:
            out.append(None)
        else:
            out.append(O.geom_distance(load(va), load(vb)))
    return pd.Series(out, dtype='float64')


LONLAT_PAIRS = [('lon', 'lat'), ('lng', 'lat'), ('long', 'lat'),
                ('longitude', 'latitude'), ('x', 'y'), ('X', 'Y')]


def lonlat_to_geometry(df, crs: int = 4326):
    """Detect a lon/lat column pair (6 name variants, reference
    `erde/utils.py:82-101`) and add a point ``geometry`` column."""
    for lon, lat in LONLAT_PAIRS:
        if lon in df.columns and lat in df.columns:
            return df.withColumn('geometry', st_point(F.col(lon), F.col(lat)))
    raise ValueError('Could not find lon/lat columns. Possible combinations: '
                     'lon/lat, lng/lat, long/lat, longitude/latitude, x/y, X/Y')

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


def _point(b: bytes):
    """A plain 2D point (21 bytes: endian + type + 2 doubles) parsed without
    the generic parser; None for any other WKB."""
    if len(b) == 21 and (b[1:5] == b'\x01\x00\x00\x00'
                         or b[1:5] == b'\x00\x00\x00\x01'):
        return ('Point', struct.unpack_from('<2d' if b[0] == 1 else '>2d', b, 5))
    return None


def _load(b: bytes):
    """Parsed WKB, points through ``_point``."""
    return _point(b) or G.wkb_loads(b)


def _map(series: pd.Series, fn, default=None) -> list:
    """``fn`` per parsed geometry of one Arrow batch, ``default`` for null,
    memoized per batch: join fan-out repeats the small side's geometries
    thousands of times (e.g. every point paired with the same 25 region
    polygons), so the parse + compute runs once per DISTINCT value instead
    of once per row. A plain point skips the memo: its parse costs less
    than the lookup and insert."""
    cache = {}
    out = []
    for v in series:
        if v is None:
            out.append(default)
            continue
        b = bytes(v)
        g = _point(b)
        if g is not None:
            out.append(fn(g))
            continue
        r = cache.get(b, cache)
        if r is cache:
            cache[b] = r = fn(G.wkb_loads(b))
        out.append(r)
    return out


def _map2(a: pd.Series, b: pd.Series, fn, default=None) -> list:
    """``fn`` per pair of parsed geometries, ``default`` when either is
    null. Each side's parse is memoized per batch: a refine step sees each
    small-side geometry once per candidate pair, not once overall."""
    cache = {}

    def load(v):
        k = bytes(v)
        g = cache.get(k)
        if g is None:
            cache[k] = g = _load(k)
        return g
    return [default if va is None or vb is None else fn(load(va), load(vb))
            for va, vb in zip(a, b)]


@F.pandas_udf(T.BinaryType())
def st_geomfromtext(wkt: pd.Series) -> pd.Series:
    """WKT -> WKB; null on null. Raises on malformed WKT."""
    return pd.Series([None if v is None else G.wkb_dumps(G.wkt_loads(v)) for v in wkt])


def _try_wkb(wkt: str):
    try:
        return G.wkb_dumps(G.wkt_loads(wkt))
    except Exception:
        return None


@F.pandas_udf(T.BinaryType())
def st_try_geomfromtext(wkt: pd.Series) -> pd.Series:
    """WKT -> WKB; null on null OR parse failure (the reference tolerates
    broken WKT during autodetect, `erde/io/__init__.py:17-24`)."""
    return pd.Series([None if v is None else _try_wkb(v) for v in wkt])


@F.pandas_udf(T.StringType())
def st_astext(wkb: pd.Series) -> pd.Series:
    return pd.Series(_map(wkb, G.wkt_dumps))


@F.pandas_udf(T.BinaryType())
def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series([
        None if (a is None or b is None or (isinstance(a, float) and math.isnan(a)))
        else G.wkb_dumps(('Point', (float(a), float(b))))
        for a, b in zip(x, y)])


def _measure(measure, scale, type_suffix):
    """UDF factory for one measure: in CRS units when ``crs`` is None, else
    planar 3857 ``measure`` scaled by ``scale(value, cos(lat))`` (reference
    `erde/op/area.py:44`, `erde/op/length.py:44`). ``nullify`` gives NaN
    for geometries whose type does not end with ``type_suffix``."""
    def udf(crs=None, nullify: bool = False):
        fwd = None if crs is None else O.resolve_transform(crs, 3857)

        def m(g):
            if nullify and not O.geom_type_of(g).endswith(type_suffix):
                return float('nan')
            if crs is None:
                return measure(g)
            g3857 = fwd(g) if fwd else g
            return scale(measure(g3857), O.coslat_factor(g3857, 3857))

        @F.pandas_udf(T.DoubleType())
        def _m(wkb: pd.Series) -> pd.Series:
            return pd.Series(_map(wkb, m), dtype='float64')
        return _m
    return udf


_area = _measure(O.geom_area, lambda v, c: v * c * c, 'Polygon')
_length = _measure(O.geom_length, lambda v, c: v * c, 'LineString')


def st_area(col, nullify_irrelevant: bool = False):
    return _area(nullify=nullify_irrelevant)(col)


def st_length(col, nullify_irrelevant: bool = False):
    return _length(nullify=nullify_irrelevant)(col)


def st_metric_area(col, crs: int = 4326, nullify_irrelevant: bool = False):
    """Planar 3857 area × cos²(lat) (reference `erde/op/area.py:44`)."""
    return _area(crs, nullify_irrelevant)(col)


def st_metric_length(col, crs: int = 4326, nullify_irrelevant: bool = False):
    """Planar 3857 length × cos(lat) (reference `erde/op/length.py:44`)."""
    return _length(crs, nullify_irrelevant)(col)


@F.pandas_udf(T.StringType())
def st_geometrytype(wkb: pd.Series) -> pd.Series:
    return pd.Series(_map(wkb, O.geom_type_of))


@F.pandas_udf(_BOUNDS_T)
def st_bounds(wkb: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(_map(wkb, O.geom_bounds, (None,) * 4),
                        columns=['minx', 'miny', 'maxx', 'maxy'])


@F.pandas_udf(_XY_T)
def st_centroid_xy(wkb: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(_map(wkb, O.geom_centroid, (None, None)), columns=['x', 'y'])


@F.pandas_udf(T.BinaryType())
def st_centroid(wkb: pd.Series) -> pd.Series:
    return pd.Series(_map(wkb, lambda g: G.wkb_dumps(('Point', O.geom_centroid(g)))))


def _coord(i: int):
    """Coordinate ``i`` of a Point column (the SQL ``st_x``/``st_y``)."""
    @F.pandas_udf(T.DoubleType())
    def _xy(wkb: pd.Series) -> pd.Series:
        return pd.Series(_map(wkb, lambda g: float(g[1][i])), dtype='float64')
    return _xy


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
        return pd.Series(_map(wkb, lambda g: G.wkb_dumps(tf(g))))
    return _tf(col)


def st_coslat(col, crs: int = 4326):
    """cos(latitude of centroid) correction factor column."""
    @F.pandas_udf(T.DoubleType())
    def _cl(wkb: pd.Series) -> pd.Series:
        return pd.Series(_map(wkb, lambda g: O.coslat_factor(g, crs)), dtype='float64')
    return _cl(col)


def _buffer_udf(crs, resolution: int, radius: float | None = None):
    """``_buf``, the metric buffer (reference `erde/op/buffer.py:44`): to
    3857, buffer by ``radius / cos(lat)``, back to ``crs``. ``radius``
    metres is closed over; ``None`` takes per-row radii as a second
    argument. Both transforms resolve on the driver: runtime-registered
    and dict CRS are not visible to a worker-side int lookup."""
    fwd = O.resolve_transform(crs, 3857)
    back = O.resolve_transform(3857, crs)

    def buf(g, r):
        g3857 = fwd(g) if fwd else g
        b = O.buffer_geom(g3857, float(r) / O.coslat_factor(g3857, 3857), resolution)
        return G.wkb_dumps(back(b) if back else b)

    if radius is None:
        @F.pandas_udf(T.BinaryType())
        def _buf(wkb: pd.Series, rad: pd.Series) -> pd.Series:
            # a null double radius arrives as NaN
            return pd.Series([None if v is None or pd.isna(r) else buf(_load(bytes(v)), r)
                              for v, r in zip(wkb, rad)])
        return _buf

    @F.pandas_udf(T.BinaryType())
    def _buf(wkb: pd.Series) -> pd.Series:
        return pd.Series(_map(wkb, lambda g: buf(g, radius)))
    return _buf


def st_buffer(col, radius, crs: int = 4326, resolution: int = 16):
    """Metric buffer; ``radius`` may be a scalar (metres) or a Column for
    per-row radii.

    A scalar radius is closed over, so ``_buf`` takes the geometry alone:
    Spark chains only single-argument pandas UDFs into one Arrow node, and
    a literal radius column would split ``_buf`` from the UDF that
    produced its geometry (e.g. ``st_try_geomfromtext`` at a CSV edge)."""
    if hasattr(radius, '_jc'):
        return _buffer_udf(crs, resolution)(col, radius)
    return _buffer_udf(crs, resolution, float(radius))(col)


def _line(ga, gb):
    if ga[0] != 'Point' or gb[0] != 'Point':
        raise ValueError('st_linestring_between expects Point geometries')
    return G.wkb_dumps(('LineString', [ga[1], gb[1]]))


@F.pandas_udf(T.BinaryType())
def st_linestring_between(wkb1: pd.Series, wkb2: pd.Series) -> pd.Series:
    """2-point LineString between two point columns
    (reference `erde/utils.py:26-50`)."""
    return pd.Series(_map2(wkb1, wkb2, _line))


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


def _predicate_udf(op: str):
    pred = O.PREDICATES[op]

    @F.pandas_udf(T.BooleanType())
    def _pr(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(_map2(a, b, lambda ga, gb: bool(pred(ga, gb)), False), dtype='bool')
    return _pr


def st_predicate(left_col, right_col, op: str = 'intersects'):
    """Exact spatial predicate column (used as the refine step of the
    grid spatial join)."""
    return _predicate_udf(op)(left_col, right_col)


@F.pandas_udf(T.DoubleType())
def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """Planar minimum distance in CRS units (0 when intersecting)."""
    return pd.Series(_map2(a, b, O.geom_distance), dtype='float64')


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

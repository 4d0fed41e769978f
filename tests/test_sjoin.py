"""Spatial join family tests.

Scenario ports the reference's fixture semantics
(`/root/reference/tests/sjoin/test_sjoin.py:18-72`): 9 points ('A'..'I',
number = 2^i) × 4 polygons ('X','Y','Z','W'), with ≥2 points outside all
polygons and one polygon containing no points; overlapping polygons included.
"""

import pytest
from pyspark.sql import functions as F

from erde_spark.functions.geo import st_geomfromtext
from erde_spark.geo.crs import set_crs
from erde_spark.operators.sjoin import sagg, sfilter, sjfull, sjoin, slookup

# polygons: X = [0,4]x[0,4], Y = [3,7]x[0,4] (overlaps X), Z = [10,14]x[10,14],
# W = [20,24]x[20,24] (empty)
POLYS = [
    ('X', 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'),
    ('Y', 'POLYGON ((3 0, 7 0, 7 4, 3 4, 3 0))'),
    ('Z', 'POLYGON ((10 10, 14 10, 14 14, 10 14, 10 10))'),
    ('W', 'POLYGON ((20 20, 24 20, 24 24, 20 24, 20 20))'),
]
# points: A,B in X; C in X∩Y; D in Y; E in Z; F,G outside all; H on X boundary; I in Y
POINTS = [
    ('A', 1, 'POINT (1 1)'),
    ('B', 2, 'POINT (2 3)'),
    ('C', 4, 'POINT (3.5 2)'),
    ('D', 8, 'POINT (6 1)'),
    ('E', 16, 'POINT (12 12)'),
    ('F', 32, 'POINT (50 50)'),
    ('G', 64, 'POINT (-5 -5)'),
    ('H', 128, 'POINT (0 2)'),
    ('I', 256, 'POINT (5 3)'),
]


@pytest.fixture(scope='module')
def pts(spark):
    df = spark.createDataFrame(POINTS, 'name string, number int, wkt string')
    df = df.withColumn('geometry', st_geomfromtext('wkt')).drop('wkt')
    return set_crs(df, 3857)


@pytest.fixture(scope='module')
def polys(spark):
    df = spark.createDataFrame(POLYS, 'pname string, wkt string')
    df = df.withColumn('geometry', st_geomfromtext('wkt')).drop('wkt')
    return set_crs(df, 3857)


def test_sjoin_inner_intersects(pts, polys):
    got = sorted((r['name'], r['pname']) for r in sjoin(pts, polys).collect())
    assert got == [('A', 'X'), ('B', 'X'), ('C', 'X'), ('C', 'Y'), ('D', 'Y'),
                   ('E', 'Z'), ('H', 'X'), ('I', 'Y')]


def test_sjoin_within_excludes_boundary(pts, polys):
    got = sorted((r['name'], r['pname']) for r in sjoin(pts, polys, op='within').collect())
    assert ('H', 'X') not in got
    assert ('A', 'X') in got


def test_sjoin_left(pts, polys):
    got = sjoin(pts, polys, how='left').collect()
    by_name = {}
    for r in got:
        by_name.setdefault(r['name'], []).append(r['pname'])
    assert by_name['F'] == [None] and by_name['G'] == [None]
    assert sorted(by_name['C']) == ['X', 'Y']


def test_sjoin_right(pts, polys):
    got = sjoin(pts, polys, how='right').collect()
    wnames = [r['name'] for r in got if r['pname'] == 'W']
    assert wnames == [None]


def test_sjfull_keeps_both_geometries(pts, polys):
    got = sjfull(pts, polys)
    assert 'geometry' in got.columns and 'geometry_right' in got.columns
    row = got.filter(F.col('name') == 'A').first()
    assert row['geometry'] is not None and row['geometry_right'] is not None


def test_sagg_sum(pts, polys):
    got = {r['pname']: r['number'] for r in
           sagg(polys, pts, {'number': 'sum'}, op='contains').collect()}
    # contains excludes boundary (GEOS semantics): H on X's edge is NOT contained.
    # X: A(1)+B(2)+C(4)=7; Y: C(4)+D(8)+I(256)=268; Z: 16; W: no matches
    assert got == {'X': 7, 'Y': 268, 'Z': 16, 'W': None}


def test_sagg_inner_drops_empty(pts, polys):
    got = {r['pname'] for r in
           sagg(polys, pts, {'number': 'sum'}, op='contains', join='inner').collect()}
    assert got == {'X', 'Y', 'Z'}


def test_sagg_validation(pts, polys):
    with pytest.raises(TypeError):
        sagg(polys, pts, 'number')
    with pytest.raises(ValueError):
        sagg(polys, pts, {})


def test_slookup_first_match(pts, polys):
    got = {r['name']: r['pname'] for r in slookup(pts, polys, 'pname').collect()}
    assert got['A'] == 'X' and got['D'] == 'Y' and got['E'] == 'Z'
    assert got['F'] is None and got['G'] is None
    assert got['C'] in ('X', 'Y')  # overlapping polys: deterministic pick


def test_slookup_deterministic(pts, polys):
    a = {r['name']: r['pname'] for r in slookup(pts, polys, 'pname').collect()}
    b = {r['name']: r['pname'] for r in slookup(pts, polys, 'pname').collect()}
    assert a == b


def test_sfilter(pts, polys):
    got = sorted(r['name'] for r in sfilter(pts, polys).collect())
    assert got == ['A', 'B', 'C', 'D', 'E', 'H', 'I']


def test_sfilter_negative(pts, polys):
    got = sorted(r['name'] for r in sfilter(pts, polys, negative=True).collect())
    assert got == ['F', 'G']


def test_sfilter_no_duplicates_from_overlap(pts, polys):
    # C intersects both X and Y but must appear once
    got = [r['name'] for r in sfilter(pts, polys).collect()]
    assert len(got) == len(set(got))


def test_cell_size_invariance(pts, polys):
    base = sorted((r['name'], r['pname']) for r in sjoin(pts, polys).collect())
    for cs in (0.5, 3.0, 100.0):
        got = sorted((r['name'], r['pname'])
                     for r in sjoin(pts, polys, cell_size=cs).collect())
        assert got == base, f'cell_size={cs} changed the result'


def test_sjoin_polygon_polygon(polys, spark):
    big = spark.createDataFrame([('BIG', 'POLYGON ((-1 -1, 8 -1, 8 5, -1 5, -1 -1))')],
                                'bname string, wkt string')
    big = set_crs(big.withColumn('geometry', st_geomfromtext('wkt')).drop('wkt'), 3857)
    got = sorted(r['pname'] for r in sjoin(polys, big, op='within').collect())
    assert got == ['X', 'Y']


def test_oversized_geometry_sentinel_path(pts, polys):
    """cell_size tiny enough that every polygon bbox covers far more than
    MAX_CELLS_PER_GEOM cells -> all polygons ride the sentinel path. Results
    must be identical to the default grid path, with no duplicate pairs."""
    got = [(r['name'], r['pname'])
           for r in sjoin(pts, polys, cell_size=0.01).collect()]
    assert sorted(got) == [('A', 'X'), ('B', 'X'), ('C', 'X'), ('C', 'Y'),
                           ('D', 'Y'), ('E', 'Z'), ('H', 'X'), ('I', 'Y')]
    assert len(got) == len(set(got))


def test_oversized_both_sides(polys):
    """large x large: overlapping polygons X/Y must pair exactly once when
    both sides are oversized for the grid."""
    got = [(r['pname'], r['pname_right'])
           for r in sjfull(polys, polys, cell_size=0.01).collect()]
    assert len(got) == len(set(got))
    assert ('X', 'Y') in got and ('Y', 'X') in got and ('X', 'X') in got
    assert ('X', 'Z') not in got


def test_explode_cells_maps_indices_to_cells(spark, monkeypatch):
    """The index-range explode emits, per row, its covering cells plus the
    other side's salted sentinel (small bbox), every salt of its own
    sentinel (oversized bbox; a right row also keeps the other side's
    salt), or nothing (null bbox)."""
    from erde_spark.operators import sjoin as sj
    monkeypatch.setattr(sj, 'MAX_CELLS_PER_GEOM', 4)
    df = spark.createDataFrame(
        [(0, 0.5, 2.2, 1.5, 2.8), (1, -1.5, -0.5, -0.5, 1.5), (2, None, None, None, None)],
        'id long, p_minx double, p_miny double, p_maxx double, p_maxy double')
    small = {(0, 2), (1, 2)}
    for own, other, big_meets_other in ((sj._SENT_L, sj._SENT_R, False),
                                        (sj._SENT_R, sj._SENT_L, True)):
        got = {}
        for r in sj._explode_cells(df, 'p_', 1.0, own, other, F.lit(7),
                                   big_meets_other).collect():
            got.setdefault(r['id'], []).append((r['__cx'], r['__cy']))
        assert sorted(got[0]) == sorted(small | {(other, 7)})
        big = [(own, s) for s in range(sj.SENTINEL_SALTS)]
        assert sorted(got[1]) == sorted(big + [(other, 7)] * big_meets_other)
        assert 2 not in got


# ---------------------------------------------------------------- snearest

def _pt_df(spark, rows):
    from erde_spark.geo import geom as G
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField('geometry', T.BinaryType()),
                           T.StructField('name', T.StringType())])
    return spark.createDataFrame(
        [(G.wkb_dumps(('Point', (float(x), float(y)))), n) for x, y, n in rows], schema)


def test_snearest_picks_closest(spark):
    from erde_spark.operators.sjoin import snearest
    pts = _pt_df(spark, [(0, 0, 'a'), (50, 50, 'b')])
    sites = _pt_df(spark, [(3, 4, 's_far'), (0, 1, 's_near'), (51, 50, 's_b')])
    got = {r['name']: (r['name_right'], r['distance'])
           for r in snearest(pts, sites, max_distance=10.0).collect()}
    assert got == {'a': ('s_near', 1.0), 'b': ('s_b', 1.0)}


def test_snearest_left_keeps_unmatched(spark):
    from erde_spark.operators.sjoin import snearest
    pts = _pt_df(spark, [(0, 0, 'a'), (500, 500, 'far')])
    sites = _pt_df(spark, [(0, 2, 's')])
    got = {r['name']: r['name_right']
           for r in snearest(pts, sites, max_distance=5.0, how='left').collect()}
    assert got == {'a': 's', 'far': None}
    inner = snearest(pts, sites, max_distance=5.0, how='inner')
    assert inner.count() == 1


def test_snearest_respects_max_distance(spark):
    from erde_spark.operators.sjoin import snearest
    pts = _pt_df(spark, [(0, 0, 'a')])
    sites = _pt_df(spark, [(0, 7, 's')])
    assert snearest(pts, sites, max_distance=5.0).count() == 0
    assert snearest(pts, sites, max_distance=8.0).count() == 1


def test_snearest_tie_breaks_by_payload(spark):
    from erde_spark.operators.sjoin import snearest
    pts = _pt_df(spark, [(0, 0, 'a')])
    # two sites exactly 5 away -> lexicographically smaller name wins
    # (tie-break = right row content; geometry binary compares first only
    # if earlier columns tie, so order sites columns accordingly)
    sites = _pt_df(spark, [(3, 4, 'zz'), (4, 3, 'aa')])
    row = snearest(pts, sites.select('name', 'geometry'),
                   max_distance=6.0).first()
    assert row['name_right'] == 'aa' and row['distance'] == 5.0


def test_snearest_cross_cell_match(spark):
    """The nearest site lives in a diagonal neighbor cell (distance just
    under max_distance) — the dilated-bbox covering must find it."""
    from erde_spark.operators.sjoin import snearest
    pts = _pt_df(spark, [(9.9, 9.9, 'a')])
    sites = _pt_df(spark, [(10.1, 10.1, 's')])
    row = snearest(pts, sites, max_distance=1.0).first()
    assert row['name_right'] == 's'
    assert row['distance'] == pytest.approx(2 ** 0.5 * 0.2, rel=1e-9)


def test_geom_distance_kernel():
    from erde_spark.geo.ops import geom_distance
    poly = ('Polygon', [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]])
    assert geom_distance(('Point', (5, 5)), poly) == 0.0
    assert geom_distance(('Point', (13, 14)), poly) == 5.0
    assert geom_distance(('LineString', [(0, 0), (10, 0)]),
                         ('LineString', [(0, 3), (10, 3)])) == 3.0
    assert geom_distance(('LineString', [(0, 0), (10, 10)]),
                         ('LineString', [(0, 10), (10, 0)])) == 0.0


def test_snearest_k_neighbors(spark):
    from erde_spark.operators.sjoin import snearest
    pts = _pt_df(spark, [(0, 0, 'a')])
    sites = _pt_df(spark, [(1, 0, 's1'), (2, 0, 's2'), (3, 0, 's3'), (40, 0, 'sfar')])
    rows = snearest(pts, sites, max_distance=10.0, k=2).collect()
    got = sorted((r['name_right'], r['distance']) for r in rows)
    assert got == [('s1', 1.0), ('s2', 2.0)]
    # k larger than the match count returns what exists
    assert snearest(pts, sites, max_distance=10.0, k=5).count() == 3


def test_estimate_cell_size_unbiased_on_sorted_input(spark):
    """Cell sizing must draw uniformly, not take whole leading
    partitions: on a corpus partition-correlated by geometry size (tiny
    boxes first, 1-degree boxes later) a bare limit() sample would see
    only the tiny stratum and mis-grid the join by ~500x."""
    from pyspark.sql import functions as F

    from erde_spark.operators.sjoin import _estimate_cell_size
    df = spark.range(0, 8000, 1, 2)  # ids 0-3999 land in partition 0
    w = F.when(F.col('id') < 4000, F.lit(0.001)).otherwise(F.lit(1.0))
    lb = df.select(F.lit(0.0).alias('__l_minx'), F.lit(0.0).alias('__l_miny'),
                   w.alias('__l_maxx'), w.alias('__l_maxy'))
    rb = spark.range(0, 10).select(
        F.lit(0.0).alias('__r_minx'), F.lit(0.0).alias('__r_miny'),
        F.lit(0.0).alias('__r_maxx'), F.lit(0.0).alias('__r_maxy'))
    cell = _estimate_cell_size(lb, rb)
    # uniform draw: mean extent ~0.5 -> cell ~1.0; stratum-biased would
    # be ~0.002
    assert 0.6 < cell < 1.6, cell


def _jobs_during(spark, fn):
    """Spark jobs launched while ``fn`` runs (it builds a plan, so only
    eager work, such as cell sizing, shows up)."""
    import uuid
    sc, group = spark.sparkContext, f'call-{uuid.uuid4().hex}'
    sc.setJobGroup(group, 'jobs launched at call time')
    try:
        fn()
    finally:
        sc.setLocalProperty('spark.jobGroup.id', None)
        sc.setLocalProperty('spark.job.description', None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize('how', ['left', 'right'])
def test_sjoin_outer_sizes_grid_once(spark, pts, polys, monkeypatch, how):
    """sjoin(how='left'|'right') on the grid path with cell_size=None
    builds ONE candidate plan, so its eager cell sizing runs once: one
    sampling job at call time, not a second one for a discarded inner
    plan."""
    from erde_spark.operators import sjoin as sj
    monkeypatch.setattr(sj, 'BROADCAST_SIDE_BYTES', -1)   # force the grid
    n_inner = _jobs_during(spark, lambda: sj.sjoin(pts, polys))
    n_outer = _jobs_during(spark, lambda: sj.sjoin(pts, polys, how=how))
    assert n_inner == n_outer == 1, (n_inner, n_outer)
    got = sorted((r['name'], r['pname']) for r in sj.sjoin(pts, polys, how=how).collect()
                 if r['name'] is not None and r['pname'] is not None)
    assert got == [('A', 'X'), ('B', 'X'), ('C', 'X'), ('C', 'Y'), ('D', 'Y'),
                   ('E', 'Z'), ('H', 'X'), ('I', 'Y')]


def test_snearest_grid_matches_broadcast(spark, monkeypatch):
    """The grid path (right side too large to broadcast) returns what the
    broadcast path returns, k=1 and k=2, inner and left."""
    from erde_spark.operators import sjoin as sj
    pts = _pt_df(spark, [(0, 0, 'a'), (9.9, 9.9, 'b'), (500, 500, 'far'), (5, 5, 'c')])
    sites = _pt_df(spark, [(1, 0, 's1'), (2, 0, 's2'), (10.1, 10.1, 's3'),
                           (5, 6, 's4'), (6, 5, 's5'), (40, 0, 'sfar')])

    def run(**kw):
        return sorted((r['name'], r['name_right'], r['distance'])
                      for r in sj.snearest(pts, sites, max_distance=1.5, **kw).collect())
    cases = [{}, {'k': 2}, {'how': 'left'}, {'how': 'left', 'k': 2}]
    want = [run(**kw) for kw in cases]
    monkeypatch.setattr(sj, 'BROADCAST_SIDE_BYTES', -1)
    assert [run(**kw) for kw in cases] == want
    assert want[0] == [('a', 's1', 1.0), ('b', 's3', pytest.approx(2 ** 0.5 * 0.2)),
                       ('c', 's4', 1.0)]
    assert ('far', None, None) in want[2]


def test_sjoin_outer_names_match_inner(spark):
    """Frames sharing attribute names: every join shape names the output as
    the inner join does — the left frame's columns plain, the right frame's
    ``_right`` — so no name repeats and ``select('name')`` is unambiguous.
    ``suffixes[0]`` applies to left and right joins alike."""
    pts = spark.createDataFrame([('p1', 1, 'POINT (1 1)'), ('p2', 2, 'POINT (9 9)')],
                                'name string, v int, wkt string')
    pts = pts.withColumn('geometry', st_geomfromtext('wkt')).drop('wkt')
    zones = spark.createDataFrame(POLYS[:3], 'name string, wkt string')
    zones = (zones.withColumn('v', F.lit(10))
             .withColumn('geometry', st_geomfromtext('wkt')).drop('wkt'))
    inner = sjoin(pts, zones)
    assert inner.columns == ['name', 'v', 'geometry', 'name_right', 'v_right']
    for how in ('left', 'right'):
        cols = sjoin(pts, zones, how=how).columns
        assert sorted(cols) == sorted(inner.columns), (how, cols)
    right = sjoin(pts, zones, how='right')
    assert sorted((r['name_right'], r['name']) for r in right.select('name', 'name_right')
                  .collect()) == [('X', 'p1'), ('Y', None), ('Z', None)]
    sfx = ('_l', '_r')
    want = ['name_l', 'v_l', 'geometry', 'name_r', 'v_r']
    assert sjoin(pts, zones, suffixes=sfx).columns == want
    assert sjoin(pts, zones, how='left', suffixes=sfx).columns == want
    assert sorted(sjoin(pts, zones, how='right', suffixes=sfx).columns) == sorted(want)


def test_snearest_oversized_geometry_grid_matches_broadcast(spark, monkeypatch):
    """A right geometry whose bbox covers ~2e9 cells of size max_distance
    takes the sentinel cells on the grid path, as in the predicate joins,
    instead of exploding to every covering cell; the grid path returns
    what the broadcast path returns."""
    from erde_spark.geo import geom as G
    from erde_spark.operators import sjoin as sj
    from erde_spark.session import driver_frame
    schema = 'geometry binary, name string'

    def frame(rows):
        return driver_frame(spark, [(G.wkb_dumps(G.wkt_loads(w)), n) for w, n in rows],
                            schema)
    pts = frame([('POINT (5 1)', 'a'), ('POINT (1000000000 -1.2)', 'b'),
                 ('POINT (7 7)', 'c'), ('POINT (-3 0.5)', 'd')])
    sites = frame([('LINESTRING (0 0, 3000000000 0)', 'line'),
                   ('POINT (7 6)', 'pt')])

    def run(**kw):
        return sorted((r['name'], r['name_right'], r['distance'])
                      for r in sj.snearest(pts, sites, max_distance=1.5, **kw).collect())
    cases = [{}, {'k': 2}, {'how': 'left'}]
    want = [run(**kw) for kw in cases]
    assert want[0] == [('a', 'line', 1.0), ('b', 'line', pytest.approx(1.2)),
                       ('c', 'pt', 1.0)]
    assert ('d', None, None) in want[2]
    monkeypatch.setattr(sj, 'BROADCAST_SIDE_BYTES', -1)   # force the grid
    assert [run(**kw) for kw in cases] == want

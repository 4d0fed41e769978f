"""spark.sql surface for the geometry kernel (register_sql_functions)."""

import math

import pytest

from erde_spark.functions.sqlreg import register_sql_functions


@pytest.fixture(scope='module', autouse=True)
def _reg(spark):
    register_sql_functions(spark)


def test_sql_roundtrip_and_type(spark):
    row = spark.sql(
        "SELECT st_astext(st_geomfromtext('POINT (37.6 55.75)')) AS wkt, "
        "       st_geometrytype(st_geomfromtext('POINT (37.6 55.75)')) AS t").first()
    assert row['wkt'] == 'POINT (37.6 55.75)'
    assert row['t'] == 'Point'


def test_sql_metric_area(spark):
    # ~0.001 x 0.001 deg rectangle at lat 55: area ~ (111320*0.001)^2 * cos(55)
    wkt = ('POLYGON ((37.6 55.75, 37.601 55.75, 37.601 55.751, '
           '37.6 55.751, 37.6 55.75))')
    got = spark.sql(f"SELECT st_area_metric(st_geomfromtext('{wkt}')) AS a").first()['a']
    expect = (111319.49079327358 * 0.001) ** 2 * math.cos(math.radians(55.7505))
    assert got == pytest.approx(expect, rel=0.01)


def test_sql_buffer_and_contains(spark):
    row = spark.sql(
        "WITH g AS (SELECT st_geomfromtext('POINT (37.6 55.75)') AS p) "
        "SELECT st_contains(st_buffer_metric(p, 100.0), p) AS c, "
        "       st_area_metric(st_buffer_metric(p, 100.0)) AS a FROM g").first()
    assert row['c'] is True
    assert row['a'] == pytest.approx(32 * math.sin(math.pi / 32) * 100 * 100, rel=0.01)


def test_sql_predicates_and_accessors(spark):
    row = spark.sql(
        "SELECT st_intersects(st_geomfromtext('POINT (1 1)'), "
        "                     st_geomfromtext('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))')) AS i, "
        "       st_x(st_point(3.5, -2.0)) AS x, st_y(st_point(3.5, -2.0)) AS y, "
        "       st_astext(st_centroid(st_geomfromtext("
        "           'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'))) AS c").first()
    assert row['i'] is True and row['x'] == 3.5 and row['y'] == -2.0
    assert row['c'] == 'POINT (1 1)'


def test_sql_try_parse_tolerates_garbage(spark):
    row = spark.sql("SELECT st_try_geomfromtext('NOT A GEOM') AS g").first()
    assert row['g'] is None


def test_sql_makeline(spark):
    row = spark.sql(
        "SELECT st_astext(st_makeline(st_point(0.0, 0.0), st_point(1.0, 1.0))) AS l"
    ).first()
    assert row['l'] == 'LINESTRING (0 0, 1 1)'


def test_sql_distance(spark):
    row = spark.sql(
        "SELECT st_distance(st_point(0.0, 0.0), st_point(3.0, 4.0)) AS d").first()
    assert row['d'] == 5.0


def test_sql_matches_dataframe_functions(spark):
    """The SQL names bind the DataFrame functions' UDFs: equal values on the
    same rows, nulls included."""
    from pyspark.sql import functions as F

    from erde_spark.functions.geo import (st_buffer, st_geomfromtext, st_metric_area,
                                          st_metric_length, st_predicate)
    poly = 'POLYGON ((37.6 55.75, 37.61 55.75, 37.61 55.76, 37.6 55.76, 37.6 55.75))'
    rows = [(0, poly, 50.0, 'POINT (37.605 55.755)'),
            (1, 'LINESTRING (37.6 55.75, 37.7 55.8)', 10.0, poly),
            (2, 'POINT (37.6 55.75)', 100.0, 'POINT (40 60)'),
            (3, 'POINT (-73.98 40.75)', None, None),
            (4, None, 5.0, poly)]
    df = (spark.createDataFrame(rows, 'id int, wkt string, r double, other string')
          .select('id', 'r', st_geomfromtext('wkt').alias('g'),
                  st_geomfromtext('other').alias('o')))
    df.createOrReplaceTempView('sql_parity')
    sql = spark.sql('SELECT id, st_area_metric(g) AS a, st_length_metric(g) AS l, '
                    'st_buffer_metric(g, r) AS b, st_intersects(g, o) AS i '
                    'FROM sql_parity ORDER BY id').collect()
    api = df.select('id', st_metric_area(F.col('g'), crs=4326).alias('a'),
                    st_metric_length(F.col('g'), crs=4326).alias('l'),
                    st_buffer(F.col('g'), F.col('r'), crs=4326).alias('b'),
                    st_predicate(F.col('g'), F.col('o')).alias('i')).orderBy('id').collect()
    assert [r.asDict() for r in sql] == [r.asDict() for r in api]
    assert [r['i'] for r in api] == [True, True, False, False, False]
    assert api[4]['a'] is None and api[3]['b'] is None and api[0]['b'] is not None

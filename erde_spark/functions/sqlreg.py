"""SQL registration of the geometry kernel: ``register_sql_functions(spark)``
exposes the geo functions to ``spark.sql`` under PostGIS-style names, so the
engine's capabilities compose with plain Spark SQL (the reference is a
Python-only library; a SQL surface is the idiomatic Spark extension).

Every name binds a pandas UDF of ``erde_spark.functions.geo``, the same
kernels the DataFrame functions run; the metric variants fix the
reference's 4326-with-coslat-correction semantics (`erde/op/area.py:44`,
`erde/op/length.py:44`, `erde/op/buffer.py:44`).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from erde_spark.functions import geo


def register_sql_functions(spark: SparkSession) -> None:
    """Idempotent: (re)binds the ST_* names on this session."""
    udfs = {
        'st_distance': geo.st_distance,
        'st_geomfromtext': geo.st_geomfromtext,
        'st_try_geomfromtext': geo.st_try_geomfromtext,
        'st_astext': geo.st_astext,
        'st_point': geo.st_point,
        'st_geometrytype': geo.st_geometrytype,
        'st_makeline': geo.st_linestring_between,
        'st_area_metric': geo._area(4326),
        'st_length_metric': geo._length(4326),
        'st_buffer_metric': geo._buffer_udf(4326, 16),
        'st_centroid': geo.st_centroid,
        'st_x': geo._coord(0),
        'st_y': geo._coord(1),
    }
    for op in ('intersects', 'within', 'contains'):
        udfs[f'st_{op}'] = geo._predicate_udf(op)
    for name, udf in udfs.items():
        spark.udf.register(name, udf)

"""Plan-shape tests: the scale properties (pushdown, pruning, broadcast,
bounded shuffles) asserted as behavior on the real queries."""

import pytest
from pyspark.sql import functions as F

from erde_spark.plans.inspect import (count_python_udf_passes, count_shuffles,
                                      has_broadcast_join, pushed_filters,
                                      read_schemas)

SF = '/root/testdata/sf0.001'


def test_filter_pushdown_reaches_parquet(spark):
    li = spark.read.parquet(f'{SF}/lineitem.parquet')
    q = li.filter(F.col('l_quantity') > 30).select('l_orderkey', 'l_quantity')
    pf = pushed_filters(q)
    assert any('l_quantity' in f for f in pf), pf


def test_column_pruning_subset_dsl(spark):
    """The subset DSL lowers to a single select -> only named columns are
    read off parquet."""
    from erde_spark.operators.subset import subset
    li = spark.read.parquet(f'{SF}/lineitem.parquet')
    q = subset(li, 'l_orderkey:ok, l_quantity:qty')
    schemas = read_schemas(q)
    assert len(schemas) == 1
    assert 'l_orderkey' in schemas[0] and 'l_quantity' in schemas[0]
    assert 'l_comment' not in schemas[0] and 'l_extendedprice' not in schemas[0]


def test_tpch_q3_broadcasts_customer(spark):
    import __spark_entry__ as E
    q = E.q_tpch_q3(spark, SF)
    assert has_broadcast_join(q)
    # the mktsegment filter must reach the customer scan
    assert any('c_mktsegment' in f for f in pushed_filters(q))


def test_lookup_is_broadcast_when_small(spark):
    import __spark_entry__ as E
    q = E.q_lookup_customer(spark, SF)
    assert has_broadcast_join(q)


def test_sjoin_udf_passes_bounded(spark):
    """The spatial join crosses the Python boundary once per side
    (geometry synthesis chained with its bounds in one Arrow node) plus
    one refine: exactly 3 Arrow nodes."""
    import __spark_entry__ as E
    q = E.q_sjoin_points_rects(spark, SF)
    assert count_python_udf_passes(q) == 3


@pytest.mark.parametrize('case', ['sjoin_points_rects', 'snearest_rect',
                                  'sagg_rect_demand', 'sjoin_grid',
                                  'snearest_k2', 'snearest_grid',
                                  'sjoin_left', 'sjoin_right'])
def test_spatial_join_crosses_once_per_side(spark, monkeypatch, case):
    """Exactly 3 Arrow nodes (one crossing per side, the geometry's UDFs
    chained with st_bounds, plus the refine) and no UDF expression
    (``#id``s stripped) in two nodes. A null-intolerant bbox or radius
    test lets Catalyst infer or push a filter below the projection
    computing it, which re-runs that side's whole UDF chain in a second
    node. sagg_rect_demand's left join-back adds no node: the query keeps
    no rectangle geometry, so column pruning drops the UDF there (left and
    anti shapes otherwise re-read the left side by design). That is the
    4th node of sjoin(how='left'|'right'): the kept side's geometry UDF
    runs again for the join-back, alone, and nothing else repeats."""
    import __spark_entry__ as e
    from erde_spark.operators import sjoin as sj
    from erde_spark.plans.inspect import duplicated_udfs, physical_plan
    if case in e.queries():
        df = e.queries()[case](spark, SF)
    else:
        t = e._t(spark, SF, 'customer', 'nation')
        pts, rects = e._cust_points(t['customer']), e._nation_rects(t['nation'])
        if case == 'snearest_grid':
            monkeypatch.setattr(sj, 'BROADCAST_SIDE_BYTES', -1)
        df = {'sjoin_grid': lambda: sj.sjoin(pts, rects, op='within', cell_size=1.0),
              'snearest_k2': lambda: sj.snearest(pts, rects, max_distance=0.5, k=2),
              'snearest_grid': lambda: sj.snearest(pts, rects, max_distance=0.5),
              'sjoin_left': lambda: sj.sjoin(pts, rects, op='within', how='left'),
              'sjoin_right': lambda: sj.sjoin(pts, rects, op='within', how='right'),
              }[case]()
    dups = duplicated_udfs(physical_plan(df))
    if case in ('sjoin_left', 'sjoin_right'):
        assert count_python_udf_passes(df) == 4
        kept = 'st_point(' if case == 'sjoin_left' else 'st_envelope('
        assert len(dups) == 1 and dups[0].startswith(kept), dups
    else:
        assert count_python_udf_passes(df) == 3
        assert dups == []


def test_duplicated_udfs_parses_arrow_nodes():
    """Expressions compare across nodes with ``#id``s stripped; nested
    brackets stay inside one expression; a repeat inside one node is not
    a duplicate."""
    from erde_spark.plans.inspect import duplicated_udfs
    plan = """
+- ArrowEvalPython [f(g(a#1, [1, 2])#5)#7, g(a#1, [1, 2])#5], [pythonUDF0#9, pythonUDF1#10], 200
   +- Filter isnotnull(pythonUDF0#8.minx)
      +- ArrowEvalPython [f(g(a#3, [1, 2])#6)#11, h(b#2)#12, h(b#4)#13], [pythonUDF0#8], 200
"""
    assert duplicated_udfs(plan) == ['f(g(a, [1, 2]))']
    assert duplicated_udfs(plan.replace('f(g(a#3', 'k(g(a#3')) == []


def test_sagg_shuffle_count(spark):
    """sagg = candidate join + groupBy + join-back: the aggregation input
    shuffles once on the group key; total hash shuffles stay small."""
    import __spark_entry__ as E
    q = E.q_sagg_rect_demand(spark, SF)
    assert count_shuffles(q) <= 6


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed+sorted on the join key -> sort-merge join with
    zero Exchange and zero per-side Sort (the 100 TB recurring-join
    shape)."""
    from erde_spark.operators.bucketing import (bucketed_join, join_exchanges,
                                                write_bucketed)
    from erde_spark.plans.inspect import physical_plan
    li = spark.read.parquet(f'{SF}/lineitem.parquet').select(
        'l_orderkey', 'l_quantity')
    orders = spark.read.parquet(f'{SF}/orders.parquet').select(
        'o_orderkey', 'o_totalprice')
    for name, df, key in (('t_li_b', li, 'l_orderkey'),
                          ('t_ord_b', orders, 'o_orderkey')):
        spark.sql(f'DROP TABLE IF EXISTS {name}')
        (df.write.format('parquet').bucketBy(8, key).sortBy(key)
           .option('path', str(tmp_path / name)).mode('overwrite')
           .saveAsTable(name))
    try:
        # disable AQE re-planning and auto-broadcast: at test scale Spark
        # would broadcast (which bypasses bucketing entirely); the property
        # under test is the big-big co-located sort-merge shape
        spark.conf.set('spark.sql.adaptive.enabled', 'false')
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
        j = bucketed_join(spark, 't_li_b', 't_ord_b',
                          left_on='l_orderkey', right_on='o_orderkey')
        assert join_exchanges(j) == 0
        plan = physical_plan(j)
        assert 'SortMergeJoin' in plan
        n = j.count()
        assert n == li.count()  # every lineitem matches exactly one order
    finally:
        spark.conf.set('spark.sql.adaptive.enabled', 'true')
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold',
                       str(64 * 1024 * 1024))
        spark.sql('DROP TABLE IF EXISTS t_li_b')
        spark.sql('DROP TABLE IF EXISTS t_ord_b')


def test_q6_pushes_all_filters_to_scan(spark):
    """All four q6 predicates must reach the parquet scan, and the scan
    must read only the four referenced columns."""
    import __spark_entry__ as e
    df = e.queries()['tpch_q6_revenue'](spark, SF)
    pushed = ' '.join(pushed_filters(df))
    for frag in ('l_shipdate', 'l_discount', 'l_quantity'):
        assert frag in pushed
    (schema,) = [s for s in read_schemas(df) if 'l_extendedprice' in s]
    assert schema.count(':') == 4  # exactly 4 columns scanned


def test_semi_anti_joins_stay_joins(spark):
    """Semi/anti gate queries must compile to real semi/anti joins (no
    distinct+inner fallback materializing the probe side)."""
    import __spark_entry__ as e
    from erde_spark.plans.inspect import physical_plan
    semi = physical_plan(e.queries()['tpch_q4_semijoin'](spark, SF))
    anti = physical_plan(e.queries()['anti_join_no_urgent'](spark, SF))
    assert 'LeftSemi' in semi
    assert 'LeftAnti' in anti


def test_q7_broadcasts_both_nation_roles(spark):
    """Q7 joins nation twice (supplier side + customer side); both must be
    broadcasts — the fact-side join order leaves lineitem unshuffled by
    any dimension."""
    import __spark_entry__ as e
    from erde_spark.plans.inspect import physical_plan
    plan = physical_plan(e.queries()['tpch_q7_nation_volume'](spark, SF))
    assert plan.count('BroadcastHashJoin') >= 2
    # the shipdate range must reach the lineitem scan
    df = e.queries()['tpch_q7_nation_volume'](spark, SF)
    assert any('l_shipdate' in f for f in pushed_filters(df))


def test_q9_pushes_like_filter_to_part_scan(spark):
    """Q9's p_name LIKE '%gear%' must reach the part scan (StringContains
    pushdown), and part/supplier/nation must be broadcast."""
    import __spark_entry__ as e
    from erde_spark.plans.inspect import physical_plan
    df = e.queries()['tpch_q9_profit'](spark, SF)
    assert any('p_name' in f for f in pushed_filters(df))
    assert physical_plan(df).count('BroadcastHashJoin') >= 3


def test_q8_region_filter_pushed(spark):
    import __spark_entry__ as e
    df = e.queries()['tpch_q8_mktshare'](spark, SF)
    assert any('r_name' in f for f in pushed_filters(df))


def test_rollup_single_shuffle_expand(spark):
    """ROLLUP lowers to Expand + one hash aggregate pair — a single
    shuffle, not one pass per grouping set."""
    import __spark_entry__ as e
    df = e.queries()['rollup_pricing'](spark, SF)
    plan = __import__('erde_spark.plans.inspect', fromlist=['physical_plan']).physical_plan(df)
    assert 'Expand' in plan
    assert count_shuffles(df) <= 2


def test_range_band_join_is_broadcast_nested_loop(spark):
    """A 3-row band dim must broadcast (nested-loop on the non-equi
    condition) — never a cartesian shuffle."""
    import __spark_entry__ as e
    from erde_spark.plans.inspect import physical_plan
    plan = physical_plan(e.queries()['range_band_join'](spark, SF))
    assert 'BroadcastNestedLoopJoin' in plan
    assert 'CartesianProduct' not in plan


def test_snearest_small_side_broadcasts(spark):
    """snearest against a 25-row rect table takes the small-side fast
    path: broadcast-nested-loop on the dilated bbox predicate — no
    cartesian shuffle, no cell explode, one Arrow distance pass."""
    import __spark_entry__ as e
    from erde_spark.plans.inspect import count_python_udf_passes, physical_plan
    df = e.queries()['snearest_rect'](spark, SF)
    plan = physical_plan(df)
    assert 'BroadcastNestedLoopJoin' in plan
    assert 'CartesianProduct' not in plan
    # point/rect synthesis chained with its bounds per side + one distance pass
    assert count_python_udf_passes(df) == 3


def test_snearest_small_left_takes_grid(spark, monkeypatch):
    """snearest broadcasts only a small RIGHT side: when only the left side
    is under the threshold, the nested loop would stream the larger right
    side past every left row, so snearest takes the grid, while sjoin on
    the same frames broadcasts the left."""
    import __spark_entry__ as e
    from erde_spark.operators import sjoin as sj
    from erde_spark.plans.inspect import physical_plan
    t = e._t(spark, SF, 'customer', 'nation')
    pts = e._cust_points(t['customer']).select('c_custkey', 'geometry')
    rects = e._nation_rects(t['nation'])
    assert sj._catalyst_size(pts) < sj._catalyst_size(rects)
    monkeypatch.setattr(sj, 'BROADCAST_SIDE_BYTES', sj._catalyst_size(pts))
    assert 'BroadcastNestedLoopJoin' in physical_plan(sj.sjoin(pts, rects))
    assert 'BroadcastNestedLoopJoin' not in physical_plan(sj.snearest(pts, rects, 0.5))


def test_sjoin_small_side_broadcasts(spark):
    """The predicate-join family (sjoin/sagg/sfilter via _sj_pairs) takes
    the broadcast fast path when one side is small: nested-loop on the
    codegen'd bbox predicate, not the grid explode."""
    import __spark_entry__ as e
    from erde_spark.plans.inspect import physical_plan
    plan = physical_plan(e.queries()['sjoin_points_rects'](spark, SF))
    assert 'BroadcastNestedLoopJoin' in plan
    assert 'CartesianProduct' not in plan


def test_sjoin_explicit_cell_size_forces_grid(spark):
    """An explicit cell_size opts out of the fast path: the grid plan
    (cell equi-join, SortMerge/ShuffledHash) must appear instead of a
    nested loop."""
    from erde_spark.operators.sjoin import sjoin
    import __spark_entry__ as e
    t = e._t(spark, SF, 'customer', 'nation')
    pts = e._cust_points(t['customer'])
    rects = e._nation_rects(t['nation'])
    from erde_spark.plans.inspect import physical_plan
    plan = physical_plan(sjoin(pts, rects, op='within', cell_size=1.0))
    assert 'BroadcastNestedLoopJoin' not in plan
    assert 'CartesianProduct' not in plan


def test_contamination_broadcasts_eval_ngrams(spark):
    """Decontamination must broadcast the (small) eval n-gram set: the
    corpus side is one scan + map-side-combined groupBy, never shuffled
    by n-gram."""
    import __spark_entry__ as e
    from erde_spark.plans.inspect import physical_plan
    q = e.queries()['contamination_check'](spark, SF)
    plan = physical_plan(q)
    assert has_broadcast_join(q)
    assert 'SortMergeJoin' not in plan


def test_oov_vocab_is_takeordered_and_broadcast(spark):
    """vocab_coverage: the top-k vocabulary must compile to TakeOrdered
    (partial per-partition top-k, no global sort) and broadcast back."""
    import __spark_entry__ as e
    from erde_spark.plans.inspect import physical_plan
    q = e.queries()['oov_rate'](spark, SF)
    plan = physical_plan(q)
    assert 'TakeOrderedAndProject' in plan
    assert has_broadcast_join(q)


def test_corpus_mix_single_shuffle_rank(spark):
    """target_mix: one exchange for the within-group rank windows; no
    join for quotas (they are literals from the bounded count pass)."""
    import __spark_entry__ as e
    from erde_spark.plans.inspect import physical_plan
    q = e.queries()['corpus_mix'](spark, SF)
    plan = physical_plan(q)
    assert 'SortMergeJoin' not in plan and 'BroadcastHashJoin' not in plan
    assert plan.count('Window') >= 1


def test_pack_sequences_windows_per_shard(spark):
    """Sharded packing must not degenerate to one global window: no
    SinglePartition exchange in the plan (the shard column partitions
    the running sum)."""
    import __spark_entry__ as e
    from erde_spark.plans.inspect import physical_plan
    plan = physical_plan(e.queries()['pack_sequences'](spark, SF))
    assert 'SinglePartition' not in plan
    assert 'Window' in plan


def test_embedding_lsh_pair_distinct_carries_bare_ids(spark):
    """embedding_lsh_pairs: the candidate-pair distinct must shuffle
    BARE (id_a, id_b) — vectors join back only onto surviving pairs.
    An exchange carrying nvec/va/vb would shuffle O(candidates x dim)
    doubles, i.e. the embedding table itself."""
    import re

    from erde_spark.plans.inspect import physical_plan
    from erde_spark.scale.dedup import embedding_lsh_pairs
    emb = spark.read.parquet(f'{SF}/embeddings.parquet')
    plan = physical_plan(embedding_lsh_pairs(emb, threshold=0.9))
    aggs = [ln for ln in plan.splitlines() if 'HashAggregate(keys=[id_a' in ln]
    assert aggs, 'pair distinct missing from the plan'
    for ln in aggs:
        assert not re.search(r'\b(nvec|va|vb)\b', ln), ln
    # the distinct exchange itself partitions on the bare pair key
    ex = [ln for ln in plan.splitlines()
          if 'Exchange hashpartitioning(id_a' in ln]
    assert ex and all('nvec' not in ln and 'va' not in ln for ln in ex)


def test_geoparquet_bbox_covering_pushdown(spark, tmp_path):
    """Round-9 verdict optional ask: read_stream's geometry filter
    routed through parquet row-group bbox stats when the source is
    GeoParquet. write_df(covering=True) adds the GeoParquet 1.1 bbox
    covering struct + footer metadata; read_stream's filter prepends an
    envelope-overlap predicate on it that must reach the parquet scan
    as PushedFilters on the bbox leaf fields (= row-group pruning on a
    bbox-sorted file), while the exact sfilter keeps semantics."""
    import json

    import pyarrow.parquet as pq

    from erde_spark.functions.geo import st_point
    from erde_spark.geo.crs import get_covering, set_crs
    from erde_spark.io import read_df, write_df
    from erde_spark.streaming.chunks import read_stream

    path = str(tmp_path / 'pts.parquet')
    pts = (spark.range(2000)
           .select('id', (F.col('id') * 0.01).alias('x'),
                   F.lit(0.5).alias('y'))
           .withColumn('geometry', st_point('x', 'y'))
           .drop('x', 'y').orderBy('id').coalesce(1))
    write_df(set_crs(pts, 4326), path, covering=True)

    # footer: GeoParquet 1.1 with the standard covering declaration
    import glob as _g
    f = ([path] if not _g.glob(path + '/*.parquet')
         else _g.glob(path + '/*.parquet'))[0]
    geo = json.loads((pq.ParquetFile(f).metadata.metadata or {})[b'geo'])
    assert geo['version'] == '1.1.0'
    assert geo['columns']['geometry']['covering']['bbox']['xmin'] == \
        ['bbox', 'xmin']

    back = read_df(path, spark)
    assert get_covering(back) == 'bbox'

    # WKT mask: envelope computed driver-side, no extra job
    q = read_stream(path, geometry_filter='POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))',
                    spark=spark)
    pf = pushed_filters(q)
    assert any('bbox.xmin' in s for s in pf), pf
    assert any('bbox.xmax' in s for s in pf), pf
    assert any('bbox.ymin' in s for s in pf), pf
    got = sorted(r['id'] for r in q.select('id').collect())
    assert got == list(range(100, 201)), (got[:5], got[-5:], len(got))

    # DataFrame mask: envelope comes from one tiny agg over the mask
    mask = spark.createDataFrame([('POLYGON ((3 0, 4 0, 4 1, 3 1, 3 0))',)],
                                 'wkt string')
    from erde_spark.functions.geo import st_geomfromtext
    mask = mask.withColumn('geometry', st_geomfromtext('wkt')).drop('wkt')
    q2 = read_stream(path, geometry_filter=mask, spark=spark)
    assert any('bbox.xmin' in s for s in pushed_filters(q2))
    assert q2.count() == 101

    # a plain (no covering) write must not regress: filter still exact
    plain = str(tmp_path / 'plain.parquet')
    write_df(set_crs(pts, 4326), plain)
    q3 = read_stream(plain, geometry_filter='POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))',
                     spark=spark)
    assert not any('bbox' in s for s in pushed_filters(q3))
    assert q3.count() == 101

"""Distributed spatial join family: ``sjoin`` / ``sjfull`` / ``sagg`` /
``slookup`` / ``sfilter``.

Semantics follow the reference (`/root/reference/erde/op/sjoin.py`):
predicates ``intersects | within | contains`` (left <op> right), join kinds
inner/left/right, geometry-override columns ``left_on`` / ``right_on``.
The reference delegates to GeoPandas' R-tree ``gpd.sjoin``; that is a
single-machine index, so the distributed physical strategy here is the
standard grid decomposition (cf. Sedona / SpatialSpark):

1. compute each geometry's bbox (vectorized pandas UDF, chained into the
   Arrow node of the UDFs that produced the geometry, so each side crosses
   into Python once);
2. explode each row to the integer grid cells its bbox covers;
3. equi-join on ``(cell_x, cell_y)`` — a plain Spark shuffle join, so
   Catalyst/AQE pick broadcast vs shuffle and handle skewed cells
   (``spark.sql.adaptive.skewJoin``);
4. bbox-overlap prefilter (JVM-side comparisons, codegen'd);
5. **duplicate-free emission**: a candidate pair can meet in many cells; we
   keep it only in its *reference cell* — the cell containing the top-left
   corner of the bbox intersection — so no ``distinct`` shuffle is needed;
6. exact predicate refine in an Arrow-batched pandas UDF (the one other
   Python step, applied to surviving candidates only).

At 100 TB this plan shuffles each side once (by cell), never collects to
the driver, and the per-cell fan-out is bounded by ``cell_size``: pick it
near the median geometry bbox so most rows land in O(1) cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from erde_spark.functions.geo import st_bounds, st_predicate

_OPS = ('intersects', 'within', 'contains')


def _sides(left_df: DataFrame, right_df: DataFrame, left_on: str, right_on: str,
           pad: float = 0.0):
    """``(lx, rx, overlap)``: both join sides in payload form plus the JVM
    bbox-overlap condition between them.

    Each side carries its row id (``__lid``/``__rid``, kept when the caller
    already assigned one), its full row as a struct (``__lrow``/``__rrow``),
    its geometry (``__lgeom``/``__rgeom``) and its bbox (``__l_minx`` ...)
    from ONE ``st_bounds`` crossing. ``pad`` dilates the left bbox.

    ``overlap`` is wrapped in ``coalesce(..., false)``. A bare
    ``__l_minx <= __r_maxx`` is null-intolerant, so Catalyst's
    InferFiltersFromConstraints derives ``isnotnull(__l_minx)`` from it and
    pushes that filter below the projection computing the bounds, where it
    becomes a second Arrow node re-running the side's whole UDF chain.
    ``coalesce`` is not null-intolerant, so nothing is inferred; a null
    bbox still overlaps nothing.
    """
    def side(df, on, t, delta):
        rid = f'__{t}id'
        cols = [c for c in df.columns if c != rid]
        if rid not in df.columns:
            # deterministic for a fixed scan partition layout; assigned
            # directly over the scan so a re-use of this branch (e.g. the
            # sagg join-back) sees identical ids
            df = df.withColumn(rid, F.monotonically_increasing_id())
        df = df.withColumn('__b', st_bounds(df[on]))
        bounds = [(F.col(f'__b.{c}') + F.lit(d) if d else F.col(f'__b.{c}'))
                  .alias(f'__{t}_{c}')
                  for c, d in (('minx', -delta), ('miny', -delta),
                               ('maxx', delta), ('maxy', delta))]
        return df.select(rid, F.struct(*[F.col(c) for c in cols]).alias(f'__{t}row'),
                         F.col(on).alias(f'__{t}geom'), *bounds)

    overlap = F.coalesce((F.col('__l_minx') <= F.col('__r_maxx')) &
                         (F.col('__r_minx') <= F.col('__l_maxx')) &
                         (F.col('__l_miny') <= F.col('__r_maxy')) &
                         (F.col('__r_miny') <= F.col('__l_maxy')), F.lit(False))
    return side(left_df, left_on, 'l', pad), side(right_df, right_on, 'r', 0.0), overlap


def _estimate_cell_size(left_b: DataFrame, right_b: DataFrame) -> float:
    """Sample-based cell sizing: ~2× the mean bbox extent of whichever side
    has extended geometries; for point-point joins fall back to 1/64 of the
    sampled data extent. ONE sampled aggregation job (both sides unioned)
    — no full scan, no second job."""
    def _sample(df, p):
        # seeded-hash top-K, not a bare limit(): limit takes whole
        # leading partitions, so on partition-correlated corpora (sorted
        # by region) cell size would derive from one geographic stratum.
        # TakeOrderedAndProject = per-partition top-K + merge, one job.
        cols = [F.col(f'{p}{c}') for c in ('minx', 'miny', 'maxx', 'maxy')]
        # monotonically_increasing_id breaks hash ties between rows with
        # identical bboxes (common: duplicated admin polygons) so the
        # draw stays uniform rather than collapsing to one tie group
        return (df.select((cols[2] - cols[0]).alias('w'),
                          (cols[3] - cols[1]).alias('h'),
                          cols[0].alias('x'), cols[1].alias('y'),
                          F.xxhash64(*cols, F.monotonically_increasing_id(),
                                     F.lit(17)).alias('_h'))
                .orderBy('_h').limit(4000).drop('_h'))
    row = (_sample(left_b, '__l_').unionByName(_sample(right_b, '__r_'))
           .agg(F.avg(F.when(F.col('w') > 0, F.col('w'))).alias('w'),
                F.avg(F.when(F.col('h') > 0, F.col('h'))).alias('h'),
                (F.max('x') - F.min('x')).alias('ex'),
                (F.max('y') - F.min('y')).alias('ey')).first())
    sizes = [v for v in (row['w'], row['h']) if v]
    if sizes:
        return 2.0 * max(sizes)
    extents = [v for v in (row['ex'], row['ey']) if v]
    if extents:
        return max(extents) / 64.0
    return 1.0


#: a side whose Catalyst size estimate sits below this broadcasts whole:
#: the join becomes a broadcast-nested-loop on the JVM bbox predicate +
#: exact refine, skipping cell sizing/explode/dedup entirely. This is the
#: right 100 TB plan for the most common spatial-join shape — billions of
#: points vs a small table of admin boundaries.
BROADCAST_SIDE_BYTES = 32 << 20


def _catalyst_size(df: DataFrame) -> int:
    """Optimized-plan size estimate (metadata, never a scan)."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps scala.BigInt to int when it fits; JavaObject otherwise
        return raw if isinstance(raw, int) else int(raw.toString())
    except Exception:
        return 1 << 62  # unknown: treat as large


#: a geometry whose bbox covers more than this many grid cells skips the
#: explode (unbounded fan-out) and routes through the sentinel-cell path
#: instead — the hybrid for continent-sized outliers.
MAX_CELLS_PER_GEOM = 256

#: sentinel cells are salted across this many join keys so the rows that
#: meet oversized geometries spread over many reducers instead of one.
SENTINEL_SALTS = 32

# cell-x values no real geometry can reach (|floor(coord/cell)| stays far
# below 2^61 for any sane coordinate/cell combination)
_SENT_L = -(1 << 62)       # cell hosting oversized LEFT geometries
_SENT_R = -(1 << 62) + 1   # cell hosting oversized RIGHT geometries
_SENT_CUT = -(1 << 61)


def _covering_cells(prefix: str, cell: float):
    """(ncells, array<struct<cx,cy>>) of grid cells covering the bbox."""
    cx0 = F.floor(F.col(f'{prefix}minx') / cell).cast('long')
    cx1 = F.floor(F.col(f'{prefix}maxx') / cell).cast('long')
    cy0 = F.floor(F.col(f'{prefix}miny') / cell).cast('long')
    cy1 = F.floor(F.col(f'{prefix}maxy') / cell).cast('long')
    n = (cx1 - cx0 + 1) * (cy1 - cy0 + 1)
    cells = F.flatten(F.transform(
        F.sequence(cx0, cx1),
        lambda x: F.transform(F.sequence(cy0, cy1),
                              lambda y: F.struct(x.alias('cx'), y.alias('cy')))))
    return n, cells


def _sentinel(sent: int, salt):
    return F.struct(F.lit(sent).cast('long').alias('cx'),
                    salt.cast('long').alias('cy'))


def _all_salts(sent: int):
    return F.transform(F.sequence(F.lit(0), F.lit(SENTINEL_SALTS - 1)),
                       lambda s: _sentinel(sent, s))


def _explode_cells(df: DataFrame, cells_col) -> DataFrame:
    return (df.withColumn('__cell', F.explode(cells_col))
              .withColumn('__cx', F.col('__cell.cx'))
              .withColumn('__cy', F.col('__cell.cy'))
              .drop('__cell'))


def _sj_pairs(left_df: DataFrame, right_df: DataFrame, left_on: str, right_on: str,
              op: str, cell_size: float | None) -> DataFrame:
    """Inner candidate join returning ``__lid``/``__rid`` pair rows with both
    full row payloads as structs ``__lrow``/``__rrow``.

    ONE equi-join handles both regular and oversized geometries — each side
    is scanned once and crosses the Python (bounds-UDF) boundary once:

    * small geometries (bbox covers <= MAX_CELLS_PER_GEOM cells) explode to
      their covering cells as usual;
    * an oversized geometry explodes to a *sentinel cell* instead —
      ``SENTINEL_SALTS`` salted copies of ``(_SENT_L, s)`` (left) /
      ``(_SENT_R, s)`` (right);
    * to meet them, every small left row adds ONE extra cell
      ``(_SENT_R, hash(lid)%salts)`` and every right row adds
      ``(_SENT_L, hash(rid)%salts)`` (oversized right rows add both).

    Pair-uniqueness: small x small pairs meet only in covering cells
    (reference-cell dedup keeps one); any pair involving an oversized
    geometry meets in exactly one salted sentinel cell (the salted side
    emits one salt, the oversized side emits all of them; oversized left
    rows deliberately do NOT emit ``_SENT_R`` so large x large pairs meet
    only in ``_SENT_L``). The salting spreads the sentinel rows across
    ``SENTINEL_SALTS`` reducers, so the rare-outlier path costs one extra
    shuffle row per input row instead of a second full scan or a hot
    single-reducer partition.
    """
    if op not in _OPS:
        raise ValueError(f'op must be one of {_OPS}, got {op!r}')

    lx, rx, bbox_overlap = _sides(left_df, right_df, left_on, right_on)

    # small-side fast path: broadcast the small side whole and join on the
    # codegen'd bbox predicate (broadcast-nested-loop), then refine. No
    # cell sizing job, no explode, no dedup — each pair meets exactly once.
    # An explicit cell_size opts out (forces the grid path).
    if cell_size is None:
        r_small = _catalyst_size(right_df) <= BROADCAST_SIDE_BYTES
        l_small = (not r_small) and _catalyst_size(left_df) <= BROADCAST_SIDE_BYTES
        if r_small or l_small:
            cand = (lx.join(F.broadcast(rx), bbox_overlap) if r_small
                    else rx.join(F.broadcast(lx), bbox_overlap))
            cand = cand.filter(st_predicate(F.col('__lgeom'), F.col('__rgeom'), op))
            return cand.select('__lid', '__rid', '__lrow', '__rrow')

    if cell_size is None:
        cell_size = _estimate_cell_size(lx, rx)

    # Null geometry matches nothing: emit an empty cell array so the explode
    # drops the row. No null filter and no null-intolerant comparison on a
    # bbox column may reach the plan below the explode: Catalyst would
    # push the filter (written, or inferred from the comparison) under the
    # projection computing the bounds, as a second Arrow node re-running
    # the side's UDF chain (see ``_sides``).
    n_l, cov_l = _covering_cells('__l_', cell_size)
    l_salt = F.pmod(F.hash('__lid'), F.lit(SENTINEL_SALTS))
    l_cells = (F.when(n_l <= MAX_CELLS_PER_GEOM,
                      F.concat(cov_l, F.array(_sentinel(_SENT_R, l_salt))))
                .when(F.col('__l_minx').isNull(),
                      F.array().cast('array<struct<cx:bigint,cy:bigint>>'))
                .otherwise(_all_salts(_SENT_L)))

    n_r, cov_r = _covering_cells('__r_', cell_size)
    r_salt = F.pmod(F.hash('__rid'), F.lit(SENTINEL_SALTS))
    r_cells = (F.when(n_r <= MAX_CELLS_PER_GEOM,
                      F.concat(F.array(_sentinel(_SENT_L, r_salt)), cov_r))
                .when(F.col('__r_minx').isNull(),
                      F.array().cast('array<struct<cx:bigint,cy:bigint>>'))
                .otherwise(F.concat(_all_salts(_SENT_R),
                                    F.array(_sentinel(_SENT_L, r_salt)))))

    lc = _explode_cells(lx, l_cells)
    rc = _explode_cells(rx, r_cells)

    cand = lc.join(rc, on=['__cx', '__cy'], how='inner')
    cand = cand.filter(bbox_overlap)
    # reference-cell dedup: a small x small pair can meet in many covering
    # cells — keep it only in the cell holding the bottom-left corner of the
    # bbox intersection. Sentinel meetings are unique by construction.
    ref_cx = F.floor(F.greatest('__l_minx', '__r_minx') / F.lit(cell_size)).cast('long')
    ref_cy = F.floor(F.greatest('__l_miny', '__r_miny') / F.lit(cell_size)).cast('long')
    cand = cand.filter((F.col('__cx') < F.lit(_SENT_CUT)) |
                       ((F.col('__cx') == ref_cx) & (F.col('__cy') == ref_cy)))

    # exact predicate refine (Arrow batch, survivors only)
    cand = cand.filter(st_predicate(F.col('__lgeom'), F.col('__rgeom'), op))
    return cand.select('__lid', '__rid', '__lrow', '__rrow')


def _flatten(pairs: DataFrame, lcols: list[str], rcols: list[str],
             suffixes: tuple[str, str], drop_right_geom: str | None) -> DataFrame:
    """Expand the __lrow/__rrow structs back to flat columns, suffixing
    name collisions; ``drop_right_geom`` names the right column to leave
    out (gpd.sjoin keeps the left geometry only; sjfull keeps both)."""
    cols = []
    for c in lcols:
        name = c + suffixes[0] if (c in rcols and suffixes[0]) else c
        cols.append(F.col(f'__lrow.{c}').alias(name))
    for c in rcols:
        if drop_right_geom and c == drop_right_geom:
            continue
        name = c + suffixes[1] if c in lcols else c
        cols.append(F.col(f'__rrow.{c}').alias(name))
    return pairs.select(*cols)


def sjoin(left_df: DataFrame, right_df: DataFrame, left_on: str = 'geometry',
          right_on: str = 'geometry', op: str = 'intersects', how: str = 'inner',
          suffixes: tuple[str, str] = ('', '_right'),
          cell_size: float | None = None) -> DataFrame:
    """Spatial join; left geometry kept, right geometry dropped (reference
    ``_sj`` / gpd.sjoin shape, `/root/reference/erde/op/sjoin.py:4-7`)."""
    lcols, rcols = left_df.columns, right_df.columns
    if how == 'inner':
        pairs = _sj_pairs(left_df, right_df, left_on, right_on, op, cell_size)
        return _flatten(pairs, lcols, rcols, suffixes, drop_right_geom=right_on)
    if how == 'left':
        left = left_df.withColumn('__lid', F.monotonically_increasing_id())
        pairs = _sj_pairs(left, right_df, left_on, right_on, op, cell_size)
        rpart = pairs.select('__lid', '__rrow')
        j = left.join(rpart, on='__lid', how='left')
        cols = [F.col(c) for c in lcols]
        for c in rcols:
            if c == right_on:
                continue
            name = c + suffixes[1] if c in lcols else c
            cols.append(F.col(f'__rrow.{c}').alias(name))
        return j.select(*cols)
    if how == 'right':
        return sjoin(right_df, left_df, right_on, left_on,
                     _swap_op(op), 'left', (suffixes[1], suffixes[0]), cell_size)
    raise ValueError(f'how must be inner/left/right, got {how!r}')


def _swap_op(op: str) -> str:
    return {'within': 'contains', 'contains': 'within', 'intersects': 'intersects'}[op]


def sjfull(left_df: DataFrame, right_df: DataFrame, left_on: str = 'geometry',
           right_on: str = 'geometry', suffixes: tuple[str, str] = ('', '_right'),
           join: str = 'inner', op: str = 'intersects',
           cell_size: float | None = None) -> DataFrame:
    """Spatial join keeping BOTH original geometries, as
    ``geometry<suffix0>`` and ``geometry<suffix1>``
    (reference `/root/reference/erde/op/sjoin.py:10-40`)."""
    pairs = _sj_pairs(left_df, right_df, left_on, right_on, op, cell_size)
    return _flatten(pairs, left_df.columns, right_df.columns, suffixes,
                    drop_right_geom=None)


def sagg(left_df: DataFrame, right_df: DataFrame, agg: dict,
         left_on: str = 'geometry', right_on: str = 'geometry',
         suffixes: tuple[str, str] = ('', '_right'), join: str = 'left',
         op: str = 'intersects', cell_size: float | None = None) -> DataFrame:
    """Spatial aggregate: aggregate right-side attributes per left row
    (reference `/root/reference/erde/op/sjoin.py:43-86`).

    ``agg`` maps column name -> agg name ('sum', 'count', 'min', 'max',
    'mean'/'avg', 'first', 'collect_list'). Strings under 'sum' concatenate
    in pandas by accident; we define that as ``collect_list`` instead
    (documented divergence, SURVEY.md §7.2e). 'first' is made deterministic
    by ordering on the right row id.

    Plan shape: spatial pair join -> groupBy(left id) partial agg -> left
    join back. Two shuffles total; the group-by combines map-side.
    """
    if not isinstance(agg, dict):
        raise TypeError('agg argument must be a dict')
    if len(agg) == 0:
        raise ValueError("agg argument can't be empty")
    if join not in ('left', 'inner'):
        raise ValueError(f'join must be left or inner, got {join!r}')

    left = left_df.withColumn('__lid', F.monotonically_increasing_id())
    pairs = _sj_pairs(left, right_df, left_on, right_on, op, cell_size)
    aggs = []
    for col, how_ in agg.items():
        src = F.col(f'__rrow.{col}')
        name = col + suffixes[1] if col in left_df.columns else col
        aggs.append(_AGG_FNS[how_](src, '__rid').alias(name))
    grouped = pairs.groupBy('__lid').agg(*aggs)
    if _catalyst_size(left_df) <= BROADCAST_SIDE_BYTES:
        # at most one row per left row: a small left side means a small
        # grouped side. Catalyst sizes it from the candidate join's
        # cross-product estimate instead and plans a sort-merge join-back,
        # which AQE turns into a broadcast only after shuffling the left.
        grouped = F.broadcast(grouped)

    return left.join(grouped, on='__lid', how=join).drop('__lid')


def _first_by(src, order_col):
    # deterministic 'first': min_by right row id
    return F.min_by(src, F.col(order_col))


_AGG_FNS = {
    'sum': lambda c, o: F.sum(c),
    'count': lambda c, o: F.count(c),
    'min': lambda c, o: F.min(c),
    'max': lambda c, o: F.max(c),
    'mean': lambda c, o: F.avg(c),
    'avg': lambda c, o: F.avg(c),
    'first': _first_by,
    'collect_list': lambda c, o: F.collect_list(c),
}


def slookup(left_df: DataFrame, right_df: DataFrame, columns: str | list[str],
            left_on: str = 'geometry', right_on: str = 'geometry',
            suffixes: tuple[str, str] = ('', '_right'), join: str = 'left',
            op: str = 'intersects', cell_size: float | None = None) -> DataFrame:
    """Spatial lookup: first spatially-matching right value per left row
    (reference `/root/reference/erde/op/sjoin.py:89-121`; 'first' made
    deterministic by right row id)."""
    if isinstance(columns, str):
        columns = [columns]
    return sagg(left_df, right_df, {c: 'first' for c in columns},
                left_on, right_on, suffixes, join, op, cell_size)


def snearest(left_df: DataFrame, right_df: DataFrame, max_distance: float,
             left_on: str = 'geometry', right_on: str = 'geometry',
             how: str = 'inner', suffixes: tuple[str, str] = ('', '_right'),
             distance_col: str = 'distance', k: int = 1) -> DataFrame:
    """Nearest-neighbor spatial join (gpd ``sjoin_nearest`` shape — an
    extension; the reference's family stops at predicate joins): for each
    left row, the ``k`` closest right rows within ``max_distance`` (CRS
    units), plus their distances. Ties break deterministically by the
    right row's column values (lexicographic). ``how='left'`` keeps
    unmatched left rows with NULLs (one row each).

    Physical strategy: the search radius bounds the problem, so the grid
    cell size IS ``max_distance`` — each left bbox dilated by the radius
    explodes to its covering cells, rights explode to theirs, candidates
    equi-join on cell (one shuffle, AQE-skew-handled), pairs dedupe by the
    reference-cell trick, exact distances compute in one Arrow pass, and
    ``min(struct(distance, rid, payload))`` per left row picks the nearest
    — a map-side-combining aggregate, never a driver loop.
    """
    if max_distance <= 0:
        raise ValueError('max_distance must be positive')
    if how not in ('inner', 'left'):
        raise ValueError(f'how must be inner or left, got {how!r}')
    from erde_spark.functions.geo import st_distance

    lcols, rcols = left_df.columns, right_df.columns
    cell = float(max_distance)
    # dilate the left bbox by the search radius; covering cells + ref-cell
    # dedup then work exactly as in the predicate join
    lx, rx, bbox_overlap = _sides(left_df, right_df, left_on, right_on, pad=cell)
    if _catalyst_size(right_df) <= BROADCAST_SIDE_BYTES:
        # small-side fast path: broadcast-nested-loop on the (radius-
        # dilated) bbox predicate — no cell explode, pairs unique as-is
        cand = lx.join(F.broadcast(rx), bbox_overlap)
    else:
        _, cov_l = _covering_cells('__l_', cell)
        _, cov_r = _covering_cells('__r_', cell)
        empty = F.array().cast('array<struct<cx:bigint,cy:bigint>>')
        lc = _explode_cells(lx, F.when(F.col('__l_minx').isNull(), empty)
                            .otherwise(cov_l))
        rc = _explode_cells(rx, F.when(F.col('__r_minx').isNull(), empty)
                            .otherwise(cov_r))
        cand = lc.join(rc, on=['__cx', '__cy'], how='inner').filter(bbox_overlap)
        ref_cx = F.floor(F.greatest('__l_minx', '__r_minx') / F.lit(cell)).cast('long')
        ref_cy = F.floor(F.greatest('__l_miny', '__r_miny') / F.lit(cell)).cast('long')
        cand = cand.filter((F.col('__cx') == ref_cx) & (F.col('__cy') == ref_cy))

    cand = cand.withColumn('__d', st_distance(F.col('__lgeom'), F.col('__rgeom')))
    # The radius test runs after the pick, not as a Filter over the distance
    # projection: Catalyst pushes such a Filter below the projection by
    # inlining st_distance into it, which evaluates the distance kernel in
    # two Arrow nodes. Out-of-radius candidates rank after every in-radius
    # one, so testing after the pick keeps the same rows.
    within = F.col('__d') <= F.lit(cell)

    # tie-break on the right row CONTENT (lexicographic over its columns),
    # not an internal row id — reproducible across engines and runs
    pick = F.struct(F.col('__d'), F.col('__rrow'), F.col('__rid'))
    # the left payload rides along with the pick, so an inner join never
    # re-reads the left side (nor re-runs its UDF chain)
    if k == 1:
        # min-struct aggregate: map-side combining, no per-group sort
        best = (cand.groupBy('__lid')
                .agg(F.first('__lrow').alias('__lrow'),
                     F.min(F.when(within, pick)).alias('__best'))
                .filter(F.col('__best').isNotNull()))
    else:
        w = Window.partitionBy('__lid').orderBy('__d', '__rrow', '__rid')
        best = (cand.withColumn('__rn', F.row_number().over(w))
                .filter((F.col('__rn') <= k) & within)
                .select('__lid', '__lrow', pick.alias('__best')))
    if how == 'left':
        # unmatched left rows return through a join-back on the row id,
        # which re-reads the left side as sagg's join-back does
        best = lx.select('__lid', '__lrow').join(best.drop('__lrow'), '__lid', 'left')

    cols = [F.col(f'__lrow.{c}').alias(
                c + suffixes[0] if (c in rcols and suffixes[0]) else c)
            for c in lcols]
    for c in rcols:
        if c == right_on:
            continue
        name = c + suffixes[1] if c in lcols else c
        cols.append(F.col(f'__best.__rrow.{c}').alias(name))
    cols.append(F.col('__best.__d').alias(distance_col))
    return best.select(*cols)


def sfilter(left_df: DataFrame, filter_df: DataFrame, left_on: str = 'geometry',
            right_on: str = 'geometry', negative: bool = False,
            op: str = 'intersects', cell_size: float | None = None) -> DataFrame:
    """Spatial semi/anti filter (reference `/root/reference/erde/op/sjoin.py:124-162`):
    keep left rows that match (or with ``negative=True``, don't match) any
    filter geometry. Lowered to a LEFT SEMI / LEFT ANTI join on the left row
    id — no right payload is carried, no duplicates possible."""
    lcols = left_df.columns
    left = left_df.withColumn('__lid', F.monotonically_increasing_id())
    pairs = _sj_pairs(left, filter_df.select(right_on), left_on, right_on, op, cell_size)
    matched = pairs.select(F.col('__lid').alias('__mid'))
    how = 'left_anti' if negative else 'left_semi'
    return left.join(matched, left['__lid'] == matched['__mid'], how).select(*lcols)

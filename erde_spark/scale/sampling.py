"""Deterministic, engine-portable sampling for training-data pipelines.

``df.sample()`` is seed-dependent on partitioning and row order, so two
runs (or Spark vs another engine) disagree — useless for reproducible
corpus curation or held-out splits. These samplers key every decision off
``md5(id)`` instead: the same row lands in the same split on ANY engine
that computes md5 of the same string bytes, at any parallelism, under
repartitioning, after compaction.

Scale posture (100 TB):

- ``hash_sample`` is a stateless map-side filter — no shuffle, no state,
  pushes through joins/unions; selectivity is ``fraction`` exactly in
  expectation with a 16-bit bucket granularity (1/65536 steps).
- ``hash_split`` is the same trick partitioned into disjoint named
  splits (train/val/test) — one pass, mutually exclusive by construction.
- ``stratified_sample`` takes exactly ``n`` rows per stratum via a
  window rank over the hash. One shuffle on the strata column; fine for
  the usual case (strata = languages/sources, thousands at most). For a
  HUGE single stratum the per-stratum sort dominates — use
  ``hash_sample`` with a per-stratum fraction instead (map-only).
- ``top_n_sample`` is a global exactly-n sample via TakeOrdered over the
  hash: partial top-n per partition + driver merge, O(n) driver memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from erde_spark.session import driver_frame


def sample_key(id_col: Column | str, salt: str = '') -> Column:
    """Deterministic 4-hex-digit (16-bit) bucket of a row id: the first 4
    chars of ``md5(cast(id as string) || salt)``. Portable: any engine's
    md5 of the same UTF-8 bytes yields the same lowercase hex."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(
        F.md5(F.encode(F.concat(c.cast('string'), F.lit(salt)), 'UTF-8')),
        1, 4)


def _threshold_hex(fraction: float) -> str:
    """Upper-bound hex string for a [0,1] fraction. Keys are exactly 4
    lowercase hex chars, so fraction 1.0 must map to a string that sorts
    AFTER 'ffff' — 'g' does; '10000' would sort before it."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f'fraction must be in [0, 1], got {fraction}')
    n = int(fraction * 0x10000)
    return 'g' if n >= 0x10000 else format(n, '04x')


def hash_sample(df: DataFrame, id_col: str, fraction: float,
                salt: str = '') -> DataFrame:
    """Keep rows whose 16-bit hash bucket falls below ``fraction``.
    Deterministic, repartition-proof, map-only (no shuffle). Different
    ``salt`` values give independent samples."""
    return df.filter(sample_key(id_col, salt) < F.lit(_threshold_hex(fraction)))


def hash_split(df: DataFrame, id_col: str, splits: dict[str, float],
               salt: str = '') -> DataFrame:
    """Assign every row to one named split (e.g. train/val/test) by hash
    range. ``splits`` maps name -> fraction; fractions must sum to <= 1
    (rows past the total get split ``NULL`` — filter or treat as holdout).
    Adds a ``split`` column; one map-only pass, splits mutually exclusive
    and individually identical to ``hash_sample`` of the cumulated range.
    """
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f'split fractions sum to {total} > 1')
    key = sample_key(id_col, salt)
    expr = F.lit(None).cast('string')
    cum = 0.0
    bounds = []
    for name, frac in splits.items():
        lo, cum = cum, cum + frac
        bounds.append((name, _threshold_hex(lo), _threshold_hex(cum)))
    for name, lo, hi in reversed(bounds):
        expr = F.when((key >= F.lit(lo)) & (key < F.lit(hi)), name).otherwise(expr)
    return df.withColumn('split', expr)


def stratified_sample(df: DataFrame, strata_col: str, id_col: str,
                      n_per_stratum: int, salt: str = '') -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, picked by hash
    order (deterministic; ties broken by id). One shuffle on the strata
    column."""
    w = (Window.partitionBy(strata_col)
         .orderBy(sample_key(id_col, salt), F.col(id_col)))
    return (df.withColumn('_rk', F.row_number().over(w))
            .filter(F.col('_rk') <= n_per_stratum)
            .drop('_rk'))


def target_mix(df: DataFrame, group_col: str, id_col: str,
               weights: dict[str, float], salt: str = '',
               _counts: dict | None = None) -> DataFrame:
    """Rebalance a corpus to target group proportions — the data-mixing
    step of a training run (e.g. 40% en / 20% de / ... by language, or
    web/books/code source weights).

    Keeps the LARGEST total consistent with the weights: the binding
    group (smallest n_g / w_g) is kept whole and every other group is
    downsampled to w_g * T rows, chosen deterministically by hash order
    (same portability contract as the other samplers). Groups absent
    from ``weights`` are dropped.

    Scale shape: one map-side-combined count per group (collected — one
    row per group, bounded by the group cardinality: languages/sources,
    thousands at most), then one shuffle on the group column for the
    within-group rank. The count pass here is semantic — the quotas ARE
    a function of the group sizes — not a planning probe.
    """
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError('weights must be a non-empty dict of positive numbers')
    total_w = sum(weights.values())
    norm = {g: w / total_w for g, w in weights.items()}
    if _counts is not None:
        counts = {g: n for g, n in _counts.items() if g in norm}
    else:
        counts = {r['g']: r['n'] for r in
                  (df.filter(F.col(group_col).isin(*norm))
                   .groupBy(F.col(group_col).alias('g'))
                   .agg(F.count(F.lit(1)).alias('n')).collect())}
    missing = set(norm) - set(counts)
    if missing:
        raise ValueError(f'groups absent from the data: {sorted(missing)}')
    # exact rational arithmetic for the quotas: the binding group's quota
    # must be exactly its count (documented 'kept whole' contract), and a
    # 1-ulp float error in w * (n_g / w_g) would truncate it to n_g - 1
    # once counts pass ~2e6. Fraction makes quota_g = floor(w_g * T) exact.
    from fractions import Fraction
    fw = {g: Fraction(w).limit_denominator(10**9) for g, w in norm.items()}
    t_max = min(Fraction(counts[g]) / fw[g] for g in norm)
    quotas = {g: int(fw[g] * t_max) for g in norm}
    quota_col = F.lit(None).cast('long')
    for g, q in quotas.items():
        quota_col = F.when(F.col(group_col) == g, q).otherwise(quota_col)
    w_rank = (Window.partitionBy(group_col)
              .orderBy(sample_key(id_col, salt), F.col(id_col)))
    return (df.filter(F.col(group_col).isin(*norm))
            .withColumn('_q', quota_col)
            .withColumn('_rk', F.row_number().over(w_rank))
            .filter(F.col('_rk') <= F.col('_q'))
            .drop('_q', '_rk'))


def temperature_mix(df: DataFrame, group_col: str, id_col: str,
                    alpha: float = 0.3, salt: str = '') -> DataFrame:
    """Temperature-based corpus rebalancing — the multilingual-mixing
    standard (mT5/mBART exponentiated smoothing; T5 §3.4.1): target
    proportions q_g ∝ p_g^alpha where p_g is each group's corpus
    share. alpha=1 keeps the natural distribution, alpha=0 flattens to
    uniform, the published sweet spots sit at 0.2-0.5 (mT5 uses 0.3).
    Upsampling is out of scope (this is a one-pass filter — compose
    :func:`unimax_mix` with ``materialize=True`` for epoch-repeating);
    like :func:`target_mix`, the binding group is kept whole and every
    other group downsamples to its exact rational quota,
    hash-deterministically.

    Scale shape: identical to target_mix — one bounded per-group count
    (the quotas ARE a function of group sizes), one shuffle for the
    within-group rank."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f'alpha must be in [0, 1], got {alpha}')
    counts = {r['g']: r['n'] for r in
              (df.where(F.col(group_col).isNotNull())
               .groupBy(F.col(group_col).alias('g'))
               .agg(F.count(F.lit(1)).alias('n')).collect())}
    if not counts:
        return df.where(F.lit(False))
    total = sum(counts.values())
    weights = {g: (n / total) ** alpha for g, n in counts.items()}
    # pass the counts through — target_mix would otherwise recompute
    # the identical per-group aggregation, doubling the corpus scan
    return target_mix(df.where(F.col(group_col).isNotNull()),
                      group_col, id_col, weights, salt=salt,
                      _counts=counts)


def cap_per_key(df: DataFrame, key_col: str, cap: int,
                id_col: str = 'doc_id', salt: str = '') -> DataFrame:
    """Keep at most ``cap`` rows per key, chosen deterministically by
    hash order — the domain-frequency cap every crawl pipeline runs
    (C4 §2.2 / RefinedWeb-style: a handful of boilerplate-heavy hosts
    otherwise dominate the corpus). Deterministic and repartition-
    proof: the kept set is a pure function of (id, salt), same
    portability contract as the other samplers.

    Scale shape — SKEW-AWARE two-phase, not one global window: a
    window over every key would put each giant domain (the exact rows
    this operator exists to trim) in ONE reducer task, and AQE cannot
    split a window partition. Phase 1 counts per key (map-side
    combined) and keeps only the over-cap keys — a tiny minority by
    construction (the web's domain-frequency tail is long and light);
    under-cap rows PASS THROUGH via a semi/anti join against that key
    list (AQE broadcasts it at runtime when it is small, the normal
    case; a degenerate cap that puts millions of keys over the line
    degrades to a shuffle join, not a failure). Phase 2 ranks only the
    over-cap slice with the window. The worst key still ranks in one
    task, but over rows it alone contributes, not the corpus; at
    100 TB the pass-through side is ~all of the data.
    """
    if cap < 1:
        raise ValueError(f'cap must be >= 1, got {cap}')
    over = (df.groupBy(key_col).agg(F.count(F.lit(1)).alias('_n'))
            .filter(F.col('_n') > cap).select(key_col))
    hot = df.join(over, key_col, 'left_semi')
    cold = df.join(over, key_col, 'left_anti')
    w = (Window.partitionBy(key_col)
         .orderBy(sample_key(id_col, salt), F.col(id_col)))
    kept_hot = (hot.withColumn('_rk', F.row_number().over(w))
                .filter(F.col('_rk') <= cap).drop('_rk'))
    return cold.unionByName(kept_hot)


def top_n_sample(df: DataFrame, id_col: str, n: int,
                 salt: str = '') -> DataFrame:
    """Exactly ``min(n, |df|)`` rows globally, by hash order — compiles
    to TakeOrderedAndProject (partial top-n per partition), never a full
    sort."""
    return df.orderBy(sample_key(id_col, salt), F.col(id_col)).limit(n)


def weighted_sample(df: DataFrame, id_col: str, weight_col: str, n: int,
                    salt: str = '') -> DataFrame:
    """Exactly ``min(n, |w>0|)`` rows, weighted WITHOUT replacement
    (Efraimidis & Spirakis 2006, algorithm A-ES in exponential-race
    form): every row draws a deterministic uniform ``u`` from its id
    hash and races with key ``-ln(u) / w`` — the ``n`` smallest keys
    win, giving each row first-draw probability proportional to its
    weight and the exact A-ES distribution overall. Deterministic,
    engine-portable (same md5 -> same sample in DuckDB/Trino), and
    plan-cheap: compiles to TakeOrderedAndProject (partial top-n per
    partition + driver merge, O(n) driver memory, no full sort, no
    shuffle). Rows with weight <= 0 or NULL are excluded, matching the
    paper's w > 0 domain. Different ``salt`` values draw independent
    samples (use per-epoch salts for repeated passes).

    For n large enough that a driver merge hurts (n in the hundreds of
    millions), pre-filter with a key threshold estimated from a sample
    quantile and re-run on the survivors — the race key is a plain
    column, so the two-pass refinement is two cheap scans."""
    u = (F.conv(F.substring(
        F.md5(F.encode(F.concat(F.col(id_col).cast('string'),
                                F.lit(':ws:' + salt)), 'UTF-8')),
        1, 8), 16, 10).cast('double') + 1.0) / 4294967296.0  # (0, 1]
    w = F.col(weight_col).cast('double')
    key = -F.log(u) / w
    return (df.filter(w > 0)
            .orderBy(key.asc(), F.col(id_col).asc()).limit(n))


def split_no_leakage(df: DataFrame, splits: dict[str, float],
                     text_col: str = 'text', salt: str = '',
                     near_dup: bool = False, id_col: str = 'doc_id',
                     threshold: float = 0.9) -> DataFrame:
    """Train/val/test split WITHOUT duplicate leakage: the split key is
    the document's CONTENT, not its row id, so byte-identical documents
    always land in the same split (id-keyed splitting silently leaks
    training duplicates into eval — the benchmark-inflation failure mode
    decontamination exists to catch). With ``near_dup=True`` the key is
    the MinHash-LSH cluster component instead, keeping whole near-dup
    FAMILIES together (probabilistic up to LSH recall, so that variant
    is rows-only in the correctness gate; the exact variant is
    deterministic and fully oracled).
    """
    from erde_spark.scale.text import fingerprint
    if near_dup:
        from erde_spark.scale.dedup import (connected_components,
                                            minhash_spanning_edges)
        edges = minhash_spanning_edges(df, id_col, text_col, threshold)
        comp = connected_components(edges, df.select(id_col)) \
            .withColumnRenamed('id', id_col)
        keyed = df.join(comp, id_col).withColumn(
            '_lk', F.col('component').cast('string')).drop('component')
    else:
        keyed = df.withColumn('_lk', fingerprint(F.col(text_col)))
    return hash_split(keyed, '_lk', splits, salt).drop('_lk')


def shuffle_deterministic(df: DataFrame, id_col: str, salt: str = '',
                          pos_col: str = 'shuffle_pos',
                          buckets: int = 1024) -> DataFrame:
    """Reproducible global training-order shuffle: every row gets a
    dense zero-based ``pos_col`` equal to its rank under
    ``md5(cast(id as string) || salt)`` (ties broken by id) — the same
    permutation on any engine, at any parallelism, across re-runs;
    change ``salt`` per epoch for a fresh order.

    The usual Spark spellings don't scale or don't reproduce:
    ``orderBy(rand())`` differs per run, and ``row_number`` over a
    global window funnels 100 TB through ONE task. Here the hash's
    first four hex chars range-partition rows into up to 65536 ordered
    groups folded to ``buckets``; a groupBy counts each group (tiny:
    ``buckets`` rows to the driver), exclusive-prefix offsets broadcast
    back, and each group ranks independently —
    ``pos = offset[group] + rank_within_group``. Two shuffles (count +
    rank), the largest single sort is ~n/buckets, and nothing but the
    group-count table ever leaves the executors. Downstream, write
    with ``df.repartitionByRange(k, 'shuffle_pos')`` for globally
    ordered output shards. No counterpart in the reference (no
    ordering operator at all); the epoch-reshuffle role follows the
    published data-loader designs (e.g. T5/Megatron epoch seeding)."""
    if not 1 <= buckets <= 0x10000:
        raise ValueError(f'buckets must be in [1, 65536], got {buckets}')
    h = F.md5(F.encode(
        F.concat(F.col(id_col).cast('string'), F.lit(salt)), 'UTF-8'))
    # group id = first-4-hex-chars value folded to <=65536 groups:
    # group order IS hash order (the fold is monotone), so inter-group
    # offsets compose a total order
    grp = (F.conv(F.substring('_h', 1, 4), 16, 10).cast('long')
           * buckets / 0x10000).cast('int')
    d = df.withColumn('_h', h).withColumn('_g', grp)
    counts = {r['_g']: r['c'] for r in
              d.groupBy('_g').agg(F.count(F.lit(1)).alias('c')).collect()}
    if not counts:            # empty frame: schema-only result
        return df.withColumn(pos_col, F.lit(None).cast('long'))
    run, offsets = 0, []
    for g in sorted(counts):
        offsets.append((g, run))
        run += counts[g]
    # broadcast-join the offset table rather than inlining it as a
    # create_map literal: a map of `buckets` entries is re-evaluated
    # per row and blows codegen limits past ~1k groups (measured 6x
    # slower at 4096 buckets / 1M rows than the join)
    off = F.broadcast(driver_frame(df.sparkSession, offsets,
                                   '_g int, _off long'))
    w = Window.partitionBy('_g').orderBy(F.col('_h').asc(),
                                         F.col(id_col).asc())
    pos = F.col('_off') + F.row_number().over(w) - 1
    return (d.join(off, '_g')
            .withColumn(pos_col, pos.cast('long'))
            .drop('_h', '_g', '_off'))


def unimax_allocation(counts: dict, budget, max_epochs) -> dict:
    """UniMax budget waterfill (Chung et al., ICLR 2023): visit groups
    by ascending capacity (``max_epochs * count``); each takes
    ``min(capacity, remaining / groups_left)``. Exact Fraction
    arithmetic so a 1-ulp error can never flip a cap decision; returns
    ``{group: allocated}`` as Fractions summing to ``min(budget,
    total capacity)``."""
    from fractions import Fraction
    if budget <= 0 or max_epochs <= 0:
        raise ValueError('budget and max_epochs must be positive')
    if not counts or any(c <= 0 for c in counts.values()):
        raise ValueError('counts must be a non-empty dict of positives')
    remaining = Fraction(budget)
    out = {}
    order = sorted(counts, key=lambda g: (Fraction(max_epochs)
                                          * counts[g], str(g)))
    for i, g in enumerate(order):
        cap = Fraction(max_epochs) * counts[g]
        fair = remaining / (len(order) - i)
        out[g] = min(cap, fair)
        remaining -= out[g]
    return out


def unimax_mix(df: DataFrame, group_col: str, id_col: str,
               budget, max_epochs, weight_col: str | None = None,
               salt: str = '', materialize: bool = False) -> DataFrame:
    """UniMax language/source sampling (Chung et al., ICLR 2023): give
    every group an equal share of the training ``budget`` UNLESS that
    would repeat its data more than ``max_epochs`` times — low-resource
    groups cap at ``max_epochs`` epochs and the freed budget
    redistributes uniformly over the rest (closed-form waterfill; the
    reference has no mixing operator). Budget and capacities count
    ROWS by default, or ``sum(weight_col)`` (e.g. per-doc token
    counts) when given.

    Default output: the input plus ``n_full_epochs`` (whole passes
    over the group) and ``frac_kept`` (whether the row belongs to the
    deterministic md5 sample implementing the fractional final pass —
    same engine-portable contract as ``hash_sample``).
    ``materialize=True`` explodes instead to one row per (doc, epoch)
    with an ``epoch`` column — the actual training-mix table.

    Scale shape: one map-side-combined count per group (collected —
    one row per group, bounded by group cardinality; the waterfill is
    a driver loop over that table), then a broadcast CASE on the
    group column — no shuffle of the data itself; ``materialize``
    adds only the explode (output-sized, no extra exchange)."""
    from fractions import Fraction
    agg = (F.sum(weight_col) if weight_col
           else F.count(F.lit(1))).alias('n')
    rows = df.groupBy(F.col(group_col).alias('g')).agg(agg).collect()
    counts = {r['g']: r['n'] for r in rows}
    alloc = unimax_allocation(counts, budget, max_epochs)
    full, thr = {}, {}
    for g, b in alloc.items():
        epochs = b / Fraction(counts[g])
        full[g] = int(epochs)               # floor: whole passes
        frac = epochs - full[g]
        thr[g] = ('g' if frac >= 1
                  else format(int(frac * 0x10000), '04x'))
    full_col = F.lit(None).cast('int')
    thr_col = F.lit(None).cast('string')
    for g in alloc:
        full_col = F.when(F.col(group_col) == g, full[g]) \
            .otherwise(full_col)
        thr_col = F.when(F.col(group_col) == g, thr[g]) \
            .otherwise(thr_col)
    out = (df.filter(F.col(group_col).isin(*alloc))
           .withColumn('n_full_epochs', full_col)
           .withColumn('frac_kept',
                       sample_key(id_col, salt) < thr_col))
    if not materialize:
        return out
    # one row per (doc, epoch): epochs 0..n_full-1 are the whole
    # passes; the md5-sampled rows add a final fractional epoch
    n_ep = F.col('n_full_epochs') + F.col('frac_kept').cast('int')
    return (out.where(n_ep > 0)
            .withColumn('epoch', F.explode(F.sequence(F.lit(0),
                                                      n_ep - 1)))
            .drop('n_full_epochs', 'frac_kept'))

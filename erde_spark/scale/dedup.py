"""Deduplication operators for large-scale training-data pipelines.

Four families, each with an explicit scale posture:

* ``exact_dedup``          — hash-groupBy on a normalized fingerprint.
  One shuffle, map-side combined; the canonical 100 TB exact-dedup plan.
* ``jaccard_pairs``        — EXACT n-gram/token Jaccard via inverted-index
  self-join. Correct but fan-out grows with document frequency of common
  tokens; at scale use it only behind ``minhash_lsh_pairs`` candidates or
  with ``max_doc_freq`` pruning.
* ``minhash_lsh_pairs``    — MinHash signatures + banded LSH bucketing;
  candidates verified with exact Jaccard. The scale path: cost is
  O(docs × perms) + bucket-local joins, no all-pairs anywhere.
* ``simhash_pairs``        — 64-bit SimHash with pigeonhole chunk bucketing
  for Hamming-distance candidate generation.
* ``embedding_cosine_pairs`` — near-dup by embedding cosine similarity;
  brute-force block product (fine to ~1M docs); LSH variant in
  ``erde_spark.scale.similarity`` for beyond.

All id pairs are emitted once with ``id_a < id_b``.
"""

from __future__ import annotations


import math

import numpy as np
import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from erde_spark.scale.text import char_shingles, fingerprint, tokens
from erde_spark.session import driver_frame, phase, spread_to_cores


def _units(text_col, shingles: int | None):
    """The set-similarity unit: lowercase word tokens by default, or
    overlapping character n-grams when ``shingles`` is given (the
    shingle->minhash pipeline of Broder '97 — robust to intra-word edits
    and language-agnostic)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return char_shingles(c, shingles) if shingles else tokens(c)

# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text',
                keep: str = 'min') -> DataFrame:
    """Collapse exact duplicates (after whitespace/case normalization).

    Returns one row per distinct fingerprint: the kept id (min or max),
    the fingerprint, and the group size. Single hash-partitioned groupBy —
    shuffles one small row per document, combines map-side.
    """
    keep_fn = {'min': F.min, 'max': F.max}[keep]
    return (df
            .select(F.col(id_col), fingerprint(F.col(text_col)).alias('fingerprint'))
            .groupBy('fingerprint')
            .agg(keep_fn(id_col).alias(id_col),
                 F.count(F.lit(1)).alias('n_dups')))


def distinct_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Plain exact row dedup (``dropDuplicates``) — one shuffle on the
    subset columns; AQE handles skew."""
    return df.dropDuplicates(subset) if subset else df.distinct()


# ---------------------------------------------------------------- exact jaccard

def _token_sets(df: DataFrame, id_col: str, text_col: str,
                shingles: int | None = None) -> DataFrame:
    return df.select(F.col(id_col).alias('id'),
                     F.array_distinct(_units(text_col, shingles)).alias('toks'))


def jaccard_pairs(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text',
                  threshold: float = 0.6, max_doc_freq: int | None = None,
                  shingles: int | None = None) -> DataFrame:
    """EXACT token-set Jaccard similarity pairs >= threshold.

    Physical plan: tokenize -> explode -> self-equi-join on token (one
    shuffle by token) -> groupBy(pair) to count the intersection -> join
    set sizes -> filter. ``max_doc_freq`` drops tokens appearing in more
    than that many documents before the join (stopword-style pruning: such
    tokens contribute little to Jaccard but dominate join fan-out; this
    makes the result an upper-bound filter, document if used).
    """
    tok = _token_sets(df, id_col, text_col, shingles)
    sizes = tok.select('id', F.size('toks').alias('n'))
    ex = tok.select('id', F.explode('toks').alias('tok'))
    if max_doc_freq is not None:
        freq = ex.groupBy('tok').agg(F.count(F.lit(1)).alias('__df'))
        ex = (ex.join(F.broadcast(freq.filter(F.col('__df') <= max_doc_freq)), 'tok')
                .drop('__df'))
    a = ex.alias('a')
    b = ex.alias('b')
    inter = (a.join(b, (F.col('a.tok') == F.col('b.tok')) & (F.col('a.id') < F.col('b.id')))
              .groupBy(F.col('a.id').alias('id_a'), F.col('b.id').alias('id_b'))
              .agg(F.count(F.lit(1)).alias('inter')))
    sa = sizes.select(F.col('id').alias('id_a'), F.col('n').alias('na'))
    sb = sizes.select(F.col('id').alias('id_b'), F.col('n').alias('nb'))
    return (inter.join(sa, 'id_a').join(sb, 'id_b')
            .withColumn('jaccard',
                        F.col('inter') / (F.col('na') + F.col('nb') - F.col('inter')))
            .filter(F.col('jaccard') >= threshold)
            .select('id_a', 'id_b', 'jaccard'))


def containment_pairs(df: DataFrame, id_col: str = 'doc_id',
                      text_col: str = 'text', threshold: float = 0.8,
                      max_doc_freq: int | None = None,
                      shingles: int | None = None) -> DataFrame:
    """ASYMMETRIC near-duplication: containment(A in B) = |A∩B| / |A|.

    Jaccard misses the short-document-quoted-inside-a-long-one case (a
    100-token doc fully contained in a 10,000-token doc has Jaccard
    ~0.01 but containment 1.0) — the classic boilerplate/quotation shape
    a curation pipeline must catch. Same inverted-index plan as
    :func:`jaccard_pairs` (one shuffle by token); each unordered pair is
    emitted once with both direction scores, filtered on the max.
    """
    tok = _token_sets(df, id_col, text_col, shingles)
    sizes = tok.select('id', F.size('toks').alias('n'))
    ex = tok.select('id', F.explode('toks').alias('tok'))
    if max_doc_freq is not None:
        freq = ex.groupBy('tok').agg(F.count(F.lit(1)).alias('__df'))
        ex = (ex.join(F.broadcast(freq.filter(F.col('__df') <= max_doc_freq)),
                      'tok').drop('__df'))
    a, b = ex.alias('a'), ex.alias('b')
    inter = (a.join(b, (F.col('a.tok') == F.col('b.tok'))
                    & (F.col('a.id') < F.col('b.id')))
             .groupBy(F.col('a.id').alias('id_a'), F.col('b.id').alias('id_b'))
             .agg(F.count(F.lit(1)).alias('inter')))
    sa = sizes.select(F.col('id').alias('id_a'), F.col('n').alias('na'))
    sb = sizes.select(F.col('id').alias('id_b'), F.col('n').alias('nb'))
    return (inter.join(sa, 'id_a').join(sb, 'id_b')
            .withColumn('containment_a', F.col('inter') / F.col('na'))
            .withColumn('containment_b', F.col('inter') / F.col('nb'))
            .filter(F.greatest('containment_a', 'containment_b') >= threshold)
            .select('id_a', 'id_b', 'containment_a', 'containment_b'))


# ---------------------------------------------------------------- minhash LSH

_MERSENNE = (1 << 61) - 1

#: broadcast the doc-level tables (signatures, hashed token sets — both
#: O(corpus text) in size) when Catalyst estimates the input below this.
_BROADCAST_INPUT_BYTES = 2 << 30


def _should_broadcast(df: DataFrame) -> bool:
    """Decide map-side-join mode from Catalyst's optimized-plan size
    estimate — a metadata lookup (file sizes x selectivity), never a scan.
    A counting job here would be a full pass over the corpus just to pick
    a join strategy (at 100 TB, hours before any real work starts)."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps scala.BigInt to int when it fits; JavaObject otherwise
        size = raw if isinstance(raw, int) else int(raw.toString())
        return size <= _BROADCAST_INPUT_BYTES
    except Exception:
        return False  # unknown size: assume large, let AQE re-plan


def _perm_params(num_perm: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def _sig_from_hashes(tok: DataFrame, num_perm: int = 64,
                     seed: int = 42, keep_toks: bool = False) -> DataFrame:
    """(id, sig) MinHash signatures from a hashed-token-set table
    (id, toks: array<long>) — the one table the whole dedup stack shares,
    so documents are tokenized and hashed exactly once (JVM ``xxhash64``)
    and the Arrow crossing carries int64 lists, not token strings.
    ``keep_toks=True`` carries the token column through so callers can
    materialize (id, toks, sig) in ONE checkpoint job instead of two —
    per-job overhead dominates small micro-batches."""
    av, bv = _perm_params(num_perm, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(tok_arrays: pd.Series) -> pd.Series:
        out = []
        # per-doc (tokens x perms) matrices beat one batch-wide matrix +
        # minimum.reduceat here (measured 7.5 vs 11.3 ms/batch): the
        # small matrices stay in L2 while the fused one is bandwidth-bound
        for toks in tok_arrays:
            if toks is None or len(toks) == 0:
                out.append([0] * num_perm)
                continue
            h = np.asarray(toks, dtype=np.int64).astype(np.uint64)
            m = (np.outer(h, av) + bv) % _MERSENNE
            out.append(m.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out)

    keep = ['toks'] if keep_toks else []
    return tok.select('id', *keep, _sig('toks').alias('sig'))


def minhash_signatures(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text',
                       num_perm: int = 64, seed: int = 42,
                       shingles: int | None = None) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures.

    Token base hash h = JVM ``xxhash64`` (deterministic across runs and
    partitionings; never leaves the JVM as a string), read as uint64.
    Each permutation is ((a*h + b) mod 2^64) mod (2^61-1) with seeded
    coefficients a, b < 2^61-1: the product and sum wrap in uint64
    BEFORE the Mersenne reduction, so this is not the textbook
    (a*h + b) mod 2^61-1 universal family. Vectorized per Arrow batch as
    a tokens x perms matrix min in numpy.
    """
    return _sig_from_hashes(_hashed_token_sets(df, id_col, text_col, shingles),
                            num_perm, seed)


def _threshold_bands(num_perm: int, threshold: float) -> int:
    """Threshold-matched banding: the largest rows-per-band r (sharpest
    S-curve) whose midpoint (1/b)^(1/r) sits just below the threshold.

    The 0.92 margin is MEASURED, not aesthetic. A/B at t=0.9 / 96 perms
    on sf0.1 (same process, interleaved): margin 0.95 bands sharper
    (r=12, b=8, midpoint 0.841) and admits far fewer sub-threshold
    candidates into verification, but its lower at-threshold recall
    fragments dup cliques into more surviving representatives, and the
    dedup merge pass is quadratic per bucket in representative count —
    net 19.3s and 2,455 kept vs 12.2s and 2,397 kept for 0.92's wider
    (r=8, b=12, midpoint 0.733) banding. The flood of extra verify work
    pays for itself by connecting more of each clique in round one."""
    best = num_perm  # fallback: 1 row per band
    for r in range(2, num_perm + 1):
        if num_perm % r:
            continue
        b = num_perm // r
        if (1.0 / b) ** (1.0 / r) <= threshold * 0.92:
            best = b
    return best


def _lsh_buckets(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band, bh) — one row per (document, band); bh hashes the band's
    signature slice so bucket keys are fixed-width ints."""
    band_cols = [
        F.struct(F.lit(i).alias('band'),
                 F.hash(F.slice('sig', i * rows + 1, rows)).alias('bh')).alias(f'__b{i}')
        for i in range(bands)]
    return (sig.select('id', F.explode(F.array(*band_cols)).alias('b'))
               .select('id', F.col('b.band').alias('band'), F.col('b.bh').alias('bh')))


def _hashed_token_sets(df: DataFrame, id_col: str, text_col: str,
                       shingles: int | None = None) -> DataFrame:
    """(id, toks: array<long>) distinct 64-bit token hashes per document.
    Integer ``array_intersect`` is several times cheaper than string,
    identical up to ~1e-10/pair collisions."""
    # spread first: one small file (a test corpus, one micro-batch)
    # scans as one partition and would serialize tokenize + minhash
    return spread_to_cores(df).select(
        F.col(id_col).alias('id'),
        F.array_distinct(F.transform(_units(text_col, shingles),
                                     lambda t: F.xxhash64(t))).alias('toks'))


def _token_profile(tok: DataFrame) -> tuple[float, int]:
    """(mean token-set size, document count) of an (id, toks) table —
    one bounded agg job."""
    mean_sz, n = tok.agg(F.avg(F.size('toks')), F.count(F.lit(1))).first()
    return mean_sz or 0.0, n


def _use_sig_prefilter(tok: DataFrame, num_perm: int,
                       mean_sz: float | None = None) -> bool:
    """Whether the signature pre-filter pays for itself, decided from the
    MEAN token-set size (one bounded agg on the doc-level token table —
    the same planning-probe discipline as ``_should_broadcast``).

    Measured at sf0.1 (5.3M candidates, ~100 distinct tokens/doc): the
    pre-filter's ``zip_with`` over 96-element signatures is evaluated
    interpreted and cost 7.7s while the exact ``array_intersect`` pass it
    tries to avoid cost 0.76s — a 10x pessimization on short sets. It
    only wins when token sets are long enough (e.g. char-shingle units,
    thousands of elements) that per-pair set intersection dominates the
    fixed signature compare; the 8x-num_perm threshold is the measured
    crossover's order of magnitude. ``mean_sz`` from a
    :func:`_token_profile` the caller already took skips the agg."""
    if mean_sz is None:
        mean_sz = _token_profile(tok)[0]
    return mean_sz >= 8 * num_perm


def _doc_state(df: DataFrame, id_col: str, text_col: str,
               shingles: int | None, num_perm: int,
               seed: int) -> tuple[DataFrame, DataFrame]:
    """(tok, sig) = ((id, toks), (id, sig)) off ONE eager checkpoint of
    (id, toks, sig). Tokenize-hash-minhash is a single narrow pipeline
    and per-job overhead dominates small inputs, so one materialization
    job replaces a checkpoint per table; both feed 2+ plan branches, so
    the Python signature kernel runs once either way."""
    base = _sig_from_hashes(_hashed_token_sets(df, id_col, text_col, shingles),
                            num_perm, seed, keep_toks=True) \
        .localCheckpoint(eager=True)
    return base.select('id', 'toks'), base.select('id', 'sig')


def _verify_jaccard(cand: DataFrame, sig: DataFrame, tok: DataFrame,
                    threshold: float, num_perm: int, small,
                    prefilter: bool | None = None) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs.

    Exact Jaccard on hashed token sets, optionally preceded by a
    signature pre-filter (estimated Jaccard = fraction of matching
    minhashes, cut 4 sigma below threshold so true pairs survive with
    ~1-1e-4 probability). ``prefilter=None`` decides from the mean
    token-set size (see :func:`_use_sig_prefilter` — on short sets the
    pre-filter costs 10x what it saves); callers that verify repeatedly
    against the same ``tok`` table decide once and pass it in.
    """
    if prefilter is None:
        prefilter = _use_sig_prefilter(tok, num_perm)
    est_cut = threshold - 4.0 * (threshold * (1 - threshold) / num_perm) ** 0.5
    if prefilter and est_cut > 0:
        sa = sig.select(F.col('id').alias('id_a'), F.col('sig').alias('sig_a'))
        sb = sig.select(F.col('id').alias('id_b'), F.col('sig').alias('sig_b'))
        matches = F.size(F.filter(
            F.zip_with('sig_a', 'sig_b', lambda x, y: x == y), lambda v: v))
        cand = (cand.join(small(sa), 'id_a').join(small(sb), 'id_b')
                .filter(matches >= F.lit(est_cut * num_perm))
                .select('id_a', 'id_b'))
    ta = tok.select(F.col('id').alias('id_a'), F.col('toks').alias('toks_a'))
    tb = tok.select(F.col('id').alias('id_b'), F.col('toks').alias('toks_b'))
    return (cand.join(small(ta), 'id_a').join(small(tb), 'id_b')
            .withColumn('inter', F.size(F.array_intersect('toks_a', 'toks_b')))
            .withColumn('jaccard', F.col('inter') /
                        (F.size('toks_a') + F.size('toks_b') - F.col('inter')))
            .filter(F.col('jaccard') >= threshold)
            .select('id_a', 'id_b', 'jaccard'))


def minhash_lsh_pairs(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text',
                      threshold: float = 0.6, num_perm: int = 96, bands: int | None = None,
                      seed: int = 42, shingles: int | None = None) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified with exact
    token-set Jaccard (output precision is exact; recall is the LSH
    collision probability, ~1-(1-t^r)^b).

    ``bands`` defaults to the threshold-matched banding: pick rows r so the
    S-curve midpoint (1/b)^(1/r) sits just below ``threshold`` — a sharper
    curve admits far fewer sub-threshold candidate pairs into the exact
    verification join, which dominates cost on dup-dense corpora.
    ``num_perm=96`` is the measured sweet spot: its banding at typical
    thresholds (e.g. r=8, b=12 at t=0.8, 89%% at-threshold recall) matches
    144 perms (r=9, b=16, 90%%) while the signature kernel, bucket explode
    and signature pre-filter all shrink — ~3x faster end-to-end at sf0.1.

    Plan: signatures (narrow shuffle-free projection) -> explode to
    ``bands`` bucket keys -> self-join per bucket -> distinct candidate
    pairs -> exact Jaccard on 64-bit token hashes (xxhash64 per distinct
    token: integer ``array_intersect`` is several times cheaper than
    string, identical up to ~1e-10/pair collisions). A signature
    pre-filter (estimated Jaccard cut 4 sigma below threshold) is
    inserted only when the mean token-set size makes set intersection
    the dominant per-pair cost — on short sets the interpreted
    ``zip_with`` compare measured 10x the intersection it avoids
    (see :func:`_use_sig_prefilter`).

    Pair-level cost is unavoidable; DOC-level tables (signatures, token
    sets) are only ever joined onto pairs. Both are eagerly materialized
    in one ``localCheckpoint`` before the self-joins: each feeds 2+ plan
    branches, and re-running the Python signature/tokenize kernels per
    branch would quadruple the Arrow traffic — the linear precompute is
    exactly what a production dedup does with its signature table.
    The doc tables are broadcast when :func:`_should_broadcast` says the
    corpus is small enough (map-side join, no pair shuffle); larger
    corpora fall back to shuffle joins which AQE re-plans.
    """
    if bands is None:
        bands = _threshold_bands(num_perm, threshold)
    if num_perm % bands != 0:
        raise ValueError(f'num_perm={num_perm} must be divisible by bands={bands}')
    rows = num_perm // bands
    small = F.broadcast if _should_broadcast(df) else (lambda x: x)
    tok, sig = _doc_state(df, id_col, text_col, shingles, num_perm, seed)
    pf = _use_sig_prefilter(tok, num_perm)

    buckets = _lsh_buckets(sig, bands, rows)
    a, b = buckets.alias('a'), buckets.alias('b')
    # multi-band collisions are deduped with distinct() rather than the
    # canonical-band filter: the filter's zip_with/slice are higher-order
    # functions Spark evaluates interpreted (outside whole-stage codegen),
    # which measured ~15x slower than shuffling the duplicate pairs
    cand = (a.join(small(b), (F.col('a.band') == F.col('b.band')) &
                             (F.col('a.bh') == F.col('b.bh')) &
                             (F.col('a.id') < F.col('b.id')))
             .select(F.col('a.id').alias('id_a'), F.col('b.id').alias('id_b'))
             .distinct())
    return _verify_jaccard(cand, sig, tok, threshold, num_perm, small, pf)


def minhash_spanning_edges(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text',
                           threshold: float = 0.6, num_perm: int = 96,
                           bands: int | None = None, seed: int = 42,
                           shingles: int | None = None) -> DataFrame:
    """Verified near-duplicate edges sufficient to CONNECT each cluster,
    without enumerating every pair of a duplicate clique.

    Per LSH bucket, only star edges (bucket-min id, member id) are
    emitted — O(docs x bands) candidates instead of O(clique^2). A
    2,000-document duplicate clique yields ~2,000 verified edges here vs
    ~2,000,000 from ``minhash_lsh_pairs``; connected components are
    identical whenever star edges verify (near-dup clusters are
    near-cliques, so they almost always do — ``dedup_clusters`` adds a
    representative-merge pass that repairs the rare split). Use this for
    clustering; use ``minhash_lsh_pairs`` when the pair list itself is the
    product.
    """
    if bands is None:
        bands = _threshold_bands(num_perm, threshold)
    if num_perm % bands != 0:
        raise ValueError(f'num_perm={num_perm} must be divisible by bands={bands}')
    rows = num_perm // bands
    small = F.broadcast if _should_broadcast(df) else (lambda x: x)
    tok, sig = _doc_state(df, id_col, text_col, shingles, num_perm, seed)
    pf = _use_sig_prefilter(tok, num_perm)
    buckets = _lsh_buckets(sig, bands, rows)
    cand = _bucket_star_edges(buckets)
    return _verify_jaccard(cand, sig, tok, threshold, num_perm, small, pf)


def _bucket_star_edges(buckets: DataFrame, member_col: str = 'id') -> DataFrame:
    """Distinct (id_a, id_b) star edges per (band, bh) bucket: every member
    paired with its bucket's minimum id. One shuffle on the bucket key
    (map-side combined min + broadcast-back), one on the pair distinct."""
    mins = buckets.groupBy('band', 'bh').agg(F.min(member_col).alias('id_a'))
    return (buckets.join(mins, ['band', 'bh'])
            .filter(F.col(member_col) > F.col('id_a'))
            .select('id_a', F.col(member_col).alias('id_b'))
            .distinct())


def _bucket_all_pairs(buckets: DataFrame, member_col: str = 'id',
                      max_bucket: int | None = 64) -> DataFrame:
    """Distinct (id_a, id_b) — EVERY member pair per (band, bh) bucket
    (quadratic per bucket). Used only where bucket membership is known to
    be small, e.g. cluster REPRESENTATIVES re-bucketed for the merge pass:
    star edges there would miss rep pairs whose shared buckets all have a
    third, non-matching rep as their minimum, because bucket minima never
    change unless a merge fires.

    Buckets larger than ``max_bucket`` fall back to star edges: at r rows
    per band an oversized bucket is a hash-collision artifact (hundreds of
    mutually DISSIMILAR reps — mostly short documents), and enumerating
    its k²/2 pairs dominated the whole merge pass (measured at sf0.1
    t=0.9: 106 of ~58k buckets held 93% of 758k candidate pairs). A true
    near-dup pair shares ~b·t^r buckets in expectation (~5 of 12 at
    t=0.9), so it is still all-pairs-enumerated unless EVERY shared
    bucket is oversized. ``max_bucket=None`` restores unconditional
    all-pairs."""
    if max_bucket is not None:
        sizes = buckets.groupBy('band', 'bh').agg(
            F.count(F.lit(1)).alias('__k'))
        buckets = buckets.join(sizes, ['band', 'bh'])
        small_b = buckets.filter(F.col('__k') <= max_bucket).drop('__k')
        big_b = buckets.filter(F.col('__k') > max_bucket).drop('__k')
        return (_bucket_all_pairs(small_b, member_col, None)
                .unionByName(_bucket_star_edges(big_b, member_col))
                .distinct())
    a, b = buckets.alias('a'), buckets.alias('b')
    return (a.join(b, (F.col('a.band') == F.col('b.band')) &
                      (F.col('a.bh') == F.col('b.bh')) &
                      (F.col(f'a.{member_col}') < F.col(f'b.{member_col}')))
             .select(F.col(f'a.{member_col}').alias('id_a'),
                     F.col(f'b.{member_col}').alias('id_b'))
             .distinct())


# ---------------------------------------------------------------- simhash

def simhash(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text') -> DataFrame:
    """(id, simhash: long) 64-bit SimHash over distinct tokens (unit
    weights; JVM ``xxhash64`` token bits — deterministic across runs, and
    the Arrow crossing carries int64 lists, never token strings)."""

    @F.pandas_udf(T.LongType())
    def _sh(tok_arrays: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        out = []
        for toks in tok_arrays:
            if toks is None or len(toks) == 0:
                out.append(0)
                continue
            h = np.asarray(toks, dtype=np.int64).astype(np.uint64)
            # (tokens x 64) ±1 bit matrix, summed down the token axis
            bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            acc = (2 * bits - 1).sum(axis=0)
            val = int(((acc > 0).astype(np.uint64) << shifts).sum())
            # to signed 64-bit
            out.append(val - (1 << 64) if val >= (1 << 63) else val)
        return pd.Series(out, dtype='int64')

    tok = _hashed_token_sets(df, id_col, text_col)
    return tok.select(F.col('id'), _sh('toks').alias('simhash'))


def simhash_pairs(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text',
                  max_hamming: int = 3) -> DataFrame:
    """Pairs with SimHash Hamming distance <= ``max_hamming`` (< 4).

    Pigeonhole bucketing: split the 64-bit hash into 4 16-bit chunks; any
    pair within Hamming distance 3 agrees exactly on >= 1 chunk, so
    equi-joining per chunk finds all of them with no all-pairs product.
    """
    if max_hamming >= 4:
        raise ValueError('pigeonhole split of 4 chunks supports max_hamming <= 3')
    sh = simhash(df, id_col, text_col)
    chunks = sh.select(
        'id', 'simhash',
        F.explode(F.array(*[
            F.struct(F.lit(i).alias('ci'),
                     F.shiftrightunsigned('simhash', 16 * i).bitwiseAND(F.lit(0xFFFF))
                      .alias('cv'))
            for i in range(4)])).alias('c')) \
        .select('id', 'simhash', F.col('c.ci').alias('ci'), F.col('c.cv').alias('cv'))
    a, b = chunks.alias('a'), chunks.alias('b')
    cand = (a.join(b, (F.col('a.ci') == F.col('b.ci')) & (F.col('a.cv') == F.col('b.cv')) &
                      (F.col('a.id') < F.col('b.id')))
             .select(F.col('a.id').alias('id_a'), F.col('b.id').alias('id_b'),
                     F.col('a.simhash').alias('sh_a'), F.col('b.simhash').alias('sh_b'))
             .distinct())
    return (cand
            .withColumn('hamming', F.bit_count(F.col('sh_a').bitwiseXOR(F.col('sh_b'))))
            .filter(F.col('hamming') <= max_hamming)
            .select('id_a', 'id_b', 'hamming'))


# ---------------------------------------------------------------- clustering

#: merge-repair edge sets up to this size are resolved with a driver
#: union-find instead of a distributed CC round (they are bounded by the
#: representative count, not the corpus)
_MERGE_COLLECT_CAP = 100_000


def _union_find_min(edges: list[tuple]) -> dict:
    """{label: min-label-of-its-merge-set} for labels whose set minimum
    differs — plain union-find, driver-side, input bounded by caller."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN so the surviving label matches CC's min-label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent if find(x) != x}


#: micro-batch driver path bound on collected (id, band, bh) rows —
#: docs x bands; 150k rows ~= a 12.5k-doc batch at 12 bands. Over it,
#: the distributed merge loop runs instead. MEASURED at the edges
#: (round 8's forced-fallback size sweep, SCALE.md): the driver path wins
#: below ~12k docs on both dup-dense and all-unique corpora (2.3-4.1 s
#: vs 3.1-4.8 s distributed) but INVERTS well before the old 500k cap
#: (at 42k docs / 500k bucket rows: 11.8 s driver vs 5.0 s distributed,
#: 258 MB driver peak — the bucket collect dominates), so the cap sits
#: at the measured crossover, not at the memory ceiling.
_MICROBATCH_BUCKET_CAP = 150_000
#: and on candidate rep pairs per merge round (mirrors the edge cap)
_MICROBATCH_CAND_CAP = 250_000


#: driver-known id lists up to this size filter with a literal ``isin``
#: (an InSet that stays in codegen and needs no broadcast job); larger
#: sets take a join. A long list costs on the Python side, not in
#: Catalyst: pyspark builds one py4j literal per id, and building
#: ``F.col('id').isin(ids)`` took 0.027 / 0.139 / 0.427 / 0.875 s at
#: 50 / 300 / 1,000 / 3,000 ids, while a ``driver_frame`` of the same ids
#: took 0.012-0.017 s at every size (Spark 4.1.2, 4 vCPU, one process).
#: The join runs one more job, so the crossover sits well below this
#: bound; it has not been measured end to end yet
_ISIN_MAX = 5000


def _rep_pair_candidates(bmap: dict, touched: set | None) -> set | None:
    """Driver-side rep-pair candidates from {(band, bh): set of reps}: ALL
    pairs per bucket up to :func:`_bucket_all_pairs`' ``max_bucket=64``,
    star edges from the bucket minimum above it; with ``touched``, only
    pairs involving a touched rep. ``None`` once the set exceeds
    ``_MICROBATCH_CAND_CAP`` (the caller falls back to Spark)."""
    cand: set = set()
    for reps in bmap.values():
        if len(reps) < 2 or (touched is not None and not reps & touched):
            continue
        rs = sorted(reps)
        if len(rs) <= 64:
            pairs = [(rs[i], rs[j]) for i in range(len(rs))
                     for j in range(i + 1, len(rs))]
        else:  # oversized hash-collision bucket: star edges
            pairs = [(rs[0], x) for x in rs[1:]]
        cand.update(p for p in pairs if touched is None
                    or p[0] in touched or p[1] in touched)
        if len(cand) > _MICROBATCH_CAND_CAP:
            return None
    return cand


def _microbatch_spanning_clusters(df: DataFrame, id_col: str,
                                  edge_rows: list, buckets: DataFrame,
                                  sig: DataFrame, tok: DataFrame,
                                  threshold: float, num_perm: int,
                                  small, pf: bool, merge_rounds: int,
                                  n_buckets: int | None = None,
                                  state_out: dict | None = None
                                  ) -> DataFrame | None:
    """Driver-orchestrated spanning-cluster dedup for a BOUNDED input, or
    ``None`` when any bound is exceeded (caller falls back to the
    distributed path — identical semantics, more jobs). ``dedup_clusters``
    tries it on every call, batch or micro-batch.

    The distributed merge loop costs ~2 eager actions per round plus a
    CC probe and label checkpoint — ~6 Spark actions whose payloads are
    a few thousand rows each; on inputs this size the per-action overhead
    (Catalyst analysis + AQE stage jobs) dominates end-to-end latency.
    Here everything EXCEPT exact-Jaccard verification moves to the
    driver: take the verified star edges (``edge_rows``, the caller's
    ``limit(_MERGE_COLLECT_CAP + 1)`` probe of the checkpointed edges,
    which its connected-components fallback reuses) and collect the
    (id, band, bh) bucket table (bounded by ``_MICROBATCH_BUCKET_CAP``;
    a known row count ``n_buckets`` over the bound returns ``None``
    before any collect), then per merge round build
    the rep-pair candidates in memory — all pairs per bucket under the
    same ``max_bucket=64`` cap with the same star-edge fallback as
    :func:`_bucket_all_pairs`, the same touched-rep pruning — and spend
    exactly ONE Spark action verifying them against the checkpointed
    (sig, toks) base. Zero candidates in a round = zero Spark actions.
    The kept ids (component minima) end as a driver list, handed to
    ``state_out['kept_ids']`` when given.
    Output is row-identical to the distributed path (parity-tested in
    tests/test_scale.py); only job count differs. At 100 TB the bounds
    never hold and the distributed loop remains the scale path.
    """
    if len(edge_rows) > _MERGE_COLLECT_CAP:
        return None
    if n_buckets is not None and n_buckets > _MICROBATCH_BUCKET_CAP:
        return None
    bucket_rows = buckets.limit(_MICROBATCH_BUCKET_CAP + 1).collect()
    if len(bucket_rows) > _MICROBATCH_BUCKET_CAP:
        return None
    spark = sig.sparkSession
    itype = sig.schema['id'].dataType
    remap = _union_find_min([(r['id_a'], r['id_b']) for r in edge_rows])
    comp_of = {}
    for r in bucket_rows:  # every doc appears (sig always explodes)
        i = r['id']
        comp_of[i] = remap.get(i, i)
    touched = None
    for _ in range(merge_rounds):
        bmap: dict = {}
        for r in bucket_rows:
            bmap.setdefault((r['band'], r['bh']), set()).add(comp_of[r['id']])
        cand = _rep_pair_candidates(bmap, touched)
        if cand is None:
            return None  # degenerate: let the distributed loop pay
        if not cand:
            break
        cand_df = driver_frame(spark, sorted(cand), T.StructType(
            [T.StructField('id_a', itype), T.StructField('id_b', itype)]))
        merges = _verify_jaccard(cand_df, sig, tok, threshold, num_perm,
                                 small, pf).select('id_a', 'id_b').collect()
        if not merges:
            break
        m2 = _union_find_min([(r['id_a'], r['id_b']) for r in merges])
        touched = set(m2) | set(m2.values())
        for i, c in comp_of.items():
            comp_of[i] = m2.get(c, c)
    sizes: dict = {}
    for c in comp_of.values():
        sizes[c] = sizes.get(c, 0) + 1
    if state_out is not None:
        state_out['kept_ids'] = sorted(sizes)
    reps_df = driver_frame(spark, sorted(sizes.items()), T.StructType(
        [T.StructField(id_col, itype),
         T.StructField('cluster_size', T.LongType())]))
    return df.join(F.broadcast(reps_df), id_col, 'inner')


def connected_components(pairs: DataFrame, ids: DataFrame,
                         max_iterations: int = 12,
                         collect_cap: int | None = None) -> DataFrame:
    """(id, component) — connected components over an undirected edge list
    (columns ``id_a``/``id_b``): min-label propagation with pointer
    jumping, so rounds grow the reached radius exponentially
    (O(log diameter) rounds instead of O(diameter)).

    The edge pipeline is checkpointed FIRST and the probe reads the
    materialized frame: the upstream (typically the LSH bucket/verify
    chain, whose shuffles ``limit()`` cannot short-circuit) is evaluated
    exactly once whether the input lands under or over the cap. Edge
    sets at or under ``collect_cap`` (default ``_MERGE_COLLECT_CAP``)
    then take a driver fast path: one bounded ``limit(cap+1)`` probe,
    then union-find in memory — identical min-label output, replacing
    ~10 iterative Spark jobs with one. Verified near-dup edges are
    SPARSE relative to the corpus (the spanning strategy emits
    O(docs x bands) candidates and only true near-dups survive
    verification), but at 100 TB they still exceed any driver cap, so
    the distributed iteration remains the scale path; the probe itself
    terminates early and never materializes more than cap+1 rows.
    ``collect_cap=0`` skips checkpoint and probe (the edges are read
    once, by the iteration's own edge checkpoint).

    Only nodes that appear in an edge enter the iteration — in a dedup
    corpus most documents are singletons, and carrying them through every
    round would dominate the per-round join cost; they rejoin at the end
    with ``component = id``.

    Each round: (1) every node adopts the min label among itself and its
    neighbors; (2) pointer jump — every node re-reads its current
    component's label. Labels are eagerly localCheckpoint'ed per round:
    iterative plans otherwise accrue lineage that inflates Catalyst
    analysis time quadratically. Convergence is detected from the label
    sum — labels only ever decrease, so an unchanged sum is a fixpoint —
    one aggregation on the already-checkpointed labels instead of a
    join-and-compare against the previous round.
    """
    base = pairs.select('id_a', 'id_b')
    if collect_cap != 0:
        base = base.localCheckpoint(eager=True)
    return _components(base, ids, max_iterations, collect_cap)


def _components(base: DataFrame, ids: DataFrame, max_iterations: int = 12,
                collect_cap: int | None = None,
                probe: list | None = None) -> DataFrame:
    """:func:`connected_components` over ``base`` (id_a, id_b) that is
    already materialized, or read only once (``collect_cap=0``).
    ``probe``: the rows of a ``base.limit(collect_cap + 1)`` collect the
    caller already holds."""
    if collect_cap is None:
        collect_cap = _MERGE_COLLECT_CAP
    itype = base.schema['id_a'].dataType
    if collect_cap:
        if probe is None:
            probe = base.limit(collect_cap + 1).collect()
        if len(probe) <= collect_cap:
            edge_list = [(r['id_a'], r['id_b']) for r in probe]
            remap = _union_find_min(edge_list)
            nodes = {x for e in edge_list for x in e}
            labels = driver_frame(
                base.sparkSession,
                [(x, remap.get(x, x)) for x in sorted(nodes)],
                T.StructType([T.StructField('id', itype),
                              T.StructField('component', itype)]))
            singles = (ids.select(F.col(ids.columns[0]).alias('id'))
                       .join(labels.select('id'), 'id', 'left_anti')
                       .select('id', F.col('id').alias('component')))
            return labels.unionByName(singles)
    edges = base.union(base.select(F.col('id_b').alias('id_a'),
                                   F.col('id_a').alias('id_b')))
    edges = edges.localCheckpoint(eager=True)
    # sum-shortcut only for integral ids: a fractional label decrease
    # smaller than 1 could leave the truncated decimal sum unchanged and
    # terminate propagation early; float/decimal ids use the join-compare
    numeric = isinstance(itype, T.IntegralType)
    # Each round's checkpoint is LAZY and the convergence test right
    # after it is what materializes the frame: the label sum, or on the
    # non-numeric path a full count of changed labels, scans every
    # partition, so the checkpoint completes in the SAME job instead of
    # paying a separate materialization action per round (guide §5
    # driver-side actions). The count must be full: a limit(1) probe can
    # short-circuit and leave a lazy checkpoint partially computed.
    labels = (edges.select(F.col('id_a').alias('id')).distinct()
              .select('id', F.col('id').alias('component'))
              .localCheckpoint(eager=False))
    # decimal sum: long-id sums overflow int64 on large corpora
    label_sum = (lambda df_: df_.agg(
        F.sum(F.col('component').cast(T.DecimalType(38, 0)))).first()[0])
    prev_sum = label_sum(labels) if numeric else None
    for i in range(max_iterations):
        nmin = (edges.join(labels, edges['id_b'] == labels['id'])
                .groupBy('id_a').agg(F.min('component').alias('nmin'))
                .withColumnRenamed('id_a', 'id'))
        stepped = (labels.join(nmin, 'id', 'left')
                   .select('id', F.least('component', F.coalesce('nmin', 'component'))
                           .alias('component')))
        # pointer jump: component <- label(component)
        ptr = stepped.select(F.col('id').alias('pid'), F.col('component').alias('pcomp'))
        jumped = (stepped.join(ptr, stepped['component'] == ptr['pid'], 'left')
                  .select('id', F.least('component', F.coalesce('pcomp', 'component'))
                          .alias('component'))
                  .localCheckpoint(eager=False))
        if numeric:
            cur_sum = label_sum(jumped)
            changed = cur_sum != prev_sum
            prev_sum = cur_sum
        else:
            changed = (jumped.join(labels.withColumnRenamed('component', 'old'), 'id')
                       .filter(F.col('component') != F.col('old')).count()) > 0
        labels = jumped
        if not changed:
            break
    singles = (ids.select(F.col(ids.columns[0]).alias('id'))
               .join(labels.select('id'), 'id', 'left_anti')
               .select('id', F.col('id').alias('component')))
    return labels.unionByName(singles)


def dedup_clusters(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text',
                   threshold: float = 0.8, pair_strategy: str = 'spanning',
                   merge_rounds: int = 2, shingles: int | None = None,
                   _state_out: dict | None = None,
                   prefilter: bool | None = None,
                   **lsh_kw) -> DataFrame:
    """One representative per near-duplicate cluster: MinHash-LSH edges ->
    connected components -> keep the minimum id of each component.

    THE production dedup shape at 100 TB: with ``pair_strategy='spanning'``
    (default) candidate edges are per-bucket stars — O(docs x bands) —
    so a dense duplicate clique costs linear work end to end; components +
    representatives stay linear in documents. ``pair_strategy='pairs'``
    enumerates and verifies every clique pair (quadratic in cluster size)
    and exists for verification against the spanning path.

    A star edge that fails exact verification can split a cluster that
    all-pairs would have connected, so after components are labeled a
    merge pass re-buckets the REPRESENTATIVES: ALL pairs of
    representatives sharing an LSH bucket are verified (they are few —
    members that verified already merged; hash-collision buckets above
    ``_bucket_all_pairs``'s ``max_bucket`` cap fall back to star edges)
    and any verified pair merges its two components. The pass repeats
    until no merge fires (up to ``merge_rounds`` times); at convergence
    no two kept documents sharing a NON-OVERSIZED LSH bucket are
    near-duplicates at the threshold — the pairs-path invariant up to
    LSH recall and the oversized-bucket fallback (a true pair shares
    ~b·t^r buckets, so it escapes only if every one is oversized).

    The verified star edges are checkpointed once and probed once (a
    ``limit(_MERGE_COLLECT_CAP + 1)`` collect). When they, the
    (id, band, bh) bucket table and every merge round's candidate pairs
    fit the driver bounds (``_MERGE_COLLECT_CAP``,
    ``_MICROBATCH_BUCKET_CAP``, ``_MICROBATCH_CAND_CAP``), components and
    the merge pass run on the driver
    (:func:`_microbatch_spanning_clusters`: one Spark action per merge
    round, for the Jaccard verify) and ``_state_out['kept_ids']`` holds
    the kept ids as a driver list. Over any bound, connected components
    (on the same edge probe) and the distributed merge loop run on the
    same checkpointed edges, with row-identical output. The bucket table
    has docs x bands rows, and with ``prefilter=None`` the prefilter
    probe counts the documents, so an input over the bucket bound falls
    back without collecting buckets.

    ``prefilter=None`` probes the mean token-set size once per call to
    decide whether the signature pre-filter pays for itself (see
    :func:`_use_sig_prefilter`); callers that run many batches of the
    same corpus (the streaming writer) pass the first batch's decision
    back in to skip the per-batch probe job. The decision is also
    surfaced via ``_state_out['prefilter']``.
    """
    if pair_strategy == 'pairs':
        pairs = minhash_lsh_pairs(df, id_col, text_col, threshold,
                                  shingles=shingles, **lsh_kw)
        comp = connected_components(pairs, df.select(id_col))
    elif pair_strategy == 'spanning':
        num_perm = lsh_kw.get('num_perm', 96)
        bands = lsh_kw.get('bands') or _threshold_bands(num_perm, threshold)
        if num_perm % bands != 0:
            raise ValueError(f'num_perm={num_perm} must be divisible by bands={bands}')
        rows = num_perm // bands
        seed = lsh_kw.get('seed', 42)
        small = F.broadcast if _should_broadcast(df) else (lambda x: x)
        with phase('dedup_clusters: edges'):
            # buckets stay a lazy explode over the checkpointed base
            # (recompute is narrow and tiny vs a job)
            tok, sig = _doc_state(df, id_col, text_col, shingles, num_perm, seed)
            n_buckets, pf = None, prefilter
            if pf is None:
                # the prefilter probe's agg also counts documents, and every
                # document explodes into exactly ``bands`` bucket rows: the
                # bucket bound is then decided without collecting buckets
                mean_sz, n_docs = _token_profile(tok)
                pf = _use_sig_prefilter(tok, num_perm, mean_sz)
                n_buckets = n_docs * bands
            buckets = _lsh_buckets(sig, bands, rows)
            if _state_out is not None:
                # hand the already-materialized per-document state to callers
                # that need it downstream (the streaming signature-store
                # writer) so they don't re-run the tokenize/minhash/bucket
                # pass over the kept subset
                _state_out.update(tok=tok, sig=sig, buckets=buckets,
                                  bands=bands, rows=rows, prefilter=pf)
            edges = _verify_jaccard(_bucket_star_edges(buckets), sig, tok,
                                    threshold, num_perm, small, pf) \
                .select('id_a', 'id_b').localCheckpoint(eager=True)
            # one bounded edge probe serves both paths: the driver path's
            # edge list and the connected-components fast path of the fallback
            edge_rows = edges.limit(_MERGE_COLLECT_CAP + 1).collect()
        with phase('dedup_clusters: driver rounds'):
            out = _microbatch_spanning_clusters(
                df, id_col, edge_rows, buckets, sig, tok, threshold, num_perm,
                small, pf, merge_rounds, n_buckets=n_buckets,
                state_out=_state_out)
        if out is not None:
            return out
        with phase('dedup_clusters: fallback'):
            comp = _components(edges, df.select(id_col), probe=edge_rows) \
                .localCheckpoint(eager=True)
            comp = _merge_reps(comp, buckets, sig, tok, threshold, num_perm,
                               small, pf, merge_rounds)
    else:
        raise ValueError(f'unknown pair_strategy {pair_strategy!r}')
    reps = comp.groupBy('component').agg(F.min('id').alias('keep_id'),
                                         F.count(F.lit(1)).alias('cluster_size'))
    return (df.join(reps.select(F.col('keep_id').alias(id_col), 'cluster_size'),
                    id_col, 'inner'))


def _merge_reps(comp: DataFrame, buckets: DataFrame, sig: DataFrame,
                tok: DataFrame, threshold: float, num_perm: int, small,
                pf: bool, merge_rounds: int) -> DataFrame:
    """The distributed representative-merge pass of :func:`dedup_clusters`
    over component labels ``comp`` (id, component): up to
    ``merge_rounds`` rounds of verifying rep pairs that share an LSH
    bucket and merging their components. Returns the merged labels."""
    touched = None  # round 1 checks all rep pairs; later rounds prune
    touched_vals = None  # driver-known touched labels (bounded list)
    for _ in range(merge_rounds):
        # representatives (= component labels) back into their buckets;
        # ALL pairs of representatives sharing a bucket are verified
        # (star edges would miss pairs whose shared buckets all have a
        # third, non-matching rep as their min). Reps per bucket are
        # few — members that verified already merged — so the
        # per-bucket product is bounded.
        rep_buckets = (buckets.join(comp, 'id')
                       .select(F.col('component').alias('rid'), 'band', 'bh')
                       .distinct())
        if touched is not None:
            # rounds after the first only need pairs involving a rep
            # whose component changed last round: every pair of
            # UNCHANGED reps sharing a bucket was already verified
            # (and refuted) by the previous all-pairs round — and an
            # unchanged rep's bucket set is itself unchanged. Restrict
            # to buckets holding a touched rep BEFORE the quadratic
            # pair step, then to pairs involving a touched rep.
            if touched_vals is not None and len(touched_vals) <= _ISIN_MAX:
                # small driver-known list: a literal isin stays in
                # codegen and beats any join
                hot = (rep_buckets.filter(F.col('rid').isin(touched_vals))
                       .select('band', 'bh').distinct())
            else:
                # larger sets: broadcast-hash semi join (explicit hint
                # when the set is driver-bounded by the collect cap)
                tb = touched.withColumnRenamed('t', 'rid')
                if touched_vals is not None:
                    tb = F.broadcast(tb)
                hot = (rep_buckets.join(tb, 'rid', 'left_semi')
                       .select('band', 'bh').distinct())
            rep_buckets = rep_buckets.join(hot, ['band', 'bh'], 'left_semi')
        rep_cand = None
        if touched_vals is not None:
            # rounds after the first with a DRIVER-KNOWN touched set:
            # the hot-restricted rep-bucket table is bounded (touched
            # reps x bands buckets, whole buckets kept), so build the
            # candidate pairs in memory — same max_bucket=64 split,
            # star fallback and touched filter as the distributed
            # _bucket_all_pairs branch below — and spend Spark
            # actions only on the exact-Jaccard verify (r13: replaces
            # the rep_buckets checkpoint + 4-branch pair chain, ~8
            # AQE stage jobs per round; zero candidates = zero jobs)
            probe = rep_buckets.limit(
                _MICROBATCH_BUCKET_CAP + 1).collect()
            if len(probe) <= _MICROBATCH_BUCKET_CAP:
                bmap: dict = {}
                for r in probe:
                    bmap.setdefault((r['band'], r['bh']),
                                    set()).add(r['rid'])
                cand = _rep_pair_candidates(bmap, set(touched_vals))
                if cand is not None:
                    if not cand:
                        break
                    ctype0 = comp.schema['component'].dataType
                    rep_cand = driver_frame(
                        comp.sparkSession, sorted(cand),
                        T.StructType([T.StructField('id_a', ctype0),
                                      T.StructField('id_b', ctype0)]))
                    # falls through to the shared verify/apply below;
                    # the touched isin re-filter there is a no-op on
                    # this already-filtered local relation
        if rep_cand is None:
            # materialize: the bucket-size split inside
            # _bucket_all_pairs references this plan four times —
            # uncheckpointed, Catalyst re-analyzes the join+distinct
            # per branch per round (lazy variants measured 15-35%
            # SLOWER on micro-batches, ABBA round 7 — the
            # recompute+re-analysis exceeds the job cost)
            rep_buckets = rep_buckets.localCheckpoint(eager=True)
            rep_cand = _bucket_all_pairs(rep_buckets, member_col='rid')
        if touched is not None:
            if touched_vals is not None and len(touched_vals) <= _ISIN_MAX:
                rep_cand = rep_cand.filter(
                    F.col('id_a').isin(touched_vals) |
                    F.col('id_b').isin(touched_vals))
            else:
                # one linear pass: flag both endpoints via two hash
                # left joins and filter the OR — no union, no pair
                # distinct, no double-reference of the pair DAG
                # (previously two semi-joins + distinct, the source
                # of the superlinear shuffle term in SCALE.md)
                bhint = (F.broadcast if touched_vals is not None
                         else (lambda x: x))
                ta = touched.select(F.col('t').alias('id_a'),
                                    F.lit(True).alias('_ta'))
                tb2 = touched.select(F.col('t').alias('id_b'),
                                     F.lit(True).alias('_tb'))
                rep_cand = (rep_cand
                            .join(bhint(ta), 'id_a', 'left')
                            .join(bhint(tb2), 'id_b', 'left')
                            .filter(F.col('_ta').isNotNull() |
                                    F.col('_tb').isNotNull())
                            .drop('_ta', '_tb'))
        merges = _verify_jaccard(rep_cand, sig, tok, threshold,
                                 num_perm, small, pf) \
            .select('id_a', 'id_b')
        # probe-collect directly: in the common (bounded) path the
        # merge edges are consumed on the driver and the frame is
        # never re-read, so a checkpoint would be a wasted job; the
        # degenerate over-cap path re-materializes below
        edge_rows = merges.limit(_MERGE_COLLECT_CAP + 1).collect()
        if not edge_rows:
            break
        if len(edge_rows) <= _MERGE_COLLECT_CAP:
            # merge edges are representative REPAIRS — tiny relative
            # to the corpus by construction (bounded by rep count).
            # Union-find on the driver + one broadcast-mapped join
            # replaces a whole distributed CC round (~10 jobs) with
            # one; the distributed path below remains for the
            # degenerate huge-merge case.
            remap = _union_find_min(
                [(r['id_a'], r['id_b']) for r in edge_rows])
            if not remap:
                break
            ctype = comp.schema['component'].dataType
            map_df = driver_frame(
                comp.sparkSession, list(remap.items()),
                T.StructType([T.StructField('component', ctype),
                              T.StructField('__super', ctype)]))
            t_vals = sorted({v for kv in remap.items() for v in kv})
            touched = driver_frame(
                comp.sparkSession, [(v,) for v in t_vals],
                T.StructType([T.StructField('t', ctype)]))
            # driver-known: the use sites pick isin (small lists,
            # stays in codegen) or an explicit broadcast join
            # (larger — a huge IN-list would dwarf the join in
            # Catalyst analysis time)
            touched_vals = t_vals
            comp = (comp.join(F.broadcast(map_df), 'component', 'left')
                    .select('id', F.coalesce('__super', 'component')
                            .alias('component'))
                    .localCheckpoint(eager=True))
            continue
        merges = merges.localCheckpoint(eager=True)
        rep_map = (connected_components(
            merges, comp.select(F.col('component')).distinct(),
            collect_cap=0)  # known > cap: skip the probe
            .withColumnRenamed('component', 'supercomp')
            .withColumnRenamed('id', 'component'))
        # reps whose label changed (absorbed into another component)
        # plus the absorbing labels themselves
        touched = (rep_map
                   .filter(F.col('component') != F.col('supercomp'))
                   .select(F.col('component').alias('t'))
                   .unionByName(rep_map
                                .filter(F.col('component') != F.col('supercomp'))
                                .select(F.col('supercomp').alias('t')))
                   .distinct().localCheckpoint(eager=True))
        touched_vals = None
        comp = (comp.join(rep_map, 'component')
                .select('id', F.col('supercomp').alias('component'))
                .localCheckpoint(eager=True))
    return comp


# ---------------------------------------------------------------- streaming

def streaming_exact_dedup(stream: DataFrame, id_col: str = 'doc_id',
                          text_col: str = 'text', ts_col: str | None = None,
                          watermark: str = '1 hour') -> DataFrame:
    """Exact dedup over a STREAMING DataFrame: fingerprint each document
    and drop repeats across micro-batches.

    With ``ts_col``, uses ``dropDuplicatesWithinWatermark`` so the
    dedup state is EVICTED once the watermark passes — the only shape
    that survives an unbounded stream (state is bounded by the watermark
    horizon, not the stream's lifetime). Without an event-time column the
    state grows with distinct documents (fine for bounded backfills via
    ``availableNow``, not for true 24/7 ingestion — pass ``ts_col``).

    Ingestion-side dedup composes with the batch tiers: run this at
    ingest to kill exact repeats cheaply, then the MinHash cluster pass
    offline for near-dups.
    """
    out = stream.withColumn('fingerprint', fingerprint(F.col(text_col)))
    if ts_col is not None:
        return (out.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(['fingerprint']))
    return out.dropDuplicates(['fingerprint'])


def streaming_neardup_dedup(spark, in_dir: str, schema, out_dir: str,
                            checkpoint_dir: str, state_dir: str,
                            id_col: str = 'doc_id', text_col: str = 'text',
                            threshold: float = 0.8, num_perm: int = 96,
                            bands: int | None = None, seed: int = 42,
                            shingles: int | None = None,
                            trigger_once: bool = True,
                            max_files_per_trigger: int | None = None):
    """Streaming NEAR-duplicate dedup: every micro-batch is deduped
    against itself (spanning MinHash clusters) and against a persistent
    signature store of everything kept so far; survivors append to
    ``out_dir`` and their buckets/token-sets extend the store.

    The state join is a bucket equi-join on (band, bh) — the batch never
    compares against the whole store, only against store rows sharing an
    LSH bucket, so per-batch cost is O(batch x bands + collisions)
    regardless of store size. Candidates are verified with exact Jaccard
    before anything is dropped (precision exact, recall = LSH).

    The survivor set (batch-kept ids minus store duplicates) feeds the
    three writes (output, store token sets, store buckets). When the
    batch fits ``dedup_clusters``' driver bounds and keeps at most
    ``_ISIN_MAX`` ids, its kept ids are a driver list: the store
    duplicates are collected and subtracted on the driver, and the store
    join and the writes filter on that list with ``isin``. Otherwise the
    set is computed in Spark, checkpointed once and semi-joined.

    State and output are written under ``batch=<id>`` subdirectories with
    overwrite, so a replayed micro-batch (foreachBatch's at-least-once
    contract) lands idempotently instead of duplicating rows. The store
    grows with KEPT documents — the standard signature-store shape; at
    100 TB you partition/bucket the store by (band, bh) so the equi-join
    is co-located.
    """
    if bands is None:
        bands = _threshold_bands(num_perm, threshold)
    if num_perm % bands != 0:
        raise ValueError(f'num_perm={num_perm} must be divisible by bands={bands}')
    rows = num_perm // bands
    import os
    from concurrent.futures import ThreadPoolExecutor

    # the prefilter decision depends on the corpus token profile, not
    # the batch: decide on the first micro-batch, reuse on the rest
    # (one fewer probe job per subsequent batch)
    pf_memo: dict = {}

    def _process(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        # job labels per optimization-guide §1.5 so the status store
        # attributes per-batch time to pipeline phases
        label = f'neardup b{batch_id}'
        state: dict = {}
        with phase(f'{label}: batch dedup'):
            kept = dedup_clusters(batch_df, id_col, text_col, threshold,
                                  pair_strategy='spanning', num_perm=num_perm,
                                  bands=bands, seed=seed, shingles=shingles,
                                  _state_out=state,
                                  prefilter=pf_memo.get('pf')
                                  ).drop('cluster_size')
        pf_memo['pf'] = state['prefilter']
        # reuse the tokenize/minhash/bucket state dedup_clusters already
        # materialized for the whole batch: each of the three writes
        # below is a single filter on the survivor-id set instead of
        # re-deriving the whole kept chain per write. On the bounded
        # driver path the kept ids are already a driver list, so a
        # survivor set within the IN-list bound stays on the driver (an
        # isin filter: no checkpoint, no broadcast job); otherwise it is
        # checkpointed once and semi-joined
        survivors = state.get('kept_ids')
        if survivors is not None and len(survivors) > _ISIN_MAX:
            survivors = None
        kept_ids = (kept.select(F.col(id_col).alias('id'))
                    if survivors is None else None)

        def _keep(frame, col='id'):
            if survivors is not None:
                return frame.filter(F.col(col).isin(survivors))
            return frame.join(kept_ids.withColumnRenamed('id', col), col,
                              'left_semi')

        with phase(f'{label}: store join'):
            if os.path.isdir(os.path.join(state_dir, 'buckets')):
                sb = sess.read.parquet(os.path.join(state_dir, 'buckets')).drop('batch')
                st = sess.read.parquet(os.path.join(state_dir, 'toks')).drop('batch')
                bk_kept = _keep(state['buckets'])
                tok_kept = _keep(state['tok'])
                cand = (bk_kept.join(sb.withColumnRenamed('id', 'sid'), ['band', 'bh'])
                        .filter(F.col('id') != F.col('sid'))
                        .select(F.col('id').alias('id_a'), F.col('sid').alias('id_b'))
                        .distinct())
                ta = tok_kept.select(F.col('id').alias('id_a'),
                                     F.col('toks').alias('toks_a'))
                tb = st.select(F.col('id').alias('id_b'), F.col('toks').alias('toks_b'))
                dup_ids = (cand.join(ta, 'id_a').join(tb, 'id_b')
                           .withColumn('inter',
                                       F.size(F.array_intersect('toks_a', 'toks_b')))
                           .withColumn('j', F.col('inter') /
                                       (F.size('toks_a') + F.size('toks_b')
                                        - F.col('inter')))
                           .filter(F.col('j') >= threshold)
                           .select(F.col('id_a').alias('id')).distinct())
                if survivors is None:
                    kept_ids = kept_ids.join(dup_ids, 'id', 'left_anti')
                else:
                    # store duplicates are a subset of the batch's kept ids:
                    # collect them (bounded) and subtract on the driver
                    dups = {r['id'] for r in dup_ids.collect()}
                    survivors = [i for i in survivors if i not in dups]
            if survivors is None:
                kept_ids = kept_ids.localCheckpoint(eager=True)
        kept = _keep(batch_df, id_col)
        tok = _keep(state['tok'])
        bk = _keep(state['buckets'])
        if survivors is not None:
            # a batch within the driver bounds is small: one file per
            # store table per batch (every later batch re-reads the
            # store, so its file count is read cost), as the shuffled
            # semi-join of the fallback leaves it after AQE coalescing
            tok, bk = tok.coalesce(1), bk.coalesce(1)
        # three independent sinks (different directories, disjoint
        # plans off materialized inputs): overlap them so the tail of
        # one write back-fills cores freed by another (guide §2.6).
        # inheritable_thread_target is pyspark's thread-target wrapper
        # for pinned-thread mode: the writer thread inherits this
        # thread's local properties (job description, query job group).
        # It clones them when it WRAPS, so wrap once per write: threads
        # sharing one clone would overwrite each other's SQL execution id.
        # Outside pinned-thread mode it returns the session itself, and
        # the plain function runs
        def _write(df_, path):
            df_.write.mode('overwrite').parquet(path)

        def _inheriting(fn):
            wrap = inheritable_thread_target(sess)
            return fn if wrap is sess else wrap(fn)

        with phase(f'{label}: writes'):
            # wrapped inside the phase, so the writer threads inherit it
            writes = [(_inheriting(_write), df_, path)
                      for df_, path in (
                          (kept, os.path.join(out_dir, f'batch={batch_id}')),
                          (tok, os.path.join(state_dir, 'toks', f'batch={batch_id}')),
                          (bk, os.path.join(state_dir, 'buckets', f'batch={batch_id}')))]
            with ThreadPoolExecutor(max_workers=3) as pool:
                for f in [pool.submit(*w) for w in writes]:
                    f.result()

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option('maxFilesPerTrigger', str(max_files_per_trigger))
    src = reader.parquet(in_dir)
    writer = (src.writeStream.foreachBatch(_process)
              .option('checkpointLocation', checkpoint_dir))
    if trigger_once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


# ---------------------------------------------------------------- embeddings

def embedding_cosine_pairs(df: DataFrame, id_col: str = 'vec_id',
                           vec_col: str = 'embedding',
                           threshold: float = 0.9) -> DataFrame:
    """Near-duplicate pairs by cosine similarity >= threshold.

    Brute force: normalize once, self-join id_a < id_b, dot product in a
    vectorized pandas UDF (numpy per Arrow batch). Quadratic — the
    baseline / verification path; :func:`embedding_lsh_pairs` is the
    bucketed tier for corpora where all-pairs is unpayable.
    """
    from erde_spark.scale.similarity import cosine_udf, normalized
    v = normalized(df, id_col, vec_col)
    a = v.select(F.col('id').alias('id_a'), F.col('nvec').alias('va'))
    b = v.select(F.col('id').alias('id_b'), F.col('nvec').alias('vb'))
    return (a.join(b, F.col('id_a') < F.col('id_b'))
             .withColumn('cosine', cosine_udf(F.col('va'), F.col('vb')))
             .filter(F.col('cosine') >= threshold)
             .select('id_a', 'id_b', 'cosine'))


def _sign_lsh_params(n_docs: int, threshold: float, target_recall: float,
                     bands: int | None = None,
                     rows: int | None = None,
                     strict_recall: bool = False) -> tuple[int, int]:
    """(bands, rows) for banded sign-LSH. ``rows`` ~ log2(n) pins the
    expected RANDOM-pair collisions per band at ~n/2 (candidate volume
    linear in n); ``bands`` then solves
    recall = 1 - (1 - p^rows)^bands >= target at the threshold,
    with p = 1 - theta/pi the per-bit sign-collision probability.

    COST BOUND (the law tests/test_scale.py pins and SCALE.md measures):
    holding at-threshold recall fixed while rows tracks log2(n) forces
    bands ~ ln(1/(1-R)) / p^rows = c * n^rho with
    rho = ln(1/p)/ln(2) — the classic hyperplane-LSH exponent — so
    explode+shuffle grow as n^(1+rho): rho = 0.224 at threshold 0.9
    (~16x per data decade, measured 15-21x in SCALE.md), 0.331 at 0.8.
    This is information-theoretic for the hyperplane family, not an
    implementation artifact.

    The regime is BOUNDED: bands cap at 64 by default, and past the
    cap (n ~ 8M at t=0.9; ~20k at t=0.8) growth returns to ~10x per
    decade (pure linear) while the recall GUARANTEE moves off the
    threshold — at-threshold recall decays (0.74 at 20M, 0.57 at 200M
    for t=0.9) but strong near-dups, the dedup payload, stay found
    (recall >= 0.96 at cosine 0.95, >= 0.999 at 0.97, at n = 2e8).
    ``strict_recall=True`` lifts the cap instead, keeping the
    at-threshold guarantee at the documented n^(1+rho) cost — the
    caller chooses which side of the trade a 100 TB run pays."""
    if rows is None:
        rows = max(8, math.ceil(math.log2(max(n_docs, 2))))
    if bands is None:
        p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        pr = p ** rows
        if pr >= 1.0:
            bands = 1
        else:
            bands = max(4, math.ceil(
                math.log(max(1.0 - target_recall, 1e-9))
                / math.log(1.0 - pr)))
            if not strict_recall:
                bands = min(64, bands)
    return bands, rows


def embedding_dedup_clusters(df: DataFrame, id_col: str = 'vec_id',
                             vec_col: str = 'embedding',
                             threshold: float = 0.9, dim: int = 64,
                             bands: int | None = None,
                             rows: int | None = None,
                             target_recall: float = 0.9,
                             seed: int = 42,
                             n_docs: int | None = None,
                             strict_recall: bool = False) -> DataFrame:
    """One representative per embedding near-duplicate cluster: sign-LSH
    verified cosine pairs -> connected components -> keep the minimum id
    of each component, with cluster sizes. The embedding analogue of
    :func:`dedup_clusters` (semantic dedup over an encoder's vectors,
    e.g. SemDeDup-style curation): never all-pairs, banded candidates
    only, exact-cosine verified."""
    pairs = embedding_lsh_pairs(df, id_col, vec_col, threshold, dim,
                                bands, rows, target_recall, seed, n_docs,
                                strict_recall)
    comp = connected_components(pairs, df.select(id_col))
    reps = comp.groupBy('component').agg(F.min('id').alias('keep_id'),
                                         F.count(F.lit(1)).alias('cluster_size'))
    return df.join(reps.select(F.col('keep_id').alias(id_col), 'cluster_size'),
                   id_col, 'inner')


def semdedup(df: DataFrame, id_col: str = 'vec_id',
             vec_col: str = 'embedding', threshold: float = 0.95,
             n_clusters: int | None = None, sample_size: int = 4096,
             seed: int = 42, keep: str = 'far',
             n_docs: int | None = None, block: int = 1024,
             max_cluster: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-scoped
    semantic deduplication. Vectors are assigned to ~sqrt(n) spherical
    k-means clusters (the coarse quantizer shared with the IVF
    retriever); WITHIN each cluster, pairwise cosine >= ``threshold``
    defines duplicate groups, and each group keeps exactly one point —
    the paper's policy ``keep='far'`` retains the member with the
    LOWEST similarity to its centroid (preserving the cluster's
    diversity frontier), ``keep='min'`` retains the minimum id
    (arithmetic-friendly for planted-construction gates). Ties break
    by id, so the result is fully deterministic.

    Scale posture (100 TB): the quadratic step is CLUSTER-LOCAL — the
    paper's own approximation (cross-cluster near-dups are not
    claimed). One shuffle on cluster id; per task the similarity matrix
    is computed in ``block``-row strips, so memory is
    ``c*dim*8 + block*c*8`` bytes for cluster size c (E[c] = sqrt(n)
    with the default cluster count). Duplicate groups cannot span
    clusters by construction, so components resolve with a LOCAL
    union-find inside the task — no iterative global join rounds at
    all (contrast :func:`embedding_dedup_clusters`, the banded-LSH
    tier that does pay them to catch cross-partition pairs).
    A pathologically giant cluster (one task's memory) is the known
    failure mode of the method itself; ``max_cluster`` is the guard —
    clusters over the cap are deterministically sub-split by sign bits
    of seeded hyperplanes (enough bits to bring the EXPECTED sub-size
    under the cap). Identical vectors share every sign bit, so exact
    duplicates always stay co-located; near-dups straddling a
    hyperplane can separate (each bit keeps a pair together with
    probability 1 - theta/pi, the standard sign-LSH trade), which is
    strictly better than the unguarded alternative of one task OOMing
    the job.

    Returns the SURVIVING rows of ``df`` (original columns)."""
    from erde_spark.scale.similarity import _hyperplanes, ivf_index
    if keep not in ('far', 'min'):
        raise ValueError(f"keep={keep!r}: use 'far' or 'min'")
    cent, indexed = ivf_index(df, n_lists=n_clusters, id_col=id_col,
                              vec_col=vec_col, sample_size=sample_size,
                              seed=seed, n_docs=n_docs)
    thr, far, blk = float(threshold), keep == 'far', int(block)
    indexed = indexed.withColumn('_centid', F.col('list_id'))
    if max_cluster is not None:
        if max_cluster < 2:
            raise ValueError('max_cluster must be >= 2')
        sizes = indexed.groupBy('list_id').agg(
            F.count(F.lit(1)).alias('_csz'))
        over = {r['list_id']: int(r['_csz']) for r in
                sizes.filter(F.col('_csz') > max_cluster).collect()}
        if over:
            dim = len(indexed.select('nvec').first()['nvec'])
            # 24 split bits cover clusters up to 16M x max_cluster;
            # capping also bounds the refined-key range below, which is
            # built on a LONG so key = centid * 2^25 + code never
            # collides across clusters or overflows
            bits_of = {lid: min(24, math.ceil(math.log2(sz / max_cluster)))
                       for lid, sz in over.items()}
            max_bits = max(bits_of.values())
            planes = _hyperplanes(dim, max_bits, seed + 1)

            @F.pandas_udf(T.IntegerType())
            def _refine(lid: pd.Series, v: pd.Series) -> pd.Series:
                out = np.zeros(len(lid), dtype=np.int32)
                mask = lid.isin(bits_of).to_numpy()
                if mask.any():
                    m = np.stack([np.asarray(x, dtype=np.float64)
                                  for x in v[mask]])
                    signs = (m @ planes.T) >= 0
                    nb = np.array([bits_of[x] for x in lid[mask]])
                    codes = np.zeros(mask.sum(), dtype=np.int32)
                    for b in range(planes.shape[0]):
                        codes |= (signs[:, b] & (b < nb)).astype(np.int32) << b
                    out[mask] = codes + 1  # 0 = not refined
                return pd.Series(out)

            indexed = indexed.withColumn(
                'list_id',
                F.col('list_id').cast('long') * (1 << 25)
                + _refine(F.col('list_id'), F.col('nvec')))
        else:
            indexed = indexed.withColumn(
                'list_id', F.col('list_id').cast('long') * (1 << 25))
    # (without max_cluster the raw list_id groups are used as-is)

    def _cluster_keep(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf['id'].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.float64)
                      for v in pdf['nvec']])
        c = len(ids)
        parent = np.arange(c)

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        csim = m @ cent[int(pdf['_centid'].iloc[0])]
        for s in range(0, c, blk):
            sims = m[s:s + blk] @ m.T  # strip x cluster
            for di, row in enumerate(sims):
                i = s + di
                for j in np.nonzero(row[i + 1:] >= thr)[0] + i + 1:
                    ri, rj = find(i), find(int(j))
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
        roots = np.fromiter((find(i) for i in range(c)), dtype=np.int64)
        keep_mask = np.zeros(c, dtype=bool)
        for r in np.unique(roots):
            members = np.nonzero(roots == r)[0]
            if far:
                order = np.lexsort((ids[members], csim[members]))
            else:
                order = np.argsort(ids[members])
            keep_mask[members[order[0]]] = True
        return pd.DataFrame({'id': ids[keep_mask]})

    kept = indexed.groupBy('list_id').applyInPandas(
        _cluster_keep, schema=f'id {dict(df.dtypes)[id_col]}')
    return df.join(kept.withColumnRenamed('id', id_col),
                   id_col, 'left_semi')


def d4_select(df: DataFrame, id_col: str = 'vec_id',
              vec_col: str = 'embedding', threshold: float = 0.95,
              proto_frac: float = 0.25, n_clusters: int | None = None,
              sample_size: int = 4096, seed: int = 42,
              n_docs: int | None = None, block: int = 1024,
              max_cluster: int | None = None,
              _debug_out: dict | None = None) -> DataFrame:
    """D4 data selection (Tirumala et al. 2023, arXiv:2308.12284):
    :func:`semdedup` first (cosine >= ``threshold`` duplicate groups
    collapse, paper ``keep='far'`` policy), then the survivors are
    RE-clustered and each cluster drops its ``proto_frac`` most
    PROTOTYPICAL members — highest cosine to the cluster centroid, the
    SSL-prototypes criterion — keeping the diversity frontier the paper
    shows trains better than dedup alone. Re-clustering the deduped set
    (not reusing the first assignment) follows the paper's pipeline.

    Every cluster keeps at least one member
    (``n_drop = min(ceil(proto_frac * size), size - 1)``); ranking ties
    break by id, so the selection is deterministic given the centroids.

    Scale: the dedup phase is semdedup's (cluster-local quadratics, one
    shuffle); the prototype phase is one narrow pass for the centroid
    cosine plus ONE shuffle on cluster id for the rank window — nothing
    quadratic. Set ``_debug_out['ranked']`` to receive the per-point
    (id, list_id, _sim, _rn, _csz, _dropped) frame (the construction
    gate audits the policy from it).

    Returns the SURVIVING rows of ``df`` (original columns)."""
    from erde_spark.scale.similarity import ivf_index
    if not 0.0 <= proto_frac < 1.0:
        raise ValueError(f'proto_frac must be in [0, 1), got {proto_frac}')
    kept = semdedup(df, id_col, vec_col, threshold, n_clusters,
                    sample_size, seed, 'far', n_docs, block, max_cluster)
    # the semdedup plan (cluster-local quadratic UDF + shuffles) is
    # consumed four times below (count/sample inside ivf_index, the
    # assignment pass, and both sides of the final semi-join) —
    # materialize it once, the file-wide eager-checkpoint discipline
    kept = kept.localCheckpoint(eager=True)
    cent, indexed = ivf_index(kept, n_lists=n_clusters, id_col=id_col,
                              vec_col=vec_col, sample_size=sample_size,
                              seed=seed)

    @F.pandas_udf(T.DoubleType())
    def _centroid_sim(v: pd.Series, lid: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype='float64')
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        c = cent[lid.to_numpy()]
        return pd.Series(np.einsum('ij,ij->i', m, c))

    from pyspark.sql import Window
    w = Window.partitionBy('list_id').orderBy(F.col('_sim').desc(), 'id')
    wc = Window.partitionBy('list_id')
    ranked = (indexed
              .withColumn('_sim', _centroid_sim('nvec', 'list_id'))
              .withColumn('_rn', F.row_number().over(w))
              .withColumn('_csz', F.count(F.lit(1)).over(wc))
              .withColumn('_dropped', F.col('_rn') <= F.least(
                  F.ceil(F.lit(float(proto_frac)) * F.col('_csz')),
                  F.col('_csz') - 1)))
    if _debug_out is not None:
        _debug_out['ranked'] = ranked.select(
            'id', 'list_id', '_sim', '_rn', '_csz', '_dropped')
    survivors = ranked.filter(~F.col('_dropped')) \
        .select(F.col('id').alias(id_col))
    return kept.join(survivors, id_col, 'left_semi')


def embedding_lsh_pairs(df: DataFrame, id_col: str = 'vec_id',
                        vec_col: str = 'embedding', threshold: float = 0.9,
                        dim: int = 64, bands: int | None = None,
                        rows: int | None = None,
                        target_recall: float = 0.9, seed: int = 42,
                        n_docs: int | None = None,
                        strict_recall: bool = False) -> DataFrame:
    """Embedding near-dup pairs at scale: BANDED random-hyperplane
    sign-LSH (the ``minhash_lsh_pairs`` shape on hyperplane sign bits) —
    ``bands`` independent ``rows``-bit hashes per vector, candidates
    equi-joined per (band, hash), verified with the exact cosine.
    Precision is exact; recall = 1 - (1 - p^rows)^bands with
    p = 1 - theta/pi per bit.

    Parameter auto-scaling is what keeps this LINEAR in corpus size:
    ``rows`` defaults to ~log2(n), which pins expected RANDOM-pair
    collisions per band at ~n/2 (candidate volume ~bands x n/2 — a
    fixed-width bucket key would instead grow per-bucket occupancy with
    n and the per-bucket self-join quadratically; measured 80x shuffle
    for 10x rows before this change). ``bands`` is then solved from
    ``target_recall`` at the threshold and capped at 64 — near the cap
    recall for pairs RIGHT AT the threshold degrades on huge corpora
    (the standard sign-LSH trade), while strong near-dups (cosine >>
    threshold) keep per-band probability high and stay found.

    ``n_docs`` is a size hint; when absent one columnar count fires at
    build time. The candidate dedup shuffles BARE id pairs: vectors are
    joined back only onto the surviving distinct pairs. Carrying
    ``nvec`` through the distinct would move O(candidates x dim)
    doubles through the exchange — at corpus scale that is shuffling
    the embedding table itself.
    """
    from erde_spark.scale.similarity import (_hyperplanes, cosine_udf,
                                             normalized)
    if n_docs is None and (bands is None or rows is None):
        # count only when auto-scaling actually needs the size —
        # explicit (bands, rows) skips a full corpus pass
        n_docs = df.count()
    bands, rows = _sign_lsh_params(n_docs, threshold, target_recall,
                                   bands, rows, strict_recall)
    planes = _hyperplanes(dim, bands * rows, seed)
    weights = (1 << np.arange(rows)).astype(np.int64)
    n_bands, n_rows = bands, rows

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _band_hashes(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype='object')
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        bits = (m @ planes.T) > 0
        bh = bits.reshape(len(m), n_bands, n_rows) @ weights
        return pd.Series(list(bh.astype(np.int64)))

    v = (normalized(df, id_col, vec_col)
         .withColumn('bhs', _band_hashes(F.col('nvec')))
         .localCheckpoint(eager=True))  # feeds the explode + both pair-side joins
    small = F.broadcast if _should_broadcast(df) else (lambda x: x)
    ve = v.select('id', F.posexplode('bhs').alias('band', 'bh'))
    a = ve.select(F.col('id').alias('id_a'), 'band', 'bh')
    b = ve.select(F.col('id').alias('id_b'), 'band', 'bh')
    cand = (a.join(b, ['band', 'bh'])
             .filter(F.col('id_a') < F.col('id_b'))
             .select('id_a', 'id_b')
             .distinct())
    va = v.select(F.col('id').alias('id_a'), F.col('nvec').alias('va'))
    vb = v.select(F.col('id').alias('id_b'), F.col('nvec').alias('vb'))
    return (cand.join(small(va), 'id_a').join(small(vb), 'id_b')
            .withColumn('cosine', cosine_udf(F.col('va'), F.col('vb')))
            .filter(F.col('cosine') >= threshold)
            .select('id_a', 'id_b', 'cosine'))


# ------------------------------------------------- exact passage dedup

def passage_windows(df: DataFrame, id_col: str = 'doc_id',
                    text_col: str = 'text', window: int = 20) -> DataFrame:
    """(id, widx, passage) — non-overlapping ``window``-token passages
    per document (the unit of exact substring dedup, Lee et al. 2022
    arXiv:2107.06499: training-data duplication is dominated by repeated
    PASSAGES inside otherwise-distinct pages, which document-level dedup
    never sees). The final partial window is kept; tokenization sits
    behind its own projection (see the dsir n-gram note). All JVM
    expressions — sequence/slice/concat_ws — no Python workers."""
    toked = df.select(F.col(id_col).alias('id'), tokens(text_col).alias('_toks'))
    nwin = F.ceil(F.size('_toks') / F.lit(window)).cast('int')
    wins = F.when(
        F.size('_toks') > 0,
        F.transform(F.sequence(F.lit(0), nwin - 1),
                    lambda w: F.struct(
                        w.cast('long').alias('widx'),
                        F.concat_ws(' ', F.slice('_toks', w * window + 1,
                                                 window)).alias('passage')))) \
        .otherwise(F.array().cast('array<struct<widx:long,passage:string>>'))
    return (toked.select('id', F.explode(wins).alias('p'))
            .select('id', F.col('p.widx').alias('widx'),
                    F.col('p.passage').alias('passage')))


def passage_dedup_report(df: DataFrame, id_col: str = 'doc_id',
                         text_col: str = 'text',
                         window: int = 20) -> DataFrame:
    """(id, n_passages, n_dup_passages) — how much of each document is
    corpus-duplicated text at passage granularity. One window explosion,
    one map-side-combined passage count, one join back: linear, and the
    passage-count table is bounded by distinct passages."""
    wins = passage_windows(df, id_col, text_col, window)
    counts = wins.groupBy('passage').agg(F.count(F.lit(1)).alias('n_occ'))
    per_doc = (wins.join(counts, 'passage')
               .groupBy('id')
               .agg(F.count(F.lit(1)).alias('n_passages'),
                    F.sum(F.when(F.col('n_occ') > 1, 1).otherwise(0))
                    .alias('n_dup_passages')))
    return (df.select(F.col(id_col).alias('id'))
            .join(per_doc, 'id', 'left')
            .select('id',
                    F.coalesce('n_passages', F.lit(0)).cast('long')
                    .alias('n_passages'),
                    F.coalesce('n_dup_passages', F.lit(0)).cast('long')
                    .alias('n_dup_passages')))


def drop_duplicate_passages(df: DataFrame, id_col: str = 'doc_id',
                            text_col: str = 'text',
                            window: int = 20) -> DataFrame:
    """(id, text) with every passage that appears elsewhere in the
    corpus removed EXCEPT its first occurrence (smallest (id, widx) —
    deterministic across partitionings). Documents whose every passage
    is a later duplicate come back with empty text, preserving row
    count for downstream joins."""
    wins = passage_windows(df, id_col, text_col, window)
    keeper = wins.groupBy('passage').agg(
        F.min(F.struct('id', 'widx')).alias('k'))
    kept = (wins.join(keeper, 'passage')
            .filter((F.col('id') == F.col('k.id')) &
                    (F.col('widx') == F.col('k.widx')))
            .select('id', 'widx', 'passage'))
    rebuilt = (kept.groupBy('id')
               .agg(F.concat_ws(' ', F.transform(
                   F.array_sort(F.collect_list(F.struct('widx', 'passage'))),
                   lambda s: s['passage'])).alias('text')))
    return (df.select(F.col(id_col).alias('id'))
            .join(rebuilt, 'id', 'left')
            .select('id', F.coalesce('text', F.lit('')).alias('text')))


# ---------------------------------------------- dedup against a reference

def dedup_against(df: DataFrame, ref: DataFrame, id_col: str = 'doc_id',
                  text_col: str = 'text', mode: str = 'exact',
                  threshold: float = 0.9, num_perm: int = 96,
                  bands: int | None = None, seed: int = 42,
                  shingles: int | None = None) -> DataFrame:
    """Rows of ``df`` NOT duplicated in a reference corpus — the
    snapshot-over-snapshot dedup every recurring crawl ingest runs (keep
    only what last month's corpus doesn't already contain; CCNet-style
    incremental curation, the batch twin of the streaming LSH store).

    ``mode='exact'``: anti-join on the normalized-text fingerprint; the
    reference contributes one DISTINCT md5 per document, so the join key
    table is as small as exact dedup state can be.

    ``mode='near'``: MinHash-LSH with the same seeded parameters on both
    sides, bucket equi-join (band, bh) ONLY — never corpus x reference —
    then exact-Jaccard verification; a df row is dropped if any verified
    reference match reaches ``threshold``. Id spaces of the two tables
    never mix (the candidate join carries each side under its own
    column), so overlapping doc_id ranges are fine.
    """
    if mode == 'exact':
        refs = (ref.select(fingerprint(F.col(text_col)).alias('_fp'))
                .distinct())
        return (df.withColumn('_fp', fingerprint(F.col(text_col)))
                .join(refs, '_fp', 'left_anti')
                .drop('_fp'))
    if mode != 'near':
        raise ValueError(f"mode={mode!r}: use 'exact' or 'near'")
    if bands is None:
        bands = _threshold_bands(num_perm, threshold)
    rows = num_perm // bands
    tok_n = _hashed_token_sets(df, id_col, text_col, shingles) \
        .localCheckpoint(eager=True)
    tok_r = _hashed_token_sets(ref, id_col, text_col, shingles) \
        .localCheckpoint(eager=True)
    b_n = _lsh_buckets(_sig_from_hashes(tok_n, num_perm, seed), bands, rows)
    b_r = _lsh_buckets(_sig_from_hashes(tok_r, num_perm, seed), bands, rows)
    cand = (b_n.select(F.col('id').alias('id_a'), 'band', 'bh')
            .join(b_r.select(F.col('id').alias('id_b'), 'band', 'bh'),
                  ['band', 'bh'])
            .select('id_a', 'id_b').distinct())
    ta = tok_n.select(F.col('id').alias('id_a'), F.col('toks').alias('toks_a'))
    tb = tok_r.select(F.col('id').alias('id_b'), F.col('toks').alias('toks_b'))
    hits = (cand.join(ta, 'id_a').join(tb, 'id_b')
            .withColumn('inter', F.size(F.array_intersect('toks_a', 'toks_b')))
            .withColumn('jaccard', F.col('inter') /
                        (F.size('toks_a') + F.size('toks_b') - F.col('inter')))
            .filter(F.col('jaccard') >= threshold)
            .select(F.col('id_a').alias(id_col)).distinct())
    return df.join(hits, id_col, 'left_anti')

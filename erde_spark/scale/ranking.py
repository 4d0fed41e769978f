"""BM25 full-text relevance ranking over document tables.

The classic Robertson/Sparck-Jones BM25 with the Lucene always-positive
idf variant: ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``. Everything is
JVM-side DataFrame algebra — no Python in the loop:

- the per-document pass projects ``(id, doclen, tokens ∩ query_terms)``
  in one codegen stage, so the explode that follows carries only query-
  term occurrences, not the corpus (filter-before-shuffle);
- corpus stats (N, avgdl) are a single global aggregate broadcast back
  via a 1-row cross join (never a driver ``collect``);
- per-term document frequencies are a k-row aggregate broadcast-joined
  onto the term-frequency table (k = number of query terms, tiny);
- the final top-k is ``orderBy(...).limit(k)`` → Spark's
  TakeOrderedAndProject, a per-partition partial top-k + driver merge,
  never a full sort.

At 100 TB: one shuffle on ``(doc, term)`` whose input is pre-filtered to
query-term hits only, one scalar aggregate, two broadcast joins. Scales
linearly with executors; no all-pairs, no skew-prone wide keys (a query
term hitting every doc shuffles one row per hit, combine-reduced
map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from erde_spark.scale.text import token_count, tokens
from erde_spark.session import driver_frame


def bm25_scores(docs: DataFrame, query_terms: list[str],
                id_col: str = 'doc_id', text_col: str = 'text',
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Per-document BM25 score for a bag-of-words query.

    Returns ``(id_col, score)`` for every document matching at least one
    query term; ``score`` is rounded to 4 decimals so downstream ordering
    is stable across engines/float orders.
    """
    if not query_terms:
        raise ValueError('query_terms must be non-empty')
    terms = F.array(*[F.lit(t) for t in query_terms])

    base = docs.select(
        F.col(id_col),
        token_count(text_col).alias('doclen'),
        F.filter(tokens(text_col), lambda x: F.array_contains(terms, x))
         .alias('hits'))

    tf = (base.select(id_col, 'doclen', F.explode('hits').alias('term'))
          .groupBy(id_col, 'term')
          .agg(F.count(F.lit(1)).alias('tf'),
               F.first('doclen').alias('doclen')))

    stats = docs.agg(F.count(F.lit(1)).alias('n_docs'),
                     F.avg(token_count(text_col)).alias('avgdl'))
    dfreq = tf.groupBy('term').agg(F.count(F.lit(1)).alias('df'))

    scored = (tf.crossJoin(F.broadcast(stats))
              .join(F.broadcast(dfreq), 'term'))
    idf = F.log(F.lit(1.0) + (F.col('n_docs') - F.col('df') + 0.5)
                / (F.col('df') + 0.5))
    part = (F.col('tf') * (k1 + 1.0)
            / (F.col('tf') + k1 * (1.0 - b + b * F.col('doclen') / F.col('avgdl'))))
    return (scored.withColumn('s', idf * part)
            .groupBy(id_col)
            .agg(F.round(F.sum('s'), 4).alias('score')))


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 20,
              id_col: str = 'doc_id', text_col: str = 'text',
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-``k`` documents by BM25 score (score desc, id asc tie-break).

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — partial
    top-k per partition, merged on the driver: O(k) driver memory at any
    corpus size.
    """
    scores = bm25_scores(docs, query_terms, id_col, text_col, k1, b)
    return scores.orderBy(F.col('score').desc(), F.col(id_col)).limit(k)


def build_postings(docs: DataFrame, id_col: str = 'doc_id',
                   text_col: str = 'text', min_df: int = 1,
                   max_df_frac: float = 1.0,
                   n_docs: int | None = None) -> DataFrame:
    """Inverted index build: ``(term, df, postings)`` with postings an
    array of ``(id, tf)`` structs sorted by id — the serving artifact
    for decontamination lookups, boolean retrieval, and BM25 at query
    time (df and tf are exactly the statistics :func:`bm25_scores`
    recomputes per query; an index materializes them once).

    Plan: explode tokens -> groupBy (term, id) count (map-side
    combined) -> groupBy term ``sort_array(collect_list(...))``. Two
    shuffles, both on term-ish keys, everything inside codegen — no
    Python anywhere. ``min_df``/``max_df_frac`` prune hapaxes and
    stopword-grade terms AT BUILD TIME (df > max_df_frac*N terms carry
    postings lists ~N long — the classic index-bloat key-skew; pruning
    them bounds the largest collect_list). Write the result partitioned
    by a term-hash bucket for partition-pruned point lookups at scale.

    ``n_docs`` short-circuits the corpus count when the caller already
    knows it (skips one columnar count job)."""
    if not 0.0 < max_df_frac <= 1.0:
        raise ValueError(f'max_df_frac must be in (0, 1], got {max_df_frac}')
    if n_docs is None:
        n_docs = docs.count()
    tf = (docs.select(F.col(id_col).alias('id'),
                      F.explode(tokens(text_col)).alias('term'))
          .groupBy('term', 'id').agg(F.count(F.lit(1)).alias('tf')))
    out = (tf.groupBy('term')
           .agg(F.count(F.lit(1)).alias('df'),
                F.sort_array(F.collect_list(F.struct('id', 'tf')))
                .alias('postings'))
           .filter(F.col('df') >= int(min_df)))
    if max_df_frac < 1.0:
        out = out.filter(F.col('df') <= float(max_df_frac) * n_docs)
    return out


def postings_lookup(index: DataFrame, terms: list[str],
                    mode: str = 'any') -> DataFrame:
    """Doc ids matching ``terms`` from a :func:`build_postings` index:
    ``mode='any'`` (boolean OR) or ``'all'`` (AND — id must appear in
    every term's postings). The index side is filtered to k terms
    before any explode, so this is k postings-list scans however big
    the corpus was."""
    if not terms:
        raise ValueError('terms must be non-empty')
    if mode not in ('any', 'all'):
        raise ValueError(f"mode={mode!r}: use 'any' or 'all'")
    hits = (index.filter(F.col('term').isin([t.lower() for t in terms]))
            .select('term', F.explode('postings').alias('p'))
            .select('term', F.col('p.id').alias('id')))
    if mode == 'any':
        return hits.select('id').distinct()
    need = len({t.lower() for t in terms})
    return (hits.groupBy('id')
            .agg(F.countDistinct('term').alias('_k'))
            .filter(F.col('_k') == need).select('id'))


def write_postings(index: DataFrame, path: str, buckets: int = 256,
                   mode: str = 'overwrite') -> None:
    """Materialize a :func:`build_postings` index partitioned by a
    term-hash bucket (``pmod(xxhash64(term), buckets)``): point lookups
    then read ONLY the matching bucket directories — Hive partition
    pruning turns a term probe into an O(index/buckets) scan however
    large the corpus was. 256 buckets keeps directory counts sane while
    bounding a probe to ~0.4% of the index; raise it for trillion-token
    vocabularies."""
    if buckets <= 0:
        raise ValueError('buckets must be positive')
    (index.withColumn('bucket',
                      F.pmod(F.xxhash64('term'), F.lit(buckets)))
     .write.mode(mode).partitionBy('bucket').parquet(path))
    # sidecar metadata so a probe with the wrong bucket count raises
    # instead of silently pruning to empty directories (a wrong-buckets
    # probe was previously indistinguishable from "term absent")
    import json as _json
    _meta_write(path, _json.dumps(
        {'buckets': int(buckets), 'hash': _POSTINGS_HASH}))


_POSTINGS_META = '_postings_meta.json'
_POSTINGS_HASH = 'pmod(xxhash64(term), buckets)'


def _meta_write(index_path: str, payload: str) -> None:
    # driver-side: fsutil handles the URI-vs-local dispatch (one copy
    # of the scheme subtlety, not four)
    from erde_spark.io.fsutil import write_bytes
    write_bytes(f'{index_path.rstrip("/")}/{_POSTINGS_META}',
                payload.encode('utf-8'))


def _meta_read(index_path: str) -> dict | None:
    import json as _json

    from erde_spark.io.fsutil import read_bytes
    try:
        return _json.loads(read_bytes(
            f'{index_path.rstrip("/")}/{_POSTINGS_META}').decode())
    except (FileNotFoundError, OSError):
        # pre-metadata index (or a foreign layout): probe proceeds on
        # the caller's word, the pre-r11 behavior
        return None


def read_postings(spark, path: str, terms: list[str],
                  buckets: int = 256) -> DataFrame:
    """Probe a :func:`write_postings` index for ``terms``: the matching
    bucket values are computed with the SAME hash in the filter, so the
    scan prunes to at most ``len(terms)`` partition directories (assert
    it with plans.inspect — the bucket filter appears as a partition
    filter, not a data filter). ``buckets`` must equal the write-side
    value — validated against the ``_postings_meta.json`` sidecar the
    writer persists, so a mismatched probe raises instead of silently
    pruning to empty directories."""
    if not terms:
        raise ValueError('terms must be non-empty')
    meta = _meta_read(path)
    if meta is not None and int(meta.get('buckets', buckets)) != buckets:
        raise ValueError(
            f'read_postings(buckets={buckets}) does not match the index '
            f"at {path!r} (written with buckets={meta['buckets']}); a "
            'mismatched probe would silently return empty')
    lo = [t.lower() for t in terms]
    tdf = driver_frame(spark, [(t,) for t in lo], 'term string')
    wanted = [r[0] for r in
              tdf.select(F.pmod(F.xxhash64('term'),
                                F.lit(buckets))).distinct().collect()]
    return (spark.read.parquet(path)
            .filter(F.col('bucket').isin(wanted))
            .filter(F.col('term').isin(lo)))

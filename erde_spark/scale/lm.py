"""N-gram language-model perplexity filtering — the CCNet recipe
(Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data": score every document with a language
model trained on trusted text, keep the low-perplexity head/middle).
CCNet uses KenLM; no such package ships in this container, so the model
here is a count-based n-gram LM with STUPID BACKOFF (Brants et al.
2007, "Large Language Models in Machine Translation" — the smoothing
scheme designed for exactly this distributed-counts setting: no
discount normalization, so the score needs nothing beyond raw counts):

    S(w | ctx_k)   = count(ctx_k w) / count(ctx_k)      if seen
                   = alpha * S(w | ctx_{k-1})           otherwise
    S(w)           = count(w) / N                        if seen
                   = alpha / N                           otherwise (OOV)

Perplexity = exp(-mean log S) over a document's tokens.

Spark-first shape, both phases one-shuffle-per-step declarative plans:

- TRAIN: tokenize (codegen ``split``/``filter``), pad with ``<s>``,
  emit every k-gram (k = 1..n) ending at a real token position via
  ``transform``/``flatten``/``explode``, then ONE map-side-combined
  ``groupBy(gram).count()``. Pure-BOS context rows (``<s>``,
  ``<s>\\x1f<s>``, ...) are added analytically (= document count) —
  they are the only contexts that never end at a real position.
  ``min_count`` prunes the tail for a bounded model (backoff absorbs
  the misses); at 100 TB the counts table is itself a distributed
  DataFrame — nothing is collected.
- SCORE: per token position build the 2n-1 lookup keys (the k-grams
  ending there and their contexts), explode, ONE equi-join against
  the counts table (AQE broadcasts it when it fits; a billion-gram
  model shuffle-joins on the gram key — either way no Python), group
  the counts back per position and evaluate the fixed-depth backoff
  chain in codegen, then aggregate per document.

Tokenization is :func:`erde_spark.scale.text.tokens` (lowercase
alphanumeric runs) so LM scores compose with every other text operator
and the DuckDB oracle expression documented there.

No counterpart in the reference (training-data extension surface,
SURVEY.md §7.0 layer 6).
"""
from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from erde_spark.scale.text import tokens
from erde_spark.session import driver_frame

#: gram-part separator (never produced by the tokenizer, which only
#: emits [a-z0-9] runs)
SEP = '\x1f'
#: begin-of-sequence padding token (outside the tokenizer alphabet)
BOS = '<s>'


class NgramLM(NamedTuple):
    """A trained stupid-backoff n-gram LM: the distributed counts table
    plus the closed-form scalars the score expression needs."""
    counts: DataFrame        # (gram string, count long) for all orders
    n: int                   # model order
    n_tokens: int            # N: total real training tokens (unigram mass)
    n_docs: int              # documents trained on (pure-BOS context count)
    alpha: float             # stupid-backoff multiplier (paper: 0.4)


def _padded_base(docs: DataFrame, text_col: str, n: int,
                 id_col: str | None = None) -> DataFrame:
    """(id?, _p, _len): the BOS-padded token array ((n-1) ``<s>`` then
    the real tokens) projected ONCE as a bound column, zero-token
    documents dropped.

    The projection is the load-bearing part: inside a higher-order
    lambda an UNBOUND expression re-evaluates per element, so an
    inline ``padded`` made every (position, order) slice re-split the
    document — quadratic in document length (measured: the training
    explode alone 12.8 s -> 1.4 s at sf0.1 once ``_p`` is a bound
    attribute; the same re-evaluation cliff as exactsubstr's
    array_sort, erde_spark/scale/text.py::cut_duplicate_spans)."""
    padded = F.concat(F.array_repeat(F.lit(BOS), n - 1), tokens(text_col))
    cols = [F.col(id_col).alias('id')] if id_col else []
    return (docs.select(*cols, padded.alias('_p'))
            .withColumn('_len', F.size('_p') - (n - 1))
            .where(F.col('_len') > 0))


def _all_grams(n: int):
    """Array over real positions i (1-based) of all k-grams (k=1..n)
    ending at i, as SEP-joined strings over the bound ``_p``/``_len``
    columns a :func:`_padded_base` projection provides; flattened to
    one array."""
    return F.flatten(F.transform(
        F.sequence(F.lit(1), F.col('_len')),
        # padded index of real token i is i + n - 1; the k-gram ending
        # there starts at padded index i + n - k
        lambda i: F.transform(
            F.sequence(F.lit(1), F.lit(n)),
            lambda k: F.array_join(F.slice(F.col('_p'), i + n - k, k),
                                   SEP))))


def train_ngram_lm(docs: DataFrame, text_col: str = 'text', n: int = 3,
                   min_count: int = 1, alpha: float = 0.4) -> NgramLM:
    """Count all 1..n-grams (one codegen explode + one map-side-combined
    groupBy), prune below ``min_count`` (order-1 grams are never pruned:
    they carry the OOV-vs-seen distinction and the unigram mass), and
    add the analytic pure-BOS context rows. Two scalar aggregates
    (token total, doc count) are the only driver-side values."""
    if n < 1:
        raise ValueError('n must be >= 1')
    if not 0 < alpha <= 1:
        raise ValueError('alpha must be in (0, 1]')
    base = _padded_base(docs, text_col, n)
    totals = base.agg(F.sum('_len').alias('nt'),
                      F.count(F.lit(1)).alias('nd')).collect()[0]
    n_tokens, n_docs = int(totals['nt'] or 0), int(totals['nd'])
    if n_tokens == 0:
        raise ValueError('no tokens to train on')
    grams = base.select(F.explode(_all_grams(n)).alias('gram'))
    counts = grams.groupBy('gram').agg(F.count(F.lit(1)).alias('count'))
    if min_count > 1:
        # unigrams (no SEP) survive any pruning: N and OOV need them
        counts = counts.where((F.col('count') >= min_count)
                              | ~F.col('gram').contains(SEP))
    if n > 1:
        spark = docs.sparkSession
        bos_rows = driver_frame(
            spark, [(SEP.join([BOS] * j), n_docs) for j in range(1, n)],
            'gram string, count long')
        counts = counts.unionByName(bos_rows)
    return NgramLM(counts, n, n_tokens, n_docs, alpha)


def _backoff_expr(lm: NgramLM, m):
    """The fixed-depth stupid-backoff chain over a position's
    role->count map ``m`` (roles 'g1'..'gn', 'c2'..'cn'); returns the
    score column. Pure CASE/arithmetic — codegen, no UDF."""
    # S_1: seen unigram -> c/N, OOV -> alpha/N
    s = F.coalesce(m['g1'], F.lit(lm.alpha)) / F.lit(float(lm.n_tokens))
    for k in range(2, lm.n + 1):
        s = F.when(m[f'g{k}'].isNotNull(),
                   m[f'g{k}'] / m[f'c{k}']).otherwise(F.lit(lm.alpha) * s)
    return s


def score_perplexity(docs: DataFrame, lm: NgramLM, id_col: str = 'doc_id',
                     text_col: str = 'text',
                     broadcast_counts: bool = False) -> DataFrame:
    """Per-document stupid-backoff score: (id, n_tokens, avg_logprob,
    perplexity). Documents with zero tokens are dropped (perplexity is
    undefined on them — filter or coalesce upstream if they must
    survive). Deterministic: the per-position backoff is fixed-depth
    IEEE arithmetic and the per-document mean is an exact count-scaled
    sum of independently-computed position scores.

    ``broadcast_counts=True`` hints the counts table to every executor
    (right call when ``min_count`` pruning bounded the model — the
    common production shape); default leaves the join strategy to
    Catalyst/AQE, which shuffle-joins on the gram key when the model
    is itself corpus-sized.

    Two physical shapes behind one contract (r12 optimization — the
    per-position arithmetic, keys and backoff CASE are byte-identical
    between them; only the dataflow differs):

    * ``broadcast_counts=True``: ONE row per position carrying its
      2n-1 gram-key strings, resolved by 2n-1 reused broadcast-hash
      probes of the same built relation, scored in-row, then a
      map-side-combined per-document aggregation — the only exchange
      carries one partial row per document, not 5 rows per token
      (guide §2.3 "aggregate before you shuffle"). Right whenever the
      pruned model broadcasts, which is the production filter shape.
    * default (corpus-sized model): the 2n-1 role keys explode to rows
      and resolve through ONE shuffle equi-join on the gram key —
      broadcast probes would become 2n-1 full shuffle joins there.
    """
    n = lm.n
    base = _padded_base(docs, text_col, n, id_col=id_col)
    # per position: the n gram keys + n-1 context keys, role-tagged.
    # role (name, ends_at_prev, klen): key = klen-gram ending at i
    # (ends_at_prev=0) or i-1 (ends_at_prev=1); padded index of real
    # token i is i+n-1, so the gram starts at i+n-klen-ends_at_prev.
    # Slices read the BOUND _p column — see _padded_base for why.
    roles = [(f'g{k}', 0, k) for k in range(1, n + 1)] \
        + [(f'c{k}', 1, k - 1) for k in range(2, n + 1)]
    if broadcast_counts:
        row = base.select(
            'id',
            F.explode(F.sequence(F.lit(1), F.col('_len'))).alias('pos'),
            '_p')
        row = row.select(
            'id',
            *[F.array_join(
                F.slice(F.col('_p'), F.col('pos') + (n - klen - prev),
                        klen), SEP).alias(f'_{name}')
              for name, prev, klen in roles])
        # every probe joins the IDENTICAL build-side plan (same
        # projection, alias only) so the physical plans canonicalize
        # equal and Spark builds ONE broadcast hash relation, reusing
        # it across the 2n-1 joins (ReusedExchange) — per-role column
        # renames here would fork 2n-1 separate builds, each re-running
        # the model-counts aggregation
        for name, _, _ in roles:
            cr = lm.counts.alias(f'cnt_{name}')
            row = (row.join(F.broadcast(cr),
                            row[f'_{name}'] == F.col(f'cnt_{name}.gram'),
                            'left')
                   .select(*[row[c] for c in row.columns
                             if c != f'_{name}'],
                           F.col(f'cnt_{name}.count').alias(name)))
        m = {name: F.col(name) for name, _, _ in roles}
        logp = F.log(_backoff_expr(lm, m))
        return (row.select('id', logp.alias('_lp'))
                .groupBy('id')
                .agg(F.count(F.lit(1)).alias('n_tokens'),
                     F.avg('_lp').alias('avg_logprob'))
                .select(F.col('id').alias(id_col), 'n_tokens',
                        'avg_logprob',
                        F.exp(-F.col('avg_logprob')).alias('perplexity')))
    keys = F.flatten(F.transform(
        F.sequence(F.lit(1), F.col('_len')),
        lambda i: F.array(*[
            F.struct(i.alias('pos'), F.lit(name).alias('role'),
                     F.array_join(
                         F.slice(F.col('_p'), i + n - klen - prev, klen),
                         SEP).alias('gram'))
            for name, prev, klen in roles])))
    pos_keys = (base.select('id', F.explode(keys).alias('k'))
                .select('id', 'k.pos', 'k.role', 'k.gram'))
    joined = pos_keys.join(lm.counts, 'gram', 'left')
    per_pos = joined.groupBy('id', 'pos').agg(
        F.map_from_entries(F.collect_list(
            F.struct('role', 'count'))).alias('m'))
    m = F.col('m')
    logp = F.log(_backoff_expr(lm, m))
    return (per_pos.select('id', logp.alias('_lp'))
            .groupBy('id')
            .agg(F.count(F.lit(1)).alias('n_tokens'),
                 F.avg('_lp').alias('avg_logprob'))
            .select(F.col('id').alias(id_col), 'n_tokens', 'avg_logprob',
                    F.exp(-F.col('avg_logprob')).alias('perplexity')))


def perplexity_filter(docs: DataFrame, lm: NgramLM,
                      max_perplexity: float, id_col: str = 'doc_id',
                      text_col: str = 'text',
                      broadcast_counts: bool = False) -> DataFrame:
    """CCNet's keep rule, threshold form: keep documents whose LM
    perplexity is at or below ``max_perplexity`` (CCNet buckets into
    head/middle/tail by per-language quantiles — compute those with
    ``approx_percentile`` over :func:`score_perplexity` output and
    pass the cut; the filter itself is one semi join, no re-scan of
    the text)."""
    scored = score_perplexity(docs, lm, id_col, text_col,
                              broadcast_counts=broadcast_counts)
    keep = scored.where(F.col('perplexity') <= max_perplexity) \
        .select(id_col)
    return docs.join(keep, id_col, 'semi')


def perplexity_buckets(scored: DataFrame, lang_col: str = 'lang',
                       ppl_col: str = 'perplexity',
                       id_col: str = 'doc_id',
                       bucket_col: str = 'ppl_bucket',
                       cuts: tuple = (1 / 3, 2 / 3),
                       method: str = 'rank') -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3: within
    each language, the lowest-perplexity third is 'head', then
    'middle', then 'tail'; reference has no LM pipeline). Two methods,
    identical buckets away from cut-point ties:

    * ``'rank'`` (default, deterministic to the row): exact
      ``percent_rank`` per language, ties broken by ``id_col`` —
      one per-language range sort. At 100 TB a single dominant
      language serializes its sort into one task chain; use
      ``'threshold'`` there.
    * ``'threshold'`` (the scale path, matching CCNet's own
      precomputed-cutoff design): per-language exact quantile
      thresholds from a groupBy over DISTINCT (lang, perplexity)
      values (the only sort is over distinct values, usually far
      smaller than rows), broadcast back, bucket by comparison — no
      full-data sort, rows at a threshold tie all land in the lower
      bucket together.
    """
    from pyspark.sql import Window
    lo, hi = cuts
    if not (0 < lo < hi < 1):
        raise ValueError(f'cuts must satisfy 0 < lo < hi < 1: {cuts}')
    if method == 'rank':
        w = Window.partitionBy(lang_col).orderBy(
            F.col(ppl_col).asc(), F.col(id_col).asc())
        pr = F.percent_rank().over(w)
        b = (F.when(pr <= lo, 'head')
             .when(pr <= hi, 'middle').otherwise('tail'))
        return scored.withColumn(bucket_col, b)
    if method != 'threshold':
        raise ValueError(f"method must be 'rank' or 'threshold', "
                         f'got {method!r}')
    counts = scored.groupBy(lang_col, ppl_col).count()
    wv = Window.partitionBy(lang_col).orderBy(F.col(ppl_col).asc())
    tot = Window.partitionBy(lang_col)
    frac = (F.sum('count').over(wv) / F.sum('count').over(tot))
    cum = counts.select(lang_col, ppl_col, frac.alias('_cf'))
    thr = cum.groupBy(lang_col).agg(
        F.min(F.when(F.col('_cf') >= lo, F.col(ppl_col)))
        .alias('_head_max'),
        F.min(F.when(F.col('_cf') >= hi, F.col(ppl_col)))
        .alias('_mid_max'))
    joined = scored.join(F.broadcast(thr), lang_col, 'left')
    b = (F.when(F.col(ppl_col) <= F.col('_head_max'), 'head')
         .when(F.col(ppl_col) <= F.col('_mid_max'), 'middle')
         .otherwise('tail'))
    return joined.withColumn(bucket_col, b) \
        .drop('_head_max', '_mid_max')


def kneser_ney_bigrams(docs: DataFrame, text_col: str = 'text',
                       discount: float = 0.75) -> DataFrame:
    """Interpolated Kneser-Ney bigram estimation (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.28) — the smoothing KenLM implements,
    here as pure count algebra so another engine can replay it exactly:

        P_KN(w2|w1) = max(c(w1 w2) - D, 0) / c(w1 .)
                      + D * N1+(w1 .) / c(w1 .) * Pcont(w2)
        Pcont(w2)   = N1+(. w2) / N1+(. .)

    with one BOS pad per document so sentence-initial words carry a
    real context. Returns ``(w1, w2, c, p_kn)`` for every observed
    bigram.

    Plan: one bound-array projection (the re-evaluation cliff
    :func:`_padded_base` documents) -> explode -> THREE
    map-side-combined groupBys over the bigram-type table (counts,
    follower types per context, predecessor types per word) + a 1-row
    type-total broadcast — no Python, no driver collect, shuffles keyed
    on words (the classic Zipf head keys combine map-side, so no
    straggler carries a stage). 100 TB: this is wordcount-shaped; it
    scales wherever wordcount does."""
    from erde_spark.scale.text import tokens
    if not 0.0 < discount < 1.0:
        raise ValueError(f'discount must be in (0, 1), got {discount}')
    p = F.concat(F.array(F.lit(BOS)), tokens(text_col))
    base = (docs.select(p.alias('_p'))
            .where(F.size('_p') >= 2))  # at least BOS + one token
    pairs = base.select(F.explode(F.transform(
        F.sequence(F.lit(1), F.size('_p') - 1),
        lambda i: F.struct(
            F.element_at('_p', i).alias('w1'),
            F.element_at('_p', (i + 1).cast('int')).alias('w2'))))
        .alias('bg')).select('bg.w1', 'bg.w2')
    bc = pairs.groupBy('w1', 'w2').agg(F.count(F.lit(1)).alias('c'))
    ctx = bc.groupBy('w1').agg(F.sum('c').alias('c1'),
                               F.count(F.lit(1)).alias('n_follow'))
    cont = bc.groupBy('w2').agg(F.count(F.lit(1)).alias('n_prec'))
    tot = bc.agg(F.count(F.lit(1)).alias('t'))
    d = F.lit(float(discount))
    p_kn = (F.greatest(F.col('c') - d, F.lit(0.0)) / F.col('c1')
            + d * F.col('n_follow') / F.col('c1')
            * F.col('n_prec') / F.col('t'))
    return (bc.join(ctx, 'w1').join(cont, 'w2')
            .crossJoin(F.broadcast(tot))
            .select('w1', 'w2', 'c', p_kn.alias('p_kn')))

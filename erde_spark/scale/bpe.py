"""BPE tokenizer training and encoding (Sennrich et al. 2016,
arXiv:1508.07909) on the distinct-word table.

The scale insight the whole module is built on: BPE training never
needs the corpus — it needs the DISTINCT word table weighted by
frequency. The corpus-sized work is therefore exactly one word-count
aggregation (map-side combined); every merge round after that is
O(vocab), and vocab grows ~log-like with corpus size (a 100 TB crawl
has millions of distinct words, not trillions).

Two training paths with identical output:

* **driver fast path** (vocab <= ``collect_cap``): collect (word, n)
  once and run the classic incremental trainer — pair-count dict plus a
  pair->words inverted index, so each merge only touches words that
  contain the merged pair (the learn_bpe algorithm). This is the right
  plan whenever the vocab fits on the driver, which covers every corpus
  up to web scale.
* **distributed path** (over cap): per round, adjacent-pair counts
  explode off the symbol-array column via ``zip_with`` over shifted
  slices (JVM), top-1 merge is a bounded collect, and the merge applies
  in one Arrow-batched pandas UDF pass; symbol arrays re-checkpoint
  every few rounds to keep lineage flat.

Merge semantics match the reference implementation: scanning each
word's symbol list left to right, merging non-overlapping occurrences
(``a a a a`` under merge ``(a, a)`` becomes ``aa aa``). Ties break by
highest count, then lexicographically smallest pair — deterministic
across partitionings and engines.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from erde_spark.scale.text import tokens
from erde_spark.session import driver_frame

#: vocabularies at or under this row count train on the driver
BPE_COLLECT_CAP = 500_000


def word_counts(df: DataFrame, text_col: str = 'text') -> DataFrame:
    """(word, n) — the only corpus-sized aggregation in BPE training."""
    return (df.select(F.explode(tokens(text_col)).alias('word'))
            .groupBy('word').agg(F.count(F.lit(1)).alias('n')))


def merge_symbols(syms: list[str], a: str, b: str) -> list[str]:
    """One merge applied left-to-right, non-overlapping."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_driver(vocab: list[tuple[str, int]], n_merges: int):
    """Incremental trainer: stats = pair -> total count; index = pair ->
    {word_idx} so a merge only revisits words containing the pair."""
    words = [(list(w), n) for w, n in vocab]
    stats: dict[tuple, int] = defaultdict(int)
    index: dict[tuple, set] = defaultdict(set)
    for wi, (syms, n) in enumerate(words):
        for p in zip(syms, syms[1:]):
            stats[p] += n
            index[p].add(wi)
    merges = []
    for _ in range(n_merges):
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if stats[best] <= 0:
            break
        merges.append((best[0], best[1], stats[best]))
        for wi in list(index[best]):
            syms, n = words[wi]
            if len(syms) < 2:
                continue
            for p in zip(syms, syms[1:]):
                stats[p] -= n
                if stats[p] <= 0:
                    stats.pop(p, None)
            new = merge_symbols(syms, *best)
            words[wi] = (new, n)
            for p in zip(new, new[1:]):
                stats[p] += n
                index[p].add(wi)
        index.pop(best, None)
    return merges


def _pairs_of(syms_col):
    """Adjacent (left, right) symbol structs — zip_with over shifted
    slices, linear per word (see the dsir n-gram note)."""
    win = F.greatest(F.size(syms_col) - 1, F.lit(0))
    return F.zip_with(F.slice(syms_col, 1, win), F.slice(syms_col, 2, win),
                      lambda a, b: F.struct(a.alias('l'), b.alias('r')))


def _train_distributed(wc: DataFrame, n_merges: int,
                       checkpoint_every: int = 8):
    spark = wc.sparkSession
    cur = wc.select(
        'n', F.split('word', '').alias('syms')).localCheckpoint(eager=True)
    merges = []

    merge_udf_schema = T.ArrayType(T.StringType())
    for r in range(n_merges):
        top = (cur.select('n', F.explode(_pairs_of(F.col('syms'))).alias('p'))
               .groupBy('p').agg(F.sum('n').alias('c'))
               .orderBy(F.col('c').desc(), F.col('p.l').asc(), F.col('p.r').asc())
               .limit(1).collect())
        if not top or top[0]['c'] <= 0:
            break
        a, b, c = top[0]['p']['l'], top[0]['p']['r'], int(top[0]['c'])
        merges.append((a, b, c))

        def _mk_apply(ma: str, mb: str):
            @F.pandas_udf(merge_udf_schema)
            def _apply(col: pd.Series) -> pd.Series:
                return col.map(lambda s: merge_symbols(list(s), ma, mb))
            return _apply

        nxt = cur.select('n', _mk_apply(a, b)('syms').alias('syms'))
        if (r + 1) % checkpoint_every == 0 or r == n_merges - 1:
            nxt = nxt.localCheckpoint(eager=True)
            cur.unpersist()
        cur = nxt
    return merges


def bpe_train(df: DataFrame, n_merges: int = 100, text_col: str = 'text',
              collect_cap: int | None = None) -> list[tuple[str, str, int]]:
    """Ordered merge list [(left, right, count_at_merge_time)]. Both
    paths produce identical output; the driver path is chosen via a
    bounded ``limit(cap+1)`` probe exactly like ``connected_components``
    (the probe never materializes more than cap+1 vocab rows)."""
    if collect_cap is None:
        collect_cap = BPE_COLLECT_CAP
    wc = word_counts(df, text_col).localCheckpoint(eager=True)
    if collect_cap:
        probe = wc.limit(collect_cap + 1).collect()
        if len(probe) <= collect_cap:
            return _train_driver([(r['word'], int(r['n'])) for r in probe],
                                 n_merges)
    return _train_distributed(wc, n_merges)


def merges_df(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    schema = T.StructType([
        T.StructField('rank', T.IntegerType()),
        T.StructField('left', T.StringType()),
        T.StructField('right', T.StringType()),
        T.StructField('merged', T.StringType()),
        T.StructField('count', T.LongType()),
    ])
    rows = [(i, a, b, a + b, int(c)) for i, (a, b, c) in enumerate(merges)]
    return driver_frame(spark, rows, schema)


def _encode_word(word: str, rank: dict) -> list[str]:
    """GPT-2-style greedy encode: repeatedly merge the lowest-rank
    adjacent pair — equivalent to replaying merges in training order."""
    syms = list(word)
    while len(syms) >= 2:
        best_i, best_r = -1, None
        for i in range(len(syms) - 1):
            r = rank.get((syms[i], syms[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            break
        a, b = syms[best_i], syms[best_i + 1]
        syms = merge_symbols(syms, a, b)
    return syms


def bpe_encode(df: DataFrame, merges: list[tuple[str, str, int]],
               id_col: str = 'doc_id', text_col: str = 'text') -> DataFrame:
    """(id, bpe_tokens array<string>, n_bpe_tokens) — the trained
    tokenizer applied corpus-wide. The merge table rides to executors in
    the UDF closure (a few MB at most); each Arrow batch keeps a
    word -> encoding cache, so cost scales with distinct words per
    batch, not tokens."""
    rank = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _enc(tok_arrays: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc_doc(toks):
            out = []
            for w in toks:
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _encode_word(w, rank)
                out.extend(got)
            return out

        return tok_arrays.map(enc_doc)

    return (df.select(F.col(id_col).alias('id'), tokens(text_col).alias('_t'))
            .select('id', _enc('_t').alias('bpe_tokens'))
            .withColumn('n_bpe_tokens', F.size('bpe_tokens')))

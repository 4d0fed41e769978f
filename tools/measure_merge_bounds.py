"""Measure the driver merge-loop bounds at their edges: latency + driver
memory of dedup_clusters' bounded driver path as the (id, band, bh)
bucket table approaches _MICROBATCH_BUCKET_CAP and just past it
(fallback engages), vs the distributed path on the same corpus, forced
by setting _MICROBATCH_BUCKET_CAP to 0. Bucket rows = docs x bands, so
the bucket bound binds first on real batches (edges need a dup-dense
corpus to approach 100k).

Usage: python tools/measure_merge_bounds.py [n_docs ...]
  -> markdown rows for SCALE.md (default sizes straddle the bucket cap)
"""
import sys
import time
import tracemalloc

sys.path.insert(0, '.')

from pyspark.sql import functions as F  # noqa: E402


def corpus(spark, n_docs):
    """n_docs short docs in identical PAIRS (n_docs/2 verified edges),
    16 tokens each — content derived from doc_id arithmetic."""
    return (spark.range(n_docs).select(
        F.col('id').alias('doc_id'),
        F.concat_ws(' ', *[
            F.md5(F.concat_ws('-', ((F.col('id') / 2).cast('long'))
                              .cast('string'), F.lit(str(i))))
            for i in range(16)]).alias('text')))


def main():
    import erde_spark.scale.dedup as D
    from erde_spark.session import get_spark
    spark = get_spark(app_name='merge_bounds')
    orig = D._microbatch_spanning_clusters
    seen = {}

    def spy(df, id_col, edge_rows, buckets, *a, **kw):
        if not seen:  # count once per size, outside the timed runs
            seen['buckets'] = buckets.count()
            seen['edges'] = len(edge_rows)
        out = orig(df, id_col, edge_rows, buckets, *a, **kw)
        seen['engaged'] = out is not None
        return out

    D._microbatch_spanning_clusters = spy
    # bands for threshold=0.9 / num_perm=96
    bands = D._threshold_bands(96, 0.9)
    print(f'bands at t=0.9/96 perm: {bands}', file=sys.stderr)
    print('| docs | bucket rows | edge rows | path | wall s | '
          'driver peak MB | distributed s |')
    print('|---|---|---|---|---|---|---|')
    cap = D._MICROBATCH_BUCKET_CAP
    sizes = [int(a) for a in sys.argv[1:]] or [
        4_000, 12_000, cap // bands, cap // bands + 2_000]

    def run():
        return D.dedup_clusters(docs, threshold=0.9,
                                pair_strategy='spanning').count()

    for n_docs in sizes:
        docs = corpus(spark, n_docs).localCheckpoint(eager=True)
        run()  # warm
        # peak from one traced run: tracemalloc slows the driver path's
        # Python several-fold, so the timed runs below go untraced
        seen.clear()
        tracemalloc.start()
        run()
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        engaged, n_buckets, n_edges = (seen.get('engaged'), seen['buckets'],
                                       seen['edges'])
        best, dist_best = float('inf'), float('inf')
        for _ in range(3):  # alternate the two paths
            t0 = time.perf_counter()
            run()
            best = min(best, time.perf_counter() - t0)
            D._MICROBATCH_BUCKET_CAP = 0  # distributed path
            try:
                t0 = time.perf_counter()
                run()
                dist_best = min(dist_best, time.perf_counter() - t0)
            finally:
                D._MICROBATCH_BUCKET_CAP = cap
        path = 'driver' if engaged else 'FALLBACK'
        print(f'| {n_docs} | {n_buckets} | {n_edges} | {path} '
              f'| {best:.2f} | {peak / 1e6:.0f} | {dist_best:.2f} |')
        docs.unpersist()


if __name__ == '__main__':
    main()

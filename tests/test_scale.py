"""Scale-extension tests: text analysis, dedup, similarity, multimodal,
windows — cross-checked against DuckDB on the real sf0.001 testdata."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

SF = '/root/testdata/sf0.001'


@pytest.fixture(scope='module')
def docs(spark):
    return spark.read.parquet(f'{SF}/documents.parquet')


@pytest.fixture(scope='module')
def embs(spark):
    return spark.read.parquet(f'{SF}/embeddings.parquet')


@pytest.fixture(scope='module')
def duck():
    con = duckdb.connect()
    for t in ('documents', 'embeddings', 'events'):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


# ---------------------------------------------------------------- text

def test_token_count_matches_duckdb(spark, docs, duck):
    from erde_spark.scale.text import token_count
    got = {r['doc_id']: r['n'] for r in
           docs.select('doc_id', token_count('text').alias('n')).collect()}
    exp = dict(duck.execute(
        "SELECT doc_id, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
        " x -> x != '')) FROM documents").fetchall())
    assert got == exp


def test_fingerprint_matches_duckdb(spark, docs, duck):
    from erde_spark.scale.text import fingerprint
    got = {r['doc_id']: r['fp'] for r in
           docs.select('doc_id', fingerprint('text').alias('fp')).collect()}
    exp = dict(duck.execute(
        "SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"
        " FROM documents").fetchall())
    assert got == exp


def test_analyze_shape(spark, docs):
    from erde_spark.scale.text import analyze
    out = analyze(docs)
    row = out.first()
    assert 0 <= row['stopword_ratio'] <= 1
    assert 0 <= row['punct_ratio'] <= 1
    assert 0 <= row['quality'] <= 1
    assert row['lang_pred'] in ('en', 'de', 'fr', 'es', 'und')


def test_word_ngrams_and_dup_fraction(spark):
    from erde_spark.scale.text import dup_ngram_fraction, word_ngrams
    df = spark.createDataFrame(
        [(1, 'a b c a b c'), (2, 'x y'), (3, 'solo'), (4, '')],
        ['i', 'text'])
    rows = {r['i']: r for r in df.select(
        'i', word_ngrams('text', 2).alias('g'),
        dup_ngram_fraction('text', 2).alias('f')).collect()}
    assert rows[1]['g'] == ['a b', 'b c', 'c a', 'a b', 'b c']
    assert abs(rows[1]['f'] - (1 - 3 / 5)) < 1e-12
    assert rows[2]['g'] == ['x y'] and rows[2]['f'] == 0.0
    assert rows[3]['g'] == [] and rows[3]['f'] == 0.0
    assert rows[4]['g'] == [] and rows[4]['f'] == 0.0


def test_contamination_hits(spark):
    from erde_spark.scale.text import contamination_hits
    corpus = spark.createDataFrame(
        [(1, 'the quick brown fox jumps over the lazy dog'),
         (2, 'entirely different words here with no overlap at all'),
         (3, 'quick brown fox jumps high')],
        ['doc_id', 'text'])
    ev = spark.createDataFrame(
        [(100, 'a quick brown fox jumps today')], ['doc_id', 'text'])
    got = {r['doc_id']: r['contaminated_ngrams'] for r in
           contamination_hits(corpus, ev, n=4).collect()}
    # eval 4-grams: {a quick brown fox, quick brown fox jumps,
    #                brown fox jumps today}
    assert got == {1: 1, 3: 1}


# ---------------------------------------------------------------- dedup

def test_exact_dedup(spark, docs, duck):
    from erde_spark.scale.dedup import exact_dedup
    out = exact_dedup(docs)
    n_exp = duck.execute(
        "SELECT count(DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))"
        " FROM documents").fetchone()[0]
    assert out.count() == n_exp


def test_jaccard_pairs_match_duckdb(spark, docs, duck):
    from erde_spark.scale.dedup import jaccard_pairs
    got = {(r['id_a'], r['id_b']): round(r['jaccard'], 6)
           for r in jaccard_pairs(docs, threshold=0.8).collect()}
    exp = {(a, b): round(j, 6) for a, b, j in duck.execute("""
        WITH t AS (SELECT doc_id, list_distinct(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) toks
            FROM documents)
        SELECT a.doc_id, b.doc_id,
               len(list_intersect(a.toks, b.toks))*1.0 /
               (len(a.toks)+len(b.toks)-len(list_intersect(a.toks, b.toks))) j
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE j >= 0.8""").fetchall()}
    assert got == exp
    assert len(got) > 0  # testdata contains shuffled near-dups


def test_minhash_lsh_finds_exact_dups(spark, docs):
    """LSH candidates + exact verify must recover every jaccard=1.0 pair
    (identical signatures always collide)."""
    from erde_spark.scale.dedup import jaccard_pairs, minhash_lsh_pairs
    exact = {(r['id_a'], r['id_b']) for r in
             jaccard_pairs(docs, threshold=0.999).collect()}
    lsh = {(r['id_a'], r['id_b']) for r in
           minhash_lsh_pairs(docs, threshold=0.999).collect()}
    assert exact <= lsh
    # precision is exact (verified) — no pair below threshold
    assert lsh == exact


def test_shingled_minhash_matches_exact(spark, docs):
    """Char-5-gram shingle units: LSH + exact verify recovers every
    identical-shingle-set pair, and shingle sets differ from word-token
    sets (whitespace-normalized n-grams see intra-word structure)."""
    from erde_spark.scale.dedup import jaccard_pairs, minhash_lsh_pairs
    exact = {(r['id_a'], r['id_b']) for r in
             jaccard_pairs(docs, threshold=0.999, shingles=5).collect()}
    lsh = {(r['id_a'], r['id_b']) for r in
           minhash_lsh_pairs(docs, threshold=0.999, shingles=5).collect()}
    assert lsh == exact
    assert len(exact) > 0


def test_char_shingles_unit(spark):
    from erde_spark.scale.text import char_shingles
    from pyspark.sql import functions as F
    df = spark.createDataFrame([('a  B cd',), ('xy',)], 'text string')
    got = [r['sh'] for r in
           df.select(char_shingles('text', 3).alias('sh')).collect()]
    # whitespace collapsed + lowercased: 'a b cd' -> 3-grams
    assert got[0] == ['a b', ' b ', 'b c', ' cd']
    # shorter than n -> single whole-text shingle
    assert got[1] == ['xy']


def test_simhash_pairs(spark, docs):
    from erde_spark.scale.dedup import simhash_pairs
    out = simhash_pairs(docs, max_hamming=3).collect()
    # token-set permutations have identical simhash -> present at hamming 0
    assert any(r['hamming'] == 0 for r in out)
    assert all(r['id_a'] < r['id_b'] and r['hamming'] <= 3 for r in out)


def test_embedding_cosine_pairs_match_duckdb(spark, embs, duck):
    from erde_spark.scale.dedup import embedding_cosine_pairs
    got = {(r['id_a'], r['id_b']): round(r['cosine'], 4)
           for r in embedding_cosine_pairs(embs, threshold=0.8).collect()}
    exp = {(a, b): round(c, 4) for a, b, c in duck.execute("""
        SELECT a.vec_id, b.vec_id, list_cosine_similarity(a.embedding, b.embedding) c
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE c >= 0.8""").fetchall()}
    assert got.keys() == exp.keys()
    for k in got:
        assert abs(got[k] - exp[k]) < 1e-3


# ---------------------------------------------------------------- similarity

def test_cosine_topk_matches_duckdb(spark, embs, duck):
    from erde_spark.scale.similarity import cosine_topk
    q = embs.filter(F.col('vec_id') < 3)
    got = [(r['query_id'], r['rank'], r['vec_id']) for r in
           cosine_topk(embs, q, k=5).orderBy('query_id', 'rank').collect()]
    exp = duck.execute("""
        SELECT q.vec_id qid,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                            c.vec_id) rk,
               c.vec_id
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 3
        QUALIFY rk <= 5 ORDER BY qid, rk""").fetchall()
    assert got == [tuple(r) for r in exp]


def test_lsh_topk_finds_near_identical(spark, embs):
    """Near-identical vectors (cosine ~1) collide in every sign-LSH bucket,
    so lsh_topk must rank them first. (Random low-cosine neighbors are NOT
    expected to collide — that's the approximation tradeoff.)"""
    from erde_spark.scale.similarity import lsh_topk
    q = embs.filter(F.col('vec_id') < 5)
    got = {r['query_id']: r['vec_id'] for r in
           lsh_topk(embs, q, k=1, n_bits=8, n_probes=1, exclude_self=False).collect()}
    assert got == {i: i for i in range(5)}  # self is its own nearest neighbor


def test_ivf_topk_recall(spark, embs):
    """IVF with all lists probed is exhaustive -> must equal exact
    brute-force top-k; with 1 probe the self-match (cosine 1.0, same
    list by construction) must still rank first."""
    from erde_spark.scale.similarity import cosine_topk, ivf_topk
    q = embs.filter(F.col('vec_id') < 5)
    exact = {(r['query_id'], r['rank']): r['vec_id'] for r in
             cosine_topk(embs, q, k=3).collect()}
    full = {(r['query_id'], r['rank']): r['vec_id'] for r in
            ivf_topk(embs, q, k=3, n_lists=4, n_probes=4).collect()}
    assert full == exact
    one = {r['query_id']: r['vec_id'] for r in
           ivf_topk(embs, q, k=1, n_lists=4, n_probes=1,
                    exclude_self=False).collect()}
    assert one == {i: i for i in range(5)}


def test_winnow_fingerprints(spark):
    """MOSS guarantee: a shared substring of length >= k+window-1 yields a
    shared fingerprint; disjoint texts share none; whitespace-normalized."""
    from erde_spark.scale.text import winnow_fingerprints, winnow_pairs
    common = 'the quick brown fox jumps over the lazy dog again and again'
    docs = spark.createDataFrame([
        (1, 'AAAA ' + common + ' BBBB'),
        (2, 'CCCC   ' + common.upper() + '\tDDDD'),   # case/ws-insensitive
        (3, 'zq ' * 40),
    ], 'doc_id long, text string')
    fp = {r['id']: set(r['fingerprints'])
          for r in winnow_fingerprints(docs, k=9, window=8).collect()}
    assert fp[1] & fp[2], 'overlapping docs must share a fingerprint'
    assert not (fp[1] & fp[3]) and not (fp[2] & fp[3])
    pairs = winnow_pairs(docs, min_shared=1, k=9, window=8).collect()
    assert [(r['id_a'], r['id_b']) for r in pairs] == [(1, 2)]
    # deterministic across runs
    fp2 = {r['id']: set(r['fingerprints'])
           for r in winnow_fingerprints(docs, k=9, window=8).collect()}
    assert fp == fp2


# ---------------------------------------------------------------- multimodal

def test_multimodal_plumbing(spark, docs):
    from erde_spark.scale.multimodal import (extract_features, frame_sample_plan,
                                             synthesize_assets)
    assets = synthesize_assets(docs.limit(20))
    feats = extract_features(assets, fake=True)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r['features']) == 8 for r in rows)
    # deterministic: same input -> same features
    again = extract_features(synthesize_assets(docs.limit(20)), fake=True).collect()
    assert sorted((r['asset_id'], r['feat_mean']) for r in rows) == \
           sorted((r['asset_id'], r['feat_mean']) for r in again)
    plan = frame_sample_plan(assets, every_n=5)
    assert plan.count() > 20  # fan-out happened


def test_multimodal_resize(spark, docs):
    from erde_spark.scale.multimodal import resize_media, synthesize_assets
    assets = synthesize_assets(docs.limit(10))
    out = resize_media(assets, out_w=4, out_h=3, fake=True).collect()
    assert len(out) == 10
    assert all(len(r['pixels']) == 12 for r in out)
    # deterministic across runs
    again = resize_media(synthesize_assets(docs.limit(10)), 4, 3, fake=True).collect()
    assert sorted((r['asset_id'], tuple(r['pixels'])) for r in out) == \
           sorted((r['asset_id'], tuple(r['pixels'])) for r in again)


def test_decode_media_non_png_raises(spark, docs):
    """synthesize_assets emits fake/raw blobs — non-PNG formats still
    raise (only PNG decodes without codec libraries)."""
    from erde_spark.scale.multimodal import extract_features, synthesize_assets
    with pytest.raises(Exception):  # NotImplementedError inside executor
        extract_features(synthesize_assets(docs.limit(1)), fake=False).collect()


def test_png_roundtrip_all_filters():
    """Every decoder unfilter path (None/Sub/Up/Average/Paeth) x every
    supported channel count recovers the exact pixels."""
    from erde_spark.scale.png import decode_png, encode_png
    rng = np.random.RandomState(11)
    for shape in ((7, 5), (6, 4, 2), (5, 9, 3), (4, 3, 4)):
        arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
        for ftype in range(5):
            got = decode_png(encode_png(arr, filter_type=ftype))
            assert got.shape == arr.shape, (shape, ftype)
            assert (got == arr).all(), (shape, ftype)


def test_png_rejects_garbage():
    from erde_spark.scale.png import decode_png
    with pytest.raises(ValueError, match='signature'):
        decode_png(b'not a png at all')


def test_png_adam7_roundtrip():
    """Adam7 interlaced images de-interlace to the exact pixels for
    every filter type and channel count, including images smaller than
    one 8x8 pass period (passes with zero rows/cols are skipped)."""
    from erde_spark.scale.png import decode_png, encode_png
    rng = np.random.RandomState(23)
    for shape in ((13, 17, 3), (9, 5), (8, 8, 4), (3, 2, 3), (1, 1)):
        arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
        for ftype in range(5):
            got = decode_png(encode_png(arr, filter_type=ftype, interlace=1))
            assert got.shape == arr.shape and (got == arr).all(), (shape, ftype)


def test_png_palette_roundtrip():
    """Color-type-3 (palette) decode: RGB recovered exactly through the
    PLTE indirection, sequential and Adam7, and a tRNS chunk yields the
    RGBA plane."""
    from erde_spark.scale.png import decode_png, encode_png_palette
    rng = np.random.RandomState(5)
    idx = rng.randint(0, 6, size=(11, 7), dtype=np.uint8)
    rgb = np.stack([idx * 40, idx * 30, 255 - idx * 42], axis=2).astype(np.uint8)
    for ftype in (0, 1, 2, 3, 4):
        for il in (0, 1):
            got = decode_png(encode_png_palette(rgb, ftype, il))
            assert got.shape == rgb.shape and (got == rgb).all(), (ftype, il)
    alpha = (idx * 51).astype(np.uint8)
    got = decode_png(encode_png_palette(rgb, 1, 1, alpha=alpha))
    assert got.shape == (11, 7, 4)
    assert (got[:, :, :3] == rgb).all() and (got[:, :, 3] == alpha).all()


def test_png_palette_subbyte_depths():
    """Palette PNGs commonly pack indices at 1/2/4 bits per pixel; a
    hand-built depth-4 and depth-1 stream (filter 0) decodes to the
    palette colors — MSB-first packing per the spec."""
    import struct
    import zlib

    from erde_spark.scale.png import _png_chunk, _SIG, decode_png
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])  # 4 entries
    # depth 4, 3x2 image: indices per row (0,1,2) / (3,0,1)
    ihdr = struct.pack('>IIBBBBB', 3, 2, 4, 3, 0, 0, 0)
    scan = bytes([0, 0x01, 0x20]) + bytes([0, 0x30, 0x10])
    data = (_SIG + _png_chunk(b'IHDR', ihdr) + _png_chunk(b'PLTE', pal)
            + _png_chunk(b'IDAT', zlib.compress(scan))
            + _png_chunk(b'IEND', b''))
    got = decode_png(data)
    exp = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
                    [[7, 8, 9], [255, 0, 0], [0, 255, 0]]], dtype=np.uint8)
    assert (got == exp).all()
    # depth 1, 10x1: bits 1011000011 -> two bytes 0xB0, 0xC0
    ihdr = struct.pack('>IIBBBBB', 10, 1, 1, 3, 0, 0, 0)
    scan = bytes([0, 0b10110000, 0b11000000])
    data = (_SIG + _png_chunk(b'IHDR', ihdr)
            + _png_chunk(b'PLTE', pal[:6])
            + _png_chunk(b'IDAT', zlib.compress(scan))
            + _png_chunk(b'IEND', b''))
    got = decode_png(data)
    exp_idx = [1, 0, 1, 1, 0, 0, 0, 0, 1, 1]
    exp = np.array([[(0, 255, 0) if i else (255, 0, 0)
                     for i in exp_idx]], dtype=np.uint8)
    assert (got == exp).all()


def test_png_grey_subbyte_scales():
    """Depth-2 greyscale scales its 0..3 values onto 0..255 (x85)."""
    import struct
    import zlib

    from erde_spark.scale.png import _png_chunk, _SIG, decode_png
    ihdr = struct.pack('>IIBBBBB', 4, 1, 2, 0, 0, 0, 0)
    scan = bytes([0, 0b00011011])       # pixels 0,1,2,3
    data = (_SIG + _png_chunk(b'IHDR', ihdr)
            + _png_chunk(b'IDAT', zlib.compress(scan))
            + _png_chunk(b'IEND', b''))
    assert (decode_png(data) == np.array([[0, 85, 170, 255]],
                                         dtype=np.uint8)).all()


def test_wav_roundtrip_and_float():
    from erde_spark.scale.png import decode_wav, encode_wav
    rng = np.random.RandomState(5)
    # int PCM round-trips bit-exact at every width (8-bit is unsigned)
    for dtype in (np.uint8, np.int16, np.int32):
        info = np.iinfo(dtype)
        arr = rng.randint(info.min, info.max, size=(50, 2)).astype(dtype)
        got = decode_wav(encode_wav(arr))
        assert got.dtype == dtype and (got == arr).all()
    # IEEE-float WAV (format tag 3) via the hand-rolled RIFF path
    import struct
    samples = rng.normal(size=(30, 1)).astype(np.float32)
    body = samples.tobytes()
    fmt = struct.pack('<HHIIHH', 3, 1, 16000, 16000 * 4, 4, 32)
    wav = (b'RIFF' + struct.pack('<I', 4 + 8 + len(fmt) + 8 + len(body))
           + b'WAVE' + b'fmt ' + struct.pack('<I', len(fmt)) + fmt
           + b'data' + struct.pack('<I', len(body)) + body)
    got = decode_wav(wav)
    assert got.dtype == np.float32 and (got == samples).all()


def test_extract_features_real_wav(spark):
    """decode_media on REAL WAV blobs through the mapInPandas pipeline."""
    from erde_spark.scale.multimodal import ASSET_SCHEMA, extract_features
    from erde_spark.scale.png import encode_wav
    rng = np.random.RandomState(9)
    rows, expected = [], {}
    for aid in range(4):
        arr = rng.randint(-3000, 3000, size=(200 + aid, 2)).astype(np.int16)
        rows.append((aid, bytearray(encode_wav(arr)), ('audio/wav', None, None, None)))
        expected[aid] = float(arr.astype(np.float64).mean())
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r['asset_id']: r['feat_mean']
           for r in extract_features(assets, fake=False).collect()}
    for aid, mean in expected.items():
        assert abs(got[aid] - mean) < 1e-9, aid


def test_extract_features_real_png(spark):
    """decode_media on REAL PNG blobs: feat_mean must equal the true
    pixel mean of the encoded image."""
    from erde_spark.scale.multimodal import ASSET_SCHEMA, extract_features
    from erde_spark.scale.png import encode_png
    rng = np.random.RandomState(3)
    rows, expected = [], {}
    for aid in range(6):
        h, w = 8 + aid, 5 + aid
        arr = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append((aid, bytearray(encode_png(arr, filter_type=aid % 5)),
                     ('image/png', w, h, None)))
        expected[aid] = float(arr.astype(np.float64).mean())
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r['asset_id']: r['feat_mean']
           for r in extract_features(assets, fake=False).collect()}
    assert got.keys() == expected.keys()
    for aid, mean in expected.items():
        assert abs(got[aid] - mean) < 1e-9, aid


def test_jpeg_codec_roundtrip():
    """Baseline JPEG: decode(encode(img)) within quantization error for
    grayscale, 4:4:4 and 4:2:0 color, and with restart markers."""
    from erde_spark.scale.jpeg import decode_jpeg, encode_jpeg, is_jpeg
    rng = np.random.RandomState(7)
    h, w = 41, 57
    yy, xx = np.mgrid[0:h, 0:w]
    gray = np.clip(80 + 1.5 * xx + 1.2 * yy + rng.randn(h, w) * 3,
                   0, 255).astype(np.uint8)
    rgb = np.stack([np.clip(50 + 2.0 * xx, 0, 255),
                    np.clip(200 - 1.5 * yy, 0, 255),
                    np.clip(120 + 0.5 * xx + 0.8 * yy, 0, 255)],
                   axis=-1).astype(np.uint8)
    for img, sub, ri in [(gray, False, 0), (rgb, False, 0),
                         (rgb, True, 0), (rgb, True, 2), (gray, False, 3)]:
        data = encode_jpeg(img, quality=90, subsample=sub,
                           restart_interval=ri)
        assert is_jpeg(data)
        back = decode_jpeg(data)
        assert back.shape == img.shape
        rmse = float(np.sqrt(((back.astype(float)
                               - img.astype(float)) ** 2).mean()))
        assert rmse < 4.0, (sub, ri, rmse)


def test_jpeg_progressive_exact_vs_baseline():
    """Progressive (SOF2) decode: a fully-refined progressive stream
    carries the same quantized coefficients as the baseline encoding,
    so decode(progressive) must EQUAL decode(baseline) bit-for-bit —
    covering DC first/refine, spectral-selection AC bands, EOB runs,
    ZRL, and successive-approximation refinement with correction bits."""
    from erde_spark.scale.jpeg import (decode_jpeg, encode_jpeg,
                                      encode_jpeg_progressive)
    rng = np.random.RandomState(2)
    noise = rng.randint(0, 256, (33, 29, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:40, 0:48]
    grad = ((yy * 2 + xx) % 256).astype(np.uint8)
    rgbg = np.stack([grad[:, :29], 255 - grad[:, :29],
                     (xx[:, :29] * 5 % 256).astype(np.uint8)], axis=2)
    sparse = np.zeros((40, 40), np.uint8)
    sparse[::7, ::5] = 255                      # ZRL-heavy spectrum
    cases = [(noise, False), (noise, True), (grad, False),
             (rgbg[:33], True), (sparse, False),
             (noise[:8, :8], False), (noise[:17, :9], False)]
    for img, sub in cases:
        if img.ndim == 2 and sub:
            continue
        for q in (50, 85, 95):
            base = decode_jpeg(encode_jpeg(img, q, subsample=sub))
            prog = decode_jpeg(encode_jpeg_progressive(img, q,
                                                       subsample=sub))
            assert np.array_equal(base, prog), (img.shape, sub, q)


def test_jpeg_noninterleaved_multiscan_baseline():
    """Baseline streams may carry each component in its own full-band
    scan (non-interleaved): the coefficient-domain path must decode
    them identically to the single interleaved scan."""
    import struct

    from erde_spark.scale import jpeg as J
    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (24, 19, 3), dtype=np.uint8)
    qly = J._scale_qt(J._QT_LUMA, 85)[J.ZIGZAG]
    qlc = J._scale_qt(J._QT_CHROMA, 85)[J.ZIGZAG]
    gray, h, w, padded, samp, qsel, mx, my = J._prep_planes(img, False)
    qblocks = []
    for ci, (p, (sh, sv)) in enumerate(zip(padded, samp)):
        dq = qly if qsel[ci] == 0 else qlc
        bh, bw = p.shape[0] // 8, p.shape[1] // 8
        blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3) - 128.0
        coef = np.einsum('ak,yxkl,bl->yxab', J._DCT_C, blocks, J._DCT_C)
        z = coef.reshape(bh, bw, 64)[:, :, J.ZIGZAG]
        qblocks.append(np.round(z / dq).astype(np.int64))
    out = bytearray(b'\xff\xd8')
    out += b'\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00'

    def seg(marker, payload):
        out.extend(b'\xff' + bytes([marker])
                   + (len(payload) + 2).to_bytes(2, 'big') + payload)

    seg(0xDB, bytes([0]) + bytes(qly.tolist()))
    seg(0xDB, bytes([1]) + bytes(qlc.tolist()))
    sof = bytes([8]) + struct.pack('>HH', h, w) + bytes([3])
    for ci in range(3):
        sof += bytes([ci + 1, 0x11, qsel[ci]])
    seg(0xC0, sof)                               # SOF0: baseline
    for tc, tbl in [(0x00, J._HT_DC_LUMA), (0x10, J._HT_AC_LUMA),
                    (0x01, J._HT_DC_CHROMA), (0x11, J._HT_AC_CHROMA)]:
        seg(0xC4, bytes([tc]) + bytes(tbl[0]) + bytes(tbl[1]))
    for ci in range(3):                          # one full-band scan each
        tab = 0x00 if ci == 0 else 0x11
        seg(0xDA, bytes([1, ci + 1, tab, 0, 63, 0]))
        codes_dc = J._build_codes(*(J._HT_DC_LUMA if ci == 0
                                    else J._HT_DC_CHROMA))
        codes_ac = J._build_codes(*(J._HT_AC_LUMA if ci == 0
                                    else J._HT_AC_CHROMA))
        wr = J._BitWriter()
        pred = 0
        bh, bw = qblocks[ci].shape[:2]
        for by in range(bh):
            for bx in range(bw):
                q = qblocks[ci][by, bx]
                diff = int(q[0]) - pred
                pred = int(q[0])
                t = J._category(diff)
                code, ln = codes_dc[t]
                wr.write(code, ln)
                if t:
                    wr.write(diff if diff > 0 else diff + (1 << t) - 1, t)
                J._enc_ac_first_block(wr, q, 1, 63, 0, codes_ac)
        wr.flush()
        out += wr.out
    out += b'\xff\xd9'
    got = J.decode_jpeg(bytes(out))
    ref = J.decode_jpeg(J.encode_jpeg(img, 85))
    assert np.array_equal(got, ref)


def test_jpeg_lossless_still_raises():
    import struct

    from erde_spark.scale.jpeg import decode_jpeg
    sof3 = (b'\xff\xd8\xff\xc3' + struct.pack('>H', 11)
            + bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    with pytest.raises(NotImplementedError, match='lossless'):
        decode_jpeg(sof3)


def test_extract_features_mixed_png_jpeg(spark):
    """decode_media over a MIXED asset table (plain PNG, palette PNG,
    baseline JPEG, progressive JPEG) through the mapInPandas pipeline:
    PNG means are exact; JPEG means within the lossy tolerance."""
    from erde_spark.scale.jpeg import encode_jpeg, encode_jpeg_progressive
    from erde_spark.scale.multimodal import ASSET_SCHEMA, extract_features
    from erde_spark.scale.png import encode_png, encode_png_palette
    rng = np.random.RandomState(11)
    rows, expected, lossy = [], {}, set()
    for aid in range(8):
        h, w = 16 + aid, 13 + aid
        yy, xx = np.mgrid[0:h, 0:w]
        arr = np.clip(60 + 2 * xx[..., None] + yy[..., None]
                      + rng.randn(h, w, 3) * 2, 0, 255).astype(np.uint8)
        if aid % 2:
            enc = encode_jpeg_progressive if aid >= 4 else encode_jpeg
            blob, fmt = enc(arr, quality=90,
                            subsample=bool(aid % 4 == 3)), 'image/jpeg'
            lossy.add(aid)
        elif aid == 6:
            # <=256 distinct colors -> exercise the palette path
            pal_arr = (arr // 32 * 32)
            pal_arr = pal_arr[:, :, :1].repeat(3, axis=2)
            arr = pal_arr
            blob, fmt = encode_png_palette(arr, interlace=1), 'image/png'
        else:
            blob, fmt = encode_png(arr), 'image/png'
        rows.append((aid, bytearray(blob), (fmt, w, h, None)))
        expected[aid] = float(arr.astype(np.float64).mean())
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r['asset_id']: r['feat_mean']
           for r in extract_features(assets, fake=False).collect()}
    assert got.keys() == expected.keys()
    for aid, mean in expected.items():
        tol = 1.5 if aid in lossy else 1e-9
        assert abs(got[aid] - mean) < tol, (aid, got[aid], mean)


# ---------------------------------------------------------------- windows

def test_tumbling_agg_matches_duckdb(spark, duck):
    from erde_spark.session import load_tables
    from erde_spark.streaming.windows import tumbling_agg
    ev = load_tables(spark, SF, 'events')['events']
    got = {(r['window_start'], r['event_type']): r['n']
           for r in tumbling_agg(ev, 'ts', '1 hour',
                                 {'n': F.count(F.lit(1))}, by=['event_type']).collect()}
    exp = {(w, t): n for w, t, n in duck.execute(
        "SELECT date_trunc('hour', ts), event_type, count(*) FROM events"
        " GROUP BY 1, 2").fetchall()}
    assert got == exp


def test_session_agg_runs(spark):
    from erde_spark.session import load_tables
    from erde_spark.streaming.windows import session_agg
    ev = load_tables(spark, SF, 'events')['events']
    out = session_agg(ev, 'ts', '5 minutes', {'n': F.count(F.lit(1))}, by=['user_id'])
    assert out.count() > 0


def test_stream_parquet_pipeline(spark, tmp_path):
    from erde_spark.session import load_tables
    from erde_spark.streaming.windows import stream_parquet_pipeline
    src = load_tables(spark, SF, 'events')['events'].limit(100)
    in_dir, out_dir, ckpt = str(tmp_path / 'in'), str(tmp_path / 'out'), str(tmp_path / 'ck')
    src.write.parquet(in_dir)
    stream_parquet_pipeline(
        spark, in_dir, src.schema,
        lambda df: df.filter(F.col('value') > 0).select('event_id', 'value'),
        out_dir, ckpt)
    back = spark.read.parquet(out_dir)
    assert back.columns == ['event_id', 'value']
    assert back.count() == src.filter(F.col('value') > 0).count()


def test_sketch_cardinality_error_bound(spark):
    from erde_spark.session import load_tables
    ev = load_tables(spark, '/root/testdata/sf0.01', 'events')['events']
    raw = (ev.groupBy('event_type')
           .agg(F.countDistinct('user_id').alias('exact'),
                F.approx_count_distinct('user_id', 0.02).alias('approx'))).collect()
    assert len(raw) > 0
    for r in raw:
        assert r['exact'] > 0
        rel = abs(r['approx'] - r['exact']) / r['exact']
        assert rel < 0.05, (r['event_type'], rel)
    # the driver-gated query reports the same bound as a boolean flag
    import __spark_entry__ as e
    out = e.queries()['sketch_cardinality'](spark, '/root/testdata/sf0.01').collect()
    assert all(r['within_2pct'] for r in out)


def test_quality_filter_matches_duckdb(spark, docs, duck):
    """Every Gopher gate cross-checked: kept doc_ids equal DuckDB's
    evaluation of the same rules."""
    from erde_spark.scale.text import STOPWORDS, quality_filter
    got = {r['doc_id'] for r in
           quality_filter(docs, min_tokens=30, max_tokens=500,
                          max_punct_ratio=0.1).select('doc_id').collect()}
    stoplist = ', '.join(f"'{s}'" for s in STOPWORDS)
    exp = {r[0] for r in duck.execute(f"""
        WITH t AS (SELECT doc_id, lower(text) AS low,
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        x -> x != '') AS toks
          FROM documents),
        s AS (SELECT doc_id, len(toks) AS n,
            CASE WHEN len(toks) > 0 THEN
              list_aggregate(list_transform(toks, x -> length(x)), 'sum')*1.0/len(toks)
              ELSE 0.0 END AS mtl,
            CASE WHEN length(low) > 0 THEN
              (length(low) - length(regexp_replace(low, '[^a-z0-9 ]', '', 'g')))*1.0
                / length(low) ELSE 0.0 END AS punct,
            len(list_intersect(list_distinct(toks), [{stoplist}])) AS hits
          FROM t)
        SELECT doc_id FROM s
        WHERE n BETWEEN 30 AND 500 AND mtl BETWEEN 3.0 AND 10.0
          AND punct <= 0.1 AND hits >= 2""").fetchall()}
    assert got == exp
    assert 0 < len(got) < docs.count()  # the gates actually discriminate


def test_quality_filter_flags(spark, docs):
    from erde_spark.scale.text import quality_filter
    out = quality_filter(docs.limit(50), keep_flags=True)
    row = out.first()
    for c in ('tokens_ok', 'mean_len_ok', 'punct_ok', 'stopwords_ok'):
        assert row[c] is True  # kept rows pass every gate


def test_streaming_exact_dedup(spark, docs, tmp_path):
    """Exact dedup across micro-batches of a file stream: output distinct
    fingerprints equal the batch dedup's."""
    from erde_spark.scale.dedup import exact_dedup, streaming_exact_dedup
    src_dir = str(tmp_path / 'in')
    sample = docs.limit(200).select('doc_id', 'text')
    # two overlapping files -> duplicate docs across micro-batches
    sample.filter('doc_id < 150').write.parquet(src_dir)
    sample.filter('doc_id >= 100').write.mode('append').parquet(src_dir)
    stream = spark.readStream.schema(sample.schema).parquet(src_dir)
    out = streaming_exact_dedup(stream)
    out_dir, ckpt = str(tmp_path / 'out'), str(tmp_path / 'ck')

    q = (out.writeStream.format('parquet').option('path', out_dir)
         .option('checkpointLocation', ckpt)
         .outputMode('append').trigger(availableNow=True).start())
    q.awaitTermination()
    back = spark.read.parquet(out_dir)
    n_expected = exact_dedup(sample).count()
    assert back.select('fingerprint').distinct().count() == n_expected
    # every surviving fingerprint appears exactly once
    assert back.groupBy('fingerprint').count().filter('count > 1').count() == 0


def test_streaming_neardup_dedup(spark, docs, tmp_path):
    """Near-dup dedup across micro-batches: a doc near-duplicated in a
    LATER batch must be dropped by the signature-store join, and the kept
    set must satisfy the batch invariant (no two kept docs near-dup)."""
    from erde_spark.scale.dedup import jaccard_pairs, streaming_neardup_dedup
    sample = docs.limit(120).select('doc_id', 'text')
    in_dir = str(tmp_path / 'in')
    # batch 1: first 60 docs; batch 2: last 60 plus the first 20 again
    # with a doc_id offset (exact text repeats = jaccard 1.0 near-dups)
    sample.filter('doc_id < 60').write.parquet(in_dir)
    replay = (sample.filter('doc_id < 20')
              .selectExpr('doc_id + 100000 AS doc_id', 'text'))
    (sample.filter('doc_id >= 60').unionByName(replay)
     .write.mode('append').parquet(in_dir))
    streaming_neardup_dedup(
        spark, in_dir, sample.schema, str(tmp_path / 'out'),
        str(tmp_path / 'ck'), str(tmp_path / 'state'),
        threshold=0.9, max_files_per_trigger=2)
    kept = spark.read.parquet(str(tmp_path / 'out')).drop('batch')
    kept_ids = {r['doc_id'] for r in kept.collect()}
    # every replayed doc whose original was kept must have been dropped
    originals_kept = kept_ids & set(range(20))
    assert all(k + 100000 not in kept_ids for k in originals_kept)
    # stream invariant: no two kept docs are near-dups at the threshold
    assert jaccard_pairs(kept, threshold=0.9).count() == 0
    # and nothing was lost outright: every input doc is either kept or
    # near-dup of a kept doc
    assert kept.count() >= 1


def test_streaming_neardup_cold_restart_resume(spark, docs, tmp_path):
    """Backfill recovery (round-9 verdict ask #5): a SECOND
    streaming_neardup_dedup invocation on the same checkpoint + state
    dirs must (a) skip the already-processed shard — no duplicated
    output rows — and (b) dedup the new shard against the state store
    persisted by the terminated run."""
    from erde_spark.scale.dedup import streaming_neardup_dedup
    sample = docs.limit(60).select('doc_id', 'text')
    in_dir = str(tmp_path / 'in')
    kw = dict(out_dir=str(tmp_path / 'out'),
              checkpoint_dir=str(tmp_path / 'ck'),
              state_dir=str(tmp_path / 'state'),
              threshold=0.9, max_files_per_trigger=4)
    sample.write.parquet(in_dir)
    streaming_neardup_dedup(spark, in_dir, sample.schema, **kw)
    run1 = spark.read.parquet(kw['out_dir']).drop('batch')
    run1_ids = {r['doc_id'] for r in run1.collect()}
    # new shard after the restart: 20 exact replays + 10 fresh docs
    replay = (sample.filter('doc_id < 20')
              .selectExpr('doc_id + 100000 AS doc_id', 'text'))
    import hashlib
    fresh = spark.createDataFrame(
        [(200000 + i,
          ' '.join(hashlib.md5(f'fresh-{i}-{j}'.encode()).hexdigest()[:8]
                   for j in range(30)))
         for i in range(10)], 'doc_id long, text string')
    replay.unionByName(fresh).write.mode('append').parquet(in_dir)
    streaming_neardup_dedup(spark, in_dir, sample.schema, **kw)
    kept = spark.read.parquet(kw['out_dir']).drop('batch')
    kept_ids = [r['doc_id'] for r in kept.collect()]
    # (a) no duplicates: shard A was not reprocessed
    assert len(kept_ids) == len(set(kept_ids))
    assert set(kept_ids) & set(range(60)) == run1_ids
    # (b) every replay whose original survived run 1 was dropped by
    # the store join; the fresh docs all survived
    assert all(k + 100000 not in set(kept_ids)
               for k in run1_ids & set(range(20)))
    assert {r['doc_id'] for r in fresh.collect()} <= set(kept_ids)


def test_streaming_neardup_driver_survivors_parity(spark, docs, tmp_path,
                                                   monkeypatch):
    """Each micro-batch's survivor set stays on the driver when the batch
    fits dedup_clusters' driver bounds (store duplicates subtracted from
    the kept-id list, writes filtered by it). Forcing the distributed
    fallback through the bucket bound, and the checkpointed survivor
    semi-join through the IN-list bound (clustering still on the driver),
    must write the same output and store rows over two batches (the
    second joins the store). So must the writer outside pinned-thread
    mode, where inheritable_thread_target returns its argument (the
    session) instead of a wrapper."""
    import erde_spark.scale.dedup as D
    sample = docs.limit(80).select('doc_id', 'text')
    in_dir = str(tmp_path / 'in')
    sample.filter('doc_id < 50').write.parquet(in_dir)
    replay = (sample.filter('doc_id < 20')
              .selectExpr('doc_id + 100000 AS doc_id', 'text'))
    (sample.filter('doc_id >= 50').unionByName(replay)
     .write.mode('append').parquet(in_dir))

    def run(tag):
        root = tmp_path / tag
        D.streaming_neardup_dedup(
            spark, in_dir, sample.schema, str(root / 'out'),
            str(root / 'ck'), str(root / 'state'), threshold=0.9,
            max_files_per_trigger=1)
        return {sub: sorted(tuple(r) for r in
                            spark.read.parquet(str(root / sub)).collect())
                for sub in ('out', 'state/toks', 'state/buckets')}

    default = run('default')
    assert len(default['out']) < 80  # the replays were dropped
    # the store is re-read by every batch: one file per table per batch
    for table in ('toks', 'buckets'):
        for b in (0, 1):
            part = tmp_path / 'default' / 'state' / table / f'batch={b}'
            assert len(list(part.glob('*.parquet'))) == 1, (table, b)
    with monkeypatch.context() as m:
        m.setattr(D, '_ISIN_MAX', 0)
        assert run('semi_join') == default
    with monkeypatch.context() as m:
        m.setattr(D, '_MICROBATCH_BUCKET_CAP', 0)
        assert run('distributed') == default
    with monkeypatch.context() as m:
        m.setattr(D, 'inheritable_thread_target', lambda f: f)
        assert run('unpinned') == default


def test_streaming_neardup_no_jvm_thread_growth(spark, docs, tmp_path):
    """A long stream must not grow the JVM threads that serve Python
    threads: each micro-batch runs its three sink writes on Python
    threads, and in pinned-thread mode every Python thread that calls
    into the JVM gets a py4j peer thread there. Six one-file
    micro-batches (two runs on one checkpoint: batches 1-2, then 3-6):
    the py4j peer-thread count after batch 6 is at most the count after
    batch 2 plus a small constant. (Spark's own exchange pools also grow
    the total live-thread count over the first batches, up to their
    fixed caps, so the total is not the measure.)"""
    from erde_spark.scale.dedup import streaming_neardup_dedup
    sample = docs.limit(120).select('doc_id', 'text')
    in_dir = str(tmp_path / 'in')
    kw = dict(out_dir=str(tmp_path / 'out'),
              checkpoint_dir=str(tmp_path / 'ck'),
              state_dir=str(tmp_path / 'state'),
              threshold=0.9, max_files_per_trigger=1)

    def add_file(lo):
        (sample.filter(f'doc_id >= {lo} AND doc_id < {lo + 20}')
         .coalesce(1).write.mode('append').parquet(in_dir))

    def py4j_threads():
        traces = spark._jvm.java.lang.Thread.getAllStackTraces()
        return sum(any(f.getClassName().startswith('py4j.')
                       for f in traces.get(t))
                   for t in traces.keySet().toArray())

    for lo in (0, 20):
        add_file(lo)
    streaming_neardup_dedup(spark, in_dir, sample.schema, **kw)
    after2 = py4j_threads()
    for lo in (40, 60, 80, 100):
        add_file(lo)
    streaming_neardup_dedup(spark, in_dir, sample.schema, **kw)
    after6 = py4j_threads()
    out = spark.read.parquet(kw['out_dir'])
    assert out.select('batch').distinct().count() == 6
    assert after6 <= after2 + 2, (after2, after6)


def test_phase_restores_description_after_raise(spark):
    """session.phase labels the jobs of its body, nests under an enclosing
    phase, and puts the previous description back even when the body
    raises (a failed micro-batch must not label every later job)."""
    from erde_spark.session import phase
    sc = spark.sparkContext
    sc.setJobDescription('outer')
    try:
        with pytest.raises(RuntimeError):
            with phase('step'):
                assert sc.getLocalProperty('spark.job.description') \
                    == 'outer / step'
                raise RuntimeError('batch failed')
        assert sc.getLocalProperty('spark.job.description') == 'outer'
    finally:
        sc.setJobDescription(None)
    with phase('alone'):
        assert sc.getLocalProperty('spark.job.description') == 'alone'
    assert sc.getLocalProperty('spark.job.description') is None


def test_profile_record(spark):
    """tools/profile.py's record: the keys of a batch query's and a
    streaming pipeline's record, per-run job counts from the same counter
    bench.py reads, and one progress entry per micro-batch (the backfill
    stages its documents as 2 one-file micro-batches)."""
    import importlib.util
    import os
    spec = importlib.util.spec_from_file_location(
        'erde_profile', os.path.join(os.path.dirname(__file__), '..',
                                     'tools', 'profile.py'))
    prof = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(prof)
    keys = {'name', 'sf', 'rows', 'runs', 'jobs', 'job_union_s',
            'driver_gap_s', 'top_jobs', 'stages', 'python', 'jvm', 'skew',
            'streaming'}
    q1 = prof.record(spark, 'tpch_q1_pricing', SF, runs=2)
    assert set(q1) == keys
    assert len(q1['runs']) == len(q1['jobs']) == len(q1['job_union_s']) == 2
    assert all(n >= 1 for n in q1['jobs']) and q1['streaming'] == []
    assert q1['jvm']['scan_b'] > 0 and q1['stages']['stages'] >= 1
    bf = prof.record(spark, 'streaming_neardup_backfill', SF, runs=1)
    assert set(bf) == keys
    assert [p['batch'] for p in bf['streaming']] == [0, 1]
    assert all(p['rows'] > 0 and p['durations_ms']['triggerExecution'] > 0
               for p in bf['streaming'])
    assert bf['jvm']['files_written'] >= 6  # 3 sinks x 2 batches
    assert any('neardup b' in j[2] for j in bf['top_jobs'])


# ---------------------------------------------------------------- clustering

def test_connected_components_matches_union_find(spark, monkeypatch):
    """Full value oracle for connected_components: random 100-node edge
    list vs a brute-force union-find, singletons included — on BOTH the
    driver fast path (edge count under _MERGE_COLLECT_CAP) and the
    distributed min-label iteration (a cap of 0 forces it)."""
    import random

    import erde_spark.scale.dedup as D
    from erde_spark.scale.dedup import connected_components
    rnd = random.Random(7)
    edges = set()
    while len(edges) < 120:
        a, b = rnd.randrange(100), rnd.randrange(100)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(sorted(edges), 'id_a long, id_b long')
    ids = spark.createDataFrame([(i,) for i in range(120)], 'id long')

    parent = list(range(120))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    groups = {}
    for i in range(120):
        groups.setdefault(find(i), []).append(i)
    exp = {i: min(g) for g in groups.values() for i in g}

    def components(p, i, cap):
        # cap None: the module default
        with monkeypatch.context() as m:
            if cap is not None:
                m.setattr(D, '_MERGE_COLLECT_CAP', cap)
            return {r['id']: r['component']
                    for r in connected_components(p, i).collect()}

    # driver union-find / distributed iteration, then checkpoint-then-probe
    # on both sides of the cap: under (driver path) and over (the probe
    # falls through to the distributed iteration on the checkpointed edges)
    for cap in (None, 0, 1000, 5):
        assert components(pairs, ids, cap) == exp, f'cap={cap}'
    # string ids take the same convergence test as long ids; zero-padded,
    # so their order is the integers' and the oracle labels carry over
    spairs = spark.createDataFrame([(f'{a:03d}', f'{b:03d}')
                                    for a, b in sorted(edges)],
                                   'id_a string, id_b string')
    sids = spark.createDataFrame([(f'{i:03d}',) for i in range(120)],
                                 'id string')
    sexp = {f'{i:03d}': f'{c:03d}' for i, c in exp.items()}
    for cap in (None, 0):
        assert components(spairs, sids, cap) == sexp, f'string ids, cap={cap}'

    from bench import last_job_id

    def round_jobs(p, i):
        # jobs of one distributed round: 2 rounds minus 1 round
        n = []
        with monkeypatch.context() as m:
            m.setattr(D, '_MERGE_COLLECT_CAP', 0)
            for rounds in (1, 2):
                j0 = last_job_id(spark)
                connected_components(p, i, max_iterations=rounds).count()
                n.append(last_job_id(spark) - j0)
        return n[1] - n[0]

    # both id kinds count changed labels in the aggregation that
    # materializes each round's lazy checkpoint, so a round costs the
    # same jobs on either (9 on Spark 4.1.2, local[4]; the string ids'
    # join-compare used to cost 12)
    assert round_jobs(spairs, sids) <= round_jobs(pairs, ids)


def test_connected_components_fractional_ids(spark, monkeypatch):
    """Non-integral ids converge under the same rule as integral ones, on
    the driver path and in the distributed rounds (a cap of 0): a count
    of changed labels, which sees a sub-1 label decrease that a truncated
    label sum would miss."""
    import erde_spark.scale.dedup as D
    pairs = spark.createDataFrame([(2.25, 1.5), (3.5, 2.25)],
                                  'id_a double, id_b double')
    ids = spark.createDataFrame([(1.5,), (2.25,), (3.5,), (9.75,)], 'id double')
    for cap in (D._MERGE_COLLECT_CAP, 0):
        monkeypatch.setattr(D, '_MERGE_COLLECT_CAP', cap)
        got = {r['id']: r['component']
               for r in D.connected_components(pairs, ids).collect()}
        assert got == {1.5: 1.5, 2.25: 1.5, 3.5: 1.5, 9.75: 9.75}, cap


#: Spark jobs of dedup_clusters(_clique_corpus), collect included, on
#: the whole-input driver path and on the distributed fallback forced by
#: a bucket cap of docs x bands - 1 (measured 15 and 23 on Spark 4.1.2,
#: local[4])
DRIVER_PATH_JOBS = 15
FALLBACK_PATH_JOBS = 23


def _clique_corpus(spark):
    """40 documents: one 8-doc near-dup clique (each drops a different
    word from a 40-token base), the rest pairwise-distinct."""
    base = [f'tok{i}' for i in range(40)]
    rows = []
    for d in range(8):
        toks = [t for i, t in enumerate(base) if i != d]
        rows.append((d, ' '.join(toks)))
    for d in range(8, 40):
        rows.append((d, ' '.join(f'uniq{d}w{i}' for i in range(30))))
    return spark.createDataFrame(rows, 'doc_id long, text string')


def test_dedup_clusters_spanning_matches_pairs(spark):
    """Kept-sets of the linear spanning path and the quadratic pairs path
    agree on a corpus with a known clique."""
    from erde_spark.scale.dedup import dedup_clusters
    docs = _clique_corpus(spark)
    kept_span = {r['doc_id'] for r in
                 dedup_clusters(docs, threshold=0.8,
                                pair_strategy='spanning').collect()}
    kept_pairs = {r['doc_id'] for r in
                  dedup_clusters(docs, threshold=0.8,
                                 pair_strategy='pairs').collect()}
    assert kept_span == kept_pairs
    assert 0 in kept_span and len(kept_span) == 33  # clique -> 1 rep


def test_dedup_clusters_keeps_no_neardup_pair(spark):
    """The documented invariant: after spanning dedup + merge pass, no two
    KEPT documents are near-duplicates at the threshold (regression for
    the star-edge merge-pass gap — sf0.01 at t=0.9 used to keep 6 exact
    near-dup pairs, e.g. docs 186/276 at Jaccard 0.93)."""
    from erde_spark.scale.dedup import dedup_clusters, jaccard_pairs
    docs = spark.read.parquet('/root/testdata/sf0.01/documents.parquet')
    kept = dedup_clusters(docs, threshold=0.9, pair_strategy='spanning') \
        .select('doc_id', 'text').localCheckpoint(eager=True)
    leftovers = jaccard_pairs(kept, threshold=0.9).collect()
    assert leftovers == [], [(r['id_a'], r['id_b'], r['jaccard'])
                             for r in leftovers]


def _kept_sizes(df, **kw):
    from erde_spark.scale.dedup import dedup_clusters
    return sorted((r['doc_id'], r['cluster_size']) for r in
                  dedup_clusters(df, threshold=0.9, pair_strategy='spanning',
                                 **kw).collect())


def _spy_driver_path(monkeypatch):
    """Wrap _microbatch_spanning_clusters; the returned dict records
    whether the last call took the driver path."""
    import erde_spark.scale.dedup as D
    orig, seen = D._microbatch_spanning_clusters, {}

    def spy(*a, **kw):
        out = orig(*a, **kw)
        seen['driver_path'] = out is not None
        return out

    monkeypatch.setattr(D, '_microbatch_spanning_clusters', spy)
    return seen


def test_dedup_clusters_driver_path_parity(spark, monkeypatch):
    """The default, the bounded driver-orchestrated cluster path, must be
    ROW-IDENTICAL to the distributed path forced through the bounds — on
    sf0.01's dup-dense corpus (multi-round merges fire) and on the
    synthetic clique — and each bound, exceeded, must fall back to the
    distributed path with identical output."""
    import erde_spark.scale.dedup as D
    seen = _spy_driver_path(monkeypatch)
    for docs in (_clique_corpus(spark),
                 spark.read.parquet('/root/testdata/sf0.01/documents.parquet')):
        drv = _kept_sizes(docs)
        assert seen['driver_path'] is True
        with monkeypatch.context() as m:
            m.setattr(D, '_MICROBATCH_BUCKET_CAP', 0)
            dist = _kept_sizes(docs)
        assert seen['driver_path'] is False
        assert drv == dist
    # force each driver bound to 0: _microbatch_spanning_clusters must
    # return None and the distributed fallback must produce the same rows
    # (the clique's star edges merge it whole, so no merge round builds
    # candidates and the candidate cap never binds: parity only there)
    docs = _clique_corpus(spark)
    exp = _kept_sizes(docs)
    for attr in ('_MERGE_COLLECT_CAP', '_MICROBATCH_BUCKET_CAP',
                 '_MICROBATCH_CAND_CAP'):
        with monkeypatch.context() as m:
            m.setattr(D, attr, 0 if attr != '_MERGE_COLLECT_CAP' else 1)
            got = _kept_sizes(docs)
        if attr != '_MICROBATCH_CAND_CAP':
            assert seen['driver_path'] is False, attr
        assert got == exp, attr


def test_dedup_clusters_driver_path_job_count(spark, monkeypatch):
    """Pin: with no argument, dedup_clusters on the clique corpus takes
    the bounded driver path and launches at most the measured number of
    Spark jobs (collect of the result included)."""
    seen = _spy_driver_path(monkeypatch)
    docs = _clique_corpus(spark).localCheckpoint(eager=True)
    sc = spark.sparkContext
    sc.setJobGroup('dedup_driver_pin', 'dedup_clusters job-count pin')
    try:
        _kept_sizes(docs)
    finally:
        sc.setJobGroup(None, None)
    assert seen['driver_path'] is True
    jobs = sc.statusTracker().getJobIdsForGroup('dedup_driver_pin')
    assert len(jobs) <= DRIVER_PATH_JOBS, len(jobs)


def test_dedup_clusters_fallback_path_job_count(spark, monkeypatch):
    """Pin: with the whole-input driver path off (a bucket cap one below
    docs x bands), dedup_clusters on the clique corpus launches at most
    the measured number of Spark jobs (collect of the result included)."""
    import erde_spark.scale.dedup as D
    seen = _spy_driver_path(monkeypatch)
    docs = _clique_corpus(spark).localCheckpoint(eager=True)
    monkeypatch.setattr(D, '_MICROBATCH_BUCKET_CAP',
                        docs.count() * D._threshold_bands(96, 0.9) - 1)
    sc = spark.sparkContext
    sc.setJobGroup('dedup_fallback_pin', 'dedup_clusters fallback pin')
    try:
        _kept_sizes(docs)
    finally:
        sc.setJobGroup(None, None)
    assert seen['driver_path'] is False
    jobs = sc.statusTracker().getJobIdsForGroup('dedup_fallback_pin')
    assert len(jobs) <= FALLBACK_PATH_JOBS, len(jobs)


def test_driver_frame_skips_python_rdd(spark):
    """Pin: driver_frame builds through the Arrow path — its lineage has
    no PythonRDD (the list path's parallelize + pickled map) and it plans
    as a local scan Catalyst can size."""
    from pyspark.sql import types as T

    from erde_spark.session import driver_frame
    rows = [(i, i * 2) for i in range(300)]
    schema = T.StructType([T.StructField('id', T.LongType()),
                           T.StructField('v', T.LongType())])
    df = driver_frame(spark, rows, schema)
    assert 'PythonRDD' not in df._jdf.rdd().toDebugString()
    assert 'PythonRDD' in spark.createDataFrame(rows, schema) \
        ._jdf.rdd().toDebugString()  # the path it replaces
    assert sorted(tuple(r) for r in df.collect()) == rows
    ddl = driver_frame(spark, [(1, 'a')], 'k int, s string')
    assert ddl.schema.simpleString() == 'struct<k:int,s:string>'
    assert [tuple(r) for r in ddl.collect()] == [(1, 'a')]


def test_dedup_clusters_driver_merge_rounds_parity(spark, monkeypatch):
    """The distributed fallback's representative merge runs the driver
    merge rounds (_driver_merge) on its buckets that hold two or more
    representatives when they fit _MICROBATCH_BUCKET_CAP, and plain Spark
    rounds otherwise. A bucket cap one below the corpus's bucket rows
    (docs x bands) turns off the whole-input driver path but keeps the
    driver merge rounds; a cap of 0 runs Spark rounds (on the dup-dense
    corpus, which has multi-rep buckets), and so does a candidate cap of
    0, decided before the buckets are collected. A candidate set over the
    cap in round 2 makes _driver_merge give up after round 1's merges,
    and the Spark rounds run instead. All must be row-identical to each
    other and to the default driver path, on the dup-dense corpus where
    multi-round merges fire and on the synthetic clique."""
    import erde_spark.scale.dedup as D
    seen = _spy_driver_path(monkeypatch)
    orig_merge, merged = D._driver_merge, []

    def spy_merge(*a, **kw):
        merged.append(True)
        return orig_merge(*a, **kw)

    monkeypatch.setattr(D, '_driver_merge', spy_merge)
    bands = D._threshold_bands(96, 0.9)
    clique = _clique_corpus(spark)
    for docs in (clique,
                 spark.read.parquet('/root/testdata/sf0.01/documents.parquet')):
        default = _kept_sizes(docs, merge_rounds=3)
        assert seen['driver_path'] is True
        with monkeypatch.context() as m:
            m.setattr(D, '_MICROBATCH_BUCKET_CAP', docs.count() * bands - 1)
            merged.clear()
            drv = _kept_sizes(docs, merge_rounds=3)
            # the whole-input path stops at the bucket count, before
            # _driver_merge: every call here comes from _merge_reps. The
            # clique's star edges merge it whole, so no bucket holds two
            # reps and _merge_reps returns before any merge round
            assert bool(merged) == (docs is not clique), merged
        assert seen['driver_path'] is False
        with monkeypatch.context() as m:
            m.setattr(D, '_MICROBATCH_BUCKET_CAP', 0)
            merged.clear()
            dist = _kept_sizes(docs, merge_rounds=3)
            if docs is not clique:
                assert not merged, 'driver merge rounds ran at cap 0'
        assert drv == dist == default
    # on the dup-dense corpus (the loop's last), the buckets fit but round
    # 1's candidates do not (the 10x corpus's shape): the count taken
    # before the collect sends the merge straight to the Spark rounds
    with monkeypatch.context() as m:
        m.setattr(D, '_MICROBATCH_BUCKET_CAP', docs.count() * bands - 1)
        m.setattr(D, '_MICROBATCH_CAND_CAP', 0)
        merged.clear()
        assert _kept_sizes(docs, merge_rounds=3) == default
        assert not merged, 'driver merge rounds ran over the candidate cap'
    # a round after the first over the candidate cap: _driver_merge gives
    # up after merging, and the Spark rounds start over on the same table
    orig_cand, rounds = D._rep_pair_candidates, []

    def give_up_in_round_2(groups, touched):
        rounds.append(touched is None)
        return None if len(rounds) == 2 else orig_cand(groups, touched)

    with monkeypatch.context() as m:
        m.setattr(D, '_MICROBATCH_BUCKET_CAP', docs.count() * bands - 1)
        m.setattr(D, '_rep_pair_candidates', give_up_in_round_2)
        assert _kept_sizes(docs, merge_rounds=3) == default
    assert rounds == [True, False], rounds


def test_dedup_clusters_rejects_bad_bands(spark):
    from erde_spark.scale.dedup import dedup_clusters
    docs = _clique_corpus(spark)
    with pytest.raises(ValueError, match='divisible'):
        dedup_clusters(docs, threshold=0.8, pair_strategy='spanning',
                       bands=7)  # 96 % 7 != 0


def test_embedding_lsh_pairs_precision_and_recall(spark):
    """Bucketed embedding near-dup on a corpus with PLANTED near-dups
    (the testdata embeddings are near-orthogonal random vectors with no
    pairs above cosine 0.52 at any SF): exact precision against brute
    force, and high recall on the planted pairs. Hyperplanes and
    perturbations are seeded, so the outcome is deterministic."""
    from erde_spark.scale.dedup import embedding_cosine_pairs, embedding_lsh_pairs
    rng = np.random.RandomState(4)
    base = rng.normal(size=(30, 64))
    rows = [(i, base[i].tolist()) for i in range(30)]
    # 15 slightly-perturbed copies of the first 15 -> cosine ~0.999
    for i in range(15):
        rows.append((30 + i, (base[i] + rng.normal(scale=0.01, size=64)).tolist()))
    embs = spark.createDataFrame(rows, 'vec_id long, embedding array<double>')
    exact = {(r['id_a'], r['id_b']): round(r['cosine'], 4)
             for r in embedding_cosine_pairs(embs, threshold=0.9).collect()}
    planted = {(i, 30 + i) for i in range(15)}
    assert planted <= set(exact)             # the fixture is what we think
    lsh = {(r['id_a'], r['id_b']): round(r['cosine'], 4)
           for r in embedding_lsh_pairs(embs, threshold=0.9).collect()}
    assert set(lsh) <= set(exact)            # exact precision
    for k, v in lsh.items():
        assert v == exact[k]
    found = len(planted & set(lsh))
    assert found >= 12, f'only {found}/15 planted pairs recalled'


def test_minhash_no_count_probe(spark, docs, monkeypatch):
    """Choosing broadcast mode must be a Catalyst metadata lookup, never
    a counting job over the corpus (at 100 TB that is a full scan before
    any real work)."""
    from pyspark.sql import DataFrame
    from erde_spark.scale.dedup import minhash_lsh_pairs, minhash_spanning_edges

    def boom(self):
        raise AssertionError('count() ran during dedup plan construction')

    monkeypatch.setattr(DataFrame, 'count', boom)
    minhash_lsh_pairs(docs, threshold=0.9)
    minhash_spanning_edges(docs, threshold=0.9)


# ---------------------------------------------------------------- packing

def test_pack_offsets_chunks_and_shards(spark):
    """Known layout: docs of 3/2/4 tokens at max_tokens=4 -> offsets
    0/3/5, sequences (0,0)/(0,1)/(1,2); empty docs take zero space."""
    from erde_spark.scale.text import pack_offsets
    df = spark.createDataFrame(
        [(1, 'a b c'), (2, 'd e'), (3, 'f g h i'), (4, '')],
        ['doc_id', 'text'])
    got = {r['doc_id']: (r['n_tokens'], r['start_offset'],
                         r['first_seq'], r['last_seq'])
           for r in pack_offsets(df, max_tokens=4).collect()}
    assert got[1] == (3, 0, 0, 0)
    assert got[2] == (2, 3, 0, 1)   # spans the cut at offset 4
    assert got[3] == (4, 5, 1, 2)
    assert got[4] == (0, 9, 2, 2)   # empty doc: zero-width placement
    # sharded: each shard packs from offset 0 independently
    df2 = spark.createDataFrame(
        [(1, 'en', 'a b'), (2, 'en', 'c'), (3, 'de', 'x y z')],
        ['doc_id', 'lang', 'text'])
    by = {r['doc_id']: r['start_offset'] for r in
          pack_offsets(df2, shard_col='lang', max_tokens=4).collect()}
    assert by == {1: 0, 2: 2, 3: 0}


def test_vocab_coverage_known_values(spark):
    from erde_spark.scale.text import vocab_coverage
    df = spark.createDataFrame(
        [(1, 'a a b'), (2, 'a rare'), (3, '')], ['doc_id', 'text'])
    # vocab_size=2 -> vocab {a (3x), b (1x, ties broken by token asc
    # against 'rare' count 1)}
    got = {r['id']: (r['n_tokens'], r['in_vocab'], r['oov_rate'])
           for r in vocab_coverage(df, vocab_size=2).collect()}
    assert got[1] == (3, 3, 0.0)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (0, 0, 0.0)


def test_containment_pairs_short_in_long(spark):
    """A short doc fully inside a long doc: Jaccard tiny, containment 1.0
    — the asymmetric boilerplate case."""
    from erde_spark.scale.dedup import containment_pairs, jaccard_pairs
    long = 'w' + ' w'.join(str(i) for i in range(60))
    df = spark.createDataFrame(
        [(1, 'w0 w1 w2 w3 w4'), (2, long), (3, 'zz yy xx')],
        ['doc_id', 'text'])
    out = {(r['id_a'], r['id_b']): (r['containment_a'], r['containment_b'])
           for r in containment_pairs(df, threshold=0.9).collect()}
    assert set(out) == {(1, 2)}
    ca, cb = out[(1, 2)]
    assert ca == 1.0 and cb < 0.2
    assert jaccard_pairs(df, threshold=0.9).count() == 0


def test_embedding_dedup_clusters_kept_set(spark):
    """Planted duplicate vectors: identical vectors always share LSH
    buckets, so every dup cluster collapses to its min id and no two
    kept vectors are near-dups."""
    import numpy as np
    from erde_spark.scale.dedup import (embedding_cosine_pairs,
                                        embedding_dedup_clusters)
    rng = np.random.RandomState(7)
    base = rng.randn(20, 64).astype(float)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v.tolist()))
    # ids 100..104 duplicate vectors 0..4 exactly
    for i in range(5):
        rows.append((100 + i, base[i].tolist()))
    df = spark.createDataFrame(rows, ['vec_id', 'embedding'])
    kept = embedding_dedup_clusters(df, threshold=0.95)
    got = {r['vec_id']: r['cluster_size'] for r in kept.collect()}
    # dup clusters keep the min id with size 2; singletons size 1
    for i in range(5):
        assert got[i] == 2 and 100 + i not in got
    assert sum(1 for s_ in got.values() if s_ == 1) == 15
    survivors = df.join(kept.select('vec_id'), 'vec_id', 'left_semi')
    assert embedding_cosine_pairs(survivors, threshold=0.95).count() == 0


def test_bmp_roundtrip_and_decode_media():
    import numpy as np
    from erde_spark.scale.multimodal import decode_media
    from erde_spark.scale.png import decode_bmp, encode_bmp
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(5, 7, 3), dtype=np.uint8)
    blob = encode_bmp(img)
    assert np.array_equal(decode_bmp(blob), img)
    assert np.array_equal(decode_media(blob, 'image/bmp'), img)
    # magic sniffing without a format hint
    assert np.array_equal(decode_media(blob, None), img)
    # top-down variant (negative height) decodes identically
    import struct
    h = struct.unpack_from('<i', blob, 22)[0]
    td = bytearray(blob)
    struct.pack_into('<i', td, 22, -h)
    body = bytearray(td[54:])
    stride = (7 * 3 + 3) & ~3
    flipped = b''.join(bytes(body[i*stride:(i+1)*stride])
                       for i in reversed(range(5)))
    assert np.array_equal(decode_bmp(bytes(td[:54]) + flipped), img)


def test_minhash_lsh_recall_vs_exact_jaccard(spark):
    """LSH recall as a TESTED metric, not an ad-hoc A/B note: at the
    sf0.01 corpus and t=0.8 (pinned seed 42, default banding), the
    banded-LSH pair set must recover >= 85% of the exact inverted-index
    Jaccard pairs. Precision is exact by construction (every candidate
    is verified), so only recall needs the measurement."""
    from erde_spark.scale.dedup import jaccard_pairs, minhash_lsh_pairs
    docs = spark.read.parquet('/root/testdata/sf0.01/documents.parquet')
    exact = {(r['id_a'], r['id_b'])
             for r in jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r['id_a'], r['id_b'])
           for r in minhash_lsh_pairs(docs, threshold=0.8,
                                      seed=42).collect()}
    assert exact, 'fixture corpus must contain exact pairs at t=0.8'
    assert lsh <= exact, 'LSH emitted a pair the exact oracle rejects'
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.85, f'LSH recall {recall:.3f} < 0.85 ({len(lsh)}/{len(exact)})'


def test_unigram_logprob_matches_duckdb(spark, docs, duck):
    from erde_spark.scale.text import unigram_logprob
    got = {r['id']: (r['n_tokens'], r['avg_logprob'])
           for r in unigram_logprob(docs).collect()}
    exp = {i: (n, lp) for i, n, lp in duck.execute("""
        WITH t AS (SELECT doc_id, unnest(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '')) AS token FROM documents),
        c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token),
        tot AS (SELECT SUM(n) AS nn, COUNT(*) AS v FROM c),
        lp AS (SELECT token, ln((n+0.5)/(nn+0.5*v)) AS lp FROM c, tot),
        pd AS (SELECT doc_id, COUNT(*) n_tokens, AVG(lp) avg_lp
               FROM t JOIN lp USING (token) GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(pd.n_tokens, 0),
               ROUND(COALESCE(pd.avg_lp, 0.0), 4)
        FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        """).fetchall()}
    assert got == exp
    # rarer-token documents score lower than common-token ones on average
    assert all(lp <= 0 for _, lp in got.values())


def test_token_divergence_properties(spark, docs):
    """KL top-k report: kl_term descending, probabilities valid, and the
    top divergent tokens are en-heavy (p_a > p_b)."""
    from erde_spark.scale.text import token_divergence
    rows = token_divergence(docs, 'lang', 'en', 'de').collect()
    assert len(rows) == 20
    kl = [r['kl_term'] for r in rows]
    assert kl == sorted(kl, reverse=True)
    assert all(0 < r['p_a'] <= 1 and 0 < r['p_b'] <= 1 for r in rows)
    assert all(r['p_a'] > r['p_b'] for r in rows[:5])


def test_curation_score_plans_stay_jvm(spark, docs):
    """Neither new curation op crosses into Python or degenerates to a
    single-partition sort of the vocabulary."""
    from erde_spark.plans.inspect import count_python_udf_passes, physical_plan
    from erde_spark.scale.text import token_divergence, unigram_logprob
    for q in (unigram_logprob(docs),
              token_divergence(docs, 'lang', 'en', 'de')):
        assert count_python_udf_passes(q) == 0
    plan = physical_plan(token_divergence(docs, 'lang', 'en', 'de'))
    assert 'TakeOrderedAndProject' in plan


def test_ivfpq_codes_compress_and_recall(spark, embs):
    """IVF-PQ: codes are exactly m bytes per vector (32x smaller than
    the 64-dim float vectors), and ADC + exact-refine recovers >=90% of
    the brute-force top-10 on the fixture corpus (deterministic seed)."""
    from erde_spark.scale.similarity import cosine_topk, ivfpq_topk, pq_index
    _, books, indexed = pq_index(embs, n_lists=8, m=16, ks=32)
    assert books.shape == (16, 32, 4)  # m subspaces, ks centers, dim/m
    codes = indexed.select('code').limit(20).collect()
    assert all(len(bytes(r['code'])) == 16 for r in codes)

    q = embs.filter(F.col('vec_id') < 10)
    exact = {(r['query_id'], r['vec_id'])
             for r in cosine_topk(embs, q, k=10).collect()}
    approx = {(r['query_id'], r['vec_id'])
              for r in ivfpq_topk(embs, q, k=10, n_lists=8, n_probes=6,
                                  m=16, ks=32, refine=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_pq_codebooks_perdim_fixed_seed_equal():
    """The per-dimension distance accumulation in _pq_codebooks (r12
    optimization: avoids the n x ks x sub broadcast temp) must produce
    codebooks equal to the reference formulation
    ((x[:,None,:]-cent)**2).sum(axis=2) on these fixed seeds/sizes.
    The summation ORDER is not identical in general (numpy reduces the
    axis pairwise for sub >= 8, so d2 can differ at ulp scale) — the
    refactor is assignment-stable: k-means argmin assignments are not
    decided at ulp distance on this data, so every centroid update sees
    the same members and the codebooks come out bit-equal here. A real
    ulp-scale argmin tie could in principle flip an assignment; this
    test pins the fixed-seed behavior, not order-identical arithmetic
    (r12 ADVICE)."""
    import numpy as np

    from erde_spark.scale.similarity import _pq_codebooks

    rng = np.random.RandomState(7)
    sample = rng.rand(500, 64)
    for m, ks in ((16, 32), (8, 16), (4, 8)):
        got = _pq_codebooks(sample, m, ks, seed=42, iters=5)
        # reference implementation (pre-r12), inlined
        n, dim = sample.shape
        sub = dim // m
        ref_rng = np.random.RandomState(42)
        ref = np.empty((m, ks, sub))
        for j in range(m):
            x = sample[:, j * sub:(j + 1) * sub]
            cent = x[ref_rng.choice(n, size=ks, replace=False)].copy()
            for _ in range(5):
                d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for c in range(ks):
                    members = x[assign == c]
                    if len(members):
                        cent[c] = members.mean(axis=0)
            ref[j] = cent
        assert np.array_equal(got, ref), (m, ks)


def test_ivfpq_adc_only_mode(spark, embs):
    """refine=0 returns ADC scores directly: k rows per query, ranks
    contiguous, scores monotonically non-increasing."""
    from erde_spark.scale.similarity import ivfpq_topk
    q = embs.filter(F.col('vec_id') < 3)
    out = ivfpq_topk(embs, q, k=5, refine=0, n_lists=8, n_probes=4,
                     m=8, ks=32).orderBy('query_id', 'rank').collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r['query_id'], []).append((r['rank'], r['cosine']))
    for ranks in by_q.values():
        assert [rk for rk, _ in ranks] == [1, 2, 3, 4, 5]
        scores = [s for _, s in ranks]
        assert scores == sorted(scores, reverse=True)


def test_bpe_pair_stats_unit(spark):
    """Merge-candidate counts weight pairs by word frequency; 1-char
    tokens contribute nothing."""
    from erde_spark.scale.text import bpe_pair_stats
    df = spark.createDataFrame([(1, 'aab aab bc a'), (2, 'aab')],
                               ['doc_id', 'text'])
    got = {r['pair']: r['count'] for r in bpe_pair_stats(df).collect()}
    assert got == {'aa': 3, 'ab': 3, 'bc': 1}


def test_shared_passage_spans(spark):
    """Passage-level dedup: a 116-char passage embedded in two otherwise
    unrelated documents is found as ONE span of ~that length; a shared
    60-char prefix is found at winnowing granularity; disjoint documents
    produce no pairs."""
    from erde_spark.scale.text import shared_passage_spans
    shared = ('the quick brown fox jumps over the lazy dog while carrying '
              'a remarkably heavy basket of fresh strawberries to market')
    docs = [
        (1, 'completely unrelated opening text here. ' + shared
            + ' and a different ending altogether for document one.'),
        (2, 'another document begins differently indeed. ' + shared
            + ' then concludes with its own words entirely here.'),
        (3, 'this third document shares nothing with the others at all; '
            'it discusses distributed query engines, shuffles and '
            'partitions at length without overlap.'),
        (4, 'fourth doc: ' + shared[:60]
            + ' but then diverges completely midway through the text.'),
    ]
    df = spark.createDataFrame(docs, ['doc_id', 'text'])
    got = {(r['id_a'], r['id_b']): r
           for r in shared_passage_spans(df, min_span_fps=2).collect()}
    assert set(got) == {(1, 2), (1, 4), (2, 4)}
    full = got[(1, 2)]
    assert full['n_spans'] == 1
    # winnowing localizes the span to within one window+k of truth
    assert abs(full['longest_span_chars'] - len(shared)) <= 9 + 16
    partial = got[(1, 4)]
    assert partial['longest_span_chars'] < full['longest_span_chars']
    assert (3, 1) not in got and (1, 3) not in got


def test_winnow_positions_guarantee(spark):
    """Winnowing guarantee: any shared substring of length >= k+window-1
    yields at least one shared (fp) between the two documents, and
    positions point INTO the match."""
    from erde_spark.scale.text import winnow_positions
    core = 'x' * 0 + 'abcdefghijklmnopqrstuvwxyz0123456789abcdefghij'
    df = spark.createDataFrame(
        [(1, 'prefix one ' + core), (2, core + ' suffix two')],
        ['doc_id', 'text'])
    pos = winnow_positions(df).collect()
    fps1 = {r['fp'] for r in pos if r['id'] == 1}
    fps2 = {r['fp'] for r in pos if r['id'] == 2}
    assert fps1 & fps2


def test_passage_spans_survive_repeated_fragments(spark):
    """A fingerprint of the shared passage that ALSO occurs far away in
    one document must not fragment the true span (offset-bucketed run
    detection): the pair still reports the full-length span at
    min_span_fps=3."""
    from erde_spark.scale.text import shared_passage_spans
    shared = ('the quick brown fox jumps over the lazy dog while carrying '
              'a remarkably heavy basket of fresh strawberries to market')
    repeat = shared[20:55]  # >= k+window-1 chars: guaranteed shared fp
    docs = [
        (1, 'doc one starts with its own words here. ' + shared
            + ' and then ends on an unrelated closing note.'),
        (2, 'doc two other opening. ' + shared
            + ' some filler text in the middle of the document goes here '
              'for a while and keeps going. ' + repeat
            + ' and more trailing words to finish off doc two.'),
    ]
    df = spark.createDataFrame(docs, ['doc_id', 'text'])
    got = {(r['id_a'], r['id_b']): r
           for r in shared_passage_spans(df, min_span_fps=3).collect()}
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r['longest_span_chars'] >= len(shared) - (9 + 16), r


def test_sign_lsh_param_autoscaling():
    """Banded sign-LSH parameter selection: band width grows ~log2(n)
    (candidate volume stays linear — a fixed width measured 80x shuffle
    for 10x rows), band count satisfies the recall identity
    1-(1-p^r)^b >= target at the threshold (up to the 64-band cap), and
    explicit values pass through untouched."""
    import math

    from erde_spark.scale.dedup import _sign_lsh_params
    b1, r1 = _sign_lsh_params(2_000, 0.9, 0.9)
    b2, r2 = _sign_lsh_params(200_000, 0.9, 0.9)
    b3, r3 = _sign_lsh_params(20_000_000, 0.9, 0.9)
    assert r1 < r2 < r3                      # width scales with n
    assert r2 - r1 >= 6 and r3 - r2 >= 6     # ~log2 steps for 100x
    p = 1 - math.acos(0.9) / math.pi
    for b, r in ((b1, r1), (b2, r2)):        # below the cap: recall met
        assert 1 - (1 - p ** r) ** b >= 0.9 - 1e-9, (b, r)
    assert all(b <= 64 for b in (b1, b2, b3))
    assert _sign_lsh_params(10**9, 0.99, 0.9)[0] <= 64  # cap holds
    assert _sign_lsh_params(5, 0.9, 0.9, bands=7, rows=11) == (7, 11)


def test_sign_lsh_cost_law_and_bounded_regime():
    """The documented shuffle-growth bound (SCALE.md): at fixed
    at-threshold recall the explode term bands*n grows as n^(1+rho),
    rho = ln(1/p)/ln 2 — the hyperplane-LSH exponent (0.224 at t=0.9,
    ~16x per data decade; SCALE.md measured 15-21x). The regime is
    BOUNDED: once bands hit the 64 cap the per-decade ratio returns to
    ~10x (linear) while at-threshold recall floats down — strong
    near-dups (the dedup payload) stay found. strict_recall=True lifts
    the cap and keeps the guarantee at the n^(1+rho) cost."""
    import math

    from erde_spark.scale.dedup import _sign_lsh_params
    p = 1 - math.acos(0.9) / math.pi

    # pre-cap regime: per-decade explode ratio tracks 10^(1+rho) ~ 16x
    decades = [2_000, 20_000, 200_000, 2_000_000]
    cost = [b * n for n in decades
            for b, _ in [_sign_lsh_params(n, 0.9, 0.9)]]
    for c0, c1 in zip(cost, cost[1:]):
        assert 13.0 <= c1 / c0 <= 20.0, (c0, c1)

    # capped regime: ~10x per decade, linear
    big = [20_000_000, 200_000_000, 2_000_000_000]
    cost_big = [b * n for n in big
                for b, _ in [_sign_lsh_params(n, 0.9, 0.9)]]
    for c0, c1 in zip(cost_big, cost_big[1:]):
        assert c1 / c0 <= 10.5, (c0, c1)

    # ...with strong-dup recall intact at 200M vectors
    b, r = _sign_lsh_params(200_000_000, 0.9, 0.9)
    p95 = 1 - math.acos(0.95) / math.pi
    assert 1 - (1 - p95 ** r) ** b >= 0.95

    # strict mode: cap lifted, at-threshold recall guaranteed at any n
    bs, rs = _sign_lsh_params(200_000_000, 0.9, 0.9, strict_recall=True)
    assert bs > 64
    assert 1 - (1 - p ** rs) ** bs >= 0.9 - 1e-9


def test_pii_scrub(spark):
    """PII scrubbing: each type is counted on the original text and
    redacted in the output; clean text passes through untouched."""
    from erde_spark.scale.text import pii_scrub
    df = spark.createDataFrame(
        [(1, 'mail a.b+c@ex-1.org and 10.0.255.3 card '
             '4111 1111 1111 1111 tel +44 555-123-4567 end'),
         (2, 'nothing sensitive here 123'),
         (3, 'two mails x@y.io z@w.co')],
        ['doc_id', 'text'])
    rows = {r['doc_id']: r for r in pii_scrub(df).collect()}
    r1 = rows[1]
    assert (r1['n_email'], r1['n_credit_card'], r1['n_phone'],
            r1['n_ipv4']) == (1, 1, 1, 1)
    assert 'a.b+c@ex-1.org' not in r1['text_scrubbed']
    assert '4111' not in r1['text_scrubbed']
    assert '10.0.255.3' not in r1['text_scrubbed']
    assert r1['text_scrubbed'].startswith('mail [PII] and [PII]')
    r2 = rows[2]
    assert r2['text_scrubbed'] == 'nothing sensitive here 123'
    assert (r2['n_email'], r2['n_credit_card'], r2['n_phone'],
            r2['n_ipv4']) == (0, 0, 0, 0)
    assert rows[3]['n_email'] == 2


def test_domain_stats(spark):
    """URL/domain extraction: hosts aggregate per domain with url and
    doc counts; paths/schemes are stripped; non-URLs ignored."""
    from erde_spark.scale.text import domain_stats
    df = spark.createDataFrame(
        [(1, 'see https://a.example.com/x and http://a.example.com/y'),
         (2, 'also https://b.org/z plus notaurl://c.com'),
         (3, 'ref https://a.example.com')],
        ['doc_id', 'text'])
    got = {r['domain']: (r['n_urls'], r['n_docs'])
           for r in domain_stats(df).collect()}
    assert got == {'a.example.com': (3, 2), 'b.org': (1, 1)}


def test_png_16bit_roundtrip():
    """Depth-16 PNG (big-endian sample pairs, byte-level filtering with
    pixel-width offsets): exact uint16 round trip for every channel
    count x filter x interlace combination."""
    from erde_spark.scale.png import decode_png, encode_png
    rng = np.random.RandomState(6)
    for shape in ((9, 7), (8, 5, 3), (6, 6, 4), (11, 3, 2)):
        a = rng.randint(0, 65536, shape, dtype=np.uint16)
        for ft in range(5):
            for il in (0, 1):
                got = decode_png(encode_png(a, ft, il))
                assert got.dtype == np.uint16, (shape, ft, il)
                assert got.shape == a.shape and (got == a).all(), (shape, ft, il)


def test_audio_features_sine(spark):
    """Audio DSP features on synthesized sines: a 440 Hz tone at 16 kHz
    has spectral centroid ~440 Hz, zero-crossing rate ~2*440/16000, and
    RMS ~amp/sqrt(2); a 2 kHz tone shifts the centroid accordingly."""
    from erde_spark.scale.multimodal import ASSET_SCHEMA, audio_features
    from erde_spark.scale.png import encode_wav
    sr = 16000
    t = np.arange(sr) / sr  # 1 second
    rows = []
    for aid, freq in ((1, 440.0), (2, 2000.0)):
        x = (0.5 * np.sin(2 * np.pi * freq * t) * 32767).astype(np.int16)
        blob = encode_wav(x[:, None], framerate=sr)
        rows.append((aid, bytearray(blob), ('audio/wav', None, None,
                                            len(blob))))
    df = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r['asset_id']: r for r in
           audio_features(df, sample_rate=sr).collect()}
    for aid, freq in ((1, 440.0), (2, 2000.0)):
        r = got[aid]
        assert r['n_frames'] == sr and r['n_channels'] == 1
        assert abs(r['spectral_centroid_hz'] - freq) < freq * 0.05, r
        assert abs(r['zero_cross_rate'] - 2 * freq / sr) < 0.01, r
        assert abs(r['rms'] - 0.5 / np.sqrt(2)) < 0.01, r


def test_extract_features_on_error(spark):
    """A corrupt blob in a batch must not fail the task when
    on_error='skip'/'null'; 'raise' (default) propagates."""
    from erde_spark.scale.multimodal import ASSET_SCHEMA, extract_features
    from erde_spark.scale.png import encode_png
    good = encode_png(np.full((4, 4), 7, dtype=np.uint8))
    rows = [(1, bytearray(good), ('image/png', 4, 4, None)),
            (2, bytearray(b'\x89PNG\r\n\x1a\nBROKEN'), ('image/png', 4, 4, None)),
            (3, bytearray(good), ('image/png', 4, 4, None))]
    df = spark.createDataFrame(rows, ASSET_SCHEMA).coalesce(1)
    skip = extract_features(df, on_error='skip').collect()
    assert sorted(r['asset_id'] for r in skip) == [1, 3]
    assert all(abs(r['feat_mean'] - 7.0) < 1e-9 for r in skip)
    nulls = {r['asset_id']: r['feat_mean']
             for r in extract_features(df, on_error='null').collect()}
    assert nulls[2] is None and nulls[1] == 7.0
    with pytest.raises(Exception):
        extract_features(df).collect()
    with pytest.raises(ValueError, match='on_error'):
        extract_features(df, on_error='bogus')


# --------------------------------------------------- exact passage dedup

def test_passage_windows_shape(spark):
    from erde_spark.scale.dedup import passage_windows
    df = spark.createDataFrame(
        [(1, ' '.join(f'w{i}' for i in range(45))), (2, 'a b c'), (3, '')],
        'doc_id long, text string')
    wins = passage_windows(df, window=20).collect()
    by_doc = {}
    for r in wins:
        by_doc.setdefault(r['id'], []).append((r['widx'], r['passage']))
    assert len(by_doc[1]) == 3  # 20 + 20 + 5
    assert by_doc[1][0][1].startswith('w0 w1') and by_doc[1][2][1] == 'w40 w41 w42 w43 w44'
    assert by_doc[2] == [(0, 'a b c')]
    assert 3 not in by_doc


def test_passage_dedup_report_and_drop(spark):
    from erde_spark.scale.dedup import (drop_duplicate_passages,
                                        passage_dedup_report)
    boiler = ' '.join(f'b{i}' for i in range(20))
    uniq = lambda d: ' '.join(f'u{d}x{i}' for i in range(20))
    df = spark.createDataFrame(
        [(1, boiler + ' ' + uniq(1)), (2, boiler + ' ' + uniq(2)),
         (3, uniq(3)), (4, '')],
        'doc_id long, text string')
    rep = {r['id']: r for r in passage_dedup_report(df, window=20).collect()}
    assert rep[1]['n_passages'] == 2 and rep[1]['n_dup_passages'] == 1
    assert rep[2]['n_dup_passages'] == 1
    assert rep[3]['n_passages'] == 1 and rep[3]['n_dup_passages'] == 0
    assert rep[4]['n_passages'] == 0

    out = {r['id']: r['text'] for r in
           drop_duplicate_passages(df, window=20).collect()}
    assert len(out) == 4
    assert out[1] == boiler + ' ' + uniq(1)   # first occurrence kept
    assert out[2] == uniq(2)                  # later duplicate removed
    assert out[3] == uniq(3)
    assert out[4] == ''


# ------------------------------------------- reference dedup / safe split

def test_dedup_against_exact(spark):
    from erde_spark.scale.dedup import dedup_against
    ref = spark.createDataFrame(
        [(100, 'shared document one'), (101, 'shared  Document ONE '),
         (102, 'ref only text')], 'doc_id long, text string')
    df = spark.createDataFrame(
        [(1, 'shared document one'), (2, 'fresh content here'),
         (3, 'SHARED DOCUMENT one')], 'doc_id long, text string')
    kept = {r['doc_id'] for r in dedup_against(df, ref).collect()}
    assert kept == {2}  # 1 and 3 normalize to a ref fingerprint


def test_dedup_against_near(spark):
    from erde_spark.scale.dedup import dedup_against
    base = ('alpha beta gamma delta epsilon zeta eta theta iota kappa '
            'lam mu nu xi omicron pi rho sigma tau upsilon')
    ref = spark.createDataFrame([(7, base)], 'doc_id long, text string')
    df = spark.createDataFrame(
        [(7, base + ' extraword'),               # near-dup of ref (id collides)
         (8, 'completely different words entirely unrelated content '
             'nothing shared with the reference corpus at all here')],
        'doc_id long, text string')
    kept = {r['doc_id'] for r in
            dedup_against(df, ref, mode='near', threshold=0.8).collect()}
    assert kept == {8}


def test_split_no_leakage_exact(spark):
    from erde_spark.scale.sampling import split_no_leakage
    rows = [(i, f'unique doc {i}') for i in range(40)]
    rows += [(100 + i, 'duplicated text body') for i in range(10)]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    out = split_no_leakage(df, {'train': 0.5, 'val': 0.25, 'test': 0.25})
    got = {r['doc_id']: r['split'] for r in out.collect()}
    assert len(got) == 50 and set(got.values()) <= {'train', 'val', 'test'}
    dup_splits = {got[100 + i] for i in range(10)}
    assert len(dup_splits) == 1  # all byte-dups in ONE split
    # deterministic
    again = {r['doc_id']: r['split'] for r in split_no_leakage(
        df, {'train': 0.5, 'val': 0.25, 'test': 0.25}).collect()}
    assert again == got


def test_split_no_leakage_near_dup(spark):
    from erde_spark.scale.sampling import split_no_leakage
    base = ('alpha beta gamma delta epsilon zeta eta theta iota kappa '
            'lam mu nu xi omicron pi rho sigma tau upsilon')
    rows = [(i, base + f' tail{i % 2}') for i in range(6)]   # one near-dup family
    rows += [(10 + i, f'solo document number {i} with distinct words '
              + ' '.join(f's{i}w{j}' for j in range(15))) for i in range(8)]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    out = split_no_leakage(df, {'train': 0.6, 'val': 0.4}, near_dup=True,
                           threshold=0.8)
    got = {r['doc_id']: r['split'] for r in out.collect()}
    assert len({got[i] for i in range(6)}) == 1  # family stays together


def test_normalize_text_unicode(spark):
    import unicodedata
    from erde_spark.scale.text import normalize_text
    cases = [
        'café au lait',                    # combining acute -> NFC e-acute
        'tabs\tstay\nnewlines stay',
        'bad\x00control\x07chars\x1bgone',
        'crlf\r\nand bare\rcr',
        'wide　space and nbsp',
        'multi   spaces',
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               'id long, text string')
    got = {r['id']: r['t'] for r in
           df.select('id', normalize_text('text').alias('t')).collect()}
    assert got[0] == unicodedata.normalize('NFC', cases[0])
    assert '́' not in got[0] and 'café' in got[0]
    assert got[1] == 'tabs\tstay\nnewlines stay'
    assert got[2] == 'badcontrolcharsgone'
    assert got[3] == 'crlf\nand bare\ncr'
    assert got[4] == 'wide space and nbsp'
    assert got[5] == 'multi spaces'


def test_normalize_text_duckdb_parity(spark):
    """The normalize chain minus NFC replays in DuckDB; NFC itself is
    pinned against DuckDB's nfc_normalize."""
    import duckdb
    from erde_spark.scale.text import normalize_text
    cases = ['café', 'a b c', 'x\r\ny\rz', 'p   q\x07']
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               'id long, text string')
    got = {r['id']: r['t'] for r in
           df.select('id', normalize_text('text').alias('t')).collect()}
    con = duckdb.connect()
    for i, c in enumerate(cases):
        duck = con.execute(
            "SELECT regexp_replace(regexp_replace(regexp_replace("
            "regexp_replace(nfc_normalize(?::VARCHAR),"
            " '\\r\\n?', chr(10), 'g'),"
            " '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),"
            " '\\p{Zs}', ' ', 'g'),"
            " '  +', ' ', 'g')", [c]).fetchone()[0]
        assert got[i] == duck, (i, c)


# ------------------------------------------------------ domain filtering

def test_filter_by_domain_lists_and_frames(spark):
    from erde_spark.scale.text import filter_by_domain
    rows = [(1, 'https://good.example/a'), (2, 'https://Spam.example/b'),
            (3, 'https://ads.spam.example/c'), (4, 'https://other.org/d'),
            (5, 'not a url')]
    df = spark.createDataFrame(rows, 'doc_id long, url string')

    kept = {r['doc_id'] for r in
            filter_by_domain(df, deny=['spam.example']).collect()}
    assert kept == {1, 4, 5}  # subdomain + case-insensitive match dropped

    kept = {r['doc_id'] for r in
            filter_by_domain(df, deny=['spam.example'],
                             match_subdomains=False).collect()}
    assert kept == {1, 3, 4, 5}

    kept = {r['doc_id'] for r in
            filter_by_domain(df, allow=['example']).collect()}
    assert kept == {1, 2, 3}  # TLD-suffix allow

    deny_df = spark.createDataFrame([('spam.example',), ('other.org',)],
                                    'domain string')
    kept = {r['doc_id'] for r in
            filter_by_domain(df, deny=deny_df).collect()}
    assert kept == {1, 5}

    allow_df = spark.createDataFrame([('good.example',)], 'domain string')
    kept = {r['doc_id'] for r in
            filter_by_domain(df, deny=deny_df, allow=allow_df).collect()}
    assert kept == {1}


def test_filter_by_domain_null_safe_and_duplicate_safe(spark):
    """A deny-listed row with a NULL attribute must still be dropped
    (an all-columns anti-join would let it survive, since NULL never
    equals itself), and genuine duplicate rows must not be collapsed
    by the allow path."""
    from erde_spark.scale.text import filter_by_domain
    rows = [(1, 'https://good.example/a', 'kept'),
            (2, 'https://spam.example/b', None),   # null col, blocklisted
            (2, 'https://spam.example/b', None),
            (3, 'https://good.example/c', None),   # null col, clean
            (4, 'https://good.example/a', 'dup'),  # genuine duplicates
            (4, 'https://good.example/a', 'dup')]
    df = spark.createDataFrame(rows, 'doc_id long, url string, title string')
    deny_df = spark.createDataFrame([('spam.example',)], 'domain string')

    out = filter_by_domain(df, deny=deny_df).collect()
    assert {r['doc_id'] for r in out} == {1, 3, 4}
    assert len([r for r in out if r['doc_id'] == 4]) == 2

    allow_df = spark.createDataFrame([('good.example',)], 'domain string')
    out = filter_by_domain(df, allow=allow_df).collect()
    assert {r['doc_id'] for r in out} == {1, 3, 4}
    assert len([r for r in out if r['doc_id'] == 4]) == 2
    assert sorted(df.columns) == sorted(out[0].asDict().keys())


def test_fix_mojibake_and_canonicalize_url(spark):
    from pyspark.sql import functions as F

    from erde_spark.scale.text import canonicalize_url, fix_mojibake
    good = 'café ’quote’ 中文'
    moji = good.encode('utf-8').decode('latin-1')
    rows = [(1, moji), (2, 'plain ascii'),
            (3, '¿qué? ¡hola!'),  # true Latin-1: no touch
            (4, good)]                            # already clean
    df = spark.createDataFrame(rows, 'i long, text string')
    got = {r['i']: r['t'] for r in
           df.select('i', fix_mojibake('text').alias('t')).collect()}
    assert got[1] == good
    assert got[2] == 'plain ascii' and got[3] == rows[2][1]
    assert got[4] == good  # repair of clean text must be identity
    # mixed real-Unicode + mojibake-looking bytes: must NOT touch (a
    # Latin-1 encode would destroy the CJK)
    df3 = spark.createDataFrame([(1, 'Ã© plus 中文')], 'i long, text string')
    assert df3.select(fix_mojibake('text').alias('t')).first()['t'] \
        == 'Ã© plus 中文'

    urls = [(1, 'HTTPS://Example.COM:443/a/b/?utm_source=x&b=2&a=1#f'),
            (2, 'http://site.org'),
            (3, 'http://site.org:8080/x'),   # non-default port kept
            (4, 'http://site.org/path/?fbclid=abc')]
    df2 = spark.createDataFrame(urls, 'i long, url string')
    got = {r['i']: r['u'] for r in
           df2.select('i', canonicalize_url('url').alias('u')).collect()}
    assert got[1] == 'https://example.com/a/b?a=1&b=2'
    assert got[2] == 'http://site.org/'
    assert got[3] == 'http://site.org:8080/x'
    assert got[4] == 'http://site.org/path'


def test_dedup_lines_within_doc(spark):
    """Within-doc repeated lines drop to their first occurrence, order
    preserved; unique docs pass through byte-identical; empty and null
    text survive; a custom separator works; segments shorter than
    min_line_chars (blank separators, lone punctuation) are exempt."""
    from erde_spark.scale.text import dedup_lines_within_doc
    df = spark.createDataFrame(
        [(0, 'navbar\nbody one\nnavbar\nbody two\nnavbar'),
         (1, 'all of\nunique\nlines!'),
         (2, ''), (3, None),
         (4, 'xxxxx\nxxxxx\nxxxxx\nxxxxx')],
        'doc_id long, text string')
    out = {r['doc_id']: r['text']
           for r in dedup_lines_within_doc(df).collect()}
    assert out[0] == 'navbar\nbody one\nbody two'
    assert out[1] == 'all of\nunique\nlines!'
    assert out[2] == ''
    assert out[3] is None
    assert out[4] == 'xxxxx'
    # literal separator with regex metacharacters
    df2 = spark.createDataFrame([(0, 'part1||part2||part1')],
                                'doc_id long, text string')
    got = dedup_lines_within_doc(df2, sep='||').collect()[0]['text']
    assert got == 'part1||part2'


def test_dedup_lines_preserves_paragraph_breaks(spark):
    """Blank separator lines between paragraphs are NOT deduplicated:
    'p1\\n\\np2\\n\\np3' splits to [p1,'',p2,'',p3] and collapsing the
    repeated '' would destroy every paragraph break after the first
    (the remove_boilerplate_lines min_line_chars guard, mirrored).
    Short non-blank separators ('---') are likewise exempt, and the
    exemption threshold is tunable."""
    from erde_spark.scale.text import dedup_lines_within_doc
    df = spark.createDataFrame(
        [(0, 'first paragraph\n\nsecond paragraph\n\nthird paragraph'),
         (1, 'alpha section\n---\nbeta section\n---\ngamma section'),
         (2, 'repeated body line\n\nrepeated body line\n\ntail text')],
        'doc_id long, text string')
    out = {r['doc_id']: r['text']
           for r in dedup_lines_within_doc(df).collect()}
    assert out[0] == 'first paragraph\n\nsecond paragraph\n\nthird paragraph'
    assert out[1] == 'alpha section\n---\nbeta section\n---\ngamma section'
    # long lines still dedup even with blanks interleaved
    assert out[2] == 'repeated body line\n\n\ntail text'
    # threshold 0 restores unconditional dedup (the old behavior)
    got = {r['doc_id']: r['text']
           for r in dedup_lines_within_doc(df, min_line_chars=0).collect()}
    assert got[0] == 'first paragraph\n\nsecond paragraph\nthird paragraph'


def test_cap_per_key_exact_and_deterministic(spark):
    """cap_per_key keeps exactly min(cap, n) rows per key, the kept set
    is a pure function of (id, salt) — stable across repartitionings —
    and under-cap keys pass through untouched."""
    from erde_spark.scale.sampling import cap_per_key
    rows = [(i, f'd{i % 3}') for i in range(90)] + [(100, 'rare')]
    df = spark.createDataFrame(rows, 'doc_id long, domain string')
    out = cap_per_key(df, 'domain', cap=10).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r['domain'], set()).add(r['doc_id'])
    assert {d: len(v) for d, v in by_dom.items()} == \
        {'d0': 10, 'd1': 10, 'd2': 10, 'rare': 1}
    again = cap_per_key(df.repartition(7), 'domain', cap=10).collect()
    assert {(r['doc_id'], r['domain']) for r in again} == \
        {(r['doc_id'], r['domain']) for r in out}
    # different salt -> (almost surely) different kept set, same sizes
    other = cap_per_key(df, 'domain', cap=10, salt='s2').collect()
    assert len(other) == len(out)
    import pytest as _pytest
    with _pytest.raises(ValueError, match='cap'):
        cap_per_key(df, 'domain', cap=0)


def test_cut_duplicate_spans(spark):
    """ExactSubstr cutting (Lee et al. 2022): a passage shared by two
    documents is cut from BOTH; a passage repeated twice INSIDE one
    document is cut too (corpus-global count crosses 1); unique docs
    and short docs pass through (whitespace-normalized); output is
    stable across repartitionings."""
    from erde_spark.scale.text import cut_duplicate_spans
    shared = ' '.join(f's{i}' for i in range(12))
    rows = [
        (0, 'a0 b0 c0 ' + shared + ' z0 y0'),
        (1, 'a1 b1 c1 d1 ' + shared + ' z1'),
        (2, 'unique words only here nothing repeats at all in this one'),
        (3, 'short doc'),
        (4, 'head4 ' + shared + ' mid4 ' + shared + ' tail4'),
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    out = {r['doc_id']: r['text']
           for r in cut_duplicate_spans(df, min_tokens=8).collect()}
    assert out[0] == 'a0 b0 c0 z0 y0'
    assert out[1] == 'a1 b1 c1 d1 z1'
    assert out[2] == rows[2][1]
    assert out[3] == 'short doc'
    assert out[4] == 'head4 mid4 tail4'
    again = {r['doc_id']: r['text']
             for r in cut_duplicate_spans(df.repartition(7),
                                          min_tokens=8).collect()}
    assert again == out
    with pytest.raises(ValueError, match='min_tokens'):
        cut_duplicate_spans(df, min_tokens=1)


def test_cut_duplicate_spans_fully_covered_long_doc(spark):
    """The adversarial tail: a pair of fully-duplicated 20k-token
    documents (covered set = the whole doc). The complement-interval
    rebuild costs O(n + |cov| log |cov|) per doc — with the old
    per-token array_contains refilter this case is O(n^2)
    (4*10^8 comparisons per row) and visibly hangs; here the whole
    pipeline must finish within the suite's normal budget. Both copies
    are cut to empty; an interleaved unique doc passes through."""
    import time

    from erde_spark.scale.text import cut_duplicate_spans
    big = ' '.join(f'w{i % 977}x{i % 83}' for i in range(20_000))
    df = spark.createDataFrame(
        [(0, big), (1, big),
         (2, 'these tokens are unique and must pass through intact')],
        'doc_id long, text string')
    t0 = time.monotonic()
    out = {r['doc_id']: r['text']
           for r in cut_duplicate_spans(df, min_tokens=50).collect()}
    elapsed = time.monotonic() - t0
    assert out[0] == '' and out[1] == ''
    assert out[2] == 'these tokens are unique and must pass through intact'
    # measured ~2 s; the quadratic refilter (and the lambda-inlined
    # array_sort variant) both took ~99 s on this fixture
    assert elapsed < 30, f'quadratic-refilter regression: {elapsed:.0f}s'


def test_remove_boilerplate_lines(spark):
    from erde_spark.scale.text import remove_boilerplate_lines
    docs = [(i, 'Cookie banner text here\ncontent %d one\n\ntail %d'
             % (i, i * 7)) for i in range(5)]
    docs.append((9, 'unique doc\nno repeats'))
    docs.append((10, 'Cookie banner text here'))  # ALL boilerplate
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    out = {r['doc_id']: r['text'] for r in
           remove_boilerplate_lines(df, min_count=3).collect()}
    # frequent banner removed; order + blank separator preserved
    assert out[0] == 'content 0 one\n\ntail 0'
    assert out[9] == 'unique doc\nno repeats'
    # an all-boilerplate document survives as (id, '') — it must not
    # vanish from the corpus (downstream joins would lose it silently)
    assert out[10] == ''
    assert len(out) == 7
    # within-one-doc repetition does NOT count toward the threshold
    solo = spark.createDataFrame(
        [(1, 'same line repeated\nsame line repeated\nsame line repeated')],
        'doc_id long, text string')
    got = remove_boilerplate_lines(solo, min_count=3).first()['text']
    assert got == 'same line repeated\nsame line repeated\nsame line repeated'


def test_readability_flesch(spark):
    """Hand-computed Flesch example plus the fragment floor: 'The cat
    sat on the mat.' = 6 words, 1 sentence, 6 vowel groups ->
    206.835 - 1.015*6 - 84.6*1 = 116.145."""
    from erde_spark.scale.text import readability
    df = spark.createDataFrame(
        [(1, 'The cat sat on the mat.'),
         (2, 'no punctuation fragment'),
         (3, '')],
        'doc_id long, text string')
    rows = {r['doc_id']: r['r'] for r in
            df.select('doc_id', readability('text').alias('r')).collect()}
    r1 = rows[1]
    assert (r1['n_words'], r1['n_sentences'], r1['n_syllables']) == (6, 1, 6)
    assert abs(r1['flesch'] - 116.145) < 1e-9
    assert rows[2]['n_sentences'] == 1  # fragment floor
    assert rows[3]['n_words'] == 0 and rows[3]['n_syllables'] == 0


def test_c4_filter_rules(spark):
    """Each published C4 rule fires independently: terminal-punct
    line keep, 5-word minimum, javascript lines, lorem-ipsum pages,
    curly-bracket pages, 3-sentence minimum, blocklist words."""
    from erde_spark.scale.text import c4_filter
    docs = [
        (1, 'A good first sentence here. Another full sentence too!\n'
            'short line\nAnd a third good sentence ends here.'),
        (2, 'Uses javascript for the menu here today. '
            'Fine sentence one two three. And another one right here.\n'
            'This line has enough words and javascript inside it.\n'
            'But only this one good line survives the filter here.'),
        (3, 'This page mentions Lorem Ipsum placeholder text sadly. '
            'One more sentence. And a third one here too.'),
        (4, 'function f() { return 1; } is code with many words here. '
            'More sentences. And even more here.'),
        (5, 'Only two sentences on this page exist. That is not enough!'),
        (6, 'A perfectly clean page with one sentence. Then another '
            'sentence follows it. Finally a third one closes it out.'),
        (7, 'This page contains a badword inside it somewhere. Plus a '
            'second sentence. Plus a third sentence right here.'),
    ]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: r['text']
           for r in c4_filter(df, blocklist=('badword',)).collect()}
    assert set(got) == {1, 6}
    assert got[1] == ('A good first sentence here. Another full '
                      'sentence too!\nAnd a third good sentence ends '
                      'here.')
    # doc 2: both javascript lines drop; the one surviving line holds
    # a single sentence, so the page falls under min_sentences too


def test_chunk_documents_windows(spark):
    from erde_spark.scale.text import chunk_documents
    text = ' '.join(f'w{i}' for i in range(300))
    df = spark.createDataFrame([(1, text), (2, 'short doc only')],
                               'doc_id long, text string')
    out = chunk_documents(df, max_tokens=128, overlap=16)
    rows = sorted((r['id'], r['chunk_idx'], r['n_tokens'])
                  for r in out.collect())
    # 300 tokens, step 112: windows at 0/112/224 -> 128,128,76; the
    # 3-token doc yields one whole-doc chunk
    assert rows == [(1, 0, 128), (1, 1, 128), (1, 2, 76), (2, 0, 3)]
    texts = {(r['id'], r['chunk_idx']): r['chunk_text']
             for r in out.collect()}
    assert texts[(1, 1)].split()[0] == 'w112'  # overlap start
    assert texts[(1, 1)].split()[-1] == 'w239'
    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_documents(df, max_tokens=16, overlap=16)


def test_microbatch_merge_bounds_cap_edge_parity(spark, monkeypatch):
    """Round-7 verdict ask #6: the driver merge-loop bounds at their
    EDGES. With each cap set to exactly the corpus's own edge/bucket
    count the driver path must ENGAGE; at count-1 it must FALL BACK —
    and both sides must be row-identical to the distributed path. This
    pins the boundary semantics (<= cap engages, > cap falls back),
    not just the far-from-cap behavior the forced-0 test covers."""
    import erde_spark.scale.dedup as D
    docs = _clique_corpus(spark)
    # measure the corpus's actual edge / bucket cardinalities by spying
    counts = {}
    orig = D._microbatch_spanning_clusters

    def spy(df, id_col, edge_rows, buckets, *a, **kw):
        counts['edges'] = len(edge_rows)
        counts['buckets'] = buckets.count()
        # the bucket bound is decided from docs x bands when known
        counts['n_buckets'] = kw['n_buckets']
        return orig(df, id_col, edge_rows, buckets, *a, **kw)

    monkeypatch.setattr(D, '_microbatch_spanning_clusters', spy)
    exp = sorted((r['doc_id'], r['cluster_size']) for r in
                 D.dedup_clusters(docs, threshold=0.9,
                                  pair_strategy='spanning').collect())
    monkeypatch.undo()
    assert counts['edges'] > 1 and counts['buckets'] > 1
    assert counts['n_buckets'] == counts['buckets']

    engaged = {}

    def probe(*a, **kw):
        out = orig(*a, **kw)
        engaged['driver_path'] = out is not None
        return out

    for attr, n in (('_MERGE_COLLECT_CAP', counts['edges']),
                    ('_MICROBATCH_BUCKET_CAP', counts['buckets'])):
        for cap, want_engaged in ((n, True), (n - 1, False)):
            monkeypatch.setattr(D, attr, cap)
            monkeypatch.setattr(D, '_microbatch_spanning_clusters', probe)
            engaged.clear()
            got = sorted((r['doc_id'], r['cluster_size']) for r in
                         D.dedup_clusters(docs, threshold=0.9,
                                          pair_strategy='spanning').collect())
            assert got == exp, (attr, cap)
            assert engaged['driver_path'] is want_engaged, (attr, cap)
            monkeypatch.undo()


def test_bitext_mine_planted_pairs(spark):
    """Margin-based bitext mining (Artetxe & Schwenk 2019): planted
    translation pairs (same base vector, slight noise) must be mined
    exactly; unpaired rows must NOT be mined (their best cosine is
    high only when everything is near-orthogonal, but the margin
    normalizes it away only if below threshold); a HUB vector close to
    many targets must not swamp the pairing — the margin denominator
    is what kills it, the paper's motivating failure of raw cosine.
    Exact and LSH retrievers must agree on the planted set."""
    import numpy as np

    from erde_spark.scale.similarity import bitext_mine
    rng = np.random.RandomState(7)
    dim = 32
    base = rng.normal(size=(12, dim))
    src_rows, tgt_rows = [], []
    for i in range(8):      # 8 planted pairs: src 2i <-> tgt 2i+1
        v = base[i]
        src_rows.append((2 * i, (v + 0.01 * rng.normal(size=dim)).tolist()))
        tgt_rows.append((2 * i + 1, (v + 0.01 * rng.normal(size=dim)).tolist()))
    for j in range(8, 12):  # unpaired rows on both sides
        src_rows.append((100 + j, base[j].tolist()))
        tgt_rows.append((200 + j, rng.normal(size=dim).tolist()))
    src = spark.createDataFrame(src_rows, 'vec_id long, embedding array<float>')
    tgt = spark.createDataFrame(tgt_rows, 'vec_id long, embedding array<float>')
    # planted margins measure 2.2-3.1 here; spurious best-cosine rows
    # on a near-orthogonal 12-vector corpus reach margin ~1.21 (tiny-k
    # neighborhood means are noisy at this size — the paper's 1.04-1.06
    # operating point assumes corpus-scale kNN estimates), so 1.5 is
    # the clean separation point for this fixture
    got = bitext_mine(src, tgt, k=4, threshold=1.5).collect()
    mined = {(r['src_id'], r['tgt_id']) for r in got}
    assert mined == {(2 * i, 2 * i + 1) for i in range(8)}
    for r in got:
        assert r['margin'] > 1.5 and r['cosine'] > 0.99
    # LSH retriever agrees on the planted set. n_bits=2/n_probes=4
    # makes the probes cover the whole bucket space: margin quality
    # NEEDS full-ish neighborhoods — a bucket holding only the twin
    # gives kNN mean = cos(pair) and margin collapses to ~1, so
    # under-probed LSH under-mines rather than over-mines (documented
    # retriever tradeoff; at corpus scale buckets are never this empty)
    got_lsh = bitext_mine(src, tgt, k=4, threshold=1.5, method='lsh',
                          dim=dim, n_bits=2, n_probes=4).collect()
    assert {(r['src_id'], r['tgt_id']) for r in got_lsh} >= \
        {(2 * i, 2 * i + 1) for i in range(8)}
    with pytest.raises(ValueError, match='method'):
        bitext_mine(src, tgt, method='nope')


def test_bitext_exact_fallback_parity(spark, monkeypatch):
    """Past the broadcast cap the exact retriever falls back to the
    windowed matrix path — mined pairs must be identical (margins to
    1e-9) to the blocked-matmul path on the same corpus."""
    import numpy as np

    import erde_spark.scale.similarity as S
    rng = np.random.RandomState(11)
    vecs = rng.normal(size=(10, 24))
    src = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(10)],
        'vec_id long, embedding array<float>')
    tgt = spark.createDataFrame(
        [(100 + i, vecs[i].tolist()) for i in range(6)]
        + [(200 + j, rng.normal(size=24).tolist()) for j in range(4)],
        'vec_id long, embedding array<float>')
    fast = {(r['src_id'], r['tgt_id']): r['margin']
            for r in S.bitext_mine(src, tgt, k=3, threshold=1.5).collect()}
    monkeypatch.setattr(S, '_BITEXT_BROADCAST_CAP', 0)
    slow = {(r['src_id'], r['tgt_id']): r['margin']
            for r in S.bitext_mine(src, tgt, k=3, threshold=1.5).collect()}
    assert set(fast) == set(slow) and len(fast) >= 6
    for p, m in fast.items():
        assert abs(m - slow[p]) < 1e-9, p


def test_pack_bins_bestfit(spark):
    """Whole-document best-fit-decreasing packing: every doc lands in
    exactly one sequence, no sequence exceeds max_tokens, over-long
    docs get their own truncated-flagged sequence, the packing is
    deterministic across repartitionings, and BFD beats naive
    arrival-order first-fit on a fixture designed to punish it."""
    from erde_spark.scale.text import pack_bins_bestfit
    mk = lambda n: ' '.join(f'w{i}' for i in range(n))
    rows = [(0, mk(60)), (1, mk(50)), (2, mk(40)), (3, mk(40)),
            (4, mk(30)), (5, mk(20)), (6, mk(150)), (7, mk(100)),
            (8, mk(10))]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    out = {r['doc_id']: r for r in
           pack_bins_bestfit(df, max_tokens=100).collect()}
    assert len(out) == 9
    # per-sequence sums respect the cap; docs stay whole
    seqs = {}
    for r in out.values():
        if not r['truncated'] and r['n_tokens'] < 100:
            seqs.setdefault(r['seq_id'], 0)
            seqs[r['seq_id']] += r['n_tokens']
    assert all(v <= 100 for v in seqs.values())
    # the 150-token doc is alone and truncated; the 100-token doc is
    # alone, full, not truncated
    assert out[6]['truncated'] and out[6]['seq_fill'] == 100
    assert not out[7]['truncated']
    assert all(out[7]['seq_id'] != r['seq_id'] for d, r in out.items()
               if d not in (6, 7))
    # BFD on this fixture: 60+40, 50+40+10, 30+20 -> 3 bins for the
    # small docs (perfect fill on the first two)
    small_bins = {out[d]['seq_id'] for d in (0, 1, 2, 3, 4, 5, 8)}
    assert len(small_bins) == 3
    fills = {out[d]['seq_id']: out[d]['seq_fill']
             for d in (0, 1, 2, 3, 4, 5, 8)}
    assert sorted(fills.values(), reverse=True) == [100, 100, 50]
    # deterministic under repartitioning
    again = {r['doc_id']: (r['seq_id'], r['seq_fill']) for r in
             pack_bins_bestfit(df.repartition(5),
                               max_tokens=100).collect()}
    assert again == {d: (r['seq_id'], r['seq_fill'])
                     for d, r in out.items()}
    # sharded: packing is independent per shard
    df2 = df.withColumn('lang', (F.col('doc_id') % 2).cast('string'))
    sh = pack_bins_bestfit(df2, max_tokens=100,
                           shard_col='lang').collect()
    assert {r['lang'] for r in sh} == {'0', '1'}
    with pytest.raises(ValueError, match='max_tokens'):
        pack_bins_bestfit(df, max_tokens=0)


def test_split_sentences_rules(spark):
    """Rule-based splitter: terminator+space+capital splits; the
    abbreviation list, single initials and lowercase continuations do
    NOT split; closing quotes/parens attach to their sentence; text is
    preserved byte-exact across the split."""
    from erde_spark.scale.text import explode_sentences, split_sentences
    rows = [
        (0, 'The cat sat. The dog ran! Did it? Yes.'),
        (1, 'Mr. Smith met Dr. Jones at 5 p.m. yesterday. They talked.'),
        (2, 'See Fig. 3 for details. J. Smith wrote it.'),
        (3, 'One sentence only'),
        (4, 'Quotes work. "Indeed." (Right.) End.'),
        (5, 'He said "stop." Then left.'),
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: r['s'] for r in
           df.select('doc_id', split_sentences('text').alias('s'))
           .collect()}
    assert got[0] == ['The cat sat.', 'The dog ran!', 'Did it?', 'Yes.']
    assert got[1] == ['Mr. Smith met Dr. Jones at 5 p.m. yesterday.',
                      'They talked.']
    assert got[2] == ['See Fig. 3 for details.', 'J. Smith wrote it.']
    assert got[3] == ['One sentence only']
    assert got[4] == ['Quotes work.', '"Indeed."', '(Right.)', 'End.']
    assert got[5] == ['He said "stop."', 'Then left.']
    # byte-exact reassembly: single-space joins reproduce the source
    for i in (0, 1, 2, 4, 5):
        assert ' '.join(got[i]) == rows[i][1]
    ex = explode_sentences(df.where('doc_id = 0'))
    assert [r['sentence'] for r in ex.orderBy('sent_id').collect()] \
        == got[0]
    # min_chars drops trimmed-short survivors with dense re-indexing
    short = spark.createDataFrame([(9, 'Ok. A very long sentence here.')],
                                  'doc_id long, text string')
    kept = explode_sentences(short, min_chars=5).collect()
    assert [(r['sent_id'], r['sentence']) for r in kept] \
        == [(0, 'A very long sentence here.')]
    # JVM-only plan: no Python eval in the splitter
    plan = df.select(split_sentences('text'))._jdf.queryExecution() \
        .executedPlan().toString()
    assert 'BatchEvalPython' not in plan and 'ArrowEval' not in plan


class TestHardNegatives:
    """mine_hard_negatives (similarity.py) — the contrastive-training
    negative miner."""

    def _geom(self, spark, n=60):
        from pyspark.sql import functions as F
        ids = spark.range(n).select(F.col('id').alias('vec_id'))
        vec = F.array(F.lit(1.0),
                      ((F.col('vec_id') % 7) / F.lit(7.0)).cast('double'))
        return ids.select('vec_id', vec.alias('embedding'))

    def _pos(self, spark, n=60):
        # same residue mod 7 = exact duplicates = the labeled positives
        from pyspark.sql import functions as F
        ids = spark.range(n).select(F.col('id').alias('vec_id'),
                                    (F.col('id') % 7).alias('_r'))
        return (ids.alias('a').join(
            ids.alias('b'), (F.col('a._r') == F.col('b._r'))
            & (F.col('a.vec_id') != F.col('b.vec_id')))
            .select(F.col('a.vec_id').alias('query_id'),
                    F.col('b.vec_id').alias('vec_id')))

    def test_positives_never_mine(self, spark):
        from erde_spark.scale.similarity import mine_hard_negatives
        corpus = self._geom(spark)
        queries = corpus.where('vec_id < 5')
        out = mine_hard_negatives(corpus, queries, self._pos(spark),
                                  k=3).collect()
        assert len(out) == 15
        for r in out:
            assert r.vec_id % 7 != r.query_id % 7   # no positive mined
            assert r.vec_id != r.query_id           # no self
        ranks = sorted((r.query_id, r.neg_rank) for r in out)
        assert ranks == [(q, j) for q in range(5) for j in (1, 2, 3)]

    def test_nearest_angle_wins(self, spark):
        from erde_spark.scale.similarity import mine_hard_negatives
        corpus = self._geom(spark)
        queries = corpus.where('vec_id = 0')   # residue 0
        top = mine_hard_negatives(corpus, queries, self._pos(spark),
                                  k=1).collect()[0]
        # nearest non-positive angle to residue 0 is residue 1; the
        # smallest such id is 1
        assert (top.vec_id, top.neg_rank) == (1, 1)

    def test_max_cosine_guard(self, spark):
        from erde_spark.scale.similarity import mine_hard_negatives
        import math
        corpus = self._geom(spark)
        queries = corpus.where('vec_id = 0')
        # cosine to residue-1 vectors = cos(atan(1/7)) ~ 0.9899:
        # a cut below it must push mining to residue 2 and beyond
        cut = math.cos(math.atan(1 / 7)) - 1e-6
        out = mine_hard_negatives(corpus, queries, self._pos(spark),
                                  k=3, max_cosine=cut).collect()
        assert all(r.vec_id % 7 >= 2 for r in out)
        assert all(r.cosine < cut for r in out)

    def test_approximate_paths_exclude_positives(self, spark):
        from erde_spark.scale.similarity import mine_hard_negatives
        corpus = self._geom(spark)
        queries = corpus.where('vec_id < 3')
        for method, kw in (('lsh', {'dim': 2, 'n_bits': 2}),
                           ('ivf', {'n_lists': 2, 'n_probes': 2})):
            out = mine_hard_negatives(corpus, queries, self._pos(spark),
                                      k=3, method=method, **kw).collect()
            assert out, method
            for r in out:
                assert r.vec_id % 7 != r.query_id % 7, method
            by_q = {}
            for r in out:
                by_q.setdefault(r.query_id, []).append(r.neg_rank)
            for q, rr in by_q.items():
                assert sorted(rr) == list(range(1, len(rr) + 1))

    def test_unknown_method(self, spark):
        import pytest as _pytest
        from erde_spark.scale.similarity import mine_hard_negatives
        corpus = self._geom(spark)
        with _pytest.raises(ValueError, match='method'):
            mine_hard_negatives(corpus, corpus, self._pos(spark),
                                method='hnsw')


class TestSemDedup:
    """SemDeDup (arXiv:2303.09540): kmeans-cluster-scoped semantic
    dedup with the paper's keep-farthest-from-centroid policy."""

    def _planted(self, spark, n=200, dim=16):
        # deterministic pseudo-random unit-ish vectors; vec_id%5==1 is
        # an exact copy of vec_id-1's vector
        import numpy as np
        rng = np.random.RandomState(7)
        base = rng.normal(size=(n, dim))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        rows = []
        for i in range(n):
            v = base[i - 1] if i % 5 == 1 else base[i]
            rows.append((i, [float(x) for x in v]))
        return spark.createDataFrame(rows, 'vec_id long, embedding array<double>')

    def test_planted_duplicates_drop_min_keep(self, spark):
        from erde_spark.scale.dedup import semdedup
        df = self._planted(spark)
        out = semdedup(df, threshold=0.99, keep='min')
        got = sorted(r['vec_id'] for r in out.collect())
        assert got == [i for i in range(200) if i % 5 != 1]

    def test_keep_far_retains_low_centroid_sim_member(self, spark):
        from erde_spark.scale.dedup import semdedup
        import math
        # one cluster of three: a/b near-dups (cos ~0.999), c distinct.
        # centroid pulls toward the a/b mass => between a and b, the one
        # farther from the centroid must survive under keep='far'.
        a = [1.0, 0.0]
        b = [math.cos(0.04), math.sin(0.04)]
        c = [math.cos(1.2), math.sin(1.2)]
        df = spark.createDataFrame(
            [(0, a), (1, b), (2, c)], 'vec_id long, embedding array<double>')
        out = semdedup(df, threshold=0.99, n_clusters=1, keep='far')
        got = sorted(r['vec_id'] for r in out.collect())
        # centroid ~ normalized mean; b sits between a and the centroid,
        # so a (farther) is kept; c is no one's duplicate
        assert got == [0, 2]
        out2 = semdedup(df, threshold=0.99, n_clusters=1, keep='min')
        assert sorted(r['vec_id'] for r in out2.collect()) == [0, 2]

    def test_no_duplicates_all_survive_and_deterministic(self, spark):
        from erde_spark.scale.dedup import semdedup
        df = self._planted(spark).filter(F.col('vec_id') % 5 != 1)
        a = sorted(r['vec_id'] for r in
                   semdedup(df, threshold=0.99).collect())
        b = sorted(r['vec_id'] for r in
                   semdedup(df.repartition(13), threshold=0.99).collect())
        assert a == b == sorted(r['vec_id'] for r in df.collect())

    def test_keep_validates(self, spark):
        from erde_spark.scale.dedup import semdedup
        with pytest.raises(ValueError, match='far'):
            semdedup(self._planted(spark, 10), keep='random')


class TestD4Select:
    """D4 (arXiv:2308.12284): SemDeDup then drop the most prototypical
    proto_frac of each re-clustered survivor cluster."""

    def _planted(self, spark, n=200, dim=16):
        import numpy as np
        rng = np.random.RandomState(7)
        base = rng.normal(size=(n, dim))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        rows = [(i, [float(x) for x in
                     (base[i - 1] if i % 5 == 1 else base[i])])
                for i in range(n)]
        return spark.createDataFrame(
            rows, 'vec_id long, embedding array<double>')

    def test_dedup_phase_then_policy(self, spark):
        from erde_spark.scale.dedup import d4_select
        df = self._planted(spark)
        dbg = {}
        out = d4_select(df, threshold=0.99, proto_frac=0.25,
                        _debug_out=dbg)
        kept = sorted(r['vec_id'] for r in out.collect())
        # dedup phase removed one of each planted pair (keep='far'
        # picks per-centroid, so only the count is pinned here)
        assert len(set(kept)) == len(kept)
        ranked = dbg['ranked'].collect()
        by_cluster: dict = {}
        for r in ranked:
            by_cluster.setdefault(r['list_id'], []).append(r)
        n_kept_expect = 0
        for rows in by_cluster.values():
            csz = len(rows)
            n_drop = sum(1 for r in rows if r['_dropped'])
            assert n_drop == min(-(-csz // 4), csz - 1)  # ceil(csz/4)
            n_kept_expect += csz - n_drop
            kept_sims = [r['_sim'] for r in rows if not r['_dropped']]
            drop_sims = [r['_sim'] for r in rows if r['_dropped']]
            if kept_sims and drop_sims:
                # dropped = the most prototypical (highest centroid sim)
                assert min(drop_sims) >= max(kept_sims) - 1e-12
        assert len(kept) == n_kept_expect
        # survivors are a subset of the dedup output ids
        assert set(kept) <= {r['vec_id'] for r in df.collect()}

    def test_every_cluster_keeps_at_least_one(self, spark):
        from erde_spark.scale.dedup import d4_select
        # 3 near-identical vectors in one cluster at frac 0.9: a naive
        # ceil(0.9*3)=3 would empty the cluster; the guard keeps one
        import math
        rows = [(i, [math.cos(i * 1e-3), math.sin(i * 1e-3)])
                for i in range(3)]
        df = spark.createDataFrame(rows,
                                   'vec_id long, embedding array<double>')
        out = d4_select(df, threshold=2.0, proto_frac=0.9, n_clusters=1)
        assert out.count() == 1

    def test_proto_frac_validates(self, spark):
        from erde_spark.scale.dedup import d4_select
        with pytest.raises(ValueError, match='proto_frac'):
            d4_select(self._planted(spark, 10), proto_frac=1.0)


class TestMmrSelect:
    """MMR diversity re-rank (similarity.py::mmr_select)."""

    def _blocks(self, spark, n=30, dim=5):
        return spark.range(n).select(
            F.col('id').alias('vec_id'),
            (1 - F.col('id') / 100.0).alias('relevance'),
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda j: F.when(j == (F.col('id') / 10).cast('int'),
                                         1.0).otherwise(0.0))
            .alias('embedding'))

    def test_orthogonal_blocks_one_per_cluster(self, spark):
        from erde_spark.scale.similarity import mmr_select
        out = mmr_select(self._blocks(spark), k=3, lam=0.5)
        assert [(r['rank'], r['vec_id']) for r in out.collect()] == \
            [(0, 0), (1, 10), (2, 20)]

    def test_lambda_one_is_pure_relevance(self, spark):
        from erde_spark.scale.similarity import mmr_select
        out = mmr_select(self._blocks(spark), k=5, lam=1.0)
        assert [r['vec_id'] for r in out.collect()] == [0, 1, 2, 3, 4]

    def test_penalty_tracks_max_not_sum(self, spark):
        from erde_spark.scale.similarity import mmr_select
        import math
        # c close to a (20 deg) and far from b; after picking a then b,
        # c's penalty must be max(cos20, cos70) = cos20 — a summed
        # penalty would differ and flip the 3rd pick vs d
        vecs = {0: 0.0, 1: 90.0, 2: 20.0, 3: 45.0}
        rows = [(i, 1.0 - i * 1e-6,
                 [math.cos(math.radians(a)), math.sin(math.radians(a))])
                for i, a in vecs.items()]
        df = spark.createDataFrame(
            rows, 'vec_id long, relevance double, embedding array<double>')
        out = [r['vec_id'] for r in
               mmr_select(df, k=4, lam=0.5).collect()]
        # picks: 0 (top rel), 1 (orthogonal), then 3 (45 deg from both,
        # pen cos45) beats 2 (pen cos20)
        assert out == [0, 1, 3, 2]

    def test_pool_bounds_and_validation(self, spark):
        from erde_spark.scale.similarity import mmr_select
        df = self._blocks(spark)
        # pool smaller than corpus: only top-rel candidates compete
        out = mmr_select(df, k=3, lam=0.5, pool=10)
        assert [r['vec_id'] for r in out.collect()] == [0, 1, 2]  # one cluster only
        with pytest.raises(ValueError, match='lam'):
            mmr_select(df, lam=1.5)
        with pytest.raises(ValueError, match='positive'):
            mmr_select(df, k=0)


class TestSemDedupMaxCluster:
    """The giant-cluster guard: oversized clusters sub-split by seeded
    sign bits; exact duplicates must stay co-located."""

    def test_giant_cluster_splits_and_dups_still_drop(self, spark):
        import numpy as np
        from erde_spark.scale.dedup import semdedup
        rng = np.random.RandomState(11)
        # one tight hemisphere so kmeans makes ONE giant cluster of 300
        base = rng.normal(size=(300, 12)) * 0.05
        base[:, 0] += 1.0
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        rows = []
        for i in range(300):
            v = base[i - 1] if i % 5 == 1 else base[i]  # exact copies
            rows.append((i, [float(x) for x in v]))
        df = spark.createDataFrame(rows,
                                   'vec_id long, embedding array<double>')
        out = semdedup(df, threshold=0.9999, n_clusters=1, keep='min',
                       max_cluster=64)
        got = sorted(r['vec_id'] for r in out.collect())
        # identical vectors share every sign bit -> planted pairs stay
        # together and the %5==1 copies all drop, even though the one
        # 300-row cluster was forced through the sub-split
        assert got == [i for i in range(300) if i % 5 != 1]

    def test_small_clusters_unaffected_by_guard(self, spark):
        import numpy as np
        from erde_spark.scale.dedup import semdedup
        rng = np.random.RandomState(3)
        base = rng.normal(size=(60, 8))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
        df = spark.createDataFrame(rows,
                                   'vec_id long, embedding array<double>')
        a = sorted(r['vec_id'] for r in
                   semdedup(df, threshold=0.99).collect())
        b = sorted(r['vec_id'] for r in
                   semdedup(df, threshold=0.99, max_cluster=1000).collect())
        assert a == b == list(range(60))

    def test_guard_validates(self, spark):
        from erde_spark.scale.dedup import semdedup
        df = spark.createDataFrame([(0, [1.0, 0.0])],
                                   'vec_id long, embedding array<double>')
        with pytest.raises(ValueError, match='max_cluster'):
            semdedup(df, max_cluster=1)


class TestBloom:
    """Distributed Bloom filter + bloom-prefiltered decontamination
    (scale/bloom.py): no false negatives ever, fpp in range, and the
    decontamination output equals the exact path at any fpp."""

    def test_params_math(self):
        from erde_spark.scale.bloom import bloom_params
        m, k = bloom_params(10_000, 0.01)
        # textbook optimum: ~9.59 bits/key, k ~ 7 at 1% fpp
        assert 9.0 <= m / 10_000 <= 10.5
        assert k == 7
        import pytest as _p
        with _p.raises(ValueError, match='fpp'):
            bloom_params(10, 2.0)
        with _p.raises(ValueError, match='shard the key space'):
            bloom_params(10**12, 1e-9)

    def test_no_false_negatives_and_fpp(self, spark):
        from erde_spark.scale.bloom import bloom_contains, build_bloom
        keys = spark.range(2000).select(
            F.concat(F.lit('key-'), F.col('id')).alias('k'))
        bits, k, m = build_bloom(keys, 'k', fpp=0.01)
        # every inserted key answers true — exhaustively
        hits = keys.select(bloom_contains(bits, k, m, 'k').alias('h'))
        assert hits.filter(~F.col('h')).count() == 0
        # foreign keys: false-positive rate near the target
        foreign = spark.range(20_000).select(
            F.concat(F.lit('other-'), F.col('id')).alias('k'))
        fp = foreign.select(bloom_contains(bits, k, m, 'k').alias('h')) \
            .filter('h').count()
        assert fp / 20_000 < 0.03

    def test_build_is_partitioning_invariant(self, spark):
        from erde_spark.scale.bloom import build_bloom
        keys = spark.range(500).select(
            F.concat(F.lit('k'), F.col('id')).alias('k'))
        a = build_bloom(keys.coalesce(1), 'k', n_items=500)
        b = build_bloom(keys.repartition(13), 'k', n_items=500)
        assert a == b

    def test_decontaminate_equals_exact_path(self, spark):
        from erde_spark.scale.bloom import decontaminate_bloom
        from erde_spark.scale.text import contamination_hits
        docs = spark.read.parquet(
            '/root/testdata/sf0.001/documents.parquet')
        ev = docs.filter(F.col('doc_id') % 31 == 0)
        corpus = docs.filter(F.col('doc_id') % 31 != 0)
        # even at an absurd fpp the verify join restores exactness
        for fpp in (0.01, 0.5):
            kept = {r['doc_id'] for r in
                    decontaminate_bloom(corpus, ev, n=4, fpp=fpp)
                    .select('doc_id').collect()}
            hit = {r['doc_id'] for r in
                   contamination_hits(corpus, ev, n=4).collect()}
            all_ids = {r['doc_id'] for r in corpus.select('doc_id')
                       .collect()}
            assert kept == all_ids - hit

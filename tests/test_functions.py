"""Tests for the LLM-pipeline operators: text analysis, dedup, similarity,
multimodal plumbing (all beyond-reference; SURVEY.md §7 M6)."""

import pytest
from pyspark.sql import functions as F

from dataweb_spark.functions import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# -- text -----------------------------------------------------------------

def test_token_count_matches_python(spark, docs):
    rows = docs.select("doc_id", "text",
                       text.token_count("text").alias("n")).limit(50).collect()
    for r in rows:
        assert r["n"] == len(r["text"].split()), r["text"][:40]


def test_token_count_empty_string(spark):
    df = spark.createDataFrame([("",), ("  ",), ("one two",)], ["text"])
    vals = [r[0] for r in df.select(text.token_count("text")).collect()]
    assert vals == [0, 0, 2]


def test_text_stats_schema_and_ranges(spark, docs):
    rows = docs.limit(100).select(
        "text",
        text.char_count("text").alias("n_chars"),
        text.punct_ratio("text").alias("punct_ratio"),
        text.stopword_ratio("text").alias("stopword_ratio"),
        text.quality_score("text").alias("quality"),
        text.lang_id("text").alias("lang_pred"),
        text.fingerprint("text").alias("fingerprint")).collect()
    for r in rows:
        assert r["n_chars"] == len(r["text"])
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 <= r["quality"] <= 1.0
        assert r["lang_pred"] in (*text.LANG_MARKERS, "und")
        assert len(r["fingerprint"]) == 32


def test_fingerprint_is_dup_key(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["id", "text"])
    n = df.select(text.fingerprint("text").alias("f")).distinct().count()
    assert n == 2


# -- dedup ----------------------------------------------------------------

def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb"), (4, "bbb"), (5, "ccc")],
        ["id", "text"])
    kept = dedup.exact_dedup(df, ["text"], "id")
    assert sorted(r["id"] for r in kept.collect()) == [1, 3, 5]


def test_minhash_finds_planted_near_dups(spark, docs):
    """Plant a near-duplicate of an existing doc; the pipeline must pair it
    with its original."""
    base = docs.where("doc_id = 7").collect()[0]["text"]
    tweaked = base + " extra token"
    planted = spark.createDataFrame([(99999, tweaked)], ["doc_id", "text"])
    corpus = docs.select("doc_id", "text").unionByName(planted)
    pairs = dedup.minhash_lsh_candidates(corpus, "doc_id", "text")
    verified = dedup.jaccard_verify(corpus, pairs, "doc_id", threshold=0.6)
    hits = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert (7, 99999) in hits


def test_minhash_dedup_drops_planted(spark, docs):
    base = docs.where("doc_id = 7").collect()[0]["text"]
    planted = spark.createDataFrame([(99999, base + " x")], ["doc_id", "text"])
    corpus = docs.select("doc_id", "text").unionByName(planted)
    out = dedup.minhash_dedup(corpus, "doc_id", threshold=0.6)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 7 in ids and 99999 not in ids


def test_simhash_deterministic_and_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely unrelated content here")],
        ["id", "text"])
    rows = dict(df.select("id", dedup.simhash64("text").alias("s")).collect())
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_simhash_candidates_pair_identical(spark, docs):
    base = docs.where("doc_id = 3").collect()[0]["text"]
    planted = spark.createDataFrame([(88888, base)], ["doc_id", "text"])
    corpus = docs.select("doc_id", "text").unionByName(planted)
    cands = dedup.simhash_candidates(corpus, "doc_id", band_bits=16)
    hits = {(r["id_a"], r["id_b"]) for r in
            cands.select("id_a", "id_b").collect()}
    assert (3, 88888) in hits


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "z y x w v u")],
        ["id", "text"])
    pairs = dedup.ngram_jaccard_pairs(df, "id", threshold=0.3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got


def test_embedding_near_dups_planted(spark, emb):
    v = emb.where("vec_id = 5").collect()[0]["embedding"]
    planted = spark.createDataFrame([(77777, [x * 1.001 for x in v], 0)],
                                    "vec_id long, embedding array<float>, label int")
    corpus = emb.unionByName(planted)
    dups = dedup.embedding_near_dups(corpus, threshold=0.99)
    hits = {(r["id_a"], r["id_b"]) for r in dups.collect()}
    assert (5, 77777) in hits


@pytest.mark.parametrize("op", [
    lambda docs, emb: dedup.minhash_lsh_candidates(docs, "doc_id", "text"),
    lambda docs, emb: dedup.simhash_candidates(docs, "doc_id"),
    lambda docs, emb: dedup.embedding_near_dups(emb, threshold=0.99),
], ids=["minhash", "simhash", "embedding"])
def test_lsh_candidates_release_sql_caches(spark, docs, emb, op):
    """The banded-LSH operators persist their signature proxy only for
    the call: once the result is consumed the CacheManager (which never
    frees SQL caches on GC) holds nothing from them."""
    spark.catalog.clearCache()
    op(docs, emb).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# -- similarity -----------------------------------------------------------

def test_brute_force_topk_self_similarity(spark, emb):
    queries = emb.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.brute_force_topk(emb, queries, k=5).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3, 4, 5]
        assert all(r["neighbor_id"] != q for r in rows)
        coss = [r["cos"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert coss == sorted(coss, reverse=True)


def test_lsh_topk_overlaps_bruteforce(spark, emb):
    """LSH recall: planted exact duplicate must be found (same bucket)."""
    v = emb.where("vec_id = 1").collect()[0]["embedding"]
    queries = spark.createDataFrame([(1, v)],
                                    "query_id long, embedding array<float>")
    out = similarity.lsh_topk(emb, queries, k=3, planes=6)
    rows = out.collect()
    assert len(rows) >= 1  # at minimum some bucket-mates
    assert all(r["neighbor_id"] != 1 for r in rows)


def test_ivf_topk_recall_at_1(spark, emb):
    """IVF with nprobe=4 on 16 cells: rank-1 neighbor must match brute force
    for most queries (allow 1 miss of 5 for cell-boundary cases)."""
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding")
    bf = {r["query_id"]: r["neighbor_id"]
          for r in similarity.brute_force_topk(emb, queries, k=1).collect()}
    ivf = {r["query_id"]: r["neighbor_id"]
           for r in similarity.ivf_topk(emb, queries, k=1, n_cells=8,
                                        nprobe=4).collect()}
    agree = sum(1 for q in bf if ivf.get(q) == bf[q])
    assert agree >= 4


def test_kmeans_distributed_improves_fit_and_normalizes(spark, emb):
    """Full-corpus Lloyd iterations must return unit-norm centers and not
    degrade the mean best-cosine objective vs the warm-start sample fit."""
    import numpy as np
    from dataweb_spark.functions import similarity as S
    X = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    warm = S._spherical_kmeans(X[:64], 8, seed=7, iters=3)
    C = S.kmeans_fit_distributed(emb, 8, init_sample=64)
    assert C.shape == (8, X.shape[1])
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0)
    obj = lambda M: float(np.mean(np.max(X @ M.T, axis=1)))  # noqa: E731
    assert obj(C) >= obj(warm) - 1e-9


def test_ivf_topk_distributed_fit_recall(spark, emb):
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding")
    bf = {r["query_id"]: r["neighbor_id"]
          for r in similarity.brute_force_topk(emb, queries, k=1).collect()}
    ivf = {r["query_id"]: r["neighbor_id"]
           for r in similarity.ivf_topk(emb, queries, k=1, n_cells=8,
                                        nprobe=4,
                                        fit="distributed").collect()}
    agree = sum(1 for q in bf if ivf.get(q) == bf[q])
    assert agree >= 4


# -- multimodal -----------------------------------------------------------

def test_jpeg_catalog_no_decode_and_corrupt_rows(spark):
    """jpeg_catalog inventories header metadata distributed; a corrupt
    blob becomes a NULL-dimension 'corrupt' row, never a task failure.
    image_signature_jpeg_dc yields one signature per blob from DC
    coefficients only."""
    import pandas as pd

    media = multimodal.synthesize_jpeg_media(spark, n=16)
    corrupt = spark.createDataFrame(
        pd.DataFrame({"media_id": [999], "kind": ["image"],
                      "content": [b"not a jpeg at all"],
                      "meta": [{"format": "jpg", "width": 0, "height": 0,
                                "duration_s": None}]}),
        schema=media.schema)
    cat = multimodal.jpeg_catalog(media.unionByName(corrupt)).collect()
    by_id = {r["media_id"]: r for r in cat}
    assert len(cat) == 17
    for m in range(16):
        r = by_id[m]
        assert (r["width"], r["height"]) == (8 * (1 + m % 4),
                                             8 * (1 + m % 3))
        assert r["sampling"] == "444" and r["baseline"] == "true"
    bad = by_id[999]
    assert bad["width"] is None and bad["sampling"] == "corrupt"
    assert bad["content_bytes"] == len(b"not a jpeg at all")

    sigs = multimodal.image_signature_jpeg_dc(media).collect()
    assert len(sigs) == 16
    assert all(isinstance(r["sig64"], int) for r in sigs)


def test_media_pipeline_shapes(spark):
    media = multimodal.synthesize_media(spark, n=32)
    assert [f.name for f in media.schema.fields] == \
        ["media_id", "kind", "content", "meta"]
    frames = multimodal.frame_sample_stub(media)
    assert frames.count() == 32  # 64B blobs → 1 pseudo-frame each
    assert frames.schema["frame_bytes"].dataType.typeName() == "binary"


def test_decode_real_raises_for_compressed_formats(spark):
    # png and baseline jpg decode for real now; mp3 still needs a library
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"bytes", "mp3")
    # jpg dispatches to the real decoder, which rejects non-JPEG bytes
    with pytest.raises(ValueError):
        multimodal.decode_real(b"bytes", "jpg")


def test_bmp_roundtrip_exact():
    import numpy as np
    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 5), (8, 8), (11, 13)]:  # odd widths hit padding
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        data = multimodal.encode_bmp(px)
        assert data[:2] == b"BM"
        back = multimodal.decode_bmp(data)
        assert back.shape == (h, w, 3)
        assert (back == px).all()


def test_ppm_roundtrip_exact():
    import numpy as np
    px = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    back = multimodal.decode_ppm(multimodal.encode_ppm(px))
    assert (back == px).all()


def test_ppm_decode_with_comment_header():
    import numpy as np
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    data = b"P6\n# a comment\n2 2\n255\n" + px.tobytes()
    assert (multimodal.decode_ppm(data) == px).all()


def test_image_features_match_closed_form(spark):
    """Real BMP decode recovers exactly the synthesized pixels, so features
    equal the generator's closed form (3x+5y+7m+11c) mod 256."""
    import numpy as np
    media = multimodal.synthesize_bmp_media(spark, n=16)
    feats = {r["media_id"]: r for r in
             multimodal.extract_image_features(media).collect()}
    assert len(feats) == 16
    for m in range(16):
        w, h = 8 + m % 5, 8 + m % 3
        x = np.arange(w).reshape(1, w, 1)
        y = np.arange(h).reshape(h, 1, 1)
        c = np.arange(3).reshape(1, 1, 3)
        px = (3 * x + 5 * y + 7 * m + 11 * c) % 256
        r = feats[m]
        assert (r["width"], r["height"]) == (w, h)
        assert r["px_sum"] == int(px.sum())
        assert r["px_mean"] == round(float(px.mean()), 6)


def test_png_media_features_match_bmp_media(spark):
    """The PNG path (zlib compress + per-image filter type m%5) must
    recover the identical rasters the BMP path produces — same closed
    form, two real codecs."""
    bmp = multimodal.extract_image_features(
        multimodal.synthesize_bmp_media(spark, n=12)).collect()
    png = multimodal.extract_image_features(
        multimodal.synthesize_png_media(spark, n=12)).collect()
    assert sorted(map(tuple, bmp)) == sorted(map(tuple, png))


def test_resize_media_distributed_matches_kernel(spark):
    """resize_media over Spark equals _box_resize applied locally to the
    same synthesized rasters — and the output re-decodes (real re-encode)."""
    import numpy as np
    media = multimodal.synthesize_bmp_media(spark, n=8)
    out = {r["media_id"]: r for r in
           multimodal.resize_media(media, 5, 3).collect()}
    assert len(out) == 8
    for m in range(8):
        w, h = 8 + m % 5, 8 + m % 3
        x = np.arange(w).reshape(1, w, 1)
        y = np.arange(h).reshape(h, 1, 1)
        c = np.arange(3).reshape(1, 1, 3)
        px = ((3 * x + 5 * y + 7 * m + 11 * c) % 256).astype(np.uint8)
        want = multimodal._box_resize(px, 5, 3)
        got = multimodal.decode_bmp(bytes(out[m]["content"]))
        assert (got == want).all()
        assert out[m]["meta"]["width"] == 5
        assert out[m]["meta"]["height"] == 3


def test_audio_spectrum_finds_planted_tone(spark):
    """Every pure-tone clip's dominant FFT bin must equal the synthesized
    frequency's bin exactly (integral periods → no leakage)."""
    media = multimodal.synthesize_sine_media(spark, n=16)
    rows = {r["media_id"]: r for r in
            multimodal.extract_audio_spectrum(media).collect()}
    assert len(rows) == 16
    for m in range(16):
        r = rows[m]
        assert r["n_samples"] == 1000 and r["n_bins"] == 501
        assert r["dominant_bin"] == 25 + m % 50
        assert r["dominant_freq_hz"] == (25 + m % 50) * 8.0


def test_audio_features_mixed_wav_flac(spark):
    """A corpus mixing WAV and FLAC blobs flows through ONE
    extract_audio_features pass (container sniffed per blob), and the
    SAME samples in either container yield identical features — FLAC is
    lossless, so the kernels can't tell."""
    from pyspark.sql import functions as F
    wav = multimodal.synthesize_wav_media(spark, n=4)
    flac = multimodal.synthesize_flac_media(spark, n=4).withColumn(
        "media_id", F.col("media_id") + 100)
    feats = multimodal.extract_audio_features(wav.unionByName(flac))
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 8
    for m in range(4):
        assert rows[m]["n_samples"] == 900 + (m % 4) * 150
        assert rows[m + 100]["n_samples"] == 800 + (m % 5) * 200

    # identical samples, two containers -> identical features
    import numpy as np
    import pandas as pd
    x = (np.arange(1200) * 37 % 4096 - 2048).astype(np.int16)
    pdf = pd.DataFrame({
        "media_id": [0, 1],
        "kind": ["audio", "audio"],
        "content": [multimodal.encode_wav(x, 8000),
                    multimodal.encode_flac(x, 8000)],
        "meta": [None, None],
    })
    both = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    f0, f1 = sorted(multimodal.extract_audio_features(both).collect(),
                    key=lambda r: r["media_id"])
    assert f0.asDict(True) | {"media_id": 1} == f1.asDict(True)


def test_sample_frames_real_avi_path(spark):
    """sample_frames must emit exactly the even-indexed frames of each
    clip, re-encoded as standalone BMPs that decode back to the closed
    form — decode AVI → encode BMP → decode BMP, all real codecs."""
    import numpy as np
    media = multimodal.synthesize_avi_media(spark, n=6)
    frames = multimodal.sample_frames(media, every=2).collect()
    got = {(r["media_id"], r["frame_idx"]):
           multimodal.decode_bmp(bytes(r["content"])) for r in frames}
    expect_keys = set()
    for m in range(6):
        w, h, nf = 8 + m % 3, 6 + m % 2, 4 + m % 3
        for f in range(0, nf, 2):
            expect_keys.add((m, f))
            x = np.arange(w).reshape(1, w, 1)
            y = np.arange(h).reshape(h, 1, 1)
            c = np.arange(3).reshape(1, 1, 3)
            px = ((3 * x + 5 * y + 7 * m + 11 * c + 13 * f) % 256) \
                .astype(np.uint8)
            assert (got[(m, f)] == px).all()
    assert set(got) == expect_keys


def test_sample_frames_mixed_containers(spark):
    """A corpus mixing AVI and MP4 blobs flows through ONE sample_frames
    pass (container sniffed per blob); and the SAME footage packed in
    both containers yields identical video_signatures — cross-container
    dedup sees pixels, not bytes."""
    import numpy as np
    from pyspark.sql import functions as F
    avi = multimodal.synthesize_avi_media(spark, n=4)
    mp4 = multimodal.synthesize_mp4_media(spark, n=4).withColumn(
        "media_id", F.col("media_id") + 100)
    frames = multimodal.sample_frames(avi.unionByName(mp4), every=1)
    rows = frames.groupBy("media_id").count().collect()
    got = {r["media_id"]: r["count"] for r in rows}
    for m in range(4):
        assert got[m] == 4 + m % 3          # AVI closed form
        assert got[m + 100] == 2 + m % 4    # MP4 closed form

    # same pixels, two containers -> one signature
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 256, (3, 2, 2))
    px = np.repeat(np.repeat(vals, 8, 1), 8, 2)
    fr = np.repeat(px[:, :, :, None], 3, 3).astype(np.uint8)
    import pandas as pd
    pdf = pd.DataFrame({
        "media_id": [0, 1],
        "kind": ["video", "video"],
        "content": [multimodal.encode_avi(fr, 10, codec="MJPG",
                                          quality=75),
                    multimodal.encode_mp4(fr, 10, quality=75)],
        "meta": [None, None],
    })
    both = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    sigs = {r["media_id"]: r["signature"]
            for r in multimodal.video_signature(both).collect()}
    assert sigs[0] == sigs[1]


def test_video_signature_dedup_contract(spark):
    """Planted visual duplicates (same footage, different media_id) must
    collapse to one signature; distinct-footage clips must all differ."""
    planted = multimodal.video_signature(
        multimodal.synthesize_avi_media(spark, n=16, key_mod=8)).collect()
    sig = {r["media_id"]: r["signature"] for r in planted}
    for m in range(8):
        assert sig[m] == sig[m + 8]
    assert len(set(sig.values())) == 8
    distinct = multimodal.video_signature(
        multimodal.synthesize_avi_media(spark, n=16)).collect()
    assert len({r["signature"] for r in distinct}) == 16


def test_ahash_is_deterministic_and_discriminative(spark):
    media = multimodal.synthesize_bmp_media(spark, n=16)
    a = {r["media_id"]: r["ahash64"] for r in
         multimodal.extract_image_features(media).collect()}
    b = {r["media_id"]: r["ahash64"] for r in
         multimodal.extract_image_features(media).collect()}
    assert a == b                       # deterministic
    assert len(set(a.values())) > 1     # not a constant


def test_bpe_training_learns_planted_pair_first(spark):
    """A corpus dominated by one bigram must learn that merge first, and
    full word merges must follow: 'ababab' collapses to ONE token after
    enough merges."""
    from dataweb_spark.functions import tokenizer as TK
    docs = spark.createDataFrame(
        [(i, "ababab xy xy") for i in range(20)], "doc_id long, text string")
    wc = [(r["word"], r["n"])
          for r in TK.word_histogram(docs).collect()]
    merges = TK.train_bpe_merges(wc, 10)
    assert merges[0] == ("a", "b")
    seg = {r["doc_id"]: r for r in TK.bpe_token_stats(docs, merges).collect()}
    assert all(r["roundtrip_ok"] for r in seg.values())
    assert all(r["n_bpe_tokens"] == 3 for r in seg.values())  # 3 words→3 toks


def test_bpe_training_is_deterministic():
    from dataweb_spark.functions import tokenizer as TK
    wc = [("banana", 5), ("bandana", 3), ("cabana", 2)]
    m1 = TK.train_bpe_merges(wc, 8)
    m2 = TK.train_bpe_merges(list(reversed(wc)), 8)
    assert m1 == m2  # input order must not matter


def test_bpe_segment_respects_merge_ranks():
    """Encoding must apply the LOWEST-rank merge first (GPT-2 semantics):
    with merges [(a,b), (ab,c)], 'abc' → ['abc'], not ['a','bc']."""
    from dataweb_spark.functions.tokenizer import _segment
    ranks = {("a", "b"): 0, ("ab", "c"): 1, ("b", "c"): 2}
    assert _segment("abc", ranks) == ["abc"]
    assert _segment("xbc", ranks) == ["x", "bc"]
    assert _segment("zzz", ranks) == ["z", "z", "z"]


def test_letter_embedding_arrow_equals_expr(spark, sf_dir):
    """The Arrow bincount kernel must produce the exact integers of the
    52-expression codegen form on the real corpus."""
    from dataweb_spark.functions import text as T
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where("doc_id < 100"))
    both = docs.select(
        "doc_id", T.letter_freq_embedding("text").alias("e_expr"),
        T.letter_freq_embedding_pd("text").alias("e_arrow"))
    bad = both.where("e_expr != e_arrow").count()
    assert bad == 0


def test_audio_signature_amplitude_invariant_and_distinct(spark):
    """Half-amplitude re-masters must fingerprint identically to their
    base clip; distinct tone sequences must never collide."""
    media = multimodal.synthesize_tone_sequence_media(spark, n=12, n_dups=4)
    sigs = {r["media_id"]: r["signature"]
            for r in multimodal.audio_signature(media).collect()}
    for m in range(4):
        assert sigs[m + 12] == sigs[m]
    base = [sigs[m] for m in range(12)]
    assert len(set(base)) == 12


def test_image_phash_banding_equals_exact_all_pairs(spark):
    """8 bands × 8 bits at max_hamming 6 < 8 must have FULL recall
    (pigeonhole): the banded pair search equals brute-force all-pairs."""
    media = multimodal.synthesize_bmp_near_dups(spark, n=32, n_dups=8)
    sigs = {r["media_id"]: r["sig64"] for r in
            multimodal.image_signature(media).collect()}
    exact = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            hd = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
            if hd <= 6:
                exact.add((a, b, hd))
    banded = {(r["id_a"], r["id_b"], r["hamming"]) for r in
              multimodal.phash_near_dup_pairs(
                  multimodal.image_signature(media),
                  bands=8, max_hamming=6).collect()}
    assert banded == exact
    # every planted copy pairs with its base
    assert all(any(p[:2] == (m, m + 32) for p in banded) for m in range(8))


def test_image_phash_rejects_no_recall_guarantee():
    import pytest as _pytest
    with _pytest.raises(ValueError):
        multimodal.phash_near_dup_pairs(None, bands=4, max_hamming=6)


def test_exact_ahash_matches_closed_form_bits():
    """_ahash64_exact bit (by·8+bx) is set iff block_sum·n_px >
    total_sum·block_px — check against a direct recomputation."""
    import numpy as np
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    got = multimodal._ahash64_exact(px)
    ls = px.astype(np.int64).sum(axis=2)
    ts, tc = int(ls.sum()), 9 * 11
    want = 0
    for by in range(8):
        for bx in range(8):
            ys = [y for y in range(9) if (y * 8) // 9 == by]
            xs = [x for x in range(11) if (x * 8) // 11 == bx]
            bs = int(ls[np.ix_(ys, xs)].sum())
            if bs * tc > ts * len(ys) * len(xs):
                want |= 1 << (by * 8 + bx)
    want = want - (1 << 64) if want >= (1 << 63) else want
    assert got == want


def test_approx_sketches_error_bounds(spark, sf_dir):
    """The r5 contract form computes the bounds checks in-query: every
    boolean must come back true and the exact distinct counts must match
    an independent computation."""
    from dataweb_spark.queries import queries
    rows = {r["l_returnflag"]: r
            for r in queries()["approx_sketches"](spark, sf_dir).collect()}
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    from pyspark.sql import functions as F
    exact = {r["l_returnflag"]: r for r in (
        lineitem.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("orders"),
             F.countDistinct("l_partkey").alias("parts"))
        .collect())}
    assert set(rows) == set(exact)
    for flag, e in exact.items():
        a = rows[flag]
        assert a["exact_orders"] == e["orders"]
        assert a["exact_parts"] == e["parts"]
        for b in ("hll_orders_ok", "hll_parts_ok",
                  "median_ok", "p10_ok", "p90_ok"):
            assert a[b] is True, (flag, b)


def test_chunk_documents_windows(spark):
    from dataweb_spark.functions.text import chunk_documents
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(100))),  # 100 tokens
         (2, "a b c"),                                # 3 tokens, 1 chunk
         (3, "   ")],                                 # whitespace → no rows
        "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=64, overlap=16)
    rows = {(r["doc_id"], r["chunk_idx"]): (r["chunk_tokens"],
                                            r["chunk_text"].split()[0])
            for r in out.collect()}
    # doc 1: starts at 0, 48, 96 → chunks of 64, 52, 4 tokens
    assert rows[(1, 0)] == (64, "w0")
    assert rows[(1, 1)] == (52, "w48")
    assert rows[(1, 2)] == (4, "w96")
    assert rows[(2, 0)] == (3, "a")
    assert not any(d == 3 for d, _ in rows)


def test_repetition_metrics_edges(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"),        # one repeated bigram dominates
         (2, "w x y z"),            # all bigrams unique
         (3, "solo"),               # <2 tokens -> no bigrams
         (4, "")],                  # empty -> zeros
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            text.repetition_metrics(df).collect()}
    # doc 1: bigrams = [a b, b a, a b, b a, a b] -> top 'a b' 3/5, all dup
    assert rows[1]["n_bigrams"] == 5
    assert rows[1]["top_bigram_frac"] == 0.6
    assert rows[1]["dup_bigram_frac"] == 1.0
    assert rows[1]["distinct_token_ratio"] == round(2 / 6, 6)
    # doc 2: 3 unique bigrams
    assert rows[2]["n_bigrams"] == 3
    assert rows[2]["top_bigram_frac"] == round(1 / 3, 6)
    assert rows[2]["dup_bigram_frac"] == 0.0
    assert rows[2]["distinct_token_ratio"] == 1.0
    # docs 3/4: degenerate
    for d in (3, 4):
        assert rows[d]["n_bigrams"] == 0
        assert rows[d]["top_bigram_frac"] == 0.0
        assert rows[d]["dup_bigram_frac"] == 0.0


def test_connected_components_merges_transitively(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], ["id_a", "id_b"])
    cc = {r["node"]: r["component"]
          for r in dedup.connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}  # self-loop 9 dropped


def test_connected_components_long_chain_converges(spark):
    # a 200-node chain: naive min-propagation needs 200 rounds; pointer
    # jumping must finish within max_iter=25
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_a", "id_b"])
    out = dedup.connected_components(edges, max_iter=25)
    assert out.select("component").distinct().count() == 1
    assert out.count() == 201


def test_dup_clusters_keeper_and_size(spark):
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], ["id_a", "id_b"])
    rows = {r["keeper_id"]: r["cluster_size"]
            for r in dedup.dup_clusters(None, pairs, "doc_id").collect()}
    assert rows == {10: 3, 20: 2}


def test_scrub_pii_redacts_each_kind(spark):
    df = spark.createDataFrame(
        [("mail bob.smith+x@corp.example.co ok",),
         ("server at 192.168.1.100 port 80",),
         ("call 555-010-1234 or +44 nothing",),
         ("clean text with no pii at all",)],
        ["text"])
    out = [r[0] for r in df.select(text.scrub_pii("text")).collect()]
    assert out[0] == "mail <EMAIL> ok"
    assert out[1] == "server at <IP> port 80"
    assert out[2] == "call <PHONE> or +44 nothing"
    assert out[3] == "clean text with no pii at all"


def test_hash_bucket_deterministic_and_bounded(spark):
    df = spark.range(500)
    b = df.select(text.hash_bucket("id", 16).alias("b"))
    rows = [r["b"] for r in b.collect()]
    assert all(0 <= v < 16 for v in rows)
    rows2 = [r["b"] for r in df.select(
        text.hash_bucket("id", 16).alias("b")).collect()]
    assert rows == rows2  # same keys -> same buckets, every run
    assert len(set(rows)) > 8  # spreads across buckets


def test_deterministic_sample_rates(spark):
    df = spark.range(2000).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "a").otherwise("b"))
    flat = text.deterministic_sample(df, "id", fraction=0.25)
    assert abs(flat.count() / 2000 - 0.25) < 0.05
    strat = text.deterministic_sample(
        df, "id", stratify_col="grp",
        fractions={"a": 0.5}, default_fraction=0.0)
    got = {r["grp"]: r["n"] for r in
           strat.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert abs(got["a"] / 1000 - 0.5) < 0.1
    assert "b" not in got  # default 0.0 -> stratum fully excluded


def test_tfidf_rare_term_outranks_common(spark):
    df = spark.createDataFrame(
        [(1, "common rare rare"),
         (2, "common other other"),
         (3, "common filler filler")],
        ["doc_id", "text"])
    top = {r["doc_id"]: r["term"]
           for r in text.tfidf_top_terms(df, k=1).collect()}
    # 'common' appears in every doc (idf floor ln(4/4)+1 = 1); the
    # doc-unique term has both higher tf and higher idf -> wins
    assert top == {1: "rare", 2: "other", 3: "filler"}


def test_html_extract_tables_cells_and_headers(spark):
    """Cells come back in document order with positional indices,
    <th> flags as header (case-insensitive tags), inline tags strip,
    entities decode, and table-less docs emit nothing."""
    html = ('<html><p>pre</p><TABLE class="x"><tr><TH>Name</TH>'
            '<th>Qty</th></tr><tr><td> <b>ab</b> &amp; c </td>'
            '<td>2</td></tr></TABLE>'
            'mid<table><tr><td>solo&nbsp;cell</td></tr></table></html>')
    df = spark.createDataFrame([(0, html), (1, "<p>no tables</p>")],
                               ["doc_id", "html"])
    got = [((r.doc_id, r.table_idx, r.row_idx, r.col_idx),
            (r.is_header, r.cell_text))
           for r in text.html_extract_tables(df)
           .orderBy("doc_id", "table_idx", "row_idx", "col_idx")
           .collect()]
    assert got == [
        ((0, 0, 0, 0), (True, "Name")),
        ((0, 0, 0, 1), (True, "Qty")),
        ((0, 0, 1, 0), (False, "ab & c")),
        ((0, 0, 1, 1), (False, "2")),
        ((0, 1, 0, 0), (False, "solo cell")),
    ]


def test_encoding_quality_signals(spark):
    """Each damage class is counted by its own signal: U+FFFD, C0
    control chars, and UTF-8-as-Latin-1 mojibake digraphs; clean and
    empty docs are not suspect; the ascii ratio is an exact integer
    div (empty → 10^6)."""
    df = spark.createDataFrame(
        [(0, "clean ascii text"),
         (1, "cafÃ© naÃ¯ve"),                # 2 mojibake accents
         (2, "bad�byte�"),                   # 2 replacement chars
         (3, "ctl\x07\x1bhere"),             # 2 control chars
         (4, "â€œquoteâ€™ â€” dash"),        # 3 mojibake punct digraphs
         (5, "")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           text.encoding_quality(df).collect()}
    assert not got[0]["enc_suspect"] and got[0]["ascii_ratio_e6"] == 10**6
    assert got[1]["n_mojibake"] == 2 and got[1]["enc_suspect"]
    assert got[2]["n_replacement"] == 2
    assert got[3]["n_control"] == 2
    assert got[4]["n_mojibake"] == 3
    # exact integer div: 9 chars, 7 ascii → 7000000 div 9
    assert got[2]["ascii_ratio_e6"] == 7 * 10**6 // 9
    assert not got[5]["enc_suspect"] and got[5]["ascii_ratio_e6"] == 10**6


def test_bm25_relevance_and_length_normalization(spark):
    """BM25 contracts: a doc containing the query's rare term outranks
    docs without it; with equal tf, the SHORTER doc scores higher (the
    b-term length normalization); scores are integer fixed-point and
    the ranking is fully deterministic."""
    df = spark.createDataFrame(
        [(10, "alpha beta gamma"),                       # short, has alpha
         (11, "alpha beta gamma delta epsilon zeta eta " # long, has alpha
              "theta iota kappa"),
         (12, "beta gamma delta"),                       # no alpha
         (13, "beta gamma epsilon")],
        ["doc_id", "text"])
    qs = spark.createDataFrame([(0, "alpha")],
                               ["query_id", "query_text"])
    got = text.bm25_topk(df, qs, k=4).collect()
    ranked = [r["doc_id"] for r in got]
    assert ranked[:2] == [10, 11]          # alpha docs first, short first
    scores = {r["doc_id"]: r["score_e6"] for r in got}
    assert scores[10] > scores[11] > 0     # length normalization bites
    assert all(isinstance(r["score_e6"], int) for r in got)
    # docs without the term score 0 (no posting joins)
    assert set(ranked) <= {10, 11, 12, 13} and len(ranked) <= 4


def test_rrf_fuse_integer_scores(spark):
    """RRF fusion is exact integer arithmetic: known rank lists produce
    the closed-form rrf_e9 = Σ 10^9 div (60 + rank); a doc ranked by
    both arms beats a doc ranked once."""
    from dataweb_spark.functions import similarity as S
    a = spark.createDataFrame([(0, 1, 1), (0, 2, 2)],
                              ["query_id", "doc_id", "rank"])
    b = spark.createDataFrame([(0, 1, 2), (0, 3, 1)],
                              ["query_id", "doc_id", "rank"])
    got = {r["doc_id"]: (r["rank"], r["rrf_e9"])
           for r in S.rrf_fuse([a, b], k=3).collect()}
    e = lambda rk: 10**9 // (60 + rk)
    assert got[1] == (1, e(1) + e(2))      # both arms
    assert got[3] == (2, e(1))
    assert got[2] == (3, e(2))


def test_unigram_lm_flags_rare_token_doc(spark):
    """A document of corpus-rare tokens must score a lower average
    log-prob (higher perplexity) than documents of common tokens — the
    basic contract of a perplexity quality filter."""
    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((99, "zyxgloq vphantasm qqrux"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.unigram_lm_scores(df).collect()}
    assert len(out) == 11
    common_best = min(out[i]["avg_logp"] for i in range(10))
    assert out[99]["avg_logp"] < common_best
    assert out[99]["perplexity"] > max(out[i]["perplexity"]
                                       for i in range(10))
    assert out[0]["n_tokens"] == 6


def test_bigram_lm_flags_word_salad(spark):
    """A shuffled doc with the SAME unigrams as the common pattern must
    score lower under the bigram model — the signal unigram LM cannot
    see."""
    rows = [(i, "the cat sat down . the cat sat down .")
            for i in range(8)]
    rows.append((99, "down sat . the cat down the . sat cat"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uni = {r["doc_id"]: r["avg_logp"]
           for r in text.unigram_lm_scores(df).collect()}
    bi = {r["doc_id"]: r for r in text.bigram_lm_scores(df).collect()}
    # same token multiset -> unigram model cannot separate them (equal
    # within rounding); bigram model must
    assert abs(uni[99] - uni[0]) < 1e-6
    assert bi[99]["avg_logp"] < bi[0]["avg_logp"]
    assert bi[99]["perplexity"] > bi[0]["perplexity"]
    assert bi[0]["n_bigrams"] == 9


def test_unigram_lm_drops_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "   "), (3, "")], ["doc_id", "text"])
    ids = [r["doc_id"] for r in text.unigram_lm_scores(df).collect()]
    assert ids == [1]


def test_quantize_embeddings_roundtrip_error(spark, emb):
    q = similarity.quantize_embeddings(emb)
    rows = q.collect()
    assert all(len(r["q"]) == 64 for r in rows)
    # symmetric int8: reconstruction error bounded by scale/2 per component
    assert all(r["max_abs_err"] <= r["scale"] / 2 + 1e-9 for r in rows)
    assert all(-127 <= min(r["q"]) and max(r["q"]) <= 127 for r in rows)


def test_semantic_dedup_drops_planted_near_identical(spark):
    import numpy as np
    rng = np.random.RandomState(3)
    base = rng.randn(20, 16)
    rows = [(i, base[i].tolist()) for i in range(20)]
    # plant: 100 and 101 are near-copies of vectors 0 and 1
    rows += [(100, (base[0] + 1e-4 * rng.randn(16)).tolist()),
             (101, (base[1] + 1e-4 * rng.randn(16)).tolist())]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.semantic_dedup(df, threshold=0.99, n_cells=2).collect()
    dropped = {r["vec_id"]: r["dup_of"] for r in out if r["is_dup"]}
    assert dropped == {100: 0, 101: 1}  # keep-lowest-id, dup_of points at it
    kept = {r["vec_id"] for r in out if not r["is_dup"]}
    assert kept == set(range(20))


def test_corpus_mix_hits_target_proportions(spark):
    df = (spark.range(4000)
          .withColumn("grp", F.when(F.col("id") % 4 == 0, "a")
                              .otherwise("b")))  # 25% a, 75% b
    # ask for a 50/50 mix at 40% budget: a-rate = .4*.5*4000/1000 = 0.8,
    # b-rate = .4*.5*4000/3000 = 0.267
    out = text.corpus_mix(df, "id", "grp", {"a": 0.5, "b": 0.5},
                          out_fraction=0.4)
    got = {r["grp"]: r["n"] for r in
           out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert abs(got["a"] - 800) < 80 and abs(got["b"] - 800) < 80
    # deterministic: second run identical
    out2 = text.corpus_mix(df, "id", "grp", {"a": 0.5, "b": 0.5},
                           out_fraction=0.4)
    assert sorted(r["id"] for r in out.collect()) == \
           sorted(r["id"] for r in out2.collect())


def test_corpus_mix_unlisted_stratum_dropped(spark):
    df = spark.range(100).withColumn(
        "grp", F.when(F.col("id") < 50, "keep").otherwise("drop"))
    out = text.corpus_mix(df, "id", "grp", {"keep": 1.0}, out_fraction=0.5)
    assert out.where("grp = 'drop'").count() == 0


def test_quantized_topk_matches_float_rank1(spark, emb):
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding")
    bf = {r["query_id"]: r["neighbor_id"]
          for r in similarity.brute_force_topk(emb, queries, k=1).collect()}
    qz = {r["query_id"]: r["neighbor_id"]
          for r in similarity.quantized_topk(emb, queries, k=1).collect()}
    # int8 quantization error must not move rank-1 for most queries
    agree = sum(1 for q in bf if qz.get(q) == bf[q])
    assert agree >= 4


def test_duplicated_spans_planted_repeat(spark):
    boiler = " ".join(f"w{i}" for i in range(16))
    uniq_a = " ".join(f"a{i}" for i in range(20))
    uniq_b = " ".join(f"b{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, boiler + " " + uniq_a),
         (2, boiler + " " + uniq_b),
         (3, uniq_a + " tail tokens here")],  # uniq_a repeats doc 1
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            dedup.duplicated_spans(df, window=16).collect()}
    # docs 1 and 2 share the 16-token boilerplate prefix window
    assert rows[1]["n_dup_windows"] >= 1 and rows[2]["n_dup_windows"] >= 1
    # doc 3 shares uniq_a's 16-token windows with doc 1
    assert rows[3]["n_dup_windows"] >= 1
    for r in rows.values():
        assert 0 <= r["dup_frac"] <= 1


def test_minhash_char_shingles_catch_cjk_near_dups(spark):
    """Whitespace-free scripts: token shingling collapses a CJK doc to
    ONE shingle, so a single-char edit drops token-Jaccard to 0 and the
    near-dup is invisible; char shingling keeps J high and the LSH+verify
    pipeline must catch the planted pair."""
    base = "".join(chr(0x4E00 + (7 * i) % 300) for i in range(120))
    edited = base[:60] + chr(0x4E00 + 350) + base[61:]
    df = spark.createDataFrame(
        [(1, base), (2, edited),
         (3, "".join(chr(0x4E00 + (11 * i + 5) % 300) for i in range(120)))],
        ["doc_id", "text"])

    char_pairs = dedup.jaccard_verify(
        df, dedup.minhash_lsh_candidates(df, "doc_id", shingle_n=4,
                                         shingle="char"),
        "doc_id", shingle_n=4, threshold=0.85, shingle="char").collect()
    assert [(r["id_a"], r["id_b"]) for r in char_pairs] == [(1, 2)]
    assert char_pairs[0]["jaccard"] >= 0.9

    # token mode on the same corpus: each doc is one giant "token",
    # the edit zeroes the Jaccard, nothing pairs
    tok_pairs = dedup.jaccard_verify(
        df, dedup.minhash_lsh_candidates(df, "doc_id"),
        "doc_id", threshold=0.5).collect()
    assert tok_pairs == []


def test_remove_duplicated_spans_semantics(spark):
    """Exact-substring removal contract: the globally-first occurrence
    keeps its text verbatim; later occurrences lose exactly the
    duplicated token interval; a fully-duplicated doc survives as an
    EMPTY row (never vanishes); sub-window docs and empty docs pass
    through; token conservation holds per doc."""
    span = " ".join(f"w{i}" for i in range(6))
    df = spark.createDataFrame(
        [(1, span + " unique one two three"),
         (2, "prefix " + span + " suffix tokens here"),
         (3, span + " " + span),     # overlapping + repeated: all covered
         (4, "short doc"),
         (5, "")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            dedup.remove_duplicated_spans(df, window=6).collect()}
    assert len(rows) == 5            # every doc keeps a row
    assert rows[1]["clean_text"] == span + " unique one two three"
    assert rows[1]["n_removed"] == 0
    assert rows[2]["clean_text"] == "prefix suffix tokens here"
    assert rows[2]["n_removed"] == 6
    assert rows[3]["clean_text"] == "" and rows[3]["n_removed"] == 12
    assert rows[4]["clean_text"] == "short doc"
    assert rows[5]["clean_text"] == "" and rows[5]["n_tokens"] == 0
    for r in rows.values():
        n_kept = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert n_kept + r["n_removed"] == r["n_tokens"]


def test_contamination_check_planted_leak(spark):
    eval_text = " ".join(f"e{i}" for i in range(16))
    clean = " ".join(f"c{i}" for i in range(30))
    leaked = clean + " " + eval_text  # contains the eval span verbatim
    corpus = spark.createDataFrame(
        [(1, leaked), (2, clean + " more clean tokens here")],
        ["doc_id", "text"])
    evalset = spark.createDataFrame([(100, eval_text)], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            dedup.contamination_check(corpus, evalset).collect()}
    assert 1 in rows and rows[1]["n_contaminated"] >= 1
    assert rows[1]["n_eval_docs_hit"] == 1
    assert 2 not in rows  # clean doc absent from the report


def test_contamination_frac_bounded_with_duplicate_eval_docs(spark):
    """A corpus window present in N eval docs counts once toward
    n_contaminated — contaminated_frac must stay ≤ 1 (r1 ADVICE)."""
    eval_text = " ".join(f"e{i}" for i in range(16))
    corpus = spark.createDataFrame([(1, eval_text)], ["doc_id", "text"])
    evalset = spark.createDataFrame(
        [(100, eval_text), (101, eval_text), (102, eval_text)],
        ["doc_id", "text"])
    r = dedup.contamination_check(corpus, evalset).collect()[0]
    assert r["n_contaminated"] == 1  # one window, counted once not thrice
    assert r["n_eval_docs_hit"] == 3
    assert r["contaminated_frac"] == 1.0


def test_minhash_simhash_handle_non_ascii(spark):
    """Signatures must not crash (or drift across batches) on non-ASCII
    text — np.bytes_ coercion ASCII-encodes, so the kernel utf-8-encodes
    explicitly; verbatim CJK/accented copies must still collide."""
    base = "机器 学习 模型 训练 数据 去重 étude naïve façade " * 4
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "different tokens entirely here okay")],
        ["doc_id", "text"])
    pairs = dedup.jaccard_verify(
        df, dedup.minhash_lsh_candidates(df, "doc_id"), "doc_id",
        threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    sh = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", dedup.simhash64("text").alias("sh")).collect()}
    assert sh[1] == sh[2] != sh[3]


# -- incremental ingest dedup + bloom decontamination ---------------------

def test_dedup_against_corpus_verdicts(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "completely different corpus text about spark and arrow"),
         (3, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, "The quick brown fox jumps over the lazy dog again and again."),
         (200, "the quick brown fox jumps over the lazy dog again and again extra"),
         (300, "totally novel document with no relation to anything before"),
         # id collides with corpus id 2 but is a different document
         (2, "another unrelated fresh document that matches nothing at all")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["verdict"], r["match_id"]) for r in
           dedup.dedup_against_corpus(batch, corpus, shingle_n=2,
                                      threshold=0.5).collect()}
    assert out[100] == ("exact", 1)   # normalization kills case/punct; min id
    assert out[200][0] == "near"      # one appended token
    assert out[200][1] in (1, 3)
    assert out[300] == ("unique", None)
    assert out[2] == ("unique", None)  # id collision must not leak corpus text


def test_bloom_contamination_superset_of_exact(spark, sf_dir):
    import pyspark.sql.functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where("doc_id % 10 != 0")
    evalset = docs.where("doc_id % 10 = 0")
    bloom = {r["doc_id"]: r["n_flagged"] for r in
             dedup.bloom_contamination(corpus, evalset, window=16).collect()}
    exact = {r["doc_id"]: r["n_contaminated"] for r in
             dedup.contamination_check(corpus, evalset, window=16).collect()}
    assert exact, "planted contamination must exist"
    for doc_id, n in exact.items():
        assert bloom.get(doc_id, 0) >= n   # no false negatives, ever
    total_fp = sum(bloom.values()) - sum(exact.values())
    assert total_fp <= 10


def test_bloom_distributed_build_bit_identical(spark, sf_dir):
    """The executor-side tree-merged bit array must equal the driver-built
    one bit for bit — OR is order-independent, so partitioning must not
    matter (VERDICT r4 item 6)."""
    import numpy as np

    from dataweb_spark.functions.dedup import (
        _bloom_build,
        _bloom_build_distributed,
        _bloom_params,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                .where("doc_id < 100")
    pairs = (docs.selectExpr("explode(split(trim(text), '\\\\s+')) as w")
             .selectExpr("xxhash64(w) as h1", "xxhash64(w, 1) as h2")
             .distinct())
    n = pairs.count()
    m, k = _bloom_params(n, 1e-6)
    driver_bits = _bloom_build(
        [(r["h1"], r["h2"]) for r in pairs.collect()], m, k)
    for parts in (1, 7):
        dist_bits = _bloom_build_distributed(pairs.repartition(parts), m, k)
        assert np.array_equal(driver_bits, dist_bits), parts


def test_bloom_contamination_distributed_matches_driver(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where("doc_id % 10 != 0")
    evalset = docs.where("doc_id % 10 = 0")
    a = sorted(dedup.bloom_contamination(
        corpus, evalset, window=16, build="distributed").collect())
    b = sorted(dedup.bloom_contamination(
        corpus, evalset, window=16, build="driver").collect())
    assert a == b


def test_similarity_paths_need_no_corpus_count(spark, sf_dir, monkeypatch):
    """ivf_topk / semantic_dedup must not pre-scan the corpus just to size
    the quantizer sample (VERDICT r4 item 7): poison DataFrame.count and
    run both — the bounded limit() collect is the only driver pull."""
    from pyspark.sql import DataFrame

    from dataweb_spark.functions import similarity as S
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding")

    def _boom(self):
        raise AssertionError("full-corpus count() in similarity path")
    monkeypatch.setattr(DataFrame, "count", _boom)
    ivf = S.ivf_topk(emb, q, k=3, n_cells=4, nprobe=2)
    sem = S.semantic_dedup(emb, threshold=0.95, n_cells=4)
    monkeypatch.undo()
    assert ivf.count() == 9
    assert sem.count() == emb.count()


def test_compression_ratio_orders_redundancy(spark):
    from pyspark.sql import Row, functions as F
    from dataweb_spark.functions import text as T
    df = spark.createDataFrame([
        Row(doc_id=0, text="spam " * 500),
        Row(doc_id=1, text=" ".join(f"w{i}x{i*7%13}" for i in range(500))),
        Row(doc_id=2, text=""),
        Row(doc_id=3, text=None),
    ])
    rows = {r.doc_id: r.r for r in
            df.select("doc_id",
                      T.compression_ratio("text").alias("r")).collect()}
    assert rows[0] < rows[1]          # repetition compresses better
    assert rows[2] == 1.0 and rows[3] == 1.0
    assert all(0 < v <= 1.2 for v in rows.values())


def test_paragraph_dedup_first_occurrence_and_vanishing_doc(spark):
    from pyspark.sql import Row
    from dataweb_spark.functions.dedup import paragraph_dedup
    df = spark.createDataFrame([
        Row(doc_id=0, text="alpha\n\nbeta"),
        Row(doc_id=1, text="beta\n\ngamma"),   # beta already seen
        Row(doc_id=2, text="alpha\n\nbeta"),   # nothing new → vanishes
    ])
    out = {r.doc_id: (r.text, r.n_paras)
           for r in paragraph_dedup(df).collect()}
    assert out == {0: ("alpha\n\nbeta", 2), 1: ("gamma", 1)}


def test_html_to_text_strips_boilerplate_exactly(spark):
    from pyspark.sql import Row
    from dataweb_spark.functions import text as T
    html = ('<html><head><title>T</title><style>h1 {x}</style>'
            '<script>if (a<b && c>d) { evil(); }</script></head>'
            '<body><!-- note --><h1 class="big">Hello &amp; bye</h1>'
            '<p>One  two\tthree.</p><span>inline</span>'
            '<div>&quot;q&quot;&nbsp;&lt;tag&gt; &amp;lt;literal</div>'
            '</body></html>')
    df = spark.createDataFrame([Row(doc_id=0, text=html)])
    out = df.select(T.html_to_text("text").alias("t")).collect()[0].t
    # title/block boundaries -> newlines; script (angle brackets inside!),
    # style and comments gone; inline tags drop to spaces; entities decode
    # with &amp; LAST so '&amp;lt;' stays the literal text '&lt;'
    assert out == ('T\nHello & bye\nOne two three.\ninline\n'
                   '"q" <tag> &lt;literal')


def test_c4_line_filter_keeps_only_good_lines(spark):
    from pyspark.sql import Row
    from dataweb_spark.functions import text as T
    lines = [
        "This is a perfectly fine sentence here.",   # kept
        "Too short.",                                # <5 words
        "no terminal punctuation on this long line", # no end punct
        "Some lorem ipsum dolor sit amet filler.",   # blocklist
        "Enable JavaScript to view this site now.",  # blocklist
        "function f() { return 1; }",                # brace
        'A quoted ending works as terminal too."',   # kept
    ]
    df = spark.createDataFrame([
        Row(doc_id=0, text="\n".join(lines)),
        Row(doc_id=1, text="One good closing sentence is not enough."),
    ])
    out = {r.doc_id: r for r in T.c4_line_filter(df).collect()}
    assert out[0].n_lines == 7 and out[0].n_kept == 2
    assert out[0].clean_text == lines[0] + "\n" + lines[6]
    assert not out[0].doc_pass          # 2 kept < min_lines=3
    assert out[1].n_kept == 1 and not out[1].doc_pass
    # min_lines is tunable
    relaxed = T.c4_line_filter(df, min_lines=2).collect()
    assert {r.doc_id: r.doc_pass for r in relaxed} == {0: True, 1: False}


def test_ccnet_buckets_order_and_balance(spark, sf_dir):
    from pyspark.sql import functions as F
    from dataweb_spark.functions import text as T
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tiers = T.ccnet_buckets(docs)
    agg = (tiers.groupBy("lang", "ppl_bucket")
                .agg(F.count("*").alias("n"),
                     F.min("nll_e9").alias("lo"),
                     F.max("nll_e9").alias("hi"))
           .collect())
    by_lang = {}
    for r in agg:
        by_lang.setdefault(r.lang, {})[r.ppl_bucket] = r
    for lang, b in by_lang.items():
        assert set(b) <= {"head", "middle", "tail"}
        if {"head", "tail"} <= set(b):
            # tiers are ordered: every head doc <= every tail doc
            assert b["head"].hi <= b["tail"].lo
        # ntile keeps tier sizes within 1 of each other
        sizes = [r.n for r in b.values()]
        assert max(sizes) - min(sizes) <= 1


def test_ccnet_score_no_bigint_overflow_on_huge_doc(spark):
    """A 1.2M-token document: lp_e12 terms are ≈ −1.4e13 here (all
    tokens unique → add-1 prob 2/2.4M), so a bigint accumulator would
    wrap at ≈6.5e5 tokens and the wrapped nll_e9 would come out ≈4.6e9
    (garbage). The decimal(38,0) accumulator — the PageRank overflow
    class, fixed the same way DuckDB does (hugeint sums) — must give
    the exact per-token mean ≈ −ln(2/2.4e6)·1e9 ≈ 14.0e9."""
    from dataweb_spark.functions import text as T
    n = 1_200_000
    text = " ".join(f"a{i}" for i in range(n))
    df = spark.createDataFrame([(0, text, "en")],
                               "doc_id bigint, text string, lang string")
    row = T.ccnet_buckets(df).collect()[0]
    assert row.n_tokens == n
    # exact: every token shares one lp value, so nll_e9 = (−lp) div 1000
    assert 13_900_000_000 < row.nll_e9 < 14_100_000_000, row.nll_e9


# -- T5 span corruption -----------------------------------------------------

def _mask_bit(doc_id, p, thr):
    import hashlib
    h = hashlib.md5(f"{doc_id}:{p}".encode()).hexdigest()
    return (int(h[0], 16) * 16 + int(h[1], 16)) % 256 < thr


def test_span_corruption_matches_python_replay(spark):
    toks = [f"w{i}" for i in range(40)]
    df = spark.createDataFrame([(7, " ".join(toks))], ["doc_id", "text"])
    got = text.span_corruption_examples(df, mask_rate=0.3).first()
    # pure-python replay of the deterministic recipe
    thr = int(round(0.3 * 256))
    masked = [_mask_bit(7, p, thr) for p in range(40)]
    inp, tgt, sid = [], [], -1
    for p, (tok, m) in enumerate(zip(toks, masked)):
        start = m and (p == 0 or not masked[p - 1])
        if start:
            sid += 1
            inp.append(f"<extra_id_{sid}>")
            tgt.append(f"<extra_id_{sid}> {tok}")
        elif m:
            tgt.append(tok)
        else:
            inp.append(tok)
    assert got.input_text == " ".join(inp)
    assert got.target_text == " ".join(tgt)
    assert got.n_spans == sid + 1 and got.n_masked == sum(masked)
    assert got.n_spans >= 1  # rate 0.3 over 40 tokens: fixture masks some


def test_span_corruption_roundtrip_reconstructs_corpus(docs):
    import re as _re
    out = {r.doc_id: r for r in
           text.span_corruption_examples(
               docs.where("doc_id < 80"), mask_rate=0.25).collect()}
    orig = {r.doc_id: r.text.split() for r in
            docs.where("doc_id < 80 and length(trim(text)) > 0").collect()}
    assert set(out) == set(orig)
    for did, r in out.items():
        spans = {}
        for m in _re.finditer(r"<extra_id_(\d+)>((?: (?!<extra_id_)\S+)*)",
                              r.target_text):
            spans[m.group(1)] = m.group(2).split()
        rebuilt = []
        for piece in r.input_text.split():
            sm = _re.fullmatch(r"<extra_id_(\d+)>", piece)
            rebuilt.extend(spans[sm.group(1)] if sm else [piece])
        assert rebuilt == orig[did], did
        assert r.n_spans == len(spans)
        assert r.n_masked == sum(len(v) for v in spans.values())


def test_span_corruption_rate_zero_and_validation(docs):
    out = text.span_corruption_examples(
        docs.where("doc_id < 20"), mask_rate=0.0).collect()
    for r in out:
        assert r.n_spans == 0 and r.n_masked == 0 and r.target_text == ""
    with pytest.raises(ValueError):
        text.span_corruption_examples(docs, mask_rate=1.5)
    # positive rate below the 1/256 bucket resolution would mask nothing
    # — refused instead of silently doing so (r12, ADVICE)
    with pytest.raises(ValueError, match="1/256"):
        text.span_corruption_examples(docs, mask_rate=0.001)


def test_span_corruption_single_exchange(docs):
    import re as _re
    out = text.span_corruption_examples(docs.where("doc_id < 30"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_span_corruption_null_id_keeps_content(spark):
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    df = spark.createDataFrame(
        [(None, "a b c d e f g h")],
        StructType([StructField("doc_id", LongType()),
                    StructField("text", StringType())]))
    r = text.span_corruption_examples(df, mask_rate=0.25).first()
    total = len(r.input_text.split()) - r.n_spans + r.n_masked
    assert total == 8  # every token survives into input or target


def test_unicode_normalize_forms_and_nulls(spark):
    """NFC contracts combining sequences; NFD expands precomposed; NFKC
    folds compatibility chars; NULL passes through; bad form refused;
    result invariant under repartitioning (pure row function)."""
    import unicodedata
    rows = [
        (0, "café"),            # decomposed -> NFC contracts
        (1, "café"),             # precomposed -> NFC no-op
        (2, "ﬁle"),              # fi ligature -> NFKC folds to 'fi'
        (3, None),
        (4, "plain ascii"),
    ]
    # guard the fixture itself: if an editor/formatter ever NFC-
    # normalizes this file, row 0 stops testing anything — fail loudly
    assert [ord(c) for c in rows[0][1][-2:]] == [0x65, 0x301], \
        "source literal was normalized by tooling; restore \\u0301 form"
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nfc = {r.doc_id: r.o for r in df.select(
        "doc_id", text.unicode_normalize("text").alias("o")).collect()}
    assert nfc[0] == "café" and nfc[1] == "café"
    assert nfc[2] == "ﬁle"       # NFC keeps compatibility chars
    assert nfc[3] is None and nfc[4] == "plain ascii"
    nfkc = {r.doc_id: r.o for r in df.select(
        "doc_id", text.unicode_normalize("text", "NFKC").alias("o"))
        .collect()}
    assert nfkc[2] == "file"
    nfd = {r.doc_id: r.o for r in df.select(
        "doc_id", text.unicode_normalize("text", "NFD").alias("o"))
        .collect()}
    assert nfd[1] == "café"
    for did, t in rows:
        if t is not None:
            assert nfc[did] == unicodedata.normalize("NFC", t)
    again = {r.doc_id: r.o for r in df.repartition(7).select(
        "doc_id", text.unicode_normalize("text").alias("o")).collect()}
    assert again == nfc
    with pytest.raises(ValueError, match="normalization form"):
        text.unicode_normalize("text", "NFX")


def test_unicode_nfc_cross_engine_differential(spark):
    """The text_unicode_nfc oracle's load-bearing claim, hammered:
    Python unicodedata and DuckDB's utf8proc implement the SAME Unicode
    NFC tables — checked over 1300+ adversarial codepoints (Latin
    decomposables, Hangul syllables, kana, combining stacks,
    mathematical-alphanumeric astral chars, ligatures, and the
    COMPOSITION EXCLUSIONS U+0958 / U+0F43 / U+2F800 where naive
    recomposition goes wrong) — via Spark's actual unicode_normalize
    path on a sampled subset plus a full pure-python x duckdb sweep."""
    import unicodedata

    import duckdb
    con = duckdb.connect()
    cps = (list(range(0xC0, 0x2FF)) + list(range(0x1E00, 0x1FFF))
           + list(range(0xAC00, 0xAC40)) + list(range(0x3040, 0x30FF))
           + [0x1D400, 0x1D7D8, 0x2F800, 0xFB00, 0xFB4F, 0x0958, 0x0F43])
    tests = [chr(c) for c in cps] + ["ę́", "q̣̇",
                                     "ྷཱྀ"]
    for s in tests:
        py = unicodedata.normalize("NFC", s)
        dk = con.execute("select nfc_normalize(?)", [s]).fetchone()[0]
        assert py == dk, (hex(ord(s[0])), py, dk)
    # and through the actual Spark operator on a sampled batch
    sample = tests[::40]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sample)], "i long, text string")
    got = {r.i: r.o for r in df.select(
        "i", text.unicode_normalize("text").alias("o")).collect()}
    for i, s in enumerate(sample):
        assert got[i] == unicodedata.normalize("NFC", s)


def test_band_hashes_selectexpr_form(spark):
    """minhash_band_hashes renders its band structs as ONE selectExpr
    (r15 driver-overhead fix); this pins value equivalence against the
    Column-object form it replaced."""
    from pyspark.sql import functions as F

    from dataweb_spark.functions.dedup import (minhash_band_hashes,
                                               minhash_signature)

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, "")], "doc_id long, text string")
    num_perm, bands, rows = 16, 4, 4
    got = sorted(map(tuple, minhash_band_hashes(
        df, "doc_id", "text", num_perm, bands).collect()))
    sigd = df.select(F.col("doc_id").alias("_id"),
                     minhash_signature("text", num_perm).alias("_sig"))
    ref = sorted(map(tuple, (sigd.select("_id", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.element_at("_sig", b * rows + r + 1)
                              for r in range(rows)]).alias("bh"))
        for b in range(bands)])).alias("e"))
        .select("_id", "e.band", "e.bh")).collect()))
    assert got == ref

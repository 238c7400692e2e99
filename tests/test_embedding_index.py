"""Persisted embedding index: classify/append/gate/compact.

Completes the persisted-index trio (text ``dedup_index``, media
``media_index``, embeddings here): ingest batches classify against
on-disk band + vector tables — the corpus embeddings are never
re-signed — with exact cosine verification of bucket-mates only."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataweb_spark.functions import embedding_index as E

DIM = 64


def _unit(rng, n):
    v = rng.randn(n, DIM)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding"))


@pytest.fixture(scope="module")
def index_path(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("emb_idx") / "idx")
    params = E.build_embedding_index(corpus, path, dim=DIM)
    assert params["bands"] == 8
    return path


def _batch(spark, corpus, n_copies=3, n_novel=4, noise=0.0, seed=5):
    """n_copies near-copies of corpus vectors (ids 9000+) + n_novel
    random unit vectors (ids 9900+) — random vectors in 64-dim are
    nearly orthogonal to everything, so their verdict is 'unique' by
    construction."""
    rng = np.random.RandomState(seed)
    src = corpus.orderBy("vec_id").limit(n_copies).collect()
    rows = []
    for i, r in enumerate(src):
        v = np.array(r.embedding, dtype=np.float64)
        if noise:
            v = v + noise * rng.randn(DIM)
        v = v / np.linalg.norm(v)
        rows.append((9000 + i, [float(x) for x in v], int(r.vec_id)))
    for i, v in enumerate(_unit(rng, n_novel)):
        rows.append((9900 + i, [float(x) for x in v], None))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, src_id long")


def test_classify_exact_copies_and_novel(spark, corpus, index_path):
    batch = _batch(spark, corpus)
    out = {r.vec_id: r for r in
           E.classify_embedding_batch(
               spark, batch.drop("src_id"), index_path).collect()}
    want = {r.vec_id: r.src_id for r in batch.collect()}
    for vid, src in want.items():
        if src is not None:
            assert out[vid].verdict == "near", vid
            assert out[vid].match_id == src
            assert out[vid].cos >= 0.999
        else:
            assert out[vid].verdict == "unique", vid
            assert out[vid].match_id is None


def test_classify_small_noise_still_near(spark, corpus, index_path):
    """A lightly perturbed copy keeps cosine ≥ threshold and (with 8
    bands × 8 planes) lands in a shared bucket."""
    batch = _batch(spark, corpus, n_copies=3, n_novel=0, noise=0.02)
    out = E.classify_embedding_batch(
        spark, batch.drop("src_id"), index_path, threshold=0.95).collect()
    assert all(r.verdict == "near" for r in out)
    assert all(r.cos >= 0.95 for r in out)


def test_classify_requires_meta(spark, corpus, tmp_path):
    with pytest.raises(ValueError, match="missing meta.json"):
        E.classify_embedding_batch(spark, corpus, str(tmp_path / "nope"))


def test_gate_admits_novel_rejects_copies_across_batches(spark, corpus,
                                                         tmp_path):
    path = str(tmp_path / "idx")
    E.build_embedding_index(corpus, path, dim=DIM)
    drop = str(tmp_path / "drop")
    n0 = spark.read.parquet(f"{path}/vecs").count()

    def _drain(cp):
        schema = spark.read.parquet(drop).schema
        stream = (spark.readStream.schema(schema)
                  .format("parquet").load(drop))
        q = E.embedding_ingest_gate(stream, path, str(tmp_path / cp),
                                    threshold=0.92)
        assert q.awaitTermination(300)

    # batch 1: 2 corpus copies (rejected), 3 novel (admitted), plus a
    # within-batch near-pair of one novel vector (higher id drops)
    b1 = _batch(spark, corpus, n_copies=2, n_novel=3, seed=11)
    dup_of_novel = b1.where("vec_id = 9900") \
        .select(F.lit(9999).alias("vec_id"), "embedding",
                F.lit(None).cast("long").alias("src_id"))
    b1.unionByName(dup_of_novel).drop("src_id") \
        .write.mode("append").parquet(drop)
    _drain("cp1")
    vecs = spark.read.parquet(f"{path}/vecs")
    admitted1 = {r.id for r in vecs.where("id >= 9000").collect()}
    assert admitted1 == {9900, 9901, 9902}
    assert vecs.count() == n0 + 3

    # batch 2: a copy of a batch-1-admitted vector is now rejected
    # (cross-batch), and one new novel vector is admitted
    rng = np.random.RandomState(23)
    b2 = spark.createDataFrame(
        [(9950, [float(x) for x in
                 vecs.where("id = 9901").collect()[0].vec]),
         (9951, [float(x) for x in _unit(rng, 1)[0]])],
        "vec_id long, embedding array<float>")
    b2.write.mode("append").parquet(drop)
    _drain("cp2")
    vecs2 = spark.read.parquet(f"{path}/vecs")
    assert {r.id for r in vecs2.where("id >= 9950").collect()} == {9951}

    # replay: the same drop dir with a fresh checkpoint re-plays every
    # file; no new admissions, no duplicate vector ids
    _drain("cp_replay")
    vecs3 = spark.read.parquet(f"{path}/vecs")
    assert vecs3.select("id").distinct().count() == n0 + 4
    E.compact_embedding_index(spark, path)
    vecs4 = spark.read.parquet(f"{path}/vecs")
    assert vecs4.count() == n0 + 4  # compaction drops replay dup rows
    # classification still works against the compacted index
    out = E.classify_embedding_batch(
        spark, b2.where("vec_id = 9950"), path).collect()[0]
    assert out.verdict == "near" and out.match_id == 9901


def test_classify_releases_sql_caches(spark, corpus, index_path):
    """classify returns a materialized verdict and leaves no SQL cache
    behind — a long-lived gate classifies one batch per micro-batch."""
    batch = _batch(spark, corpus).drop("src_id")
    spark.catalog.clearCache()
    out = E.classify_embedding_batch(spark, batch, index_path)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert out.count() == batch.count()


def test_classify_plan_has_no_cartesian(spark, corpus, index_path):
    # r16: the public classify returns an eagerly-materialized verdict
    # (its own plan is an RDD scan) — assert on the LAZY plan that the
    # materialization executes.
    batch = _batch(spark, corpus).drop("src_id")
    lazy, caches = E._classify_embedding_plan(spark, batch, index_path,
                                              0.92)
    try:
        plan = lazy._jdf.queryExecution().executedPlan().toString()
    finally:
        for df in caches:
            df.unpersist()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

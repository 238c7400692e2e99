"""Persisted embedding index — the steady-state shape for SEMANTIC
ingest dedup.

:func:`dedup.embedding_near_dups` recomputes every corpus vector's band
signatures on EVERY run: fine for a one-off backfill, wrong for steady
state, where at 100 TB each ingest batch would re-scan the whole
embedding corpus.  This module materializes the derived state once —
the same pattern as the text index (``dedup_index.py``) and the media
index (``media_index.py``), completing the trio — as two narrow parquet
tables

    ``{path}/bands``  (id, band, sig)   — hyperplane band signatures
    ``{path}/vecs``   (id, vec)         — float32 vectors, verify-only
    ``{path}/meta.json``                — signature params, checked on read

and classifies each new batch against THOSE.  Candidates are vectors
sharing any hyperplane band bucket with a batch vector (banded LSH —
never all-pairs); the exact cosine verify reads ONLY the candidates'
vectors, pruned at the scan by a broadcast id list, so a candidate-free
batch ships zero corpus vectors.  Admitted vectors append their rows
(:func:`append_embedding_batch`); nothing is ever rebuilt.

Signature params load from ``meta.json`` and are REQUIRED (the media
index lesson: a fallback default silently fingerprints at mismatched
params and collapses recall — hard-fail instead).

No reference counterpart (greenfield pipeline layer); the banded
hyperplane scheme is the SemDeDup/ANN-standard one already used by
``dedup.embedding_near_dups`` and ``similarity.lsh_topk``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataweb_spark.functions.dedup_index import (_concurrent_writes,
                                                 _fs_write_text,
                                                 load_params_file,
                                                 read_index_table,
                                                 record_table_schemas)
from dataweb_spark.functions.similarity import (cosine_pd,
                                                hyperplane_signatures)

_META = "meta.json"


def _band_rows(df: DataFrame, params: dict) -> DataFrame:
    """(id, band, sig) — all bands in ONE Arrow matmul pass."""
    sigs = hyperplane_signatures(params["vec_col"], params["planes"],
                                 params["bands"], params["seed"],
                                 params["dim"])
    return (df.select(F.col(params["id_col"]).alias("id"),
                      F.posexplode(sigs).alias("band", "sig")))


def _vec_rows(df: DataFrame, params: dict) -> DataFrame:
    return df.select(F.col(params["id_col"]).alias("id"),
                     F.col(params["vec_col"]).cast("array<float>")
                      .alias("vec"))


def build_embedding_index(corpus: DataFrame, path: str,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          planes: int = 8, bands: int = 8,
                          seed: int = 7, dim: int = 64) -> dict:
    """One corpus pass → persisted band + vector tables + params.

    Both tables are written from the same logical scan, each map-only
    (the signature kernel is one numpy matmul per Arrow batch — no
    shuffle, no all-pairs).  Returns the persisted params dict."""
    params = {"planes": planes, "bands": bands, "seed": seed, "dim": dim,
              "id_col": id_col, "vec_col": vec_col}
    band_rows = _band_rows(corpus, params)
    vec_rows = _vec_rows(corpus, params)
    record_table_schemas(params, bands=band_rows, vecs=vec_rows)
    # independent outputs from the same logical scan: overlap the two
    # map-only write jobs exactly as build_dedup_index does (r15, §2.6)
    _concurrent_writes(
        lambda: band_rows.write.mode("overwrite")
                         .parquet(os.path.join(path, "bands")),
        lambda: vec_rows.write.mode("overwrite")
                        .parquet(os.path.join(path, "vecs")))
    _fs_write_text(corpus.sparkSession, os.path.join(path, _META),
                   json.dumps(params))
    return params


def load_embedding_params(path: str,
                          spark: SparkSession | None = None) -> dict:
    """Params from ``meta.json`` (shared loader,
    ``dedup_index.load_params_file``).  Missing file → ValueError, never
    a default: bands computed at mismatched planes/seed/dim silently
    match nothing."""
    return load_params_file(path, "an embedding index", spark)


def classify_embedding_batch(spark: SparkSession, new_batch: DataFrame,
                             path: str,
                             threshold: float = 0.92) -> DataFrame:
    """``(id, verdict, match_id, cos)`` for every new vector — ``near``
    (some indexed vector shares a band bucket AND verifies at exact
    cosine ≥ threshold; ``match_id`` is the highest-cosine such vector,
    id-min tiebreak) or ``unique``.

    Scale shape: the batch side is broadcast into both joins; the index
    tables stream.  Verification is exact cosine over candidate pairs
    only — banded LSH bounds the candidate count, and false "near"s are
    impossible (every verdict is verified); misses are the standard LSH
    recall trade, tuned by bands × planes.

    The verdict (one narrow row per batch vector) is materialized
    eagerly and the batch cache is released before returning — the
    CacheManager holds SQL caches until an explicit unpersist, so a
    long-lived gate would otherwise keep one dead cache per batch."""
    lazy, caches = _classify_embedding_plan(spark, new_batch, path,
                                            threshold)
    try:
        return lazy.localCheckpoint(eager=True)
    finally:
        for df in caches:
            df.unpersist()


def _classify_embedding_plan(spark: SparkSession, new_batch: DataFrame,
                             path: str, threshold: float
                             ) -> tuple[DataFrame, list[DataFrame]]:
    """The LAZY classify plan plus the frames persisted for it (callers
    materialize once, then unpersist every returned frame — plan-shape
    tests inspect the lazy form directly)."""
    params = load_embedding_params(path, spark)
    id_col = params["id_col"]
    band_idx = read_index_table(spark, path, "bands", params)
    vec_idx = read_index_table(spark, path, "vecs", params)

    new_batch = new_batch.persist()
    new_bands = _band_rows(new_batch, params) \
        .withColumnRenamed("id", "_nid")
    cands = (band_idx.join(F.broadcast(new_bands), ["band", "sig"])
             .select(F.col("_nid"), F.col("id").alias("_cid"))
             .distinct())
    # Fetch vectors ONLY for candidate index ids: broadcast the id
    # list so the vecs scan prunes and needs no shuffle.
    cand_ids = cands.select(F.col("_cid").alias("id")).distinct()
    cand_vecs = (vec_idx.join(F.broadcast(cand_ids), "id")
                 .select(F.col("id").alias("_cid"),
                         F.col("vec").alias("_cv")))
    new_vecs = _vec_rows(new_batch, params) \
        .select(F.col("id").alias("_nid"), F.col("vec").alias("_nv"))
    verified = (cands
                .join(F.broadcast(new_vecs), "_nid")
                .join(cand_vecs, "_cid")
                .withColumn("_cos", cosine_pd(
                    F.col("_nv").cast("array<double>"),
                    F.col("_cv").cast("array<double>")))
                .where(F.col("_cos") >= threshold))
    from pyspark.sql import Window
    w = Window.partitionBy("_nid").orderBy(F.desc("_cos"),
                                           F.asc("_cid"))
    near = (verified.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(F.col("_nid"),
                    F.col("_cid").alias("match_id"),
                    F.round(F.col("_cos"), 6).alias("cos"))
            .withColumn("verdict", F.lit("near")))
    out = (new_batch.select(F.col(id_col).alias("_nid"))
           .join(near, "_nid", "left")
           .select(F.col("_nid").alias(id_col),
                   F.coalesce(F.col("verdict"), F.lit("unique"))
                    .alias("verdict"),
                   F.col("match_id"), F.col("cos")))
    return out, [new_batch]


def append_embedding_batch(admitted: DataFrame, path: str) -> None:
    """Append index rows for admitted vectors — no rebuild, no corpus
    rescan.  The two table appends run concurrently (independent
    outputs, shared input scan)."""
    params = load_embedding_params(path)
    _concurrent_writes(
        lambda: _band_rows(admitted, params).write.mode("append")
                .parquet(os.path.join(path, "bands")),
        lambda: _vec_rows(admitted, params).write.mode("append")
                .parquet(os.path.join(path, "vecs")))


def embedding_ingest_gate(stream_df: DataFrame, index_path: str,
                          checkpoint: str, threshold: float = 0.92,
                          compact_every: int | None = None):
    """Streaming semantic-dedup ingest: ``readStream →
    foreachBatch(classify → admit)`` — exactly the batch classify/append
    code, one implementation for both modes (the repo-wide rule; same
    shape as ``dedup_index.streaming_ingest_gate`` and
    ``media_index.streaming_media_gate``).

    Per micro-batch: collapse within-batch near-dups pair-greedily
    (:func:`dedup.embedding_near_dups` with the index's own params —
    the higher id of every verified pair drops), classify survivors
    against the persisted index, append unique vectors' rows.  State
    lives entirely on disk; the stream restarts from the checkpoint
    with nothing to rebuild.

    Replay idempotency: the batch anti-joins the vecs table on id
    before classification — a replayed vector is re-appended to the
    index tables only (covering the crash window between the two
    concurrent appends); duplicate index rows are harmless (classify
    min/max-reduces per id) and dropped by
    :func:`compact_embedding_index`.  Admit/replay decisions are staged
    durably under the checkpoint BEFORE any append — appending refreshes
    the very tables the decisions were computed from, and a
    lineage-recompute after the append would self-match the batch
    (the dedup-gate lesson).  Precondition: ``id_col`` is a stable
    unique key across the stream.

    ``compact_every=N`` compacts both tables after every N-th epoch
    (epochs are sequential within a stream, so mid-ingest compaction is
    safe here and only here).  Returns the started StreamingQuery."""
    from dataweb_spark.functions.dedup import embedding_near_dups

    params = load_embedding_params(index_path)
    id_col, vec_col = params["id_col"], params["vec_col"]

    def _gate(batch: DataFrame, _epoch: int) -> None:
        spark_b = batch.sparkSession
        # within-batch pair-greedy collapse at the SAME signature params
        pairs = embedding_near_dups(batch, id_col, vec_col,
                                    planes=params["planes"],
                                    bands=params["bands"],
                                    seed=params["seed"],
                                    dim=params["dim"],
                                    threshold=threshold)
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
        # the collapsed batch feeds three consumers (replay semi-join,
        # classify, staging write); classify releases its own input
        # cache at return (r16), so the gate caches the collapse for
        # this micro-batch and drops it in the finally
        firsts = batch.join(drop, id_col, "left_anti").persist()
        try:
            vec_ids = (spark_b.read.parquet(f"{index_path}/vecs")
                       .select(F.col("id").alias(id_col)))
            replayed = firsts.join(vec_ids, id_col, "semi")
            fresh = firsts.join(vec_ids, id_col, "left_anti")
            verdicts = classify_embedding_batch(spark_b, fresh,
                                                index_path, threshold)
            admitted = fresh.join(
                verdicts.where(F.col("verdict") == "unique")
                        .select(id_col),
                id_col)
            staging = os.path.join(checkpoint, "_gate_staging")
            admitted.unionByName(replayed) \
                .write.mode("overwrite").parquet(staging)
        finally:
            firsts.unpersist()
        append_embedding_batch(spark_b.read.parquet(staging), index_path)
        if compact_every and (_epoch + 1) % compact_every == 0:
            compact_embedding_index(spark_b, index_path)

    return (stream_df.writeStream
            .foreachBatch(_gate)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def compact_embedding_index(spark: SparkSession, path: str,
                            target_file_mb: int = 256) -> tuple[int, int]:
    """Periodic maintenance, same contract as
    ``dedup_index.compact_index``: rewrite both tables to ~target-size
    files via the atomic-swap compactor, dropping the exact-duplicate
    rows crash-replayed gate epochs can leave.  Returns the new
    (band_files, vec_files) counts.  Run between drains (or via the
    gate's ``compact_every``), never concurrently with one."""
    from dataweb_spark.functions.scale import compact_parquet

    load_embedding_params(path, spark)  # refuse a non-index directory
    return (compact_parquet(spark, os.path.join(path, "bands"),
                            target_file_mb, drop_duplicates=True),
            compact_parquet(spark, os.path.join(path, "vecs"),
                            target_file_mb, drop_duplicates=True))

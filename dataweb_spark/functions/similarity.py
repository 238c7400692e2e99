"""Similarity search over embedding columns (beyond-reference).

Three tiers, all DataFrame-native:

* :func:`brute_force_topk` — exact cosine top-k. The corpus×query product is
  expressed as a broadcast join (queries are the small side); the per-pair
  dot product is `F.zip_with` + `F.aggregate` (JVM, sequential sum — bitwise
  identical to the DuckDB oracle). Exact baseline; cost O(|corpus|·|queries|).
* :func:`hyperplane_signature` / :func:`lsh_topk` — random-hyperplane LSH:
  one bucket join instead of a full product; recall < 1, cost ~O(n).
* :func:`ivf_topk` — IVF: spherical k-means coarse quantizer fit driver-side
  on a bounded sample (the quantizer never sees the full corpus — same
  regime as FAISS IVF training), corpus assigned to nearest centroid in one
  Arrow-batched map pass, queries probe ``nprobe`` cells. The 100 TB path:
  the corpus shuffle is one-time, queries touch a fraction.

Kernel choice: per-pair scalar dots on the *exact* path stay as codegen
expressions (oracle-exact summation order); bulk vector×matrix work
(signatures, cell assignment, approximate scoring) runs in Arrow-batched
Pandas UDFs — numpy matmul is ~100× faster than interpreted higher-order
functions for dense linear algebra.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column) -> Column:
    """Sequential-sum dot product (codegen expression; oracle-exact)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def normalize(v: Column) -> Column:
    n = l2_norm(v)
    return F.transform(v, lambda x: x / n)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_pd(a: Column, b: Column) -> Column:
    """Arrow-batched cosine — bulk kernel for approximate paths.

    (UDF created per call: registration needs an active SparkSession,
    so module import stays session-free.)"""
    @pandas_udf("double")
    def f(x: pd.Series, y: pd.Series) -> pd.Series:
        A = np.array(x.tolist(), dtype=np.float64)
        B = np.array(y.tolist(), dtype=np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / np.maximum(den, 1e-300))
    # asNondeterministic: stop the optimizer duplicating the kernel when
    # a pushed threshold filter references its output column (guide
    # §4.4); the function itself is deterministic.
    return f.asNondeterministic()(a, b)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     kernel: str = "expr") -> DataFrame:
    """Exact cosine top-k per query. Queries broadcast; ties broken by
    neighbor id for full determinism. Self-matches excluded.
    ``kernel="expr"`` scores with the sequential-sum codegen expression
    (oracle-exact for any floats); ``kernel="arrow"`` scores with the
    Arrow-batched numpy kernel — pick it for bulk scoring, and note it is
    STILL oracle-exact whenever the vectors are integer-valued (sums of
    integers are order-independent)."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("_cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("_qv"))
    cos_fn = cosine_pd if kernel == "arrow" else cosine
    scored = (c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
               .withColumn("cos", cos_fn(F.col("_cv"), F.col("_qv"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "rank",
                          F.round("cos", 6).alias("cos")))


def rrf_fuse(ranked: list[DataFrame], k: int = 10, k_rrf: int = 60,
             id_col: str = "doc_id") -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of N retrieval systems'
    rankings — the standard way to combine the BM25 lexical arm with
    the embedding-cosine dense arm in a hybrid RAG stack. Each input is
    a (query_id, rank, id_col) ranking; a document's fused score is

        rrf_e9 = Σ_systems  10^9 div (k_rrf + rank)

    — INTEGER arithmetic throughout (ranks are ints, div is exact), so
    the fused ordering is bit-identical across engines. Documents
    absent from a system's list contribute nothing for it. Returns the
    top-``k`` per query by (rrf_e9 DESC, id).

    Precondition: each input ranking holds ONE row per (query_id,
    ``id_col``) — the shape a top-k retrieval emits. Duplicate
    (query, doc) rows within one system would each add their
    reciprocal-rank term to ``rrf_e9`` (double-counting that system's
    vote); dedup upstream if a ranking can repeat documents.

    Shape: union of the (already tiny: ≤ per-system k per query) rank
    lists → one re-agg on (query, id) → windowed top-k. Cost is
    O(queries · Σ per-system k) — the fusion never touches the corpus."""
    from pyspark.sql import Window
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranking DataFrame")
    parts = [r.select("query_id", F.col(id_col), F.col("rank"))
             for r in ranked]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scores = (u.groupBy("query_id", id_col)
              .agg(F.sum(F.expr(f"1000000000 div ({k_rrf} + rank)"))
                   .cast("bigint").alias("rrf_e9")))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_e9"), id_col)
    return (scores.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("int").alias("rank"),
                    id_col, "rrf_e9"))


def _random_planes(dim: int, planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(planes, dim)


def hyperplane_signature(vec_col, planes: int = 12, seed: int = 7,
                         dim: int = 64) -> Column:
    """Random-hyperplane LSH signature (bigint bucket id).

    One numpy matmul per Arrow batch: bits = (V @ Pᵀ ≥ 0), packed into an
    int64. Deterministic (seeded plane matrix, closed over the UDF).
    """
    M = _random_planes(dim, planes, seed).T  # dim × planes
    weights = (1 << np.arange(planes)).astype(np.int64)

    @pandas_udf("long")
    def sig(v: pd.Series) -> pd.Series:
        A = np.array(v.tolist(), dtype=np.float64)
        bits = (A @ M) >= 0
        return pd.Series((bits @ weights).astype(np.int64))

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    # asNondeterministic: bucket-equality join conditions derived from
    # this column otherwise re-evaluate the kernel per pushed predicate
    # (observed as stacked ArrowEvalPython pairs; guide §4.4).
    return sig.asNondeterministic()(v.cast("array<double>"))


def hyperplane_signatures(vec_col, planes: int = 6, bands: int = 8,
                          seed: int = 7, dim: int = 64) -> Column:
    """All ``bands`` hyperplane signatures in ONE Arrow batch pass —
    a single (dim × bands·planes) matmul, packed per band into an
    array<bigint>. Use with ``posexplode`` for banded-LSH self-joins;
    one Python worker round-trip instead of one per band."""
    rng_mats = [_random_planes(dim, planes, seed + 101 * b).T
                for b in range(bands)]
    M = np.concatenate(rng_mats, axis=1)          # dim × bands·planes
    weights = (1 << np.arange(planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def sig(v: pd.Series) -> pd.Series:
        A = np.array(v.tolist(), dtype=np.float64)
        bits = ((A @ M) >= 0).reshape(len(A), len(rng_mats), -1)
        packed = bits @ weights                   # n × bands
        return pd.Series(packed.astype(np.int64).tolist())

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    # asNondeterministic: see hyperplane_signature (guide §4.4).
    return sig.asNondeterministic()(v.cast("array<double>"))


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", planes: int = 8,
             seed: int = 7, dim: int = 64) -> DataFrame:
    """Approximate top-k: candidates share the hyperplane bucket, then exact
    cosine rank within candidates. One shuffle keyed by bucket."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("_cv"),
                      hyperplane_signature(vec_col, planes, seed, dim)
                      .alias("_bkt"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("_qv"),
                       hyperplane_signature(vec_col, planes, seed, dim)
                       .alias("_bkt"))
    # r15: verify with the sequential-sum codegen cosine (was the
    # Arrow/pandas kernel — an extra Python stage shipping both vectors
    # per candidate across the JVM boundary; guide §4.1). r16 (advisor):
    # guard the denominator like cosine_pd / quantized_topk._icos do — a
    # zero vector in a shared bucket would otherwise score NaN, which
    # sorts GREATEST under desc and ranks the degenerate vector first.
    def _gcos(a, b):
        return dot(a, b) / F.greatest(l2_norm(a) * l2_norm(b),
                                      F.lit(1e-300))

    scored = (c.join(F.broadcast(q), on="_bkt")
               .where(F.col("neighbor_id") != F.col("query_id"))
               .withColumn("cos", _gcos(F.col("_cv"), F.col("_qv"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "rank",
                          F.round("cos", 6).alias("cos")))


def _quantizer_sample(raw: DataFrame, vec_field: str, target: int,
                      seed: int, sample_fraction: float | None) -> np.ndarray:
    """Bounded driver-side training sample WITHOUT a full corpus pre-scan.

    The previous shape (``raw.count()`` to size an exact sampling fraction)
    cost one full pass over the corpus per call before any useful work — at
    100 TB that is the dominant cost. ``limit(target)`` plans as
    CollectLimitExec, which executes partitions incrementally and stops once
    ``target`` rows are collected, so this reads O(target) rows regardless
    of corpus size. The default trains the quantizer on the corpus prefix
    (FAISS-style bounded training set; at or below ``target`` rows it is the
    whole corpus, identical to the old behavior). Pass ``sample_fraction``
    to put a Bernoulli sample in front of the limit when the corpus prefix
    is pathologically clustered — one fractional scan buys unbiased
    training."""
    df = raw if sample_fraction is None \
        else raw.sample(sample_fraction, seed=seed)
    rows = df.select(vec_field).limit(target).toPandas()
    return np.array(rows[vec_field].tolist(), dtype=np.float64)


def _spherical_kmeans(X: np.ndarray, k: int, seed: int,
                      iters: int = 10) -> np.ndarray:
    """Driver-side spherical k-means (k-means++ init, Lloyd iterations) on
    l2-normalized rows. Input is a bounded sample — O(sample·k·dim)."""
    rng = np.random.RandomState(seed)
    centers = [X[rng.randint(len(X))]]
    for _ in range(k - 1):
        d2 = np.min([np.sum((X - c) ** 2, axis=1) for c in centers], axis=0)
        tot = d2.sum()
        if tot <= 0:
            centers.append(X[rng.randint(len(X))])
        else:
            centers.append(X[rng.choice(len(X), p=d2 / tot)])
    C = np.array(centers)
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def _nearest_cells_udf(centers: np.ndarray, n: int):
    """array<double> (normalized) → array<int> of the n nearest cell ids
    (cosine = dot on normalized inputs); one matmul per Arrow batch."""
    Ct = centers.T

    @pandas_udf("array<int>")
    def f(v: pd.Series) -> pd.Series:
        A = np.array(v.tolist(), dtype=np.float64)
        S = A @ Ct
        idx = np.argsort(-S, axis=1, kind="stable")[:, :n]
        return pd.Series(idx.astype(np.int32).tolist())

    return f


def quantize_embeddings(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q = round(v * 127 / max|v|)``.

    4× smaller than float32 (32× vs the float64 compute form) — the standard
    storage/bandwidth trick before ANN at 100 TB scale. Pure codegen
    expressions (transform + aggregate), no Python; exact SQL equivalent
    exists so the DuckDB oracle can verify. Zero vectors get scale 0 and
    all-zero codes.
    """
    v = F.col(vec_col).cast("array<double>")
    absmax = F.aggregate(F.transform(v, lambda x: F.abs(x)),
                         F.lit(0.0), lambda acc, x: F.greatest(acc, x))
    scale = absmax / F.lit(127.0)
    q = F.when(absmax == 0,
               F.transform(v, lambda x: F.lit(0).cast("tinyint"))) \
         .otherwise(F.transform(
             v, lambda x: F.round(x / scale).cast("tinyint")))
    recon_err = F.when(absmax == 0, F.lit(0.0)).otherwise(F.aggregate(
        F.zip_with(v, q, lambda x, c: F.abs(x - c * scale)),
        F.lit(0.0), lambda acc, x: F.greatest(acc, x)))
    return df.select(
        F.col(id_col),
        F.round(scale, 9).alias("scale"),
        q.alias("q"),
        F.round(recon_err, 9).alias("max_abs_err"))


def quantized_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id") -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors.

    The 100 TB memory-bandwidth play: both sides are symmetric-int8 codes
    (4× less IO than float32; int dot products), scores rescale by
    ``scale_a·scale_b`` — cosine ordering is preserved up to quantization
    error. Same broadcast-join shape as :func:`brute_force_topk`; the
    scoring kernel is one Arrow-batched int matmul-style pass. Rerank the
    top candidates with float vectors when exact order matters.
    """
    cq = quantize_embeddings(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("scale").alias("_cs"), F.col("q").alias("_cq"))
    qq = quantize_embeddings(queries, query_id_col, vec_col).select(
        F.col(query_id_col).alias("query_id"),
        F.col("scale").alias("_qs"), F.col("q").alias("_qq"))

    # r15: score with codegen integer dot/norm expressions (was an
    # Arrow/pandas kernel — a Python stage shipping both int8 code
    # arrays per candidate pair across the JVM boundary; guide §4.1).
    # Bit-identical to the numpy kernel AND the oracle: int8·int8
    # products and their sums are exact integers in double, so the one
    # inexact step per side is the same IEEE sqrt/multiply/divide.
    def _icos(a, b):
        ad = F.transform(a, lambda x: x.cast("double"))
        bd = F.transform(b, lambda x: x.cast("double"))
        den = l2_norm(ad) * l2_norm(bd)
        return dot(ad, bd) / F.greatest(den, F.lit(1e-300))

    scored = (cq.join(F.broadcast(qq),
                      F.col("neighbor_id") != F.col("query_id"))
                .withColumn("cos_q", _icos(F.col("_cq"), F.col("_qq"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_q"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "rank",
                          F.round("cos_q", 6).alias("cos_q")))


def semantic_dedup(corpus: DataFrame, threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   n_cells: int = 16, seed: int = 7,
                   sample_per_cell: int = 100,
                   sample_fraction: float | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings with the
    IVF coarse quantizer, then within each cell greedily keep the
    lowest-id representative of every cosine ≥ ``threshold`` neighborhood.

    Scale shape: the quadratic term is bounded per cell (O(Σ cell²·dim), not
    O(n²·dim)) — grow ``n_cells`` with the corpus so cells stay ~constant
    size. One shuffle (groupBy cell); the pairwise pass is an Arrow-batched
    ``applyInPandas`` matmul per cell. Deterministic: seeded quantizer,
    id-ordered greedy sweep.

    Returns one row per input: (id, cell, is_dup, dup_of, max_sim) where
    ``dup_of`` is the kept lower-id neighbor for dropped rows (NULL for
    keepers) and ``max_sim`` is the similarity to it.
    """
    raw = corpus.select(F.col(id_col).alias("_id"),
                        F.col(vec_col).cast("array<double>").alias("_cv"))
    target = sample_per_cell * n_cells
    X = _quantizer_sample(raw, "_cv", target, seed, sample_fraction)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = _spherical_kmeans(X, n_cells, seed)
    cell1 = _nearest_cells_udf(C, 1)
    assigned = raw.select(
        "_id", "_cv", F.element_at(cell1(F.col("_cv")), 1).alias("cell"))

    out_schema = (f"{id_col} long, cell int, is_dup boolean, "
                  f"dup_of long, max_sim double")

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        A = np.array(pdf["_cv"].tolist(), dtype=np.float64)
        A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
        S = A @ A.T
        ids = pdf["_id"].to_numpy()
        kept: list[int] = []
        is_dup = np.zeros(len(pdf), dtype=bool)
        dup_of = np.full(len(pdf), -1, dtype=np.int64)
        max_sim = np.zeros(len(pdf), dtype=np.float64)
        for i in range(len(pdf)):
            if kept:
                sims = S[i, kept]
                j = int(np.argmax(sims))
                max_sim[i] = sims[j]
                if sims[j] >= threshold:
                    is_dup[i] = True
                    dup_of[i] = ids[kept[j]]
                    continue
            kept.append(i)
        return pd.DataFrame({
            id_col: ids, "cell": pdf["cell"].to_numpy(),
            "is_dup": is_dup,
            "dup_of": np.where(is_dup, dup_of, None),
            "max_sim": np.round(max_sim, 6)})

    return assigned.groupBy("cell").applyInPandas(dedup_cell, out_schema)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", n_cells: int = 16,
             nprobe: int = 3, seed: int = 7,
             sample_per_cell: int = 100,
             sample_fraction: float | None = None,
             fit: str = "sample") -> DataFrame:
    """IVF approximate top-k: sampled spherical-k-means cells + multi-probe.

    Corpus rows are assigned to their nearest centroid in one Arrow-batched
    map pass (no shuffle until the bucket join); each query probes its
    ``nprobe`` nearest cells. The quantizer fits driver-side on
    ~``sample_per_cell``·``n_cells`` rows regardless of corpus size
    (``fit="sample"``, the FAISS regime); ``fit="distributed"`` trains on
    the FULL corpus via :func:`kmeans_fit_distributed` instead — O(iters)
    map-only scans, for corpora whose prefix/sample misrepresents the
    density (the swap SCALE.md §8 promises, same surrounding plan).
    """
    # Raw vectors throughout: argmax(dot(v, c)) over unit centroids is
    # scale-invariant, so neither assignment nor probing needs normalized
    # inputs (an expression-level normalize() is an interpreted higher-order
    # function costing ~dim² ops/row — measured 3× the whole query).
    raw = corpus.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).cast("array<double>").alias("_cv"))

    if fit == "distributed":
        C = kmeans_fit_distributed(raw, n_cells, vec_col="_cv", seed=seed,
                                   init_sample=sample_per_cell * n_cells)
    else:
        target = sample_per_cell * n_cells
        X = _quantizer_sample(raw, "_cv", target, seed, sample_fraction)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        C = _spherical_kmeans(X, n_cells, seed)

    cell1 = _nearest_cells_udf(C, 1)
    celln = _nearest_cells_udf(C, nprobe)
    c_assigned = raw.select(
        "neighbor_id", "_cv",
        F.element_at(cell1(F.col("_cv")), 1).alias("_cell"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("_qv"))
    q_probed = q.select(
        "query_id", "_qv", F.explode(celln(F.col("_qv"))).alias("_cell"))

    scored = (c_assigned.join(F.broadcast(q_probed), on="_cell")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cos", cosine_pd(F.col("_cv"), F.col("_qv"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "rank",
                          F.round("cos", 6).alias("cos")))


def _kmeans_assign_partials(raw: DataFrame, C: np.ndarray,
                            vec_field: str = "_v") -> np.ndarray:
    """One Lloyd iteration's statistics, distributed: every partition
    computes its own fixed-size (k × dim) cell-sum matrix + counts against
    the broadcast centers (one Arrow-batched matmul pass), and only those
    partials — metadata, not data — come to the driver for the merge.
    No shuffle; cost = one corpus scan. Returns the merged (k, dim+1)
    array: column 0 is the count, the rest the vector sum."""
    k, d = C.shape
    Ct = C.T

    def kern(batches):
        sums = np.zeros((k, d))
        counts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.array(pdf[vec_field].tolist(), dtype=np.float64)
            A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
            assign = np.argmax(A @ Ct, axis=1)
            np.add.at(sums, assign, A)
            counts += np.bincount(assign, minlength=k)
        yield pd.DataFrame({"cell": np.arange(k, dtype=np.int32),
                            "n": counts, "s": list(sums)})

    parts = raw.mapInPandas(
        kern, schema="cell int, n long, s array<double>").collect()
    merged = np.zeros((k, d + 1))
    for r in parts:
        merged[r["cell"], 0] += r["n"]
        merged[r["cell"], 1:] += np.asarray(r["s"])
    return merged


def kmeans_fit_distributed(df: DataFrame, k: int, vec_col: str = "embedding",
                           iters: int = 5, seed: int = 7,
                           init_sample: int = 4096) -> np.ndarray:
    """Spherical k-means fit over the FULL corpus, distributed — the
    extreme-scale replacement for the bounded-sample driver fit that
    ``ivf_topk``/``semantic_dedup`` default to (SCALE.md §8): warm-start
    centers come from k-means++ on a bounded sample, then each Lloyd
    iteration is ONE map-only Spark job over all rows
    (``_kmeans_assign_partials``) with a driver-side merge of k fixed-size
    partials per partition. No shuffle, no per-row collect, O(iters) scans.
    Empty cells keep their previous center (standard Lloyd degeneracy
    handling). Returns unit-norm (k × dim) centers."""
    raw = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    X = _quantizer_sample(raw, "_v", init_sample, seed, None)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = _spherical_kmeans(X, k, seed, iters=3)
    for _ in range(iters):
        m = _kmeans_assign_partials(raw, C)
        counts, sums = m[:, 0], m[:, 1:]
        nz = counts > 0
        C = C.copy()
        C[nz] = sums[nz] / counts[nz, None]
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C

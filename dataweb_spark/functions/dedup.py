"""Deduplication operators for LLM data pipelines (beyond-reference).

Designed for 100 TB: every variant avoids the O(n²) cross join —
exact dedup is a hash groupBy; MinHash near-dup goes through LSH band
bucketing (candidates only within equal band-hash buckets); SimHash buckets
by hamming-band; embedding near-dup buckets by random-hyperplane signature.
Candidate verification joins are narrow (two id/array columns), and all
shuffles key on the bucket hash, so skew is bounded by bucket size.

Join/aggregate structure is built-in Spark expressions; the two string-heavy
per-row kernels (shingling, simhash) are Arrow-batched Pandas UDFs — an
expression formulation is interpreted (higher-order functions don't codegen)
and re-evaluates the tokenizer per array element, measured ~20× slower.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# MinHash permutation arithmetic stays inside int64 (ANSI-safe):
# shingle hashes and permutation multipliers are both < 2^31 - 1,
# so a*h + b < 2^62.
_MINHASH_PRIME = (1 << 31) - 1


def _perm_params(num_perm: int, seed: int = 11) -> tuple[list[int], list[int]]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MINHASH_PRIME, size=num_perm).tolist()
    b = rng.randint(0, _MINHASH_PRIME, size=num_perm).tolist()
    return a, b


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact duplicate group of ``cols``.

    groupBy on a 256-bit content hash — one shuffle keyed by content hash,
    no wide rows moved twice (the id winner is resolved with min()).
    """
    key = F.sha2(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"),
                                                  F.lit("\x00")) for c in cols]), 256)
    keep = (df.withColumn("_k", key)
              .groupBy("_k").agg(F.min(id_col).alias(id_col)))
    return df.join(keep, on=id_col, how="inner").drop("_k")


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Duplicate-group summary: one row per distinct text with keeper id +
    multiplicity. SQL-oracle-friendly form of :func:`exact_dedup`."""
    return (df.groupBy(text_col)
              .agg(F.min(id_col).alias("keeper_id"),
                   F.count("*").alias("n_copies")))


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH
# ---------------------------------------------------------------------------

def word_shingles(col, n: int = 3):
    """Distinct word n-gram shingle array.

    Arrow-batched Pandas UDF rather than a higher-order-function expression:
    HOF lambdas are interpreted (no whole-stage codegen) and re-evaluate the
    tokenizer per element, which made shingling the hot spot. Python string
    split + set-of-ngrams per batch is ~20× faster and shuffles nothing.
    Shingle order within the array is unspecified — every consumer
    (MinHash min, Jaccard intersect/union) is order-insensitive.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def f(t: pd.Series) -> pd.Series:
        out = []
        for s in t:
            toks = (s or "").split()
            if len(toks) < n:
                out.append([" ".join(toks)])
            else:
                out.append(list({" ".join(toks[i:i + n])
                                 for i in range(len(toks) - n + 1)}))
        return pd.Series(out)

    return f(F.col(col) if isinstance(col, str) else col)


def _shingle_set(s: str, shingle_n: int, shingle: str) -> set:
    """Shingle a document: ``shingle='token'`` joins whitespace-token
    n-grams (space-joined, the oracle-reproducible form); ``'char'``
    takes raw character n-grams over the untokenized string — the mode
    for scripts that don't delimit words with whitespace (CJK, Thai),
    where token shingling would collapse every document to one shingle.
    Python slicing and DuckDB substring() both count code points, so
    char shingles stay oracle-reproducible for any script."""
    if shingle == "char":
        s = s or ""
        if not s:
            return set()
        if len(s) < shingle_n:
            return {s}
        return {s[i:i + shingle_n] for i in range(len(s) - shingle_n + 1)}
    toks = (s or "").split()
    if len(toks) < shingle_n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + shingle_n])
            for i in range(len(toks) - shingle_n + 1)}


def minhash_signature(col, num_perm: int = 32, shingle_n: int = 3,
                      seed: int = 11, shingle: str = "token"):
    """array<bigint> MinHash signature, computed MAP-ONLY in one Arrow pass.

    Per batch: shingle set (token n-grams, or char n-grams for
    whitespace-free scripts — see :func:`_shingle_set`) → stable 64-bit
    shingle hashes (md5 prefix, mod p) → linear permutations
    ``(a_i*h + b_i) mod p`` minimized in numpy. No explode, no shuffle —
    the signature stage scales as a pure projection; only the band
    self-join below shuffles (narrow rows).
    """
    from pyspark.sql.functions import pandas_udf

    a_par = np.array(_perm_params(num_perm, seed)[0], dtype=np.int64)
    b_par = np.array(_perm_params(num_perm, seed)[1], dtype=np.int64)
    p = _MINHASH_PRIME
    empty_sig = (b_par % p).tolist()   # doc with no shingles

    @pandas_udf("array<long>")
    def sig(t: pd.Series) -> pd.Series:
        out = []
        for s in t:
            shingles = _shingle_set(s, shingle_n, shingle)
            if not shingles:
                out.append(empty_sig)
                continue
            buf = b"".join(hashlib.md5(x.encode("utf-8")).digest()[:8]
                           for x in shingles)
            h = np.frombuffer(buf, dtype=np.uint64).astype(np.int64) % p
            # S×num_perm universal hashes, min over shingles
            mins = ((h[:, None] * a_par + b_par) % p).min(axis=0)
            out.append(mins.tolist())
        return pd.Series(out)

    return sig(F.col(col) if isinstance(col, str) else col)


def minhash_band_hashes(df: DataFrame, id_col: str, text_col: str = "text",
                        num_perm: int = 32, bands: int = 8,
                        shingle_n: int = 3, seed: int = 11,
                        shingle: str = "token") -> DataFrame:
    """(_id, band, bh) band hashes from the map-only signature: band b's
    hash = xxhash64 over its ``num_perm/bands`` signature slots."""
    rows = num_perm // bands
    sigd = df.select(F.col(id_col).alias("_id"),
                     minhash_signature(text_col, num_perm, shingle_n, seed,
                                       shingle)
                     .alias("_sig"))
    # One selectExpr instead of ~8 band structs built as Column objects:
    # the Column form cost ~64 py4j round-trips (~0.3s driver time) per
    # call, re-paid by every LSH query, index build/append and classify
    # (r15, guide §4/§5 driver overhead). Same expressions, same plan —
    # the SQL string parses to the identical explode(array(named_struct))
    # tree (value-equivalence pinned by test_band_hashes_selectexpr_form).
    arr = ",".join(
        "named_struct('band',%d,'bh',xxhash64(%s))"
        % (b, ",".join(f"element_at(_sig,{b * rows + r + 1})"
                       for r in range(rows)))
        for b in range(bands))
    return (sigd.selectExpr("_id", f"explode(array({arr})) as e")
                .select("_id", "e.band", "e.bh"))


def _bucket_pairs(banded: DataFrame,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """Distinct ``(id_a, id_b)`` pairs with ``id_a < id_b`` of rows that
    share a ``(band, bh)`` bucket in ``banded`` ``(_id, band, bh,
    *carry)``; each ``carry`` column ``c`` rides along as ``c_a``/``c_b``.
    The one self-join behind every banded-LSH candidate operator.

    The join references ``banded`` twice and exchange reuse does not fire
    across the two sides, so without a cache the signature kernel runs
    once per side: the narrow proxy is persisted (MEMORY_AND_DISK spills).
    The pair set is bounded by the bucket-mates, so it is materialized
    eagerly (``localCheckpoint`` — lineage traded for speed, SCALE.md §7c)
    and the proxy cache is released before returning: the CacheManager
    holds SQL caches until an explicit unpersist, so a long-lived session
    keeps no dead cache blocks. The eager checkpoint also runs the kernel
    exactly once, where the fused job's two sides race to build the cache
    and re-evaluate it on not-yet-cached partitions."""
    banded = banded.persist()
    try:
        a, b = banded.alias("a"), banded.alias("b")
        return (a.join(b, [F.col("a.band") == F.col("b.band"),
                           F.col("a.bh") == F.col("b.bh"),
                           F.col("a._id") < F.col("b._id")])
                 .select(F.col("a._id").alias("id_a"),
                         F.col("b._id").alias("id_b"),
                         *[F.col(f"{s}.{c}").alias(f"{c}_{s}")
                           for c in carry for s in ("a", "b")])
                 .distinct()
                 .localCheckpoint(eager=True))
    finally:
        banded.unpersist()


def minhash_lsh_candidates(df: DataFrame, id_col: str, text_col: str = "text",
                           num_perm: int = 32, bands: int = 8,
                           shingle_n: int = 3, seed: int = 11,
                           shingle: str = "token") -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    band hashes (see :func:`minhash_band_hashes`) → self-join on
    (band, band_hash). Only bucket-mates join; the shuffle key is the band
    hash (well distributed by construction). Returns distinct (id_a, id_b)
    with id_a < id_b.
    """
    return _bucket_pairs(minhash_band_hashes(df, id_col, text_col, num_perm,
                                             bands, shingle_n, seed, shingle))


def jaccard_pd(text_a, text_b, shingle_n: int = 3,
               shingle: str = "token"):
    """Arrow-batched exact shingle-set Jaccard over a pair of text columns."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.empty(len(a))
        for i, (x, y) in enumerate(zip(a, b)):
            sx = _shingle_set(x, shingle_n, shingle)
            sy = _shingle_set(y, shingle_n, shingle)
            u = len(sx | sy)
            out[i] = (len(sx & sy) / u) if u else 0.0
        return pd.Series(out)

    # asNondeterministic: the verify threshold filter referencing this
    # column otherwise evaluates the kernel twice (guide §4.4).
    return f.asNondeterministic()(text_a, text_b)


def jaccard_verify(df: DataFrame, candidates: DataFrame, id_col: str,
                   text_col: str = "text", shingle_n: int = 3,
                   threshold: float = 0.7,
                   shingle: str = "token") -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard ≥ threshold.

    Texts are joined onto the (narrow, already-LSH-filtered) candidate
    pairs and the Jaccard is computed pairwise in one Arrow pass — shingles
    are built only for candidate rows, not the whole corpus.
    """
    txt = df.select(F.col(id_col).alias("_jid"),
                    F.col(text_col).alias("_jtxt"))
    out = (candidates
           .join(txt.withColumnRenamed("_jid", "id_a")
                    .withColumnRenamed("_jtxt", "txt_a"), "id_a")
           .join(txt.withColumnRenamed("_jid", "id_b")
                    .withColumnRenamed("_jtxt", "txt_b"), "id_b"))
    return (out.withColumn(
                "jaccard",
                F.round(jaccard_pd(F.col("txt_a"), F.col("txt_b"),
                                   shingle_n, shingle), 6))
               .where(F.col("jaccard") >= threshold)
               .select("id_a", "id_b", "jaccard"))


def minhash_dedup(df: DataFrame, id_col: str, text_col: str = "text",
                  num_perm: int = 32, bands: int = 8, shingle_n: int = 3,
                  threshold: float = 0.7) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → Jaccard verify → drop the
    higher id of each confirmed pair (greedy union by min-id)."""
    cands = minhash_lsh_candidates(df, id_col, text_col, num_perm, bands,
                                   shingle_n)
    dups = jaccard_verify(df, cands, id_col, text_col, shingle_n, threshold)
    losers = dups.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Distributed connected components over an edge list → (node, component)
    with component = min node id in the component.

    Near-dup pairs (MinHash/SimHash/embedding LSH) are edges; a dedup
    pipeline needs the transitive closure — the *cluster* — to pick one
    representative per group, not per pair. This is min-label propagation
    with pointer jumping (label ← label(label)) each round, so convergence
    is O(log diameter) joins rather than O(diameter): a 1M-long chain
    settles in ~20 rounds. Each round is two equi-joins + a groupBy, all
    shuffle-partitioned on node id; per-round results are localCheckpointed
    to cut the lineage (iterative plans otherwise grow unboundedly).
    Converged when no label changes (cheap count per round).
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b"))) \
             .where(F.col("a") != F.col("b")).distinct().localCheckpoint()
    # r15 (guide §1.2): seed labels with one propagation step folded
    # into the init aggregate — label₀ = min(node, min(neighbors)) —
    # instead of the identity labeling. Identical to the state after one
    # nbr round, so the loop below starts one round ahead: the shallow
    # star/triangle clusters dedup produces converge a full round (≈5
    # jobs) earlier; deep chains lose nothing (same fixpoint, the
    # round-count bound is unchanged).
    labels = (sym.groupBy("a")
                 .agg(F.min("b").alias("_mb"))
                 .select(F.col("a").alias("node"),
                         F.least(F.col("a"), F.col("_mb")).alias("label"))
                 .localCheckpoint())
    for _ in range(max_iter):
        nbr = (sym.join(labels, sym["b"] == labels["node"])
                  .groupBy(sym["a"].alias("node"))
                  .agg(F.min("label").alias("nbr_label")))
        stepped = (labels.join(nbr, "node", "left")
                   .select("node", F.col("label").alias("_old"),
                           F.least(F.col("label"),
                                   F.coalesce("nbr_label", F.col("label")))
                            .alias("label")))
        # pointer jumping: follow the label's own label
        l2 = stepped.select(F.col("node").alias("pnode"),
                            F.col("label").alias("plabel"))
        jumped = (stepped.join(l2, stepped["label"] == l2["pnode"], "left")
                  .select("node", "_old",
                          F.coalesce("plabel", "label").alias("label"))
                  .localCheckpoint())
        # r15: change detection reads the just-checkpointed frame (the
        # previous label rides along as _old) — one cheap scan instead
        # of a join of the new labels against the old frame per round.
        changed = jumped.where(F.col("label") != F.col("_old")).count()
        labels = jumped.drop("_old")
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dup_clusters(df: DataFrame, pairs: DataFrame, id_col: str,
                 src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Cluster summary from dup pairs: (component, cluster_size, keeper_id)
    for every multi-member cluster. keeper = min id (= the component label)."""
    cc = connected_components(pairs, src, dst)
    return (cc.groupBy("component")
              .agg(F.count("*").alias("cluster_size"),
                   F.min("node").alias("keeper_id")))


def keep_best_per_cluster(df: DataFrame, pairs: DataFrame, id_col: str,
                          score_col: str,
                          src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Quality-aware dedup: each transitive near-dup cluster keeps its
    HIGHEST-``score_col`` member (ties → lowest id); unclustered rows pass
    through. The keep-best policy a training pipeline wants when dup
    copies differ in quality (cleaner extraction, fewer boilerplate
    artifacts) — min-id keeping (:func:`minhash_dedup`) throws the best
    copy away whenever it isn't the oldest.

    Scale shape: connected components over the (candidate-bounded) pair
    list — O(log diameter) rounds — then ONE ``max_by`` groupBy over
    cluster members and one anti-join of the losers; scores never
    shuffle with the full corpus, only with cluster members.
    """
    cc = connected_components(pairs, src, dst)
    members = df.join(cc, df[id_col] == cc["node"]) \
                .select(F.col(id_col), F.col("component"), F.col(score_col))
    # Two cluster-bounded aggs instead of a max_by(-id) trick so ids of
    # ANY orderable type work (the rest of this module supports string
    # ids; negating one would null out under non-ANSI or fail under ANSI).
    best_score = members.groupBy("component").agg(
        F.max(score_col).alias("_best_score"))
    best = (members.join(best_score, "component")
            .where(F.col(score_col) == F.col("_best_score"))
            .groupBy("component").agg(F.min(id_col).alias("_keeper")))
    losers = (members.join(best, "component")
              .where(F.col(id_col) != F.col("_keeper"))
              .select(id_col))
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard (direct, for modest candidate sets)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                        shingle_n: int = 3, threshold: float = 0.5,
                        block_col=None) -> DataFrame:
    """Exact n-gram Jaccard over pairs within a blocking key.

    Without ``block_col`` this is the quadratic baseline — use only on
    bounded groups; at scale pass a blocking column (e.g. a shingle-hash
    band from :func:`minhash_lsh_candidates`) so pairs stay bucket-local.
    """
    sh = df.select(F.col(id_col).alias("_jid"),
                   (block_col if block_col is not None else F.lit(0)).alias("_blk"),
                   word_shingles(text_col, shingle_n).alias("_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(b, [F.col("a._blk") == F.col("b._blk"),
                       F.col("a._jid") < F.col("b._jid")])
    inter = F.size(F.array_intersect("a._sh", "b._sh"))
    union = F.size(F.array_union("a._sh", "b._sh"))
    return (pairs.select(F.col("a._jid").alias("id_a"),
                         F.col("b._jid").alias("id_b"),
                         F.round(inter / union, 6).alias("jaccard"))
                 .where(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(col) -> "F.Column":
    """64-bit SimHash over distinct whitespace tokens.

    Arrow-batched Pandas UDF: per token a stable 64-bit hash (md5 prefix);
    per bit position the signature bit is the majority vote across tokens.
    Map-only (no shuffle, no state); deterministic across runs/sessions.
    A pure-expression formulation needs 64 interpreted array filters per row
    (each re-hashing every token) — ~100× slower, hence the UDF.
    """
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)

    @pandas_udf("long")
    def f(t: pd.Series) -> pd.Series:
        out = np.empty(len(t), dtype=np.int64)
        for i, s in enumerate(t):
            toks = sorted(set((s or "").split()))
            if not toks:
                out[i] = 0
                continue
            buf = b"".join(hashlib.md5(x.encode("utf-8")).digest()[:8]
                           for x in toks)
            hs = np.frombuffer(buf, dtype=np.uint64)
            bits = (hs[:, None] >> shifts) & np.uint64(1)
            maj = (bits.sum(axis=0) * 2 > len(hs)).astype(np.uint64)
            out[i] = (maj << shifts).sum(dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    # asNondeterministic: band-hash predicates derived from the signature
    # otherwise duplicate this whole kernel per pushed filter (observed
    # as stacked ArrowEvalPython pairs at every corpus arm; guide §4.4).
    return f.asNondeterministic()(
        F.col(col) if isinstance(col, str) else col)


def simhash_candidates(df: DataFrame, id_col: str, text_col: str = "text",
                       band_bits: int = 16) -> DataFrame:
    """Near-dup candidates: equal ``band_bits``-bit band of the simhash in
    any of the 64/band_bits bands (standard hamming-LSH for simhash)."""
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    sh = df.select(F.col(id_col).alias("_id"), simhash64(text_col).alias("sh"))
    banded = sh.select("_id", "sh", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("sh", b * band_bits)
                  .bitwiseAND(F.lit(mask)).alias("bh"))
        for b in range(nbands)])).alias("e")).select("_id", "sh", "e.band", "e.bh")
    return _bucket_pairs(banded, carry=("sh",))


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------

def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95,
                        planes: int = 6, bands: int = 8,
                        seed: int = 7, dim: int = 64) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold, banded hyperplane LSH.

    ``bands`` independent ``planes``-bit signatures; a pair is a candidate
    if ANY band matches (recall 1-(1-p^planes)^bands with p the per-plane
    agreement probability), then cosine is verified exactly within buckets.
    The self-join keys on (band, signature) — well-distributed, no skew.
    All band signatures come from ONE Arrow pass; the candidate join is
    id-only (narrow) and vectors are joined back just for verification.
    Import here to keep dedup/similarity modules decoupled."""
    from dataweb_spark.functions.similarity import (hyperplane_signatures,
                                                    cosine_pd)

    sig = emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(hyperplane_signatures(vec_col, planes, bands, seed,
                                           dim))
         .alias("band", "bh"))
    cands = _bucket_pairs(sig)
    vec = emb.select(F.col(id_col).alias("_vid"),
                     F.col(vec_col).cast("array<double>").alias("_v"))
    pairs = (cands
             .join(vec.withColumnRenamed("_vid", "id_a")
                      .withColumnRenamed("_v", "_va"), "id_a")
             .join(vec.withColumnRenamed("_vid", "id_b")
                      .withColumnRenamed("_v", "_vb"), "id_b"))
    return (pairs.select("id_a", "id_b",
                         F.round(cosine_pd(F.col("_va"), F.col("_vb")), 6)
                          .alias("cos"))
                 .where(F.col("cos") >= threshold)
                 .select("id_a", "id_b", "cos"))


def duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", window: int = 32,
                     stride: int = 1) -> DataFrame:
    """Cross-document duplicated-span detection — the token-window-hash
    approximation of exact-substring training-data dedup (Lee et al. 2022
    use suffix arrays; a ``window``-token rolling hash finds every repeated
    span of ≥ ``window`` tokens at a fraction of the cost).

    Shape at 100 TB: explode (doc, window_start, md5(window)) — rows ≈
    tokens/stride per doc — then ONE shuffle on the window key: a count
    window-function over ``_wkey`` tags every span with its corpus-wide
    multiplicity (key groups are tiny, no skew on md5 keys), then a
    groupBy(id) folds per-doc stats. The r1-r4 shape (groupBy key + join
    back) computed the exploded span stream TWICE — the md5-over-slice is
    the expensive part — and shuffled it twice; this is the same answer
    with one span pass and one big shuffle. Per-doc output: ``n_windows``,
    ``n_dup_windows`` (windows whose text recurs anywhere in the corpus,
    self included), ``dup_frac``.

    Window keys are md5 over the space-joined window so the DuckDB oracle
    reproduces them byte-for-byte.
    """
    from pyspark.sql import Window

    from dataweb_spark.functions.text import tokens

    base = (df.select(F.col(id_col), tokens(text_col).alias("_toks"))
              .withColumn("_n", F.size("_toks"))
              .where(F.col("_n") >= window))
    starts = F.sequence(F.lit(0), F.col("_n") - window, F.lit(stride))
    spans = (base
             .select(id_col, "_toks", F.explode(starts).alias("_s"))
             .select(F.col(id_col), F.col("_s"),
                     F.md5(F.concat_ws(
                         " ", F.slice("_toks", F.col("_s") + 1, window)))
                      .alias("_wkey")))
    wc = F.count("*").over(Window.partitionBy("_wkey"))
    return (spans.withColumn("_wc", wc)
                 .groupBy(id_col)
                 .agg(F.count("*").alias("n_windows"),
                      F.sum(F.when(F.col("_wc") > 1, 1).otherwise(0))
                       .alias("n_dup_windows"))
                 .withColumn("dup_frac",
                             F.round(F.col("n_dup_windows")
                                     / F.col("n_windows"), 6)))


def remove_duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            window: int = 32) -> DataFrame:
    """Exact-substring REMOVAL — the second half of Lee et al. 2022:
    :func:`duplicated_spans` *scores* corpus-level span duplication; this
    rewrites the corpus so every duplicated run of ≥ ``window`` tokens
    survives in exactly ONE place (its globally-first occurrence by
    ``(id, position)``) and is cut everywhere else, token-aligned.

    Shape at 100 TB (all JVM-side, no Python):
    1. explode stride-1 window hashes (rows ≈ tokens/doc), ONE shuffle on
       the md5 window key; ``row_number`` picks the global first
       occurrence — every later occurrence marks its token interval
       ``[s, s+window)`` for removal.
    2. overlapping removal intervals are merged per doc with a
       gaps-and-islands window (running max of interval ends), so
       coverage explodes to ≤ n_tokens rows — NOT windows × dups —
       even for a doc that is one giant repeat. (A per-token
       ``exists(removals)`` filter would be O(tokens × removals) on
       exactly those pathological docs; this stays linear.)
    3. covered token indices anti-join the posexploded token stream;
       kept tokens re-assemble in order. Docs shorter than ``window``
       tokens pass through untouched.

    Every step is deterministic SQL the DuckDB oracle replays, so the
    rewritten text is hash-checkable end-to-end. Returns
    ``(id, clean_text, n_tokens, n_removed)``.
    """
    from pyspark.sql import Window

    from dataweb_spark.functions.text import tokens

    toks_df = df.select(F.col(id_col), tokens(text_col).alias("_toks")) \
                .withColumn("_n", F.size("_toks"))
    base = toks_df.where(F.col("_n") >= window)
    starts = F.sequence(F.lit(0), F.col("_n") - window)
    spans = (base
             .select(id_col, "_toks", F.explode(starts).alias("_s"))
             .select(F.col(id_col), F.col("_s"),
                     F.md5(F.concat_ws(
                         " ", F.slice("_toks", F.col("_s") + 1, window)))
                      .alias("_wkey")))
    rn = F.row_number().over(
        Window.partitionBy("_wkey").orderBy(id_col, "_s"))
    removals = spans.withColumn("_rn", rn).where(F.col("_rn") > 1) \
                    .select(id_col, "_s")

    # merge overlapping [s, s+window) intervals per doc: an interval
    # starts an island when it begins at/after the running max end of
    # everything before it
    doc_w = Window.partitionBy(id_col).orderBy("_s")
    prev_end = F.max(F.col("_s") + window).over(
        doc_w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (removals
               .withColumn("_new", F.when(prev_end.isNull()
                                          | (F.col("_s") >= prev_end), 1)
                           .otherwise(0))
               .withColumn("_isl", F.sum("_new").over(
                   doc_w.rowsBetween(Window.unboundedPreceding, 0)))
               .groupBy(id_col, "_isl")
               .agg(F.min("_s").alias("_lo"),
                    (F.max("_s") + window).alias("_hi")))
    covered = islands.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("_lo"), F.col("_hi") - 1)).alias("_i"))

    tok_stream = toks_df.select(
        F.col(id_col), F.col("_n"),
        F.posexplode_outer("_toks").alias("_i", "_tok"))
    # left join + flag, NOT an anti-join: a fully-duplicated doc keeps
    # its (empty) output row instead of vanishing from the corpus
    flagged = tok_stream.join(
        covered.withColumn("_cov", F.lit(1)), [id_col, "_i"], "left")
    keep = F.col("_cov").isNull() & F.col("_tok").isNotNull()
    return (flagged.groupBy(id_col)
            .agg(F.max("_n").alias("n_tokens"),
                 F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(
                         F.when(keep, F.struct("_i", "_tok")))),
                     lambda x: x["_tok"])).alias("clean_text"),
                 F.count(F.when(keep, 1)).alias("_n_kept"))
            .select(id_col,
                    "clean_text",
                    "n_tokens",
                    (F.col("n_tokens") - F.col("_n_kept"))
                    .alias("n_removed")))


def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    sep: str = "\n\n") -> DataFrame:
    """Paragraph-level exact dedup (the C4/Dolma intra-corpus stage):
    every distinct paragraph survives exactly once — at its globally
    FIRST occurrence, min ``(doc, position)`` — and documents are
    reassembled from their surviving paragraphs in original order (a doc
    whose every paragraph was seen earlier disappears).

    Scale shape: explode to paragraphs (map-only), ONE shuffle on the
    paragraph hash for the first-occurrence row_number, one groupBy doc
    to reassemble. No all-pairs anything; duplicate-heavy corpora shrink
    at the first shuffle. Returns (id, text, n_paras).
    """
    from pyspark.sql import Window

    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep))
         .alias("_pos", "_para"))
    w = Window.partitionBy(F.md5("_para")).orderBy(id_col, "_pos")
    kept = (paras.withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") == 1))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("_pos", "_para"))),
                        lambda s: s["_para"]),
                    sep).alias(text_col),
                 F.count("*").alias("n_paras")))


def contamination_check(corpus: DataFrame, evalset: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        window: int = 16) -> DataFrame:
    """Benchmark-decontamination scan: which corpus documents contain a
    ``window``-token span that also appears in the eval set.

    Same window-hash shape as :func:`duplicated_spans`, but the join is a
    single left join against the (small) eval side's distinct
    ``(eval_doc, key)`` pairs — broadcastable for any real eval suite, so
    the corpus text is tokenized and exploded exactly ONCE and never
    self-shuffles. Per-position/per-eval-doc multiplicities from the join
    are collapsed by distinct counts over the span offset: a corpus window
    shared by N eval docs still counts once, keeping
    ``contaminated_frac`` ≤ 1 (r1 ADVICE). Output per contaminated corpus
    doc: window counts, the contaminated fraction, and how many distinct
    eval docs were hit.
    """
    from dataweb_spark.functions.text import tokens

    def spans(df: DataFrame, out_id: str, keep_pos: bool) -> DataFrame:
        base = (df.select(F.col(id_col).alias(out_id),
                          tokens(text_col).alias("_toks"))
                  .withColumn("_n", F.size("_toks"))
                  .where(F.col("_n") >= window))
        starts = F.sequence(F.lit(0), F.col("_n") - window, F.lit(1))
        pos = (["_s"] if keep_pos else [])
        return (base
                .select(out_id, "_toks", F.explode(starts).alias("_s"))
                .select(F.col(out_id), *pos,
                        F.md5(F.concat_ws(
                            " ", F.slice("_toks", F.col("_s") + 1, window)))
                         .alias("_wkey")))

    c_spans = spans(corpus, id_col, keep_pos=True)
    # One row per eval WINDOW KEY with the set of eval docs containing it:
    # the left join below multiplies no corpus rows (unique join key), so
    # per-doc aggregation needs no distinct/Expand — plain count/sum plus
    # a flatten of the (rare) hit sets.
    e_keys = (spans(evalset, "_eval_id", keep_pos=False).distinct()
              .groupBy("_wkey")
              .agg(F.collect_set("_eval_id").alias("_edocs")))
    joined = c_spans.join(F.broadcast(e_keys), "_wkey", "left")
    return (joined.groupBy(id_col)
            .agg(F.count("*").alias("n_windows"),
                 F.sum(F.when(F.col("_edocs").isNotNull(), 1).otherwise(0))
                  .alias("n_contaminated"),
                 F.size(F.array_distinct(
                     F.flatten(F.collect_list("_edocs"))))
                  .cast("bigint").alias("n_eval_docs_hit"))
            .where(F.col("n_contaminated") > 0)
            .withColumn("contaminated_frac",
                        F.round(F.col("n_contaminated")
                                / F.col("n_windows"), 6)))


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the 100 TB alternative to broadcasting the
# exact eval-key set. At web scale the eval suite's distinct window keys can
# reach 10^8-10^9; an exact broadcast set costs ~32+ B/key in a JVM hash
# relation, while a Bloom filter at fpp=1e-8 costs ~4.8 B/key in one flat
# bit array — and membership checks are two hashes + k bit probes with NO
# join, no shuffle, map-only over the corpus. The price is a bounded
# false-positive rate: flagged docs are a SUPERSET of the truly
# contaminated (never a miss), so the filter is used as a cheap first pass
# whose survivors skip the exact join entirely.
# ---------------------------------------------------------------------------

def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for n items at the target fp rate."""
    import math
    n = max(1, n_items)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _bloom_build(pairs, m: int, k: int):
    """Packed uint8 bit array from (h1, h2) int64 hash pairs
    (Kirsch–Mitzenmacher double hashing: pos_i = h1 + i·h2 mod m)."""
    import numpy as np
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    h1 = np.asarray([p[0] for p in pairs], dtype=np.int64).view(np.uint64)
    h2 = np.asarray([p[1] for p in pairs], dtype=np.int64).view(np.uint64)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
        np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                         np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return bits


def _bloom_build_distributed(pairs_df: DataFrame, m: int, k: int):
    """Executor-side Bloom construction: each partition builds its own bit
    array from its (h1, h2) rows, partials OR-merge up a tree. The driver
    receives (log-depth) pre-merged arrays instead of one row per key — the
    10^9-key eval-suite path the driver ``collect()`` can't serve. OR is
    commutative and associative, so the result is BIT-IDENTICAL to a
    driver-side build regardless of partitioning (property-tested)."""
    import numpy as np

    def part_bits(rows):
        yield _bloom_build([(r[0], r[1]) for r in rows], m, k)

    rdd = pairs_df.rdd.mapPartitions(part_bits)
    out = rdd.treeReduce(np.bitwise_or, depth=2)
    return out


def bloom_contamination(corpus: DataFrame, evalset: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        window: int = 16, fpp: float = 1e-8,
                        build: str = "distributed") -> DataFrame:
    """Map-only decontamination pre-filter: per corpus doc, how many of its
    ``window``-token spans the eval-side Bloom filter flags.

    Eval window keys are hashed JVM-side (``xxhash64`` twice for the
    double-hash family), the bit array is built once and broadcast; the
    corpus pass is hash columns (codegen) + one Arrow-batched numpy kernel
    — no join anywhere. ``n_flagged ≥ n_contaminated`` always (Bloom
    filters have no false negatives); the companion recall query pins that
    contract against the exact join.

    ``build`` selects how the bit array is constructed from the eval-side
    hash pairs: ``"distributed"`` (default) builds per-partition arrays on
    executors and OR-merges them up a tree — the 10^9-key eval-suite path,
    where one row per key must never cross the driver; ``"driver"``
    collects the pairs and sets bits locally (fine for ordinary eval-suite
    sizes, kept for the bit-identity property test). Both need one count
    of the distinct pairs to size (m, k).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from dataweb_spark.functions.text import tokens

    def spans(df: DataFrame, out_id: str) -> DataFrame:
        base = (df.select(F.col(id_col).alias(out_id),
                          tokens(text_col).alias("_toks"))
                  .withColumn("_n", F.size("_toks"))
                  .where(F.col("_n") >= window))
        starts = F.sequence(F.lit(0), F.col("_n") - window, F.lit(1))
        return (base
                .select(out_id, "_toks", F.explode(starts).alias("_s"))
                .select(F.col(out_id),
                        F.md5(F.concat_ws(
                            " ", F.slice("_toks", F.col("_s") + 1, window)))
                         .alias("_wkey")))

    hashed = lambda df: df.withColumn("_h1", F.xxhash64("_wkey")) \
                          .withColumn("_h2", F.xxhash64("_wkey", F.lit(1)))

    pairs_df = hashed(spans(evalset, "_eid")).select("_h1", "_h2").distinct()
    if build == "distributed":
        pairs_df = pairs_df.persist()
        m, k = _bloom_params(pairs_df.count(), fpp)
        bits = _bloom_build_distributed(pairs_df, m, k)
        pairs_df.unpersist()
    else:
        eval_pairs = pairs_df.collect()
        m, k = _bloom_params(len(eval_pairs), fpp)
        bits = _bloom_build([(r["_h1"], r["_h2"]) for r in eval_pairs], m, k)
    bc = corpus.sparkSession.sparkContext.broadcast(bits.tobytes())

    @pandas_udf("boolean")
    def might_contain(h1: pd.Series, h2: pd.Series) -> pd.Series:
        arr = np.frombuffer(bc.value, dtype=np.uint8)
        a = h1.to_numpy(dtype=np.int64).view(np.uint64)
        b = h2.to_numpy(dtype=np.int64).view(np.uint64)
        hit = np.ones(len(a), dtype=bool)
        for i in range(k):
            pos = (a + np.uint64(i) * b) % np.uint64(m)
            byte = arr[(pos >> np.uint64(3)).astype(np.int64)]
            hit &= (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
        return pd.Series(hit)

    c = hashed(spans(corpus, id_col))
    return (c.withColumn("_hit", might_contain("_h1", "_h2"))
             .groupBy(id_col)
             .agg(F.count("*").alias("n_windows"),
                  F.sum(F.col("_hit").cast("long")).alias("n_flagged"))
             .where(F.col("n_flagged") > 0))


# ---------------------------------------------------------------------------
# Incremental (continuous-ingest) dedup: new batch vs existing corpus.
# The steady-state shape of a training-data pipeline is not one static
# corpus self-dedup but a stream of candidate batches arriving against a
# corpus that is already deduplicated. Scale contract: the corpus is
# scanned ONCE per tier, all joins broadcast the (small) new-batch side, so
# the corpus never self-joins and never shuffles on text-derived keys —
# per-ingest cost is O(corpus scan + batch²-free verification).
# ---------------------------------------------------------------------------

def _norm_fingerprint(text_col: str):
    """C4-style normalized fingerprint: casefold, strip punctuation,
    collapse whitespace, md5 — matches dedup_normalized_fingerprint."""
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}\p{N}\s]", ""),
        r"\s+", " "))
    return F.md5(norm)


def dedup_against_corpus(new_batch: DataFrame, corpus: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         num_perm: int = 32, bands: int = 8,
                         shingle_n: int = 3,
                         threshold: float = 0.7) -> DataFrame:
    """Classify every NEW document against the corpus:

    * ``exact``  — normalized fingerprint already present in the corpus;
    * ``near``   — MinHash-LSH bucket-mate of a corpus doc, verified by
      exact shingle Jaccard ≥ threshold;
    * ``unique`` — neither.

    Returns ``(id, verdict, match_id)`` where ``match_id`` is the lowest
    corpus id that triggered the verdict (NULL for unique) — the keeper to
    attribute the rejection to. Exact matches short-circuit the near tier
    (their signatures are never computed).
    """
    new_fp = new_batch.select(F.col(id_col).alias("_nid"),
                              _norm_fingerprint(text_col).alias("_fp"))
    corp_fp = corpus.select(F.col(id_col).alias("_cid"),
                            _norm_fingerprint(text_col).alias("_fp"))
    exact = (corp_fp.join(F.broadcast(new_fp), "_fp")
             .groupBy("_nid").agg(F.min("_cid").alias("match_id"))
             .withColumn("verdict", F.lit("exact")))

    remaining = new_batch.join(
        F.broadcast(exact.select(F.col("_nid").alias(id_col))),
        id_col, "left_anti")
    new_bands = minhash_band_hashes(remaining, id_col, text_col, num_perm,
                                    bands, shingle_n)
    corp_bands = minhash_band_hashes(corpus, id_col, text_col, num_perm,
                                     bands, shingle_n)
    cands = (corp_bands.join(F.broadcast(new_bands.withColumnRenamed(
                                 "_id", "_nid")),
                             ["band", "bh"])
             .select(F.col("_nid").alias("id_a"),
                     F.col("_id").alias("id_b"))
             .distinct())
    # Distinct text frames per side: new-batch and corpus id spaces may
    # overlap, and a union would let id_a resolve to a corpus text.
    new_txt = remaining.select(F.col(id_col).alias("id_a"),
                               F.col(text_col).alias("txt_a"))
    corp_txt = corpus.select(F.col(id_col).alias("id_b"),
                             F.col(text_col).alias("txt_b"))
    verified = (cands
                .join(F.broadcast(new_txt), "id_a")
                .join(corp_txt, "id_b")
                .withColumn("_j", jaccard_pd(F.col("txt_a"),
                                             F.col("txt_b"), shingle_n))
                .where(F.col("_j") >= threshold))
    near = (verified.groupBy(F.col("id_a").alias("_nid"))
            .agg(F.min("id_b").alias("match_id"))
            .withColumn("verdict", F.lit("near")))

    classified = exact.unionByName(near)
    return (new_batch.select(F.col(id_col).alias("_nid"))
            .join(classified, "_nid", "left")
            .select(F.col("_nid").alias(id_col),
                    F.coalesce(F.col("verdict"), F.lit("unique"))
                     .alias("verdict"),
                    F.col("match_id")))

"""Link-graph operators — domain-level PageRank for crawl curation.

Crawl pipelines rank domains/pages by link authority to prioritize
fetch order and to weight quality signals (the original use of
PageRank). This module implements the iterative rank as PURE INTEGER
arithmetic so the result is bit-exact across engines, reruns and
partitionings:

    score_0(n)   = init
    contrib(e)   = score_i(src(e)) div out_deg(src(e))
    score_i+1(n) = init·(den-num) div den
                   + num · Σ_in-edges contrib div den

(``div`` = floor division on non-negative bigints — identical in Spark
and DuckDB — with damping num/den = 85/100; float PageRank would drift
across summation orders, the r7 ``corpus_source_report`` lesson
applied to iteration.)

Distributed shape: each iteration is one join (edges × scores, scores
is the small side once ranks converge to the node table) and one
groupBy(dst) re-aggregate — the Pregel message-passing step expressed
as DataFrame ops. k iterations = k narrow-key shuffles; at web scale
(~1e9 domains) the node table is a few GB — checkpoint every few
iterations to truncate lineage (`localCheckpoint`), partition edges by
src so the contribution join co-locates. Pointer-jumping connected
components for the same graphs lives in ``dedup.connected_components``.

No counterpart in the reference repo — greenfield LLM-pipeline layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_integer(edges: DataFrame, k: int = 5,
                     init: int = 1_000_000_000,
                     damp_num: int = 85, damp_den: int = 100,
                     src: str = "src", dst: str = "dst",
                     checkpoint_every: int = 0) -> DataFrame:
    """k iterations of integer-exact PageRank over an edge list.

    Parallel edges contribute once each (multiplicity = link weight).
    Every node present as a source or destination participates; nodes
    without out-edges contribute nothing (their mass evaporates — the
    standard simplification; add self-loops upstream for the strict
    stochastic variant). Returns (node, score) with ``score`` bigint.

    ``checkpoint_every`` > 0 truncates lineage with an eager
    localCheckpoint every that-many iterations — required for large k
    on real clusters, left off for small k so tests stay plan-pure."""
    nodes = (edges.select(F.col(src).alias("node"))
             .unionByName(edges.select(F.col(dst).alias("node")))
             .distinct())
    scores = nodes.withColumn("score", F.lit(init).cast("bigint"))
    return _pagerank_iterations(edges, nodes, scores, k, init,
                                damp_num, damp_den, src, dst,
                                checkpoint_every)


def pagerank_warm_restart(edges: DataFrame, prior: DataFrame,
                          k: int = 2, init: int = 1_000_000_000,
                          damp_num: int = 85, damp_den: int = 100,
                          src: str = "src", dst: str = "dst",
                          checkpoint_every: int = 0) -> DataFrame:
    """Incremental PageRank: ``k`` iterations over the CURRENT edge set,
    initialized from a persisted prior rank vector instead of uniform —
    the warm-start restart every production link pipeline runs when
    edges arrive incrementally (recrawls, new hosts). The recurrence is
    a contraction with factor ``damp_num/damp_den`` (0.85), so each
    warm iteration shrinks the distance to the new fixpoint by ~0.85×
    FROM THE PRIOR's distance — after a small edge delta the prior is
    already close and 1-3 iterations recover what a cold start needs
    10+ for; correctness never depends on the delta being small (any
    prior converges to the same fixpoint, only slower).

    ``prior`` is ``(node, score)`` — the output of
    :func:`pagerank_integer` or an earlier warm restart, read from the
    persisted rank table. Nodes NEW in this edge set (absent from the
    prior) start at ``init``; nodes that vanished from the edges drop
    out (same node universe as a cold run on the same edges, so results
    stay comparable). Same pure-integer arithmetic — warm restarts are
    bit-exact replayable on any engine.

    Scale shape (100 TB): identical per-iteration cost to
    :func:`pagerank_integer` (one edges×scores join + one groupBy(dst)
    per iteration) but k drops from O(convergence) to O(1) per delta —
    the rank index is maintained, never rebuilt, exactly like
    ``dedup_index``'s batch-vs-corpus economics applied to the link
    graph. The prior joins the node table once (narrow, node-keyed)."""
    nodes = (edges.select(F.col(src).alias("node"))
             .unionByName(edges.select(F.col(dst).alias("node")))
             .distinct())
    # one seed row per node NO MATTER WHAT the prior table holds: a rank
    # table with duplicate node rows (appended snapshots, unioned
    # priors) would otherwise fan the join out and multiply that node's
    # outgoing contribution every iteration — silently wrong ranks. The
    # max is deterministic and, for the documented single-snapshot
    # input, a no-op (r13 review fix).
    prior_s = (prior.groupBy("node")
               .agg(F.max("score").alias("_prior")))
    scores = (nodes.join(prior_s, "node", "left")
              .select("node",
                      F.coalesce(F.col("_prior"), F.lit(init))
                       .cast("bigint").alias("score")))
    return _pagerank_iterations(edges, nodes, scores, k, init,
                                damp_num, damp_den, src, dst,
                                checkpoint_every)


def _pagerank_iterations(edges: DataFrame, nodes: DataFrame,
                         scores: DataFrame, k: int, init: int,
                         damp_num: int, damp_den: int,
                         src: str, dst: str,
                         checkpoint_every: int) -> DataFrame:
    """The shared iteration loop: cold and warm starts differ only in
    the initial vector."""
    # r15 (guide §2.1/§5): the unrolled k-deep plan re-derives every
    # loop invariant per reference (zero ReusedExchange fires across
    # iterations), so each iteration's join with out_deg re-ran the
    # groupBy — a full O(edges) shuffle per iteration. Persist the
    # bounded (≤ |nodes| rows) degree table so that shuffle happens
    # once per loop; MEMORY_AND_DISK spill, ContextCleaner frees the
    # blocks with the frame. The edge projection itself is deliberately
    # NOT persisted: its re-reads are shuffle-free columnar scans, and
    # an A/B (guide §1) measured the edges+nodes persist ~0.5s SLOWER
    # at bench scale (cache materialization cost > tiny re-scan cost).
    # Scores lineage is unchanged (checkpoint_every still truncates).
    from dataweb_spark.session import rotate_persist

    edges = edges.select(F.col(src), F.col(dst))
    # The degree cache is released by generation rotation: a re-run on
    # the same edges replaces it and at most _ROTATE_CAP stay live (the
    # CacheManager never GC-frees SQL caches). Materializing the final rank vector
    # eagerly to allow an in-call unpersist was tried FIRST and measured
    # 2.3 → 4.8 s on graph_pagerank_domains (the eager checkpoint splits
    # the consumer's fused execution per loop), so per guide §1 it was
    # reverted for this bounded-by-one-generation cleanup.
    out_deg = rotate_persist(
        edges.groupBy(src).agg(F.count("*").alias("out_deg")),
        "graph.pagerank.out_deg")
    base = init * (damp_den - damp_num) // damp_den
    for i in range(k):
        contrib = (edges
                   .join(scores.withColumnRenamed("node", src), src)
                   .join(out_deg, src)
                   .select(F.col(dst).alias("node"),
                           F.expr("score div out_deg").alias("c")))
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("in_sum"))
        # damp via the overflow-free exact identity
        #   (a·n) div d == (a div d)·n + ((a mod d)·n) div d   (a ≥ 0)
        # — a bare a·n would overflow bigint once in_sum nears
        # 2^63/num (a hub absorbing most of a ~1e9-node graph's mass
        # at init=1e9), and Spark's non-ANSI mode would wrap SILENTLY.
        # Here the largest product is (a div d)·n < a, and the
        # remainder term is bounded by (d-1)·n.
        scores = (nodes.join(inflow, "node", "left")
                  .select("node",
                          (F.lit(base)
                           + F.expr(f"(coalesce(in_sum, 0)"
                                    f" div {damp_den})"
                                    f" * {damp_num}"
                                    f" + ((coalesce(in_sum, 0)"
                                    f" % {damp_den})"
                                    f" * {damp_num}) div {damp_den}"))
                          .cast("bigint").alias("score")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            scores = scores.localCheckpoint(eager=True)
    return scores


def anchor_profile(links: DataFrame, k: int = 3,
                   src_col: str = "src_url", dst_col: str = "dst_url",
                   anchor_col: str = "anchor") -> DataFrame:
    """Per-target-domain anchor-text profile — the other classic
    link-graph curation signal beside :func:`pagerank_integer`: how
    OTHER sites describe a page is a spam-resistant quality/topic
    signal (anchor text powered early web search ranking, and crawl
    pipelines still use in-link counts and anchor vocabularies to
    prioritize fetches and weight documents).

    For every target REGISTERED domain (self-links — same registered
    domain on both ends — excluded, the standard anti-nepotism rule):

    * ``n_inlinks``         — external links pointing at it (parallel
                              links count: multiplicity is weight);
    * ``n_linking_domains`` — DISTINCT external source domains (one
                              domain linking a million times counts
                              once — the spam-resistant form);
    * top-``k`` anchor terms by frequency (ties by term asc), one row
      per (domain, rk, term, term_n). A domain whose external anchors
      yield no tokens at all (image links, empty anchor text) still
      reports its counts in ONE row with null rk/term — in-link
      authority must not vanish with the vocabulary.

    Distributed shape: one projection to (src_dom, dst_dom, anchor) —
    URLs/anchors never shuffle whole pages — then two map-side-combined
    aggregates on the narrow dst-domain key plus one windowed top-k;
    the distinct-domain count is the only extra shuffle. All JVM,
    SQL-oracle replayable."""
    from pyspark.sql import Window

    from dataweb_spark.functions.text import tokens
    from dataweb_spark.functions.urls import registered_domain

    # unparseable URLs yield registered_domain == '' — drop them before
    # the self-link test, else every junk source collapses onto the ''
    # pseudo-domain and inflates n_linking_domains by one
    base = (links.select(
        registered_domain(src_col).alias("_src_dom"),
        registered_domain(dst_col).alias("domain"),
        F.col(anchor_col).alias("_anchor"))
        .where((F.col("_src_dom") != "") & (F.col("domain") != "")
               & (F.col("_src_dom") != F.col("domain"))))
    counts = (base.groupBy("domain")
              .agg(F.count("*").cast("bigint").alias("n_inlinks"),
                   F.countDistinct("_src_dom").cast("bigint")
                    .alias("n_linking_domains")))
    terms = (base.select("domain",
                         F.explode(tokens("_anchor")).alias("term"))
             .groupBy("domain", "term")
             .agg(F.count("*").cast("bigint").alias("term_n")))
    w = Window.partitionBy("domain").orderBy(F.desc("term_n"), "term")
    top = (terms.withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") <= k))
    # counts is the authoritative grain: LEFT join so a domain with no
    # anchor tokens keeps its counts row (null term columns)
    return (counts.join(top, "domain", "left")
            .select("domain", "n_inlinks", "n_linking_domains",
                    F.col("rk").cast("int").alias("rk"), "term", "term_n"))

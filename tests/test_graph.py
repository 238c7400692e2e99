"""Integer-exact PageRank: determinism, damping mass, ranking sanity."""

import pandas as pd

from pyspark.sql import functions as F

from dataweb_spark.functions import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(
        pd.DataFrame({"src": [p[0] for p in pairs],
                      "dst": [p[1] for p in pairs]}))


def test_pagerank_is_partition_invariant(spark):
    pairs = [(i % 13, (i * 7 + 1) % 13) for i in range(200)] \
        + [(i % 13, (i * 5 + 2) % 13) for i in range(200)]
    e = _edges(spark, pairs)
    r1 = {r.node: r.score for r in G.pagerank_integer(e, k=4).collect()}
    r2 = {r.node: r.score for r in
          G.pagerank_integer(e.repartition(11), k=4).collect()}
    assert r1 == r2
    assert all(isinstance(v, int) for v in r1.values())


def test_pagerank_hub_and_target_dominate_leaves(spark):
    # star: everyone links to node 0; node 0 links only to node 1 — the
    # hub and the hub's sole target accumulate the mass (the target
    # ends HIGHER: it receives the hub's entire score each step),
    # symmetric leaves get the bare teleport base and tie exactly
    pairs = [(i, 0) for i in range(1, 10)] + [(0, 1)]
    r = {x.node: x.score for x in
         G.pagerank_integer(_edges(spark, pairs), k=8).collect()}
    leaves = [r[i] for i in range(2, 10)]
    assert r[1] > r[0] > max(leaves)
    assert len(set(leaves)) == 1          # symmetric leaves tie exactly
    assert leaves[0] == 10**9 * 15 // 100


def test_pagerank_base_floor_for_no_inlinks(spark):
    # 0 -> 1 only: node 0 has no in-links, so after any iteration its
    # score is exactly the integer teleport base
    r = {x.node: x.score for x in
         G.pagerank_integer(_edges(spark, [(0, 1)]), k=3,
                            init=10**9).collect()}
    assert r[0] == 10**9 * 15 // 100


def test_pagerank_no_bigint_overflow_on_huge_mass(spark):
    # in_sum near 2^62: a bare 85*in_sum would wrap bigint silently
    # (Spark non-ANSI); the (a div d)*n + ((a%d)*n) div d identity must
    # give the exact mathematical value instead of garbage
    init = 2 ** 62
    r = {x.node: x.score for x in
         G.pagerank_integer(_edges(spark, [(0, 1)]), k=1,
                            init=init).collect()}
    base = init * 15 // 100
    want = base + (init * 85) // 100   # exact in Python's unbounded ints
    assert r[1] == want
    assert r[1] > 0


def test_anchor_profile_counts_and_self_link_rule(spark):
    """External in-links count with multiplicity, distinct linking
    domains count each source domain once, self-links (same registered
    domain both ends) are excluded, and the top-k terms rank by
    frequency with term-asc ties."""
    links = spark.createDataFrame(
        [("http://a.com/1", "http://t.org/p", "best spark docs"),
         ("http://b.com/1", "http://t.org/p", "spark docs"),
         ("http://b.com/2", "http://t.org/p", "spark home"),
         ("http://t.org/self", "http://t.org/p", "me me me"),
         ("http://a.com/9", "http://u.org/q", "click here"),
         ("http://a.com/img", "http://v.org/pic", "  ")],  # token-less
        ["src_url", "dst_url", "anchor"])
    rows = G.anchor_profile(links, k=2).orderBy("domain", "rk").collect()
    t = [r for r in rows if r.domain == "t.org"]
    assert t[0].n_inlinks == 3 and t[0].n_linking_domains == 2
    assert [(r.rk, r.term, r.term_n) for r in t] == \
        [(1, "spark", 3), (2, "docs", 2)]
    u = [r for r in rows if r.domain == "u.org"]
    assert u[0].n_inlinks == 1 and u[0].n_linking_domains == 1
    # a domain linked only with token-less anchors keeps its counts
    # (one row, null term columns) — authority must not vanish with
    # the vocabulary
    v = [r for r in rows if r.domain == "v.org"]
    assert len(v) == 1 and v[0].n_inlinks == 1
    assert v[0].rk is None and v[0].term is None


def test_pagerank_warm_restart_composes_exactly(spark):
    """warm(k2, prior=cold(k1)) over the SAME edges ≡ cold(k1+k2) —
    the warm restart literally continues the integer recurrence, so
    composition is bit-exact, not approximate."""
    pairs = [(i % 17, (i * 7 + 1) % 17) for i in range(300)] \
        + [(i % 17, (i * 5 + 2) % 17) for i in range(300)]
    e = _edges(spark, pairs)
    cold5 = {r.node: r.score for r in G.pagerank_integer(e, k=5).collect()}
    prior = G.pagerank_integer(e, k=3)
    warm = {r.node: r.score for r in
            G.pagerank_warm_restart(e, prior, k=2).collect()}
    assert warm == cold5


def test_pagerank_warm_restart_new_nodes_and_delta(spark):
    """After an edge delta: nodes new to the graph start at init, the
    node universe equals a cold run's on the same edges, and the warm
    answer at small k is CLOSER to the converged ranks than a cold
    restart at the same k (the maintained-index economics)."""
    # a diversified digraph (mixed in/out degrees, hub-heavy low nodes —
    # a functional/permutation graph converges to uniform, where warm
    # and cold starts are indistinguishable and the test proves nothing)
    old = [((i * i + i) % 31, (i * 7 + 3) % 31) for i in range(400)] \
        + [(i % 5, (i * 11 + 2) % 31) for i in range(100)]
    # a SMALL delta (the warm-start regime): one new node with one
    # in-edge and one out-edge, plus one extra link between old nodes
    delta = [(31, 1), (2, 31), (4, 7)]
    e_old = _edges(spark, old)
    e_new = _edges(spark, old + delta)
    prior = G.pagerank_integer(e_old, k=8)
    warm2 = {r.node: r.score for r in
             G.pagerank_warm_restart(e_new, prior, k=2).collect()}
    cold2 = {r.node: r.score for r in
             G.pagerank_integer(e_new, k=2).collect()}
    full = {r.node: r.score for r in
            G.pagerank_integer(e_new, k=20).collect()}
    assert set(warm2) == set(full) == set(cold2)  # same node universe
    assert 31 in warm2                            # the new node ranks
    l1_warm = sum(abs(warm2[n] - full[n]) for n in full)
    l1_cold = sum(abs(cold2[n] - full[n]) for n in full)
    # python-replayed margin for this fixture: warm ≈ 0.11× cold's L1
    assert l1_warm * 2 < l1_cold, (l1_warm, l1_cold)
    # vanished-node semantics: a prior covering nodes absent from the
    # current edges simply drops them (cold-run node universe)
    assert set(warm2) == {r.node for r in
                          G.pagerank_integer(e_new, k=1).collect()}


def test_pagerank_warm_restart_partition_invariant(spark):
    pairs = [(i % 11, (i * 3 + 1) % 11) for i in range(150)]
    e = _edges(spark, pairs)
    prior = G.pagerank_integer(e, k=2)
    a = {r.node: r.score for r in
         G.pagerank_warm_restart(e, prior, k=2).collect()}
    b = {r.node: r.score for r in
         G.pagerank_warm_restart(e.repartition(7),
                                 prior.repartition(5), k=2).collect()}
    assert a == b


def test_pagerank_warm_restart_duplicate_prior_rows(spark):
    """A prior table with duplicate node rows (appended snapshots) must
    seed ONE row per node — a fanned-out join would multiply that node's
    contribution every iteration (r13 review fix)."""
    pairs = [(i % 7, (i * 3 + 1) % 7) for i in range(60)]
    e = _edges(spark, pairs)
    prior = G.pagerank_integer(e, k=2)
    doubled = prior.unionByName(prior)
    clean = {r.node: r.score for r in
             G.pagerank_warm_restart(e, prior, k=2).collect()}
    dup = {r.node: r.score for r in
           G.pagerank_warm_restart(e, doubled, k=2).collect()}
    assert dup == clean


def test_pagerank_degree_cache_bounded_by_rotation(spark):
    """The CacheManager never GC-frees SQL caches, and pagerank's lazy
    rank vector needs its O(nodes) out_deg cache past the call (eager
    in-call release was measured 2× slower, see graph.py), so the cache
    is released by GENERATION ROTATION: a repeat on the same edges
    replaces its own generation — the persistent-block census does not
    grow call over call — and distinct inputs keep at most
    ``_ROTATE_CAP`` generations live, unpersisting the oldest."""
    from pyspark import StorageLevel

    from dataweb_spark import session

    spark.catalog.clearCache()
    pairs = [(i % 13, (i * 7 + 1) % 13) for i in range(100)]

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    sizes, keys = [], []
    for _ in range(3):
        out = G.pagerank_integer(_edges(spark, pairs), k=3)
        assert out.count() == 13
        sizes.append(n_persistent())
        gens = session._PROXY_GENERATIONS[spark]["graph.pagerank.out_deg"]
        keys.append(list(gens))
    assert sizes[0] == sizes[1] == sizes[2], \
        f"pagerank cache grew across calls: {sizes}"
    assert keys[0] == keys[1] == keys[2]

    first = None
    for i in range(1, session._ROTATE_CAP + 3):
        G.pagerank_integer(_edges(spark, [(0, i), (i, 0)]), k=1).collect()
        if first is None:
            first = next(reversed(gens.values()))
        assert len(gens) <= session._ROTATE_CAP
    assert len(gens) == session._ROTATE_CAP
    assert first.storageLevel == StorageLevel.NONE

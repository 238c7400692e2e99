"""Federated TOP-GROUPS pushdown (``plans/topgroups.py``): ``ORDER BY
agg(...) LIMIT k`` over ``GROUP BY`` via the two-round threshold-bound
protocol — the reference's flagship Q3 shape
(``webengine/src/main.rs:86-124``, computed there over fully-shipped
rows; the aggpush path here ships O(groups) partials; this ships
O(k·sources)).

Covers: the rejection grid (every entry keeps the aggpush path and
stays correct), differential answers vs the row path across the
accepted shapes, soundness with negative sums / NULL partials / NULL
group keys, the provable-exclusion fallback, and the served-rows proof
that the wire actually shrinks below O(groups)."""

import datetime
from decimal import Decimal

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from dataweb_spark.catalog.model import (
    DataConnection,
    DataSource,
    Entity,
    Information,
    Mapping,
    RelayCatalog,
    Web,
)
from dataweb_spark.plans.aggpush import extract_aggregate_query
from dataweb_spark.plans.gateway import QueryGateway
from dataweb_spark.plans.resolve import (
    PROVENANCE_RELAY,
    PROVENANCE_SOURCE,
)
from dataweb_spark.plans.topgroups import (
    plan_topk_groups,
    run_topk_groups,
)
from dataweb_spark.plans.validation import validate_sql


# ---------------------------------------------------------------------------
# plan gating (the rejection grid) — pure planner, no peers needed
# ---------------------------------------------------------------------------

_COLS = {"g", "h", "v", "w"}
_TYPES = {"g": "string", "h": "bigint", "v": "double", "w": "double"}


def _plan(spark, sql):
    spec = extract_aggregate_query(validate_sql(spark, sql), "e",
                                   entity_columns=_COLS,
                                   entity_types=_TYPES)
    if spec is None:
        return None, None
    return spec, plan_topk_groups(spec)


def test_plan_accepts_sum_desc(spark):
    spec, plan = _plan(spark, "select g, sum(v) as s from e group by g "
                              "order by s desc limit 5")
    assert plan is not None
    assert plan.fn == "sum" and not plan.asc and plan.m == 21
    assert plan.group_cols == ["g"] and plan.group_exprs == ["g"]


def test_plan_accepts_hidden_order_key_and_extra_group(spark):
    spec, plan = _plan(spark, "select count(*) as n from e group by g "
                              "order by max(v) desc limit 3")
    assert plan is not None
    assert plan.fn == "max"
    assert plan.group_cols == ["__g0"]  # unprojected key ships as __g0
    assert plan.primary_name.startswith("__h")  # hidden merge column


def test_plan_accepts_min_asc_and_rounded_primary(spark):
    _, plan = _plan(spark, "select g, min(v) as lo from e group by g "
                           "order by lo asc limit 2")
    assert plan is not None and plan.asc and plan.fn == "min"
    _, plan2 = _plan(spark, "select g, round(sum(v), 2) as s from e "
                            "group by g order by s desc limit 2")
    assert plan2 is not None and plan2.digits == 2


def test_plan_strict_flag_tracks_multi_key_order(spark):
    _, single = _plan(spark, "select g, sum(v) as s from e group by g "
                             "order by s desc limit 5")
    _, multi = _plan(spark, "select g, sum(v) as s from e group by g "
                            "order by s desc, g asc limit 5")
    assert single.strict is False and multi.strict is True


@pytest.mark.parametrize("sql, why", [
    ("select g, sum(v) as s from e group by g order by s desc",
     "no LIMIT: nothing to bound"),
    ("select g, sum(v) as s from e group by g order by s asc limit 5",
     "bottom-k by an additive measure has no residual bound"),
    ("select g, count(*) as n from e group by g order by n asc limit 5",
     "bottom-k by count: same"),
    ("select g, avg(v) as a from e group by g order by a desc limit 5",
     "avg: a ratio of partials has no per-source bound"),
    ("select g, sum(v) as s from e group by g having sum(v) > 0 "
     "order by s desc limit 5",
     "HAVING: the k-th SURVIVING value is unknowable for unseen groups"),
    ("select g, count(distinct h) as n from e group by g "
     "order by n desc limit 5",
     "DISTINCT grain refinement: no one-row-per-group partial"),
    ("select g, sum(v) as s, sum(distinct w) as sd from e group by g "
     "order by s desc limit 5",
     "DISTINCT anywhere refines the grain, not just on the order key"),
    ("select g, sum(v) as s from e group by g order by g asc limit 5",
     "group-key primary: not a measure ordering"),
    ("select g, sum(v) / count(*) as r from e group by g "
     "order by r desc limit 5",
     "expression primary: no single partial column to bound"),
    ("select sum(v) as s from e order by s desc limit 5",
     "no GROUP BY: a one-row answer needs no protocol"),
])
def test_plan_rejection_grid(spark, sql, why):
    spec, plan = _plan(spark, sql)
    if spec is not None:
        assert plan is None, why


# ---------------------------------------------------------------------------
# protocol internals over a FAKE per-source union (no server): the
# deterministic edges — NULL candidate keys, unprovable exclusion,
# all-exhausted shortcut
# ---------------------------------------------------------------------------

def _fake_union(spark, views):
    """A ``run_union`` that replays the template per registered view —
    the same per-source semantics ``query_template_union`` provides,
    without the gRPC hop."""
    def run(sql, round_fact=None):
        parts = []
        for name in views:
            spark.table(name).createOrReplaceTempView("e")
            parts.append(spark.sql(sql)
                         .withColumn(PROVENANCE_RELAY, F.lit("fake"))
                         .withColumn(PROVENANCE_SOURCE, F.lit(name)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out
    return run


def _spec_plan(spark, sql, types):
    spec = extract_aggregate_query(validate_sql(spark, sql), "e",
                                   entity_columns=set(types),
                                   entity_types=types)
    assert spec is not None
    plan = plan_topk_groups(spec)
    assert plan is not None
    return spec, plan


def test_run_null_candidate_key_falls_back(spark):
    """A NULL group key inside the candidate set can't ride the round-2
    IN-list: the run must return None (fallback), not drop the group."""
    rows = [Row(g=(None if i % 25 == 0 else f"g{i % 25:02d}"),
                v=float(1000 if i % 25 == 0 else i % 40))
            for i in range(200)]
    spark.createDataFrame(rows).createOrReplaceTempView("tgf_a")
    # 25 groups incl. NULL (which has the TOP sum → always a candidate);
    # m = 18 < 25 so the source is not exhausted
    _spec, plan = _spec_plan(
        spark, "select g, sum(v) as s from e group by g "
               "order by s desc limit 2", {"g": "string", "v": "double"})
    assert plan.m < 25
    out = run_topk_groups(spark, plan, _fake_union(spark, ["tgf_a"]))
    assert out is None


def test_run_unprovable_residual_resolves_via_threshold_phase(spark):
    """Uniform primary values with a multi-key (strict) order: the k-th
    candidate ties the residual bound exactly — the round-1 exclusion
    refuses, and the TPUT threshold phase takes over: HAVING min(v) >=
    kth discovers EVERY potentially-tying group, and the exact round-4
    merge resolves the strict tie-break correctly."""
    rows = [Row(g=f"g{i % 30:02d}", v=1.0) for i in range(300)]
    spark.createDataFrame(rows).createOrReplaceTempView("tgf_b")
    _spec, plan = _spec_plan(
        spark, "select g, min(v) as lo from e group by g "
               "order by lo desc, g asc limit 3",
        {"g": "string", "v": "double"})
    assert plan.strict and plan.m < 30
    out = run_topk_groups(spark, plan, _fake_union(spark, ["tgf_b"]))
    assert out is not None
    got = [tuple(r) for r in out.collect()]
    assert got == [("g00", 1.0), ("g01", 1.0), ("g02", 1.0)]


def test_run_all_exhausted_merges_round1_directly(spark):
    """Fewer groups than m everywhere: round 1 already holds every
    partial — the answer merges without a round 2, NULL keys included."""
    rows = [Row(g=(None if i % 4 == 0 else f"g{i % 4}"), v=float(i % 7))
            for i in range(80)]
    spark.createDataFrame(rows).createOrReplaceTempView("tgf_c")
    spec, plan = _spec_plan(
        spark, "select g, round(sum(v), 1) as s, count(*) as n from e "
               "group by g order by s desc, g asc limit 3",
        {"g": "string", "v": "double"})
    out = run_topk_groups(spark, plan, _fake_union(spark, ["tgf_c"]))
    assert out is not None
    got = [tuple(r) for r in out.collect()]
    spark.table("tgf_c").createOrReplaceTempView("e")
    want = [tuple(r) for r in spark.sql(
        "select g, round(sum(v), 1) as s, count(*) as n from e "
        "group by g order by s desc, g asc limit 3").collect()]
    assert got == want


def test_run_two_sources_negative_sums_exact(spark):
    """Negative partials: Σ max(τ, 0) keeps the bound sound — a skewed
    source pair where the winner is mediocre at each source alone."""
    a = [Row(g=f"g{i:03d}", v=-5.0) for i in range(40)] \
        + [Row(g="win", v=60.0)]
    b = [Row(g=f"g{i:03d}", v=float(i % 3)) for i in range(40)] \
        + [Row(g="win", v=55.0)]
    spark.createDataFrame(a).createOrReplaceTempView("tgf_d1")
    spark.createDataFrame(b).createOrReplaceTempView("tgf_d2")
    spec, plan = _spec_plan(
        spark, "select g, sum(v) as s from e group by g "
               "order by s desc limit 1", {"g": "string", "v": "double"})
    out = run_topk_groups(spark, plan,
                          _fake_union(spark, ["tgf_d1", "tgf_d2"]))
    assert out is not None
    assert [tuple(r) for r in out.collect()] == [("win", 115.0)]


# ---------------------------------------------------------------------------
# end-to-end over a live in-process peer, controlled data
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def tg_env(spark):
    """A peer relay serving a synthetic two-source ``sales`` entity with
    negative values, NULL measures, and date/decimal columns — the
    literal-rendering and bound-soundness hazards — plus an edge relay
    whose only source is that peer."""
    from dataweb_spark.sources.flight_service import serve_in_background

    def rows(src):
        out = []
        for i in range(400):
            g = f"grp{i % 37:02d}"
            v = float((i * 7919) % 113) - 20.0     # negatives included
            if i % 61 == 0:
                v = None                           # NULL measures
            d = datetime.date(2024, 1 + (i % 12), 1)
            out.append(Row(g=g, gd=d, gn=i % 5,
                           v=v, amt=Decimal(str((i % 50) + 0.25)),
                           src=src))
        return out
    a = spark.createDataFrame(rows("a")[:260])
    b = spark.createDataFrame(rows("b")[140:])
    a.createOrReplaceTempView("tg_sales_a")
    b.createOrReplaceTempView("tg_sales_b")

    infos = [Information("g", "string"), Information("gd", "date"),
             Information("gn", "bigint"), Information("v", "double"),
             Information("amt", "decimal(12,2)")]
    peer = RelayCatalog(name="tg_peer")
    peer.add_entity(Entity("sales", list(infos)))
    peer.add_connection(DataConnection("views", "view", {}))
    for t in ("tg_sales_a", "tg_sales_b"):
        peer.add_source(DataSource(
            name=t, connection="views", entity="sales",
            source_sql="select * from {table}",
            mappings=[Mapping(i.name, i.name) for i in infos],
            options={"table": t}))
    pweb = Web()
    pweb.add_relay(peer)
    srv = serve_in_background(spark, pweb, "tg_peer")

    edge = RelayCatalog(name="tg_edge")
    edge.add_entity(Entity("sales", list(infos)))
    edge.add_connection(DataConnection(
        "peer", "flight", {"port": str(srv.port)}))
    edge.add_source(DataSource(
        name="sales_peer", connection="peer", entity="sales",
        source_sql="select * from {table}",
        mappings=[Mapping(i.name, i.name) for i in infos],
        options={"entity": "sales"}))
    web = Web()
    web.add_relay(edge)
    gw = QueryGateway(spark, web, "tg_edge")
    yield gw, srv, a
    srv.shutdown()


def _differential(gw, sql, expect_protocol=True):
    got = gw.query(sql)
    took = gw.last_topk_groups
    rows = [tuple(r) for r in got.collect()]
    ref = [tuple(r) for r in gw.query(sql, topk_pushdown=False).collect()]
    assert rows == ref, sql
    assert took is expect_protocol, sql
    return rows


def test_sum_desc_with_negative_values(tg_env):
    gw, _, _ = tg_env
    _differential(gw, """
        select g, round(sum(v), 2) as total, count(*) as n
        from sales group by g order by total desc, g asc limit 6""")


def test_null_measures_ride_the_bound(tg_env):
    gw, _, _ = tg_env
    _differential(gw, """
        select g, max(v) as hi from sales
        group by g order by hi desc, g asc limit 4""")


def test_min_asc_bound(tg_env):
    gw, _, _ = tg_env
    _differential(gw, """
        select g, min(v) as lo from sales
        group by g order by lo asc, g asc limit 4""")


def test_decimal_measure_and_date_group_keys(tg_env):
    """date group keys render into the round-2 IN-list as ISO strings;
    decimal measures keep exact Decimal bound arithmetic. 12 date
    groups < m → exercises the all-exhausted merge at the live peer."""
    gw, _, _ = tg_env
    _differential(gw, """
        select gd, round(sum(amt), 2) as total
        from sales group by gd order by total desc, gd asc limit 5""")


def test_where_filter_rides_both_rounds(tg_env):
    gw, _, _ = tg_env
    _differential(gw, """
        select g, round(sum(v), 1) as total from sales
        where v > -5 and g <> 'grp00'
        group by g order by total desc, g asc limit 5""")


def test_multi_column_group_in_list(tg_env):
    """Composite group keys round-trip the (a, b) IN ((..), ..) form."""
    gw, _, _ = tg_env
    _differential(gw, """
        select g, gn, round(sum(v), 2) as total from sales
        group by g, gn order by total desc, g asc, gn asc limit 5""")


def test_served_rows_scale_with_k_not_groups(tg_env):
    """The whole point: wire ≤ (m + |candidates|)·sources, independent
    of the group count — strictly below the aggpush O(groups) partials
    for the same query."""
    gw, srv, _ = tg_env
    sql = """
        select g, round(sum(v), 2) as total from sales
        group by g order by total desc, g asc limit 3"""
    before = srv.served_rows
    gw.query(sql).collect()
    protocol_rows = srv.served_rows - before
    assert gw.last_topk_groups is True
    before = srv.served_rows
    gw.query(sql, topk_pushdown=False).collect()
    aggpush_rows = srv.served_rows - before
    # m = 19 → round 1 ships ≤ 19/source; candidates ≤ 38 → round 2
    # ≤ 38/source; 37 groups/source means aggpush ships 74
    assert aggpush_rows == 74
    assert protocol_rows <= (19 + 38) * 2
    assert protocol_rows < 2 * aggpush_rows


def test_wire_flat_when_groups_grow_10x(spark, tg_env):
    """Scale point: the group count grows 10× (source a swaps to a
    370-group frame), k fixed — candidates and wire stay bounded by
    m + |candidates|, NOT by the group count."""
    gw, srv, original_a = tg_env
    # skewed sums — 3 clear winners over a flat 367-group tail — so the
    # exclusion bound is provable (a flat distribution would correctly
    # fall back: no k-th candidate can dominate the residuals there)
    wide = spark.range(0, 4000).select(
        F.concat(F.lit("w"), (F.col("id") % 370).cast("string")).alias("g"),
        F.lit(datetime.date(2024, 1, 1)).alias("gd"),
        (F.col("id") % 5).alias("gn"),
        F.when(F.col("id") % 370 < 3, 500.0).otherwise(1.0).alias("v"),
        F.lit(Decimal("1.00")).cast("decimal(12,2)").alias("amt"),
        F.lit("w").alias("src"))
    wide.createOrReplaceTempView("tg_sales_a")  # 370 groups in source a
    try:
        sql = """
            select g, round(sum(v), 2) as total from sales
            group by g order by total desc, g asc limit 3"""
        before = srv.served_rows
        got = [tuple(r) for r in gw.query(sql).collect()]
        shipped = srv.served_rows - before
        assert gw.last_topk_groups is True
        ref = [tuple(r) for r in
               gw.query(sql, topk_pushdown=False).collect()]
        assert got == ref
        # 370 + 37 groups, but the protocol still ships ≤ (m + |G|)·2
        assert shipped <= (19 + 38) * 2, shipped
    finally:
        original_a.createOrReplaceTempView("tg_sales_a")


def test_protocol_disabled_flag_keeps_partial_path(tg_env):
    gw, _, _ = tg_env
    sql = """
        select g, sum(v) as s from sales
        group by g order by s desc, g asc limit 2"""
    got = [tuple(r) for r in gw.query(sql, topk_pushdown=False).collect()]
    assert gw.last_topk_groups is False
    ref = [tuple(r) for r in gw.query(sql).collect()]
    assert got == ref


def test_threshold_phase_flat_distribution_two_sources(spark):
    """r15: a FLAT distribution (all group totals within a narrow band)
    defeats the round-1 residual bound by construction — the TPUT
    threshold phase must resolve it exactly instead of falling back."""
    import random as _r
    rng = _r.Random(7)
    a = [Row(g=f"g{i % 80:02d}", v=float(rng.randint(40, 60)))
         for i in range(800)]
    b = [Row(g=f"g{i % 80:02d}", v=float(rng.randint(40, 60)))
         for i in range(800)]
    spark.createDataFrame(a).createOrReplaceTempView("tgt_a")
    spark.createDataFrame(b).createOrReplaceTempView("tgt_b")
    spec, plan = _spec_plan(
        spark, "select g, sum(v) as s from e group by g "
               "order by s desc, g asc limit 3",
        {"g": "string", "v": "double"})
    assert plan.m < 80  # genuinely non-exhausted
    out = run_topk_groups(spark, plan,
                          _fake_union(spark, ["tgt_a", "tgt_b"]))
    assert out is not None
    got = [tuple(r) for r in out.collect()]
    spark.sql("select g, sum(v) as s from (select * from tgt_a "
              "union all select * from tgt_b) group by g "
              "order by s desc, g asc limit 3") \
        .createOrReplaceTempView("tgt_ref")
    want = [tuple(r) for r in spark.table("tgt_ref").collect()]
    assert got == want


def test_threshold_phase_nonpositive_boundary_falls_back(spark):
    """sum-DESC with a NON-POSITIVE k-th boundary: the kth/|S| split is
    unsound there (absent sources contribute 0 > kth/|S|) — must refuse
    rather than resolve."""
    rows = [Row(g=f"g{i % 30:02d}", v=-1.0) for i in range(300)]
    spark.createDataFrame(rows).createOrReplaceTempView("tgt_neg")
    _spec, plan = _spec_plan(
        spark, "select g, sum(v) as s from e group by g "
               "order by s desc, g asc limit 3",
        {"g": "string", "v": "double"})
    assert plan.m < 30
    out = run_topk_groups(spark, plan, _fake_union(spark, ["tgt_neg"]))
    assert out is None


def test_threshold_phase_count_integer_division(spark):
    """count-DESC boundary split kth/|S| floor-quantizes to an exact
    decimal literal; flat counts resolve exactly."""
    rows = [Row(g=f"g{i % 50:02d}", v=1.0) for i in range(650)]
    spark.createDataFrame(rows).createOrReplaceTempView("tgt_cnt")
    _spec, plan = _spec_plan(
        spark, "select g, count(*) as n from e group by g "
               "order by n desc, g asc limit 4",
        {"g": "string", "v": "double"})
    assert plan.m < 50
    out = run_topk_groups(spark, plan, _fake_union(spark, ["tgt_cnt"]))
    assert out is not None
    got = [tuple(r) for r in out.collect()]
    spark.table("tgt_cnt").createOrReplaceTempView("e")
    want = [tuple(r) for r in spark.sql(
        "select g, count(*) as n from e group by g "
        "order by n desc, g asc limit 4").collect()]
    assert got == want


def test_threshold_phase_refuses_rounded_primary(spark):
    """review-caught r15: a round(agg, d) primary makes the threshold
    split unsound (rounded boundary vs raw partials — a raw total below
    every per-source threshold can still ROUND into a boundary tie), so
    a flat distribution with a rounded primary must FALL BACK, not
    resolve."""
    rows = [Row(g=f"g{i % 40:02d}", v=1.0) for i in range(400)]
    spark.createDataFrame(rows).createOrReplaceTempView("tgt_rnd")
    _spec, plan = _spec_plan(
        spark, "select g, round(sum(v), 1) as s from e group by g "
               "order by s desc, g asc limit 3",
        {"g": "string", "v": "double"})
    assert plan.digits == 1 and plan.m < 40
    out = run_topk_groups(spark, plan, _fake_union(spark, ["tgt_rnd"]))
    assert out is None


def test_nan_partials_refuse_protocol(spark):
    """review-caught r15: NaN partials poison every bound (Spark sorts
    NaN greatest, Python min() propagates it) — the protocol must refuse
    and leave NaN semantics to the fallback's plain SQL."""
    rows = [Row(g=f"g{i % 30:02d}",
                v=(float("nan") if i % 30 == 7 else 1.0))
            for i in range(300)]
    spark.createDataFrame(rows).createOrReplaceTempView("tgt_nan")
    _spec, plan = _spec_plan(
        spark, "select g, sum(v) as s from e group by g "
               "order by s desc, g asc limit 2",
        {"g": "string", "v": "double"})
    assert plan.m < 30
    out = run_topk_groups(spark, plan, _fake_union(spark, ["tgt_nan"]))
    assert out is None


def test_date_keys_ride_a_nonexhausted_round2(spark):
    """review-caught r15 (test-coverage): the earlier date-key test was
    all-exhausted (12 groups < m) so the IN-list date-literal rendering
    never ran. 40 date groups > m with planted skew force a real round 2
    whose candidate keys are dates."""
    base = datetime.date(2024, 1, 1)
    rows = []
    for i in range(800):
        d = base + datetime.timedelta(days=i % 40)
        v = 500.0 if i % 40 < 3 else 1.0  # 3 clear winners, flat tail
        rows.append(Row(gd=d, v=v))
    spark.createDataFrame(rows).createOrReplaceTempView("tgt_dates")
    _spec, plan = _spec_plan(
        spark, "select gd, sum(v) as s from e group by gd "
               "order by s desc, gd asc limit 2",
        {"gd": "date", "v": "double"})
    assert plan.m < 40
    out = run_topk_groups(spark, plan, _fake_union(spark, ["tgt_dates"]))
    assert out is not None
    got = [tuple(r) for r in out.collect()]
    spark.table("tgt_dates").createOrReplaceTempView("e")
    want = [tuple(r) for r in spark.sql(
        "select gd, sum(v) as s from e group by gd "
        "order by s desc, gd asc limit 2").collect()]
    assert got == want


def test_composite_timestamp_group_keys_keep_exact_casts(spark):
    """review-caught r15: composite struct-IN has no implicit coercion —
    a timestamp element must render CAST(... AS TIMESTAMP) exactly (the
    portable-cast map alone would drop it and either fail analysis or
    silently compare mismatched string renderings)."""
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(600):
        g = f"g{i % 10}"
        ts = base + datetime.timedelta(hours=i % 6)
        v = 500.0 if (i % 10, i % 6) in ((0, 0), (1, 1), (2, 2)) else 1.0
        rows.append(Row(g=g, ts=ts, v=v))
    spark.createDataFrame(rows).createOrReplaceTempView("tgt_ts")
    _spec, plan = _spec_plan(
        spark, "select g, ts, sum(v) as s from e group by g, ts "
               "order by s desc, g asc, ts asc limit 2",
        {"g": "string", "ts": "timestamp", "v": "double"})
    assert plan.m < 60  # 60 (g, ts) groups: non-exhausted, real round 2
    out = run_topk_groups(spark, plan, _fake_union(spark, ["tgt_ts"]))
    assert out is not None
    got = [tuple(r) for r in out.collect()]
    spark.table("tgt_ts").createOrReplaceTempView("e")
    want = [tuple(r) for r in spark.sql(
        "select g, ts, sum(v) as s from e group by g, ts "
        "order by s desc, g asc, ts asc limit 2").collect()]
    assert got == want


# ---------------------------------------------------------------------------
# property: protocol == direct SQL on ANY dataset, or honest fallback
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst

_VALS = hst.one_of(
    hst.none(),
    hst.integers(min_value=-50, max_value=50).map(float),
    hst.sampled_from([0.0, -0.5, 1e12, -1e12]))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(data=hst.lists(
    hst.tuples(hst.integers(min_value=0, max_value=30),  # group id
               _VALS),
    min_size=1, max_size=250),
    k=hst.integers(min_value=1, max_value=4),
    split=hst.integers(min_value=0, max_value=249),
    fn_dir=hst.sampled_from([("sum", "desc"), ("max", "desc"),
                             ("min", "asc"), ("count", "desc")]))
def test_protocol_matches_direct_sql_property(spark, data, k, split,
                                              fn_dir):
    """For ANY dataset (negatives, NULLs, ties, huge magnitudes, any
    2-way split across sources) and any accepted (fn, direction): the
    protocol either falls back (None — always correct by construction)
    or returns EXACTLY the direct-SQL answer. The secondary group-key
    sort makes the expected output a total order."""
    fn, direction = fn_dir
    rows = [Row(g=f"g{gid:02d}", v=v) for gid, v in data]
    a, b = rows[:split], rows[split:]
    import pyspark.sql.types as T
    schema = T.StructType([T.StructField("g", T.StringType()),
                           T.StructField("v", T.DoubleType())])
    views = []
    for i, part in enumerate((a, b)):
        if part:
            name = f"tgp_prop_{i}"
            spark.createDataFrame(part, schema) \
                 .createOrReplaceTempView(name)
            views.append(name)
    if not views:
        return
    arg = "v" if fn != "count" else "*"
    sql = (f"select g, {fn}({arg}) as s from e group by g "
           f"order by s {direction} nulls "
           f"{'last' if direction == 'desc' else 'first'}, g asc "
           f"limit {k}")
    types = {"g": "string", "v": "double"}
    spec = extract_aggregate_query(validate_sql(spark, sql), "e",
                                   entity_columns=set(types),
                                   entity_types=types)
    assert spec is not None
    plan = plan_topk_groups(spec)
    assert plan is not None
    out = run_topk_groups(spark, plan, _fake_union(spark, views))
    if out is None:
        return  # documented fallback: aggpush answers identically
    got = [tuple(r) for r in out.collect()]
    union = " union all ".join(f"select * from {v}" for v in views)
    want = [tuple(r) for r in spark.sql(
        sql.replace("from e", f"from ({union})")).collect()]
    assert got == want

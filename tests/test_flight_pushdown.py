"""Projection/filter/limit pushdown into flight-peer scans.

The reference serializes (projection, pushed filters, limit) into each
per-endpoint scan (``webengine/src/web_source.rs:105-123``, unparser
``webengine/src/expr_to_sql.rs:32-106``); ``readers._peer_sql`` is the
Spark-side analog. These tests prove BOTH properties the reference
guarantees: answers unchanged, and the transfer actually shrinks (via the
relay's served-rows counter)."""

import pytest

from pyspark.sql import functions as F

from dataweb_spark.catalog.model import (
    DataConnection,
    DataSource,
    Entity,
    Mapping,
    RelayCatalog,
    SourcePermission,
    Transformation,
    Web,
)
from dataweb_spark.plans.gateway import QueryGateway
from dataweb_spark.plans.validation import validate_sql
from dataweb_spark.sources.readers import _peer_sql


# ---------------------------------------------------------------------------
# _peer_sql unit behavior (the expr_to_sql analog)
# ---------------------------------------------------------------------------

def _src(**kw):
    defaults = dict(name="s", connection="c", entity="e",
                    source_sql="select * from {table}",
                    mappings=[Mapping("a", "a"), Mapping("b", "b_phys"),
                              Mapping("c", "c")],
                    options={"entity": "peer_e"})
    defaults.update(kw)
    return DataSource(**defaults)


def test_peer_sql_projects_referenced_columns():
    sql, projected = _peer_sql(_src(), None, None, {"a", "b"})
    assert sql == "SELECT a, b_phys FROM peer_e"
    assert projected == {"a", "b"}


def test_peer_sql_star_fetches_everything():
    sql, projected = _peer_sql(_src(), None, None, None)
    assert sql == "SELECT * FROM peer_e"
    assert projected is None


def test_peer_sql_no_referenced_columns_keeps_row_count():
    # `select count(*) from e` references nothing — one column must still
    # be fetched so the peer's row count survives.
    sql, projected = _peer_sql(_src(), None, None, {"count"})
    assert sql == "SELECT a FROM peer_e"
    assert projected == {"a"}


def test_peer_sql_pushes_identity_conjuncts():
    sql, _ = _peer_sql(_src(), [("a", "<", 10), ("b", "=", "x")], None, None)
    assert sql == "SELECT * FROM peer_e WHERE (a < 10) AND (b_phys = 'x')"


def test_peer_sql_inverts_affine_transformed_conjuncts():
    src = _src(mappings=[
        Mapping("a", "a", Transformation("{v} * 100", "{v} / 100")),
        Mapping("b", "b"),
    ])
    sql, _ = _peer_sql(src, [("a", "<", 10), ("b", ">=", 5)], None, None)
    # a's boundary is inverted through the transform (10/100 = 0.1), with a
    # 1e-9-relative widening and a non-strict op so engine-side float
    # rounding can never drop a row the local predicate keeps
    assert sql == ("SELECT * FROM peer_e WHERE (a <= 0.100000001) "
                   "AND (b >= 5)")


def test_peer_sql_negative_slope_flips_operator():
    src = _src(mappings=[
        Mapping("a", "a", Transformation("100 - {v}", "100 - {v}")),
        Mapping("b", "b"), Mapping("c", "c"),
    ])
    sql, _ = _peer_sql(src, [("a", "<", 30)], None, None)
    # f(x) = 100 - x is decreasing: local a < 30 ⟺ peer x > 70; the
    # widening margin scales with the SUMMANDS (|30|+|100|)/|−1| = 130
    # (r11 soundness fix), hence 70 − 1.3e-7
    assert sql == "SELECT * FROM peer_e WHERE (a >= 69.99999987)"


def test_peer_sql_equality_on_transformed_column_becomes_range():
    src = _src(mappings=[
        Mapping("a", "a", Transformation("{v} * 100", "{v} / 100")),
        Mapping("b", "b"), Mapping("c", "c"),
    ])
    sql, _ = _peer_sql(src, [("a", "=", 10)], None, None)
    assert sql == ("SELECT * FROM peer_e WHERE (a >= 0.099999999) "
                   "AND (a <= 0.100000001)")


def test_peer_sql_drops_non_invertible_transforms():
    src = _src(mappings=[
        Mapping("a", "a", Transformation("abs({v})", "{v}")),
        Mapping("b", "b"), Mapping("c", "c"),
    ])
    sql, _ = _peer_sql(src, [("a", "<", 10)], None, None)
    assert sql == "SELECT * FROM peer_e"


def test_peer_sql_drops_unmapped_conjuncts():
    # 'z' has no mapping: the local view NULL-fills it, and the peer table
    # may not have a column by that name at all — pushing it would error
    # the whole peer query.
    sql, _ = _peer_sql(_src(), [("z", "<", 10), ("a", "=", 1)], None, None)
    assert sql == "SELECT * FROM peer_e WHERE (a = 1)"


def test_peer_sql_escapes_string_literals():
    sql, _ = _peer_sql(_src(), [("a", "=", "O'Brien")], None, None)
    assert "(a = 'O''Brien')" in sql


def test_peer_sql_date_literal():
    import datetime
    sql, _ = _peer_sql(_src(), [("a", "<=", datetime.date(1995, 3, 15))],
                       None, None)
    assert "(a <= DATE '1995-03-15')" in sql


def test_peer_sql_limit_only_without_filters():
    sql, _ = _peer_sql(_src(), None, 7, None)
    assert sql.endswith("LIMIT 7")
    sql2, _ = _peer_sql(_src(), [("a", "<", 10)], 7, None)
    assert "LIMIT" not in sql2


def test_peer_sql_limit_suppressed_when_conjunct_dropped():
    # A conjunct that cannot be pushed (unmapped info / non-invertible
    # transform) means the peer stream is a SUPERSET of the answer;
    # forwarding LIMIT would return the first n rows of the wrong stream.
    # Even though every dropped conjunct leaves `kept` empty, the limit
    # must NOT ride along (r12 fix: guard on dropped, not just on kept).
    sql, _ = _peer_sql(_src(), [("z", "<", 10)], 7, None)  # unmapped
    assert "LIMIT" not in sql
    src = _src(mappings=[
        Mapping("a", "a", Transformation("abs({v})", "{v}")),
        Mapping("b", "b"), Mapping("c", "c"),
    ])
    sql2, _ = _peer_sql(src, [("a", "<", 10)], 7, None)  # non-invertible
    assert "LIMIT" not in sql2


def test_peer_sql_permissions_disable_projection_and_limit():
    src = _src(default_permission=SourcePermission(
        frozenset(["a", "b"]), "a < 100"))
    sql, projected = _peer_sql(src, [("a", "<", 10)], 7, {"a"})
    assert sql == "SELECT * FROM peer_e WHERE (a < 10)"
    assert projected is None


def test_peer_sql_nontrivial_source_sql_disables_everything():
    src = _src(source_sql="select a, a * 2 as b_phys from {table}")
    sql, projected = _peer_sql(src, [("a", "<", 10)], 7, {"a"})
    assert sql == "SELECT * FROM peer_e"
    assert projected is None


# ---------------------------------------------------------------------------
# End-to-end against a live relay (in-process server, separate gRPC socket)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def peer_server(spark, demo_web):
    from dataweb_spark.sources.flight_service import serve_in_background
    s = serve_in_background(spark, demo_web, "na_us")
    yield s
    s.shutdown()


@pytest.fixture()
def edge_gateway(spark, peer_server):
    from dataweb_spark.demo import LINEITEM_INFOS
    edge = RelayCatalog(name="edge_pd")
    edge.add_entity(Entity("lineitem", list(LINEITEM_INFOS)))
    edge.add_connection(DataConnection(
        "peer_flight", "flight", {"port": str(peer_server.port)}))
    edge.add_source(DataSource(
        name="lineitem_peer", connection="peer_flight", entity="lineitem",
        source_sql="select * from {table}",
        mappings=[Mapping(i.name, i.name) for i in LINEITEM_INFOS],
        options={"entity": "lineitem", "mode": "engine"}))
    web = Web()
    web.add_relay(edge)
    return QueryGateway(spark, web, "edge_pd")


def test_filter_pushdown_shrinks_transfer_same_answer(
        spark, demo_web, peer_server, edge_gateway):
    from dataweb_spark.plans.resolve import resolve_entity

    local = resolve_entity(spark, demo_web, "na_us", "lineitem")
    want = (local.where("quantity < 5")
                 .groupBy("returnflag").count().collect())
    want = {r["returnflag"]: r["count"] for r in want}
    total = local.count()

    # row path (partial_aggregate off): the peer ships exactly the
    # FILTERED rows — filter pushdown at work
    before = peer_server.served_rows
    got = edge_gateway.query(
        "select returnflag, count(*) as n from lineitem "
        "where quantity < 5 group by returnflag", partial_aggregate=False)
    got = {r["returnflag"]: r["n"] for r in got.collect()}
    shipped = peer_server.served_rows - before
    assert got == want                      # answers unchanged
    assert 0 < shipped < total              # peer pre-filtered the transfer
    assert shipped == local.where("quantity < 5").count()

    # default engine path: the aggregate decomposes, the peer ships GROUP
    # partials — transfer no longer scales with the row count at all
    before = peer_server.served_rows
    got2 = edge_gateway.query(
        "select returnflag, count(*) as n from lineitem "
        "where quantity < 5 group by returnflag")
    got2 = {r["returnflag"]: r["n"] for r in got2.collect()}
    shipped2 = peer_server.served_rows - before
    assert got2 == want
    assert 0 < shipped2 <= 12, shipped2     # group rows, not entity rows


def test_engine_partial_aggregate_differential(spark, demo_web, peer_server,
                                               edge_gateway):
    """Every accepted aggregate shape must answer IDENTICALLY through the
    partial-merge path and the row path."""
    grid = [
        "select count(*) as n from lineitem",
        "select count(orderkey) as n, sum(quantity) as q from lineitem",
        "select returnflag, count(*) as n from lineitem group by returnflag",
        "select linestatus, avg(quantity) as aq, min(shipdate) as d0, "
        "max(extendedprice) as mx from lineitem group by linestatus",
        "select returnflag as rf, sum(tax_amount) as t from lineitem "
        "where quantity < 9 group by returnflag order by t desc limit 2",
        "select returnflag, linestatus, count(*) as n from lineitem "
        "group by returnflag, linestatus order by returnflag, linestatus",
        # NULL-heavy column: csv source maps no orderkey (NULL-filled)
        "select returnflag, count(orderkey) as n, avg(orderkey) as a "
        "from lineitem group by returnflag",
        # round() wrappers commute with the merge (applied once, combined)
        "select returnflag, round(sum(quantity), 2) as q, "
        "round(avg(extendedprice), 4) as p from lineitem "
        "group by returnflag order by returnflag",
        "select round(sum(tax_amount), 2) as t from lineitem",
    ]
    for sql in grid:
        fast = edge_gateway.query(sql).collect()
        slow = edge_gateway.query(sql, partial_aggregate=False).collect()
        def canon(rows):
            return sorted(
                [tuple(round(v, 6) if isinstance(v, float) else v
                       for v in r) for r in rows], key=repr)
        assert canon(fast) == canon(slow), sql


def test_transformed_filter_pushdown_shrinks_transfer(
        spark, demo_web, peer_server):
    """A filter on a column behind a NON-identity mapping must still narrow
    the peer transfer (``mappings.rs:124-149`` inverse composition): the
    edge stores tax as a fraction derived from the peer's percent column
    via ``{v} / 100``, and a local ``tax_frac < 0.05`` must reach the peer
    as a widened bound on ``tax_percent`` — answers unchanged."""
    from dataweb_spark.catalog.model import Information
    from dataweb_spark.plans.resolve import resolve_entity

    edge = RelayCatalog(name="edge_tf")
    edge.add_entity(Entity("items", [
        Information("orderkey", "bigint"),
        Information("tax_frac", "double"),
    ]))
    edge.add_connection(DataConnection(
        "peer_flight", "flight", {"port": str(peer_server.port)}))
    edge.add_source(DataSource(
        name="items_peer", connection="peer_flight", entity="items",
        source_sql="select * from {table}",
        mappings=[Mapping("orderkey", "orderkey"),
                  Mapping("tax_frac", "tax_percent",
                          Transformation("{v} / 100", "{v} * 100"))],
        options={"entity": "lineitem", "mode": "engine"}))
    web = Web()
    web.add_relay(edge)
    gw = QueryGateway(spark, web, "edge_tf")

    peer = resolve_entity(spark, demo_web, "na_us", "lineitem")
    want = (peer.selectExpr("tax_percent / 100 as tax_frac")
                .where("tax_frac < 0.05").count())
    total = peer.count()

    before = peer_server.served_rows
    got = gw.query("select count(*) as n from items "
                   "where tax_frac < 0.05").collect()[0]["n"]
    shipped = peer_server.served_rows - before

    assert got == want              # answers unchanged (local re-filter)
    assert want <= shipped < total  # peer pre-filtered: a strict subset
                                    # shipped, never fewer than the matches


def test_limit_pushdown_bounds_transfer(peer_server, edge_gateway):
    before = peer_server.served_rows
    rows = edge_gateway.query("select * from lineitem limit 7").collect()
    shipped = peer_server.served_rows - before
    assert len(rows) == 7
    assert shipped <= 7


def test_projection_pushdown_end_to_end(spark, demo_web, peer_server,
                                        edge_gateway):
    """A narrow query must still answer correctly when the peer returns
    only the referenced columns (the rest NULL-filled locally)."""
    from dataweb_spark.plans.resolve import resolve_entity
    want = (resolve_entity(spark, demo_web, "na_us", "lineitem")
            .selectExpr("sum(quantity) as s").collect()[0]["s"])
    got = edge_gateway.query(
        "select sum(quantity) as s from lineitem").collect()[0]["s"]
    assert got == want


def test_distributed_scan_retries_consumed_ticket(spark, demo_web,
                                                  peer_server):
    """Tickets are single-use; a Spark task whose ticket was already
    redeemed (task retry after executor loss) must re-plan via a fresh
    get_flight_info and still deliver every row."""
    import json

    import pyarrow.flight as flight

    from dataweb_spark.plans.resolve import resolve_entity
    from dataweb_spark.sources.flight_service import flight_read_distributed

    sql = "select returnflag, quantity from lineitem"
    df = flight_read_distributed(spark, "127.0.0.1", peer_server.port, sql,
                                 mode="template")
    # burn the planned tickets before the Spark job runs, simulating a
    # first attempt that died after redemption
    c = flight.connect(f"grpc://127.0.0.1:{peer_server.port}")
    cmd = json.dumps({"sql": sql, "principal": None,
                      "mode": "template"}).encode()
    info = c.get_flight_info(flight.FlightDescriptor.for_command(cmd))
    # the df holds ITS OWN earlier tickets; consume those by redeeming the
    # same ordinal endpoints is not possible directly — instead redeem the
    # df's tickets via the server's task table by running the job twice:
    n_expected = resolve_entity(spark, demo_web, "na_us", "lineitem").count()
    assert df.count() == n_expected   # first run consumes the tickets
    assert df.count() == n_expected   # second run MUST re-plan (retry path)


def test_ticket_scan_one_partition_per_endpoint_no_exchange(spark,
                                                           peer_server):
    """Executor-side Flight scans spread their tickets by task index, not
    by a shuffle: one partition per endpoint (the demo peer maps lineitem
    to 2 sources) and no Exchange in the executed plan; with zero tickets
    the frame is empty and keeps the advertised schema."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from dataweb_spark.sources.flight_service import (
        _tickets_frame,
        flight_read_distributed,
    )

    df = flight_read_distributed(spark, "127.0.0.1", peer_server.port,
                                 "select returnflag, quantity from lineitem",
                                 mode="template")
    assert df.rdd.getNumPartitions() == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    empty = _tickets_frame(spark, "127.0.0.1", peer_server.port, [],
                           to_arrow_schema(df.schema))
    assert empty.schema == df.schema
    assert empty.count() == 0


def test_template_aggregate_forwarded_to_peer(spark, demo_web, peer_server,
                                              edge_gateway):
    """Relay→relay template forwarding (flight.rs:237-309): an aggregate
    template sent to an identity flight peer must ship GROUP partials, not
    entity rows, and carry the peer's own endpoint identities."""
    from dataweb_spark.plans.resolve import resolve_entity
    sql = ("select returnflag, count(*) as n, "
           "round(sum(quantity), 2) as sum_qty from lineitem "
           "group by returnflag")
    before = peer_server.served_rows
    parts = edge_gateway.query_template(sql)
    # peer has two lineitem sources → two forwarded endpoints, named by
    # the PEER's catalog, not the edge's
    assert sorted((r, s) for r, s, _ in parts) == [
        ("na_us", "lineitem_csv"), ("na_us", "lineitem_trino")]
    merged = {}
    for _, _, df in parts:
        for row in df.collect():
            g = merged.setdefault(row["returnflag"], [0, 0.0])
            g[0] += row["n"]
            g[1] += row["sum_qty"]
    shipped = peer_server.served_rows - before
    local = resolve_entity(spark, demo_web, "na_us", "lineitem")
    want = {r["returnflag"]: [r["n"], round(r["q"], 2)] for r in
            local.groupBy("returnflag")
                 .agg(F.count("*").alias("n"), F.sum("quantity").alias("q"))
                 .collect()}
    got = {k: [n, round(s, 2)] for k, (n, s) in merged.items()}
    assert got == want
    # the transfer was partials: a handful of group rows, not the corpus
    assert 0 < shipped <= 12, shipped


def test_template_star_query_not_forwarded_but_correct(
        spark, demo_web, peer_server, edge_gateway):
    """select * keeps the row path (output width must be the EDGE's
    declared window) and still answers correctly."""
    from dataweb_spark.plans.resolve import resolve_entity
    df = edge_gateway.query_template_union("select * from lineitem")
    local = resolve_entity(spark, demo_web, "na_us", "lineitem")
    assert df.count() == local.count()
    assert set(df.columns) == set(local.columns) | {"_source_relay_",
                                                    "_source_id_"}


# ---------------------------------------------------------------------------
# count(DISTINCT col) decomposition (r12): grain refinement, exact
# ---------------------------------------------------------------------------

def test_count_distinct_spec_refines_partial_grain(spark):
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    spec = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(distinct orderkey) as d, count(*) as n, "
            "sum(quantity) as q from lineitem group by returnflag"),
        "lineitem")
    assert spec is not None
    psql = spec.partial_sql()
    # one shipped row per (group, distinct value) pair, never per row
    assert "GROUP BY returnflag, orderkey" in psql
    assert "orderkey AS __p1_d" in psql
    # distributive partials ride at the finer grain
    assert "count(1) AS __p2" in psql and "sum(quantity) AS __p3" in psql
    # the distinct column joins the grain ONCE even when repeated/grouped
    spec2 = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(distinct returnflag) as a, "
            "count(distinct orderkey) as b, count(distinct orderkey) as c "
            "from lineitem group by returnflag"),
        "lineitem")
    assert spec2.partial_sql().count("GROUP BY returnflag, orderkey") == 1
    # sum/avg DISTINCT refine the grain too; min/max DISTINCT ≡ min/max
    spec3 = extract_aggregate_query(
        validate_sql(
            spark,
            "select sum(distinct quantity) as s, avg(distinct quantity) as a, "
            "min(distinct quantity) as lo from lineitem"),
        "lineitem")
    psql3 = spec3.partial_sql()
    assert "GROUP BY quantity" in psql3
    assert "min(quantity) AS __p2" in psql3  # plain partial, no pair ship
    # DISTINCT over an expression keeps the row path
    assert extract_aggregate_query(
        validate_sql(spark, "select count(distinct orderkey + 1) as d "
                            "from lineitem"),
        "lineitem") is None


def test_count_distinct_differential_and_transfer(spark, demo_web,
                                                  peer_server, edge_gateway):
    """count(DISTINCT) answers identically through the partial path and
    the row path, for every accepted shape — and the peer ships one row
    per distinct pair, not per entity row."""
    grid = [
        "select count(distinct linestatus) as d from lineitem",
        "select count(distinct returnflag) as a, "
        "count(distinct linestatus) as b from lineitem",
        "select returnflag, count(distinct linestatus) as d, count(*) as n, "
        "sum(quantity) as q, avg(extendedprice) as p from lineitem "
        "group by returnflag order by returnflag",
        "select returnflag, count(distinct orderkey) as d from lineitem "
        "where quantity < 9 group by returnflag order by d desc limit 2",
        # NULL-heavy column: csv source maps no orderkey (NULL-filled);
        # count(distinct) must ignore the shipped NULL pairs
        "select linestatus, count(distinct orderkey) as d from lineitem "
        "group by linestatus",
        # distinct col == group col (degenerate grain, still exact)
        "select returnflag, count(distinct returnflag) as d from lineitem "
        "group by returnflag",
        # sum/avg/min DISTINCT: merge re-dedups the shipped values
        "select returnflag, sum(distinct quantity) as s, "
        "avg(distinct quantity) as a, min(distinct quantity) as lo, "
        "count(*) as n from lineitem group by returnflag "
        "order by returnflag",
        "select round(sum(distinct quantity), 2) as s, "
        "round(avg(distinct extendedprice), 4) as a from lineitem",
    ]
    for sql in grid:
        fast = edge_gateway.query(sql).collect()
        slow = edge_gateway.query(sql, partial_aggregate=False).collect()
        def canon(rows):
            return sorted(
                [tuple(round(v, 6) if isinstance(v, float) else v
                       for v in r) for r in rows], key=repr)
        assert canon(fast) == canon(slow), sql

    from dataweb_spark.plans.resolve import resolve_entity
    local = resolve_entity(spark, demo_web, "na_us", "lineitem")
    total = local.count()
    pairs = local.select("returnflag", "linestatus").distinct().count()
    before = peer_server.served_rows
    edge_gateway.query(
        "select returnflag, count(distinct linestatus) as d from lineitem "
        "group by returnflag").collect()
    shipped = peer_server.served_rows - before
    assert 0 < shipped <= pairs + 2, (shipped, pairs, total)
    assert shipped < total / 10  # O(distinct pairs), not O(rows)


# ---------------------------------------------------------------------------
# HAVING decomposition (r12): post-merge filter, hidden aggregates
# ---------------------------------------------------------------------------

def test_having_spec_rewrites_to_merge_columns(spark):
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    # agg call matching an output -> substituted by the output name
    spec = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(*) as n from lineitem "
            "group by returnflag having count(*) > 5"),
        "lineitem")
    assert spec is not None and spec.having_sql == "(n > 5)"
    assert spec.hidden == []
    # alias reference works directly
    spec2 = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(*) as n from lineitem "
            "group by returnflag having n > 5 and returnflag <> 'A'"),
        "lineitem")
    assert spec2 is not None and "n > 5" in spec2.having_sql
    # an aggregate NOT in the projection becomes a hidden merge output
    spec3 = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(*) as n from lineitem "
            "group by returnflag having sum(quantity) > 100"),
        "lineitem")
    assert spec3 is not None and spec3.hidden == [
        ("agg", "sum", "quantity", "__h0", None)]
    assert spec3.having_sql == "(__h0 > 100)"
    assert "sum(quantity) AS __p2" in spec3.partial_sql()
    # unknown (possibly aggregate) function -> row path
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(*) as n from lineitem "
            "group by returnflag having stddev(quantity) > 1"),
        "lineitem") is None
    # a string literal containing the substitution key -> row path
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(*) as n from lineitem "
            "group by returnflag having count(*) > 5 "
            "and returnflag <> 'count(1)'"),
        "lineitem") is None
    # aggregate alias shadowing an entity column is ambiguous -> row path
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, sum(tax_amount) as quantity from lineitem "
            "group by returnflag having quantity > 5"),
        "lineitem", entity_columns={"returnflag", "quantity"}) is None


def test_having_differential(spark, demo_web, peer_server, edge_gateway):
    """HAVING answers identically through the partial-merge path and the
    row path for every accepted shape."""
    grid = [
        "select returnflag, count(*) as n from lineitem "
        "group by returnflag having count(*) > 900",
        "select returnflag, count(*) as n from lineitem "
        "group by returnflag having n > 900 order by returnflag",
        # hidden aggregate + mixed scalar condition
        "select returnflag, count(*) as n from lineitem "
        "group by returnflag "
        "having sum(quantity) > 20000 and returnflag <> 'A'",
        # hidden avg + round, with WHERE below and LIMIT above
        "select returnflag, max(extendedprice) as mx from lineitem "
        "where quantity < 40 group by returnflag "
        "having round(avg(quantity), 1) > 10 order by mx desc limit 2",
        # count(distinct) in HAVING rides the refined grain
        "select returnflag, sum(quantity) as q from lineitem "
        "group by returnflag having count(distinct linestatus) > 1",
        # group-by-less HAVING (global aggregate filter) — kept and dropped
        "select count(*) as n from lineitem having count(*) > 0",
        "select count(*) as n from lineitem having count(*) > 1000000000",
    ]
    for sql in grid:
        fast = edge_gateway.query(sql).collect()
        slow = edge_gateway.query(sql, partial_aggregate=False).collect()
        def canon(rows):
            return sorted(
                [tuple(round(v, 6) if isinstance(v, float) else v
                       for v in r) for r in rows], key=repr)
        assert canon(fast) == canon(slow), sql


def test_having_guards_review_fixes(spark, demo_web, peer_server,
                                    edge_gateway):
    """r12 review fixes: case-insensitive shadowing, group-alias
    shadowing, hidden-name collision with a user alias."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    # differently-cased aggregate alias shadowing an entity column
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, sum(tax_amount) as QUANTITY from lineitem "
            "group by returnflag having QUANTITY > 5"),
        "lineitem", entity_columns={"returnflag", "quantity"}) is None
    # group alias shadowing a DIFFERENT entity column
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag as linestatus, count(*) as n from lineitem "
            "group by returnflag having linestatus <> 'O'"),
        "lineitem",
        entity_columns={"returnflag", "linestatus"}) is None
    # unrenamed group column sharing its own entity name stays accepted
    spec = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(*) as n from lineitem "
            "group by returnflag having returnflag <> 'A'"),
        "lineitem", entity_columns={"returnflag", "quantity"})
    assert spec is not None
    # a user alias named __h0 no longer collides with the hidden output
    spec2 = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, sum(quantity) as __h0 from lineitem "
            "group by returnflag having count(*) > 5"),
        "lineitem")
    assert spec2 is not None and spec2.hidden == [
        ("agg", "count", None, "__h1", None)]
    sql = ("select returnflag, sum(quantity) as __h0 from lineitem "
           "group by returnflag having count(*) > 900 order by returnflag")
    fast = [tuple(r) for r in edge_gateway.query(sql).collect()]
    slow = [tuple(r) for r in edge_gateway.query(
        sql, partial_aggregate=False).collect()]
    assert fast == slow and len(fast) > 0


def test_refined_grain_empty_sources_count_zero(spark, demo_web,
                                                peer_server, edge_gateway):
    """A DISTINCT-refined global aggregate over a filter matching NOTHING
    must still answer count = 0 (empty partial frames merge to 0, not
    NULL) — and agree with the row path on every column."""
    sql = ("select count(*) as n, count(distinct orderkey) as d, "
           "sum(quantity) as s from lineitem where quantity < 0")
    fast = edge_gateway.query(sql).first()
    slow = edge_gateway.query(sql, partial_aggregate=False).first()
    assert (fast.n, fast.d, fast.s) == (slow.n, slow.d, slow.s) == (0, 0,
                                                                    None)


def test_order_by_aggregate_expression(spark, demo_web, peer_server,
                                       edge_gateway):
    """ORDER BY over an aggregate CALL (not an alias) binds to the output
    computing it, or to a hidden merge column — identical answers to the
    row path, including under LIMIT."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    # binds to the existing output
    spec = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(*) as n from lineitem "
            "group by returnflag order by count(*) desc"),
        "lineitem")
    assert spec is not None and spec.order_by == [("n", False)]
    assert spec.hidden == []
    # needs a hidden merge column (shared with HAVING's, not duplicated)
    spec2 = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag from lineitem group by returnflag "
            "having sum(quantity) > 0 order by sum(quantity) desc"),
        "lineitem")
    assert spec2 is not None and len(spec2.hidden) == 1
    assert spec2.order_by == [(spec2.hidden[0][3], False)]
    # non-aggregate ORDER BY expression still keeps the row path
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(*) as n from lineitem "
            "group by returnflag order by n + 1"),
        "lineitem") is None
    grid = [
        # returnflag tie-breaker: rows tied on n may legally reorder
        # between the two plans
        "select returnflag, count(*) as n from lineitem "
        "group by returnflag order by count(*) desc, returnflag",
        "select returnflag, count(*) as n from lineitem "
        "group by returnflag order by sum(quantity) desc limit 2",
        # NOTE: ORDER BY <agg> *combined with* HAVING is a shape Spark's
        # own resolver rejects (the Filter between Sort and Aggregate
        # breaks its aggregate resolution) while the partial path — like
        # ANSI engines — answers it; the differential grid can only carry
        # shapes BOTH paths accept, so HAVING is exercised separately
        "select returnflag, max(extendedprice) as mx from lineitem "
        "where quantity < 40 group by returnflag "
        "order by avg(quantity) desc, returnflag limit 3",
        "select returnflag from lineitem group by returnflag "
        "order by count(distinct linestatus) desc, returnflag",
    ]
    for sql in grid:
        fast = [tuple(r) for r in edge_gateway.query(sql).collect()]
        slow = [tuple(r) for r in edge_gateway.query(
            sql, partial_aggregate=False).collect()]
        def canon(rows):
            return [tuple(round(v, 6) if isinstance(v, float) else v
                          for v in r) for r in rows]
        assert canon(fast) == canon(slow), sql


def test_partial_aggregate_differential_grid(spark, demo_web, peer_server,
                                             edge_gateway):
    """Deterministic cross-product over the ENTIRE decomposition surface
    (plain/distinct aggregates × groupings × WHERE × HAVING × ORDER BY):
    every combination must take the partial path (spec extracted) AND
    answer identically to the row path — the test_sql_fuzz idea applied
    to the merge frame."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    agg_sets = [
        "count(*) as n, sum(quantity) as s",
        "count(distinct orderkey) as d, avg(quantity) as a",
        "sum(distinct quantity) as sd, min(shipdate) as d0, "
        "max(extendedprice) as mx",
    ]
    groupings = [None, "returnflag", "returnflag, linestatus"]
    wheres = [None, "quantity < 9"]
    havings = [None, "count(*) > 200 or count(distinct linestatus) > 1"]
    ran = 0
    for aggs in agg_sets:
        for g in groupings:
            for w in wheres:
                for h in havings:
                    sql = (f"select {g + ', ' if g else ''}{aggs} "
                           "from lineitem")
                    if w:
                        sql += f" where {w}"
                    if g:
                        sql += f" group by {g}"
                    if h:
                        sql += f" having {h}"
                    if g:
                        sql += f" order by {g}"
                    assert extract_aggregate_query(
                        validate_sql(spark, sql), "lineitem") is not None, sql
                    fast = edge_gateway.query(sql).collect()
                    slow = edge_gateway.query(
                        sql, partial_aggregate=False).collect()
                    def canon(rows):
                        return sorted(
                            [tuple(round(v, 6) if isinstance(v, float)
                                   else v for v in r) for r in rows],
                            key=repr)
                    assert canon(fast) == canon(slow), sql
                    ran += 1
    assert ran == 36


def test_unprojected_group_key_does_not_collapse(spark, demo_web,
                                                 peer_server, edge_gateway):
    """r12 latent-bug fix: a GROUP BY key absent from the projection must
    still ship in the partial and re-group at merge — the old merge
    grouped only on projected keys and collapsed all groups to ONE row."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    sql = "select count(*) as n from lineitem group by returnflag"
    spec = extract_aggregate_query(validate_sql(spark, sql), "lineitem")
    assert spec is not None and spec.extra_groups == [("returnflag",
                                                       "__g0")]
    assert "returnflag AS __g0" in spec.partial_sql()
    fast = sorted(tuple(r) for r in edge_gateway.query(sql).collect())
    slow = sorted(tuple(r) for r in edge_gateway.query(
        sql, partial_aggregate=False).collect())
    assert fast == slow and len(fast) == 3
    # two keys, one projected
    sql2 = ("select returnflag, count(*) as n from lineitem "
            "group by returnflag, linestatus")
    fast2 = sorted(tuple(r) for r in edge_gateway.query(sql2).collect())
    slow2 = sorted(tuple(r) for r in edge_gateway.query(
        sql2, partial_aggregate=False).collect())
    assert fast2 == slow2 and len(fast2) > 3


def test_group_by_expression_decomposes(spark, demo_web, peer_server,
                                        edge_gateway):
    """GROUP BY <scalar expression> groups each source by the VALUE and
    re-groups the shipped values at merge — exact for any deterministic
    expression; ordinals and unknown functions keep the row path."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    spec = extract_aggregate_query(
        validate_sql(
            spark,
            "select year(shipdate) as y, count(*) as n from lineitem "
            "group by year(shipdate)"),
        "lineitem")
    assert spec is not None
    psql = spec.partial_sql()
    assert "year(shipdate) AS y" in psql
    assert "GROUP BY year(shipdate)" in psql
    # ordinal GROUP BY: position shifts in the reshaped partial — reject
    assert extract_aggregate_query(
        validate_sql(spark, "select returnflag, count(*) as n "
                            "from lineitem group by 1"),
        "lineitem") is None
    # unknown function in the grouping expression — reject
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select count(*) as n from lineitem group by rand()"),
        "lineitem") is None
    grid = [
        "select year(shipdate) as y, count(*) as n, sum(quantity) as s "
        "from lineitem group by year(shipdate) order by y",
        # unprojected expression key
        "select count(*) as n from lineitem group by year(shipdate)",
        # arithmetic + concat keys, mixed with a distinct aggregate
        "select quantity + 1 as q1, count(distinct linestatus) as d "
        "from lineitem where quantity < 5 group by quantity + 1 "
        "order by q1",
        "select concat(returnflag, linestatus) as rl, count(*) as n "
        "from lineitem group by concat(returnflag, linestatus) "
        "having count(*) > 300 order by rl",
    ]
    for sql in grid:
        # NULL group keys (a source NULL-fills shipdate) sort via repr
        fast = sorted((tuple(r) for r in
                       edge_gateway.query(sql).collect()), key=repr)
        slow = sorted((tuple(r) for r in edge_gateway.query(
            sql, partial_aggregate=False).collect()), key=repr)
        assert fast == slow and len(fast) > 0, sql


def test_expression_outputs_over_aggregates(spark, demo_web, peer_server,
                                            edge_gateway):
    """Scalar expressions over aggregates in the SELECT list (ratios,
    differences, rounded combinations) decompose: each inner aggregate
    ships as a (possibly hidden) partial and the merge computes the
    expression — identical answers to the row path."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    spec = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, sum(extendedprice) / sum(quantity) as unit, "
            "count(*) as n from lineitem group by returnflag"),
        "lineitem")
    assert spec is not None
    kinds = [o[0] for o in spec.outputs]
    assert kinds == ["group", "expr", "agg"]
    assert len(spec.hidden) == 2  # both sums ride as hidden partials
    # a bare column inside the expression must be a group key projected
    # under its own name — otherwise row path
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag as rf, concat(returnflag, count(*)) as x "
            "from lineitem group by returnflag"),
        "lineitem") is None
    # no aggregate anywhere -> per-row projection, not an aggregate query
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select quantity + 1 as q from lineitem"),
        "lineitem") is None
    grid = [
        "select returnflag, round(sum(extendedprice) / sum(quantity), 4) "
        "as unit_price from lineitem group by returnflag "
        "order by returnflag",
        "select round(sum(quantity) / count(*), 6) as avg_q, "
        "count(*) as n from lineitem",
        # expression + HAVING + ORDER BY on the expression alias
        "select returnflag, round(sum(extendedprice) - sum(quantity), 2) "
        "as spread from lineitem where quantity < 30 group by returnflag "
        "having count(*) > 100 order by spread desc limit 2",
        # expression over a projected group key and an aggregate
        "select returnflag, concat(returnflag, count(*)) as tag "
        "from lineitem group by returnflag order by returnflag",
        # distinct aggregate inside an expression
        "select returnflag, count(distinct linestatus) * 100 as pct "
        "from lineitem group by returnflag order by returnflag",
    ]
    for sql in grid:
        fast = sorted((tuple(r) for r in
                       edge_gateway.query(sql).collect()), key=repr)
        slow = sorted((tuple(r) for r in edge_gateway.query(
            sql, partial_aggregate=False).collect()), key=repr)
        def canon(rows):
            return [tuple(round(v, 6) if isinstance(v, float) else v
                          for v in r) for r in rows]
        assert canon(fast) == canon(slow), sql


def test_rewrite_review_fixes_r12b(spark, demo_web, peer_server,
                                   edge_gateway):
    """Second r12 review round: token-bounded substitution, __p namespace
    rejection, backward-only lateral references, no hidden-name ORDER BY
    binding."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    # (1) an agg sql as a SUFFIX of a longer function name must not be
    # mangled: try_sum is unknown -> row path, never a silent rewrite
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select sum(quantity) as n, count(*) as try_n from lineitem "
            "group by returnflag having try_sum(quantity) < 0"),
        "lineitem") is None
    # (2) user aliases in the synthetic __p partial namespace would
    # duplicate partial columns and error the merge -> row path
    for alias in ("__p1", "__p0_d"):
        assert extract_aggregate_query(
            validate_sql(
                spark,
                f"select returnflag as {alias}, count(*) as n from lineitem "
                "group by returnflag"),
            "lineitem") is None, alias
        got = sorted((tuple(r) for r in edge_gateway.query(
            f"select returnflag as {alias}, count(*) as n from lineitem "
            "group by returnflag").collect()), key=repr)
        assert len(got) == 3  # row path still answers it
    # (3) lateral alias references look BACKWARD only, like Spark's
    spec = extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, count(*) as n, concat(returnflag, n) as tag "
            "from lineitem group by returnflag"),
        "lineitem")
    assert spec is not None  # backward reference decomposes
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag, concat(returnflag, n) as tag, count(*) as n "
            "from lineitem group by returnflag"),
        "lineitem") is None  # forward reference: row path (which errors)
    sql = ("select returnflag, count(*) as n, concat(returnflag, n) as "
           "tag from lineitem group by returnflag order by returnflag")
    fast = [tuple(r) for r in edge_gateway.query(sql).collect()]
    slow = [tuple(r) for r in edge_gateway.query(
        sql, partial_aggregate=False).collect()]
    assert fast == slow and len(fast) == 3
    # (4) a user-written ORDER BY __h0 must not bind the hidden column
    assert extract_aggregate_query(
        validate_sql(
            spark,
            "select returnflag from lineitem group by returnflag "
            "having sum(quantity) > 0 order by __h0"),
        "lineitem") is None


def test_rewriter_interaction_grid(spark, demo_web, peer_server,
                                   edge_gateway):
    """Deterministic cross-product over the REWRITER interaction space —
    expression outputs × HAVING × ORDER BY (where both r12 review rounds
    found bugs): every extracted combination must answer identically to
    the row path; combinations Spark's own resolver rejects are excluded
    by construction (ORDER BY <agg call> together with HAVING)."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    exprs = [
        "count(*) as n",
        "round(sum(extendedprice) / sum(quantity), 4) as ratio, "
        "count(*) as n",
        "sum(quantity) + count(*) as mix, count(distinct linestatus) as d",
    ]
    havings = [None, "sum(quantity) > 1000",
               "count(*) > 100 and max(extendedprice) > 0"]
    orders = [None, "order by returnflag desc",
              "order by count(distinct linestatus) desc, returnflag"]
    def canon(rows):
        return sorted([tuple(round(v, 6) if isinstance(v, float) else v
                             for v in r) for r in rows], key=repr)
    ran = 0
    for e in exprs:
        for h in havings:
            for o in orders:
                if h and o and "count(distinct" in o:
                    continue  # ORDER BY <agg> + HAVING: row path rejects
                sql = (f"select returnflag, {e} from lineitem "
                       "group by returnflag")
                if h:
                    sql += f" having {h}"
                if o:
                    sql += f" {o}"
                spec = extract_aggregate_query(validate_sql(spark, sql),
                                               "lineitem")
                assert spec is not None, sql
                fast = edge_gateway.query(sql).collect()
                slow = edge_gateway.query(
                    sql, partial_aggregate=False).collect()
                assert canon(fast) == canon(slow), sql
                ran += 1
    assert ran == 21, ran


def test_avg_decimal_matches_engine_type_and_value(spark):
    """r12-found latent bug: avg over DECIMAL merged as a bare sum/count
    division keeps 20 fractional digits where Spark's avg rounds to
    scale+4 — a repeating quotient (1/3) diverged. The merge now casts to
    avg's exact result type; values AND dtypes match the engine."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    # decimal(18,4) is the second review round's divergence witness:
    # the re-summed dividend decimal(38,4) drove Spark's precision-loss
    # division to scale 8 with PADDED zeros (0.33333300 vs the engine's
    # 0.33333333) until the pre-division cast; decimal(10,2) alone sat
    # below the threshold and hid it
    for decl in ("decimal(10,2)", "decimal(18,4)"):
      spark.sql(f"""
        select cast(v as {decl}) as v, g from values
          (1.00, 'a'), (0.00, 'a'), (0.00, 'a'), (2.50, 'b')
        as t(v, g)
      """).createOrReplaceTempView("dec_entity")
      for sql in (
        "select g, avg(v) as a from dec_entity group by g",
        "select g, avg(distinct v) as a from dec_entity group by g",
        # re-summed decimal partials widen to (p+20, s): the merge must
        # answer the engine's sum type decimal(p+10, s)
        "select g, sum(v) as a from dec_entity group by g",
        "select g, sum(distinct v) as a from dec_entity group by g",
    ):
        spec = extract_aggregate_query(validate_sql(spark, sql), "dec_entity")
        assert spec is not None, sql
        partials = spark.sql(spec.partial_sql())
        merged = spec.merge(partials)
        want = spark.sql(sql)
        got = {r.g: r.a for r in merged.collect()}
        exp = {r.g: r.a for r in want.collect()}
        assert got == exp, (decl, sql, got, exp)
        assert (merged.schema["a"].dataType
                == want.schema["a"].dataType), (decl, sql)
    # p >= 28: the saturated partial sum hides the input precision and NO
    # SQL division keeps avg's s+4 digits — the gateway's declared types
    # must route such queries to the row path
    from dataweb_spark.plans.aggpush import extract_aggregate_query as _x
    assert _x(validate_sql(spark, "select g, avg(v) as a from dec_entity "
                                  "group by g"),
              "dec_entity", entity_types={"v": "decimal(28,4)"}) is None
    assert _x(validate_sql(spark,
                           "select g, count(*) as n from dec_entity "
                           "group by g "
                           "having avg(v) > 0"),
              "dec_entity", entity_types={"v": "decimal(28,4)"}) is None
    assert _x(validate_sql(spark, "select g, avg(v) as a from dec_entity "
                                  "group by g"),
              "dec_entity", entity_types={"v": "decimal(18,4)"}) is not None


def test_key_only_and_select_distinct_decompose(spark, demo_web,
                                                peer_server, edge_gateway):
    """Key-only GROUP BY (no aggregates) crashed the merge with an empty
    aggregate list (r12-found, gateway-reachable); it and SELECT DISTINCT
    now decompose as distinct-union of shipped group rows — O(distinct)
    transfer, identical answers."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    from dataweb_spark.plans.resolve import resolve_entity
    spec = extract_aggregate_query(
        validate_sql(
            spark, "select distinct returnflag, linestatus from lineitem "
            "where quantity < 5"), "lineitem")
    assert spec is not None
    assert "GROUP BY returnflag, linestatus" in spec.partial_sql()
    # unsupported DISTINCT shapes keep the row path
    for sql in ("select distinct count(*) as n from lineitem",
                "select distinct returnflag, 1 as one from lineitem",
                "select distinct rand() as r from lineitem"):
        assert extract_aggregate_query(validate_sql(spark, sql),
                                       "lineitem") is None, sql
    grid = [
        "select returnflag from lineitem group by returnflag",
        "select returnflag, linestatus from lineitem "
        "group by returnflag, linestatus order by returnflag, linestatus",
        "select distinct returnflag, linestatus from lineitem "
        "where quantity < 5",
        "select distinct returnflag as rf from lineitem "
        "order by rf desc limit 2",
        "select distinct concat(returnflag, linestatus) as rl "
        "from lineitem",
    ]
    for sql in grid:
        fast = sorted((tuple(r) for r in
                       edge_gateway.query(sql).collect()), key=repr)
        slow = sorted((tuple(r) for r in edge_gateway.query(
            sql, partial_aggregate=False).collect()), key=repr)
        assert fast == slow and len(fast) > 0, sql
    # transfer proof: the peer ships distinct combos, not rows
    local = resolve_entity(spark, demo_web, "na_us", "lineitem")
    total = local.count()
    combos = local.select("returnflag", "linestatus").distinct().count()
    before = peer_server.served_rows
    edge_gateway.query("select distinct returnflag, linestatus "
                       "from lineitem").collect()
    shipped = peer_server.served_rows - before
    assert 0 < shipped <= combos + 2, (shipped, combos)
    assert shipped < total / 10


def test_filter_clause_aggregates_decompose(spark, demo_web,
                                            peer_server, edge_gateway):
    """agg(...) FILTER (WHERE p) decomposes by CASE-wrapping the partial
    argument for count/sum/min/max (the smoke battery first caught the
    clause being silently DROPPED — never again: decompose or reject);
    avg/DISTINCT with FILTER keep the row path."""
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    sql = ("select returnflag, count(*) filter (where quantity > 5) as n "
           "from lineitem group by returnflag order by returnflag")
    spec = extract_aggregate_query(validate_sql(spark, sql), "lineitem")
    assert spec is not None
    assert "CASE WHEN (quantity > 5) THEN 1 END" in spec.partial_sql()
    for q in (
        sql,
        "select returnflag, sum(quantity) filter (where linestatus = 'O')"
        " as s, count(*) as n from lineitem group by returnflag "
        "order by returnflag",
        "select min(shipdate) filter (where quantity > 30) as d0, "
        "max(extendedprice) filter (where returnflag = 'A') as mx "
        "from lineitem",
        # FILTER inside HAVING rides the same canonical substitution
        "select returnflag, count(*) as n from lineitem "
        "group by returnflag "
        "having count(*) filter (where quantity > 45) > 10 "
        "order by returnflag",
    ):
        fast = [tuple(r) for r in edge_gateway.query(q).collect()]
        slow = [tuple(r) for r in edge_gateway.query(
            q, partial_aggregate=False).collect()]
        assert fast == slow and len(fast) > 0, q
    # the filtered count differs from the plain count (the old silent bug)
    fast = [tuple(r) for r in edge_gateway.query(sql).collect()]
    plain = [tuple(r) for r in edge_gateway.query(
        "select returnflag, count(*) as n from lineitem "
        "group by returnflag order by returnflag").collect()]
    assert fast != plain
    # avg / DISTINCT with FILTER keep the row path
    for q in ("select avg(quantity) filter (where quantity > 5) as a "
              "from lineitem",
              "select count(distinct orderkey) filter "
              "(where quantity > 5) as d from lineitem"):
        assert extract_aggregate_query(validate_sql(spark, q),
                                       "lineitem") is None, q


# ---------------------------------------------------------------------------
# federated TOP-K pushdown (plans/topk.py)
# ---------------------------------------------------------------------------

_TOPK_SQL = (
    "select extendedprice, quantity, partkey, suppkey, linenumber "
    "from lineitem where quantity >= 30 "
    "order by extendedprice desc, partkey, suppkey, linenumber, quantity "
    "limit 9")


def test_topk_extractor_accepts_and_describes(spark):
    from dataweb_spark.plans.topk import extract_topk_query
    spec = extract_topk_query(validate_sql(spark, _TOPK_SQL), "lineitem")
    assert spec is not None
    assert spec.k == 9
    assert len(spec.order) == 5
    assert spec.order[0][1] == "DESC"
    assert all(d == "ASC" for _, d, _ in spec.order[1:])
    # ordinal sort keys bind to output positions
    spec2 = extract_topk_query(
        validate_sql(
            spark, "select quantity, partkey from lineitem "
                   "order by 1 desc, 2 limit 3"), "lineitem")
    assert spec2 is not None and spec2.order[0][0] == "`quantity`"
    # alias-referencing expression keys replay over the merged frame
    spec3 = extract_topk_query(
        validate_sql(
            spark, "select quantity * extendedprice as w, partkey "
                   "from lineitem order by w desc, partkey limit 3"),
        "lineitem")
    assert spec3 is not None and spec3.k == 3


def test_topk_hidden_sort_keys(spark):
    """Sort keys over UNPROJECTED entity columns ship as hidden __tk
    columns in a reconstructed forward query and drop after the merge."""
    from dataweb_spark.plans.topk import extract_topk_query
    spec = extract_topk_query(
        validate_sql(
            spark, "select partkey, suppkey from lineitem "
                   "where quantity >= 30 "
                   "order by extendedprice desc, partkey limit 5"), "lineitem")
    assert spec is not None and spec.hidden == ["__tk0"]
    assert spec.order[0] == ("`__tk0`", "DESC", "NULLS LAST")
    assert spec.order[1][0].strip("`") == "partkey"
    fwd = spec.forward_sql.lower()
    assert "as `__tk0`" in fwd and "where" in fwd and "limit 5" in fwd
    # a sort attr that is ALSO an output alias of something else is
    # ambiguous between ORDER BY scope and SELECT scope — row path
    amb = extract_topk_query(
        validate_sql(
            spark, "select quantity as extendedprice, partkey from lineitem "
                   "order by extendedprice + suppkey, partkey limit 5"),
        "lineitem")
    assert amb is None


def test_topk_extractor_rejects_unsafe_shapes(spark):
    """Everything the merge cannot replay keeps the row path:
    aggregates/distinct/windows between sort and entity, stars,
    multi-reference queries, function sort keys."""
    from dataweb_spark.plans.topk import extract_topk_query
    bad = [
        # no ORDER BY (bare limit is the existing pushdown, not top-k)
        "select partkey from lineitem limit 5",
        # no LIMIT
        "select partkey from lineitem order by partkey",
        # aggregate under the sort: per-source groups are partial
        "select returnflag, count(*) as n from lineitem "
        "group by returnflag order by n desc limit 5",
        # DISTINCT mixes rows across sources
        "select distinct partkey from lineitem order by partkey limit 5",
        # window function in the projection
        "select partkey, row_number() over (order by partkey) as rn "
        "from lineitem order by partkey limit 5",
        # star output: peer schema width may differ
        "select * from lineitem order by partkey limit 5",
        # two references to the entity
        "select a.partkey from lineitem a join lineitem b "
        "on a.partkey = b.partkey order by a.partkey limit 5",
        # function call in the sort key (could be non-deterministic)
        "select partkey from lineitem order by abs(partkey) limit 5",
        # SORT BY is per-partition: each source would ship k ARBITRARY
        # rows, not its top-k (r13 review fix: Sort.global() required)
        "select partkey from lineitem sort by partkey limit 5",
        # constant-foldable key — same hazard as a bare literal, but
        # reaches the attr check with an EMPTY attr list (r13 review fix)
        "select partkey from lineitem order by 1+1 limit 5",
    ]
    for q in bad:
        assert extract_topk_query(validate_sql(spark, q),
                                  "lineitem") is None, q


def test_topk_pushdown_bounds_transfer_same_answer(
        spark, peer_server, edge_gateway):
    """The VERDICT r12 item-6 served-rows proof: each peer endpoint
    ships at most k rows and the merged answer equals the row path's."""
    before = peer_server.served_rows
    fast = [tuple(r) for r in edge_gateway.query(_TOPK_SQL).collect()]
    shipped = peer_server.served_rows - before

    before = peer_server.served_rows
    slow = [tuple(r) for r in edge_gateway.query(
        _TOPK_SQL, topk_pushdown=False).collect()]
    shipped_rows = peer_server.served_rows - before

    assert sorted(fast) == sorted(slow) and len(fast) == 9
    # the peer relay answers one endpoint per ITS sources (2 in the demo
    # web) — each pre-limited to k
    assert 0 < shipped <= 2 * 9
    assert shipped < shipped_rows  # the row path ships the filtered rows


def test_topk_merge_plans_take_ordered(spark, peer_server, edge_gateway):
    df = edge_gateway.query(_TOPK_SQL)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_topk_null_ordering_replays(spark, peer_server, edge_gateway):
    """NULLS FIRST/LAST and DESC survive the merge: shipdate is NULL for
    every csv-source row under the default principal, so null placement
    is visible in the answer."""
    q = ("select shipdate, partkey, suppkey, linenumber, quantity "
         "from lineitem order by shipdate desc nulls last, partkey, "
         "suppkey, linenumber, quantity limit 12")
    fast = [tuple(r) for r in edge_gateway.query(q).collect()]
    slow = [tuple(r) for r in edge_gateway.query(
        q, topk_pushdown=False).collect()]
    assert sorted(map(repr, fast)) == sorted(map(repr, slow))
    assert fast and fast[0][0] is not None  # nulls really went last


def test_topk_hidden_keys_end_to_end(spark, peer_server, edge_gateway):
    """Unprojected-sort-key top-k over a live peer: answers match the
    row path, hidden columns are gone, transfer stays bounded by k."""
    q = ("select partkey, suppkey, linenumber, quantity from lineitem "
         "where quantity >= 30 "
         "order by extendedprice desc, partkey, suppkey, linenumber, "
         "quantity limit 9")
    before = peer_server.served_rows
    fast = edge_gateway.query(q)
    frows = [tuple(r) for r in fast.collect()]
    shipped = peer_server.served_rows - before
    slow = [tuple(r) for r in edge_gateway.query(
        q, topk_pushdown=False).collect()]
    assert sorted(frows) == sorted(slow) and len(frows) == 9
    assert fast.columns == ["partkey", "suppkey", "linenumber", "quantity"]
    assert 0 < shipped <= 2 * 9


def test_topk_limit_offset(spark, peer_server, edge_gateway):
    """LIMIT k OFFSET n: the offset is GLOBAL — each source fetches its
    top-(k+n) (forward_sql carries LIMIT k+n, no offset) and the merge
    skips n over the re-sorted union. Answers match the row path."""
    from dataweb_spark.plans.topk import extract_order_limit, \
        extract_topk_query
    q = ("select extendedprice, partkey, suppkey, linenumber, quantity "
         "from lineitem where quantity >= 30 "
         "order by extendedprice desc, partkey, suppkey, linenumber, "
         "quantity limit 7 offset 4")
    spec = extract_topk_query(validate_sql(spark, q), "lineitem")
    assert spec is not None and spec.k == 7 and spec.offset == 4
    assert "LIMIT 11" in spec.forward_sql
    assert "OFFSET" not in spec.forward_sql.upper()
    ol = extract_order_limit(validate_sql(spark, q), "lineitem")
    assert ol is not None and ol[1] == 11  # row-path fetch bound = k+n
    fast = [tuple(r) for r in edge_gateway.query(q).collect()]
    slow = [tuple(r) for r in edge_gateway.query(
        q, topk_pushdown=False).collect()]
    assert sorted(fast) == sorted(slow) and len(fast) == 7
    # non-literal offsets keep the row path
    assert extract_topk_query(
        validate_sql(
            spark, "select partkey from lineitem order by partkey "
                   "limit 5 offset -1"), "lineitem") is None


# ---------------------------------------------------------------------------
# r14: top-k through affine mappings + grouped top-k pushdown
# ---------------------------------------------------------------------------

@pytest.fixture()
def transformed_gateway(spark, peer_server):
    """Edge relay viewing the peer's lineitem through non-identity
    affine mappings — the reference's flagship ``{v} * 100`` shape."""
    from dataweb_spark.catalog.model import DataField, Information, \
        Transformation
    edge = RelayCatalog(name="edge_pd_t")
    edge.add_entity(Entity("priced_items", [
        Information("price_cents", "double"),
        Information("neg_line", "double"),
        Information("partkey", "bigint"),
        Information("suppkey", "bigint"),
        Information("linenumber", "bigint"),
        Information("quantity", "double"),
    ]))
    edge.add_connection(DataConnection(
        "peer_flight", "flight", {"port": str(peer_server.port)}))
    edge.add_source(DataSource(
        name="priced_peer", connection="peer_flight",
        entity="priced_items",
        source_sql="select * from {table}",
        fields=[DataField("extendedprice", "extendedprice", "double"),
                DataField("linenumber", "linenumber", "bigint")],
        mappings=[
            Mapping("price_cents", "extendedprice",
                    Transformation("{v} * 100", "{v} / 100")),
            Mapping("neg_line", "linenumber",
                    Transformation("{v} * -1.0", "{v} / -1.0")),
            Mapping("partkey", "partkey"),
            Mapping("suppkey", "suppkey"),
            Mapping("linenumber", "linenumber"),
            Mapping("quantity", "quantity"),
        ],
        options={"entity": "lineitem", "mode": "engine"}))
    web = Web()
    web.add_relay(edge)
    return QueryGateway(spark, web, "edge_pd_t")


_TOPK_T_SQL = ("select price_cents, partkey, suppkey, linenumber, "
               "quantity from priced_items where quantity >= 30 "
               "order by price_cents desc, neg_line asc, partkey, "
               "suppkey, quantity limit 9")


def test_topk_through_affine_mapping_bounds_transfer(
        spark, peer_server, transformed_gateway):
    """r14 served-rows proof: the ORDER BY + LIMIT fact survives the
    non-identity (but strictly monotone affine) mappings — the peer
    receives physical-column keys (direction flipped for the negative
    slope) and ships ≤ k rows per endpoint; answers match the row
    path."""
    before = peer_server.served_rows
    fast = [tuple(r) for r in transformed_gateway.query(
        _TOPK_T_SQL).collect()]
    shipped = peer_server.served_rows - before

    before = peer_server.served_rows
    slow = [tuple(r) for r in transformed_gateway.query(
        _TOPK_T_SQL, topk_pushdown=False).collect()]
    shipped_rows = peer_server.served_rows - before

    assert sorted(fast) == sorted(slow) and len(fast) == 9
    assert 0 < shipped <= 2 * 9
    assert shipped < shipped_rows


def test_topk_affine_negative_slope_flips_direction():
    """The flip itself, pinned at the renderer boundary: neg_line ASC
    (physical ``linenumber * -1.0``) must reach the peer as
    ``linenumber DESC`` with the NULLS clause positionally intact."""
    from dataweb_spark.catalog.model import DataField, Transformation
    from dataweb_spark.sources.readers import _peer_sql
    src = DataSource(
        name="s", connection="c", entity="priced_items",
        source_sql="select * from {table}",
        fields=[DataField("linenumber", "linenumber", "bigint")],
        mappings=[Mapping("neg_line", "linenumber",
                          Transformation("{v} * -1.0", "{v} / -1.0"))],
        options={"entity": "lineitem"})
    sql, _ = _peer_sql(src, None, 5, None,
                       order_by=[("neg_line", "ASC", "NULLS LAST",
                                  "double")])
    assert "ORDER BY linenumber DESC NULLS LAST" in sql
    assert sql.endswith("LIMIT 5")


_GROUPED_SQL = """
select returnflag, linestatus, extendedprice, partkey, suppkey,
       linenumber, quantity, rk
from (select returnflag, linestatus, extendedprice, partkey, suppkey,
             linenumber, quantity,
             row_number() over (partition by returnflag, linestatus
                                order by extendedprice desc, partkey,
                                         suppkey, linenumber, quantity
                                ) as rk
      from lineitem where quantity >= 30) t
where rk <= 3
"""


def test_grouped_topk_extractor_accepts_and_describes(spark):
    from dataweb_spark.plans.topk import extract_grouped_topk
    s = extract_grouped_topk(validate_sql(spark, _GROUPED_SQL), "lineitem")
    assert s is not None
    assert s.fn == "row_number" and s.bound == 3 and s.op == "<="
    assert s.partition == ["returnflag", "linestatus"]
    assert s.rank_alias == "rk" and s.hidden == []
    assert "row_number() OVER (PARTITION BY returnflag" in s.forward_sql
    assert "<= 3" in s.forward_sql
    # rank()/dense_rank(), `<`, hidden partition column, literal-first
    s2 = extract_grouped_topk(
        validate_sql(
            spark,
            "select orderkey, extendedprice from (select orderkey, "
            "extendedprice, rank() over (partition by returnflag "
            "order by extendedprice desc) as r from lineitem) where 4 > r"),
        "lineitem")
    assert s2 is not None and s2.fn == "rank" and s2.bound == 3
    assert s2.op == "<" and s2.hidden == ["returnflag"]
    assert s2.partition == ["returnflag"]


def test_grouped_topk_extractor_rejects_unsafe_shapes(spark):
    from dataweb_spark.plans.topk import extract_grouped_topk

    def no(sql):
        assert extract_grouped_topk(validate_sql(spark, sql),
                                    "lineitem") is None, sql

    base = ("select orderkey, r from (select orderkey, {win} as r "
            "from lineitem) where r <= 2")
    # only dense-rank-family functions are per-source replayable
    no(base.format(win="ntile(4) over (partition by returnflag "
                       "order by extendedprice)"))
    no(base.format(win="sum(quantity) over (partition by returnflag "
                       "order by extendedprice)"))
    # explicit frames change semantics
    no(base.format(win="row_number() over (partition by returnflag "
                       "order by extendedprice rows between unbounded "
                       "preceding and current row)"))
    # no partition: the flat top-k's job, per-group law doesn't apply
    no(base.format(win="row_number() over (order by extendedprice)"))
    # rank without ORDER BY / expression keys / shadowed lateral alias
    no(base.format(win="row_number() over (partition by returnflag)"))
    no(base.format(win="row_number() over (partition by returnflag "
                       "order by extendedprice + 1)"))
    no("select q, r from (select quantity as q, row_number() over "
       "(partition by returnflag order by q) as r from lineitem) "
       "where r <= 2")
    # two windows; filter on a non-rank column; >= lower bound;
    # aggregate below; outer star; outer expression
    no("select orderkey, r from (select orderkey, row_number() over "
       "(partition by returnflag order by extendedprice) as r, "
       "rank() over (partition by returnflag order by quantity) as r2 "
       "from lineitem) where r <= 2")
    no("select orderkey, r from (select orderkey, quantity, "
       "row_number() over (partition by returnflag order by "
       "extendedprice) as r from lineitem) where quantity <= 2")
    no("select orderkey, r from (select orderkey, row_number() over "
       "(partition by returnflag order by extendedprice) as r "
       "from lineitem) where r >= 2")
    no("select orderkey, r from (select orderkey, row_number() over "
       "(partition by returnflag order by extendedprice) as r "
       "from (select * from lineitem group by all)) where r <= 2")
    no("select * from (select orderkey, row_number() over (partition "
       "by returnflag order by extendedprice) as r from lineitem) "
       "where r <= 2")
    no("select orderkey + 1 as o2, r from (select orderkey, "
       "row_number() over (partition by returnflag order by "
       "extendedprice) as r from lineitem) where r <= 2")
    # DISTINCT / bound below 1 / partition by the rank alias itself
    no("select distinct orderkey, r from (select orderkey, row_number()"
       " over (partition by returnflag order by extendedprice) as r "
       "from lineitem) where r <= 2")
    no("select orderkey, r from (select orderkey, row_number() over "
       "(partition by returnflag order by extendedprice) as r "
       "from lineitem) where r < 1")
    no("select orderkey, r from (select orderkey, row_number() over "
       "(partition by r order by extendedprice) as r from lineitem) "
       "where r <= 2")


def test_grouped_topk_bounds_transfer_same_answer(
        spark, peer_server, edge_gateway):
    """Served-rows proof for the grouped form: each peer endpoint ships
    at most n rows per group, and the merged answer matches the row
    path exactly."""
    groups = 6  # distinct (returnflag, linestatus) pairs in TPC-H
    before = peer_server.served_rows
    fast = [tuple(r) for r in edge_gateway.query(_GROUPED_SQL).collect()]
    shipped = peer_server.served_rows - before

    before = peer_server.served_rows
    slow = [tuple(r) for r in edge_gateway.query(
        _GROUPED_SQL, topk_pushdown=False).collect()]
    shipped_rows = peer_server.served_rows - before

    assert sorted(fast) == sorted(slow) and len(fast) > 0
    assert 0 < shipped <= 2 * groups * 3
    assert shipped < shipped_rows


def test_grouped_topk_hidden_partition_end_to_end(spark, peer_server,
                                                  edge_gateway):
    """Unprojected partition/order columns ship as extra columns and are
    dropped after the merge; answers match the row path."""
    q = ("select orderkey, partkey, suppkey, linenumber, rk "
         "from (select orderkey, partkey, suppkey, linenumber, "
         "rank() over (partition by returnflag, linestatus "
         "order by extendedprice desc, orderkey asc nulls first, "
         "partkey, suppkey, linenumber) as rk "
         "from lineitem where quantity >= 30) where rk = 2")
    fast = edge_gateway.query(q)
    frows = [tuple(r) for r in fast.collect()]
    slow = [tuple(r) for r in edge_gateway.query(
        q, topk_pushdown=False).collect()]
    assert sorted(map(repr, frows)) == sorted(map(repr, slow))
    assert fast.columns == ["orderkey", "partkey", "suppkey",
                            "linenumber", "rk"]
    assert len(frows) > 0


def test_query_parses_user_and_template_sql_once(spark, monkeypatch,
                                                 peer_server, edge_gateway):
    """The gateway parses each entity query once: validate_sql's parse
    is the only one, and every pushdown extractor walks that plan. A
    template query over a forwardable peer therefore parses the user SQL
    once and its forward SQL once on the coordinator (the peer's own
    parses run on its gRPC threads)."""
    import threading

    from dataweb_spark.plans import validation

    parsed: list[str] = []
    real = validation._parse_plan
    me = threading.get_ident()

    def counting(spark_, sql):
        if threading.get_ident() == me:
            parsed.append(sql)
        return real(spark_, sql)

    monkeypatch.setattr(validation, "_parse_plan", counting)
    agg = ("select returnflag, count(*) as n, sum(quantity) as q "
           "from lineitem where quantity < 9 group by returnflag")
    for sql in (agg, _TOPK_SQL, _GROUPED_SQL):
        parsed.clear()
        rows = edge_gateway.query(sql).collect()
        assert rows, sql
        assert len(parsed) == 2, (sql, parsed)
        assert parsed[0] == sql


def test_grouped_topk_presentational_order_limit(spark, peer_server,
                                                 edge_gateway):
    """r14 tail: an outer ORDER BY [LIMIT] above the rank filter — the
    common presentational form — stays inside the accepted shape; the
    sort/limit run at the merge, never forward, and answers match the
    row path EXACTLY (ordered comparison, not just multiset)."""
    from dataweb_spark.plans.topk import extract_grouped_topk
    q = ("select returnflag, linestatus, extendedprice, partkey, "
         "suppkey, linenumber, quantity, rk "
         "from (select returnflag, linestatus, extendedprice, partkey, "
         "suppkey, linenumber, quantity, row_number() over ("
         "partition by returnflag, linestatus order by extendedprice "
         "desc, partkey, suppkey, linenumber, quantity) as rk "
         "from lineitem where quantity >= 30) t "
         "where rk <= 3 order by returnflag, linestatus, rk limit 7")
    s = extract_grouped_topk(validate_sql(spark, q), "lineitem")
    assert s is not None and s.final_limit == 7
    assert s.final_order == [("`returnflag`", "ASC", "NULLS FIRST"),
                             ("`linestatus`", "ASC", "NULLS FIRST"),
                             ("`rk`", "ASC", "NULLS FIRST")]
    assert "LIMIT" not in s.forward_sql.split("WHERE")[-1].upper() \
        or "LIMIT" not in s.forward_sql.upper()
    fast = [tuple(r) for r in edge_gateway.query(q).collect()]
    slow = [tuple(r) for r in edge_gateway.query(
        q, topk_pushdown=False).collect()]
    assert fast == slow and len(fast) == 7

    # ordinal keys resolve to output positions
    q2 = q.replace("order by returnflag, linestatus, rk limit 7",
                   "order by 1, 2, 8 limit 7")
    s2 = extract_grouped_topk(validate_sql(spark, q2), "lineitem")
    assert s2 is not None and s2.final_order == s.final_order

    # rejections: bare LIMIT without ORDER (any-n semantics stays on
    # the row path), sort key not an output name, SORT BY
    assert extract_grouped_topk(
        validate_sql(
            spark, q.replace(" order by returnflag, linestatus, rk limit 7",
                             " limit 7")), "lineitem") is None
    assert extract_grouped_topk(
        validate_sql(
            spark, q.replace("order by returnflag, linestatus, rk limit 7",
                             "order by orderkey limit 7")),
        "lineitem") is None
    assert extract_grouped_topk(
        validate_sql(
            spark, q.replace("order by returnflag, linestatus, rk limit 7",
                             "sort by returnflag")), "lineitem") is None


def test_grouped_topk_through_affine_mapping_bounds_transfer(
        spark, peer_server, transformed_gateway):
    """r14 tail: the GROUPED fact composes with affine-mapped order keys
    on the ROW path — a non-identity flight source receives the
    rank-bounded window wrapper over PHYSICAL columns (order keys
    rewritten/flipped like the flat fact; partition keys are safe under
    any mapping: engine partitions are finer-or-equal) and ships ≤ bound
    rows per partition; answers match the unpushed path."""
    q = ("select linenumber, price_cents, partkey, rk "
         "from (select linenumber, price_cents, partkey, row_number() "
         "over (partition by linenumber order by price_cents desc, "
         "neg_line asc, partkey) as rk from priced_items "
         "where quantity >= 30) t where rk <= 2")
    before = peer_server.served_rows
    fast = [tuple(r) for r in transformed_gateway.query(q).collect()]
    shipped = peer_server.served_rows - before
    before = peer_server.served_rows
    slow = [tuple(r) for r in transformed_gateway.query(
        q, topk_pushdown=False).collect()]
    shipped_rows = peer_server.served_rows - before
    assert sorted(fast) == sorted(slow) and len(fast) > 0
    # 7 linenumbers x bound 2 x up to 2 peer endpoints
    assert 0 < shipped <= 2 * 7 * 2
    assert shipped < shipped_rows


def test_explain_reports_forwarded_grouped(spark, peer_server,
                                           transformed_gateway):
    """The explain surface mirrors the row-path grouped fact: physical
    partition/order columns (flipped where the mapping slope is
    negative) and the per-source bound."""
    import json as _json
    q = ("select linenumber, price_cents, partkey, rk "
         "from (select linenumber, price_cents, partkey, row_number() "
         "over (partition by linenumber order by price_cents desc, "
         "neg_line asc, partkey) as rk from priced_items "
         "where quantity >= 30) t where rk <= 2")
    rows = {r["source"]: r.asDict()
            for r in transformed_gateway.explain(q).collect()}
    g = _json.loads(rows["priced_peer"]["forwarded_grouped"])
    assert g["fn"] == "row_number" and g["bound"] == 2
    assert g["partition"] == ["linenumber"]
    # neg_line ASC (default NULLS FIRST) flips to linenumber DESC with
    # the NULLS placement positionally unchanged
    assert g["order"] == [["extendedprice", "DESC", "NULLS LAST"],
                          ["linenumber", "DESC", "NULLS FIRST"],
                          ["partkey", "ASC", "NULLS FIRST"]]
    assert "__dw_rk <= 2" in rows["priced_peer"]["pushed_sql"]


def test_topk_affine_requires_declared_physical_type():
    """r15 (advice-caught): behind a NON-identity transform the
    "undeclared field data_type = entity shape" fallback is ambiguous —
    cents stored as bigint behind a '{v} * 100'-mapped double entity
    would validate wrap-safety under the WRONG (float) arithmetic and
    could under-fetch the per-source top-k. Undeclared physical types
    therefore refuse affine order forwarding (the ORDER fact dies, rows
    still ship — correct, just wider); declaring the type re-enables
    it. Identity mappings keep the entity-shape fallback."""
    from dataweb_spark.catalog.model import DataField, Transformation
    from dataweb_spark.sources.readers import _forward_order_key, _peer_sql

    undeclared = DataSource(
        name="s", connection="c", entity="priced_items",
        source_sql="select * from {table}",
        mappings=[Mapping("price", "cents",
                          Transformation("{v} * 100", "{v} / 100"))],
        options={"entity": "lineitem"})
    assert _forward_order_key(undeclared, "price", "DESC", "NULLS LAST",
                              "double") is None
    sql, _ = _peer_sql(undeclared, None, 5, None,
                       order_by=[("price", "DESC", "NULLS LAST", "double")])
    assert "ORDER BY" not in sql and "LIMIT" not in sql

    # declared bigint: forwards only under wrap-free (decimal) template
    # arithmetic — '{v} * 100' alone stays integral and could wrap, so
    # it still refuses; '{v} * 100.0' is a decimal chain and forwards
    declared = DataSource(
        name="s", connection="c", entity="priced_items",
        source_sql="select * from {table}",
        fields=[DataField("cents", "cents", "bigint")],
        mappings=[Mapping("price", "cents",
                          Transformation("{v} * 100.0", "{v} / 100.0"))],
        options={"entity": "lineitem"})
    assert _forward_order_key(declared, "price", "DESC", "NULLS LAST",
                              "double") is not None
    declared_int = DataSource(
        name="s", connection="c", entity="priced_items",
        source_sql="select * from {table}",
        fields=[DataField("cents", "cents", "bigint")],
        mappings=[Mapping("price", "cents",
                          Transformation("{v} * 100", "{v} / 100"))],
        options={"entity": "lineitem"})
    assert _forward_order_key(declared_int, "price", "DESC", "NULLS LAST",
                              "double") is None

    identity = DataSource(
        name="s", connection="c", entity="priced_items",
        source_sql="select * from {table}",
        mappings=[Mapping("price", "price")],
        options={"entity": "lineitem"})
    assert _forward_order_key(identity, "price", "DESC", "NULLS LAST",
                              "double") is not None


def test_topk_through_remote_hop_served_rows(spark, peer_server):
    """r15 (VERDICT r14 item 2): the order fact composes across a REMOTE
    HOP whose per-key transform is order-preserving affine — the DEEP
    flight peer serves ≤ k rows per endpoint where the pre-r15 behavior
    shipped the whole entity. Topology: edge entity `priced_items`
    --(RemoteEntityMapping, price_cents = price * 100)--> mid relay
    `mid_items` --(flight source)--> the live peer's lineitem."""
    from dataweb_spark.catalog.model import (DataField, Information,
                                             RemoteEntityMapping,
                                             RemoteInfoMapping,
                                             Transformation)

    mid = RelayCatalog(name="hop_mid")
    mid.add_entity(Entity("mid_items", [
        Information("price", "double"),
        Information("orderkey", "bigint"),
        Information("quantity", "double"),
    ]))
    mid.add_connection(DataConnection(
        "peer_flight", "flight", {"port": str(peer_server.port)}))
    mid.add_source(DataSource(
        name="items_peer", connection="peer_flight", entity="mid_items",
        source_sql="select * from {table}",
        fields=[DataField("extendedprice", "extendedprice", "double")],
        mappings=[Mapping("price", "extendedprice"),
                  Mapping("orderkey", "orderkey"),
                  Mapping("quantity", "quantity")],
        options={"entity": "lineitem"}))
    edge = RelayCatalog(name="hop_edge")
    edge.add_entity(Entity("priced_items", [
        Information("price_cents", "double"),
        Information("orderkey", "bigint"),
        Information("quantity", "double"),
    ]))
    edge.remote_mappings.append(RemoteEntityMapping(
        local_entity="priced_items", peer="hop_mid",
        remote_entity="mid_items",
        info_mappings=[RemoteInfoMapping(
            "price_cents", "price",
            Transformation("{v} * 100", "{v} / 100"))]))
    web = Web()
    web.add_relay(edge)
    web.add_relay(mid)
    gw = QueryGateway(spark, web, "hop_edge")

    q = ("select price_cents, orderkey, quantity from priced_items "
         "order by price_cents desc, orderkey asc nulls first, "
         "quantity asc limit 8")
    before = peer_server.served_rows
    fast = [tuple(r) for r in gw.query(q).collect()]
    shipped = peer_server.served_rows - before

    before = peer_server.served_rows
    slow = [tuple(r) for r in gw.query(q, topk_pushdown=False).collect()]
    shipped_rows = peer_server.served_rows - before

    assert sorted(fast) == sorted(slow) and len(fast) == 8
    # the live peer fans lineitem over 2 physical sources: ≤ 8 each
    assert 0 < shipped <= 2 * 8
    assert shipped < shipped_rows

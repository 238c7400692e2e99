"""Second external-engine dialect: a DuckDB-backed FlightSQL-style engine
behind real gRPC, plus golden-string tests for the per-dialect pushdown
SQL generator (the ``trino.rs:103-190`` / ``expr_to_sql.rs`` analogs).

The generic-JDBC path is proven against embedded Derby elsewhere
(``test_jdbc_source.py``); this module proves a NON-Spark SQL dialect
(DuckDB) executing the pushed-down engine queries end-to-end."""

import datetime

import pytest

from dataweb_spark.catalog.model import (
    DataConnection,
    DataSource,
    Entity,
    Information,
    Mapping,
    RelayCatalog,
    Transformation,
    Web,
)
from dataweb_spark.plans.gateway import QueryGateway
from dataweb_spark.plans.validation import validate_sql
from dataweb_spark.sources.dialects import (
    DUCKDB,
    SPARK,
    TRINO,
    render_select,
)


# ---------------------------------------------------------------------------
# Dialect golden strings
# ---------------------------------------------------------------------------

def test_trino_render_plain():
    sql = render_select(TRINO, "catalog.sales.lineitem", ["a", "b"],
                        [("ship date", "<", datetime.date(1995, 1, 1))], 10)
    assert sql == ('SELECT a, b FROM catalog.sales.lineitem '
                   'WHERE ("ship date" < DATE \'1995-01-01\') LIMIT 10')


def test_trino_quotes_nonplain_identifiers():
    sql = render_select(TRINO, "weird table", ["select"],
                        [("order", "=", 5)], None)
    # reserved-looking but plain identifiers stay bare (matches reference
    # unparser output); embedded-space names get ANSI quotes
    assert sql == 'SELECT select FROM "weird table" WHERE (order = 5)'


def test_spark_dialect_backtick_quoting():
    sql = render_select(SPARK, "my table", None, [("a b", ">=", 1.5)], None)
    assert sql == "SELECT * FROM `my table` WHERE (`a b` >= 1.5)"


def test_duckdb_literals():
    sql = render_select(DUCKDB, "t", None,
                        [("s", "=", "O'Brien"), ("f", "=", True)], None)
    assert sql == "SELECT * FROM t WHERE (s = 'O''Brien') AND (f = TRUE)"


def test_unrenderable_conjuncts_are_skipped_not_wrong():
    sql = render_select(TRINO, "t", None,
                        [("ts", "<", datetime.datetime(2020, 1, 1)),
                         ("ok", "=", 1)], None)
    assert sql == "SELECT * FROM t WHERE (ok = 1)"


def test_embedded_quote_identifier_refused():
    sql = render_select(TRINO, "t", ['bad"name'], [('bad"col', "=", 1)], None)
    # identifier can't be safely quoted → projection falls back to *, the
    # conjunct is dropped (filtering stays local)
    assert sql == "SELECT * FROM t"


def test_skipped_conjunct_suppresses_limit_pushdown():
    # LIMIT after an incompletely-pushed filter would under-fetch: the
    # peer returns the first n rows of the WRONG stream. A skipped
    # conjunct must therefore also drop the limit (filter+limit both
    # run locally); with every conjunct pushed the limit survives.
    sql = render_select(DUCKDB, "t", None,
                        [("ts", "<", datetime.datetime(2020, 1, 1)),
                         ("ok", "=", 1)], 10)
    assert sql == "SELECT * FROM t WHERE (ok = 1)"
    sql = render_select(DUCKDB, "t", None, [("ok", "=", 1)], 10)
    assert sql == "SELECT * FROM t WHERE (ok = 1) LIMIT 10"


def test_nonfinite_float_conjunct_refused_not_broken():
    # repr(inf) renders bare `inf` — DuckDB binds it as a COLUMN name, so
    # the pushed query would ERROR instead of over-fetching; such
    # conjuncts must stay local
    sql = render_select(DUCKDB, "t", None,
                        [("f", ">", float("inf")), ("g", "=", float("nan")),
                         ("ok", "=", 1.5)], None)
    assert sql == "SELECT * FROM t WHERE (ok = 1.5)"


def test_literal_string_roundtrips_through_duckdb():
    """Rendered string/float/date literals must evaluate back to the exact
    value in a real engine (quote-doubling, repr floats, DATE forms)."""
    import duckdb
    probes = ["O'Brien", "a''b", "'", "100% legit", "semi;colon",
              "back\\slash", "new\nline", 'quote"double', ""]
    for v in probes:
        lit = DUCKDB.literal(v)
        assert duckdb.sql(f"select {lit}").fetchall()[0][0] == v, v
    for f in [0.1, -1.5e-9, 1e20, 131072.0, 6.103515625e-05]:
        # cast: DuckDB parses short decimal forms as DECIMAL; a pushed
        # conjunct always compares against a double column, where the
        # cast back to double is exactly the intended value
        got = duckdb.sql(
            f"select cast({DUCKDB.literal(f)} as double)").fetchall()[0][0]
        assert got == f
    d = datetime.date(1995, 1, 1)
    assert str(duckdb.sql(
        f"select {DUCKDB.literal(d)}").fetchall()[0][0]) == "1995-01-01"


def test_unrenderable_table_part_raises_not_mistargets():
    # silently dropping a bad part would render SQL that targets a
    # DIFFERENT table — that must be an error, never a wrong query
    with pytest.raises(ValueError, match="not renderable"):
        render_select(TRINO, 'cat.bad"part.t', None, None, None)


def test_spark_dialect_refuses_backslash_literals():
    # Spark's parser treats backslash as an escape inside string literals:
    # quote-doubling alone would let '...\' escape our closing quote (SQL
    # injection into the peer). The conjunct is dropped, filtering stays
    # local.
    sql = render_select(SPARK, "t", None,
                        [("s", "=", "a\\"), ("ok", "=", 1)], None)
    assert sql == "SELECT * FROM t WHERE (ok = 1)"
    # ANSI-string dialects (DuckDB/Trino) take backslash literally — fine
    sql2 = render_select(DUCKDB, "t", None, [("s", "=", "a\\")], None)
    assert sql2 == "SELECT * FROM t WHERE (s = 'a\\')"


# ---------------------------------------------------------------------------
# DuckDB FlightSQL-style engine end-to-end
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def engine(sf_dir):
    from dataweb_spark.sources.flightsql import serve_duckdb_flightsql
    s = serve_duckdb_flightsql({
        "lineitem_tbl": f"{sf_dir}/lineitem.parquet",
    })
    yield s
    s.shutdown()


@pytest.fixture(scope="module")
def engine_gateway(spark, engine):
    relay = RelayCatalog(name="engine_edge")
    relay.add_entity(Entity("items", [
        Information("orderkey", "bigint"),
        Information("quantity", "double"),
        Information("returnflag", "string"),
    ]))
    relay.add_connection(DataConnection(
        "duck", "flightsql",
        {"port": str(engine.port), "dialect": "duckdb"}))
    relay.add_source(DataSource(
        name="items_duck", connection="duck", entity="items",
        source_sql="select * from {table}",
        mappings=[Mapping("orderkey", "l_orderkey"),
                  Mapping("quantity", "l_quantity"),
                  Mapping("returnflag", "l_returnflag")],
        options={"table": "lineitem_tbl"}))
    web = Web()
    web.add_relay(relay)
    return QueryGateway(spark, web, "engine_edge")


def test_engine_rows_match_parquet(spark, sf_dir, engine_gateway):
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = raw.count()
    got = engine_gateway.query(
        "select count(*) as n from items").collect()[0]["n"]
    assert got == want


def test_engine_filter_pushdown_reaches_duckdb(spark, sf_dir, engine,
                                               engine_gateway):
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = {r["l_returnflag"]: r["count"] for r in
            raw.where("l_quantity < 10")
               .groupBy("l_returnflag").count().collect()}
    got = {r["returnflag"]: r["n"] for r in engine_gateway.query(
        "select returnflag, count(*) as n from items "
        "where quantity < 10 group by returnflag").collect()}
    assert got == want
    # the engine saw the narrowed query, not select *
    pushed = [q for q in engine.executed if "WHERE" in q]
    assert pushed and any("l_quantity < 10" in q for q in pushed)


def test_engine_projection_pushdown(engine, engine_gateway):
    # r15: the aggregate now executes ON the engine — one partial row
    # crosses the wire instead of the projected column stream
    engine_gateway.query(
        "select sum(quantity) as s from items").collect()
    assert any("CAST(sum(l_quantity) AS DOUBLE)" in q
               for q in engine.executed), engine.executed
    # projection pushdown proper still narrows NON-aggregate pulls
    engine_gateway.query(
        "select quantity from items where quantity < 2").collect()
    narrow = [q for q in engine.executed
              if q.startswith("SELECT l_quantity FROM")]
    assert narrow, engine.executed


def test_engine_aggregate_values_match(spark, sf_dir, engine_gateway):
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = round(raw.selectExpr("sum(l_quantity) as s").collect()[0]["s"], 2)
    got = round(engine_gateway.query(
        "select sum(quantity) as s from items").collect()[0]["s"], 2)
    assert got == want


def test_engine_transformed_filter_pushdown(spark, sf_dir, engine):
    """VERDICT r4 'missing #2': a filter on ``tax_percent`` (entity value =
    engine ``l_tax`` × 100) must reach the engine as an inverted, widened
    bound on ``l_tax`` instead of shipping the whole table — answers
    unchanged because the exact predicate re-runs locally."""
    from dataweb_spark.catalog.model import Transformation

    relay = RelayCatalog(name="engine_tf")
    relay.add_entity(Entity("items", [
        Information("orderkey", "bigint"),
        Information("tax_percent", "double"),
    ]))
    relay.add_connection(DataConnection(
        "duck", "flightsql",
        {"port": str(engine.port), "dialect": "duckdb"}))
    relay.add_source(DataSource(
        name="items_duck_tf", connection="duck", entity="items",
        source_sql="select * from {table}",
        mappings=[Mapping("orderkey", "l_orderkey"),
                  Mapping("tax_percent", "l_tax",
                          Transformation("{v} * 100", "{v} / 100"))],
        options={"table": "lineitem_tbl"}))
    web = Web()
    web.add_relay(relay)
    gw = QueryGateway(spark, web, "engine_tf")

    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = raw.selectExpr("l_tax * 100 as p").where("p < 5").count()
    n_before = len(engine.executed)
    got = gw.query("select count(*) as n from items "
                   "where tax_percent < 5").collect()[0]["n"]
    assert got == want
    pushed = [q for q in engine.executed[n_before:] if "WHERE" in q]
    assert pushed and any("l_tax <=" in q for q in pushed), engine.executed


# ---------------------------------------------------------------------------
# Trino-protocol engine (HTTP + JSON row-pages + nextUri paging +
# schema-inference fallback, trino.rs:27-200 / 89-173 analogs)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def trino_engine(sf_dir):
    from dataweb_spark.sources.httpjson import serve_trino_like
    s = serve_trino_like({"lineitem_tbl": f"{sf_dir}/lineitem.parquet"},
                         page_size=500)
    yield s
    s.shutdown()


def _trino_gateway(spark, engine, relay_name="trino_edge"):
    from dataweb_spark.catalog.model import Transformation
    relay = RelayCatalog(name=relay_name)
    relay.add_entity(Entity("items", [
        Information("orderkey", "bigint"),
        Information("quantity", "double"),
        Information("returnflag", "string"),
        Information("shipdate", "date"),
        Information("tax_percent", "double"),
    ]))
    relay.add_connection(DataConnection(
        "trino", "trino", {"url": engine.base_url}))
    relay.add_source(DataSource(
        name="items_trino", connection="trino", entity="items",
        source_sql="select * from {table}",
        mappings=[Mapping("orderkey", "l_orderkey"),
                  Mapping("quantity", "l_quantity"),
                  Mapping("returnflag", "l_returnflag"),
                  Mapping("shipdate", "l_shipdate"),
                  Mapping("tax_percent", "l_tax",
                          Transformation("{v} * 100", "{v} / 100"))],
        options={"table": "lineitem_tbl"}))
    web = Web()
    web.add_relay(relay)
    return QueryGateway(spark, web, relay_name)


def test_trino_rows_match_parquet(spark, sf_dir, trino_engine):
    gw = _trino_gateway(spark, trino_engine)
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = gw.query("select count(*) as n from items").collect()[0]["n"]
    assert got == raw.count()  # > page_size: the nextUri chain was walked


def test_trino_filter_pushdown_in_trino_dialect(spark, sf_dir, trino_engine):
    gw = _trino_gateway(spark, trino_engine)
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = {r["l_returnflag"]: r["count"] for r in
            raw.where("l_quantity < 10")
               .groupBy("l_returnflag").count().collect()}
    n_before = len(trino_engine.executed)
    got = {r["returnflag"]: r["n"] for r in gw.query(
        "select returnflag, count(*) as n from items "
        "where quantity < 10 group by returnflag").collect()}
    assert got == want
    pushed = [q for q in trino_engine.executed[n_before:] if "WHERE" in q]
    assert pushed and any("l_quantity < 10" in q for q in pushed)


def test_trino_temporal_types_roundtrip(spark, sf_dir, trino_engine):
    """JSON carries dates as ISO strings; the entity cast must restore a
    real date column with correct values."""
    gw = _trino_gateway(spark, trino_engine)
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = raw.where("l_shipdate >= date '1995-01-01'").count()
    df = gw.query("select shipdate from items "
                  "where shipdate >= date '1995-01-01'")
    assert dict(df.dtypes)["shipdate"] == "date"
    assert df.count() == want


def test_trino_transformed_filter_pushdown(spark, sf_dir, trino_engine):
    gw = _trino_gateway(spark, trino_engine)
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = raw.selectExpr("l_tax * 100 as p").where("p < 5").count()
    n_before = len(trino_engine.executed)
    got = gw.query("select count(*) as n from items "
                   "where tax_percent < 5").collect()[0]["n"]
    assert got == want
    pushed = [q for q in trino_engine.executed[n_before:] if "WHERE" in q]
    assert pushed and any("l_tax <=" in q for q in pushed)


def test_trino_schema_inference_fallback(spark, sf_dir):
    """The engine declares every column type 'unknown' (trino.rs:89-173):
    the runner must infer the transport schema from the first data page
    and the entity casts must still restore the declared logical types —
    the deliberately-drifted-view case."""
    from dataweb_spark.sources.httpjson import serve_trino_like
    s = serve_trino_like({"lineitem_tbl": f"{sf_dir}/lineitem.parquet"},
                         page_size=500, declare_types=False)
    try:
        gw = _trino_gateway(spark, s, relay_name="trino_edge_infer")
        raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        df = gw.query("select orderkey, quantity, shipdate from items "
                      "where quantity < 10")
        types = dict(df.dtypes)
        assert types == {"orderkey": "bigint", "quantity": "double",
                         "shipdate": "date"}
        assert df.count() == raw.where("l_quantity < 10").count()
        s2 = df.agg({"quantity": "sum"}).collect()[0][0]
        w2 = raw.where("l_quantity < 10").agg({"l_quantity": "sum"}) \
                .collect()[0][0]
        assert abs(s2 - w2) < 1e-6
    finally:
        s.shutdown()


# ---------------------------------------------------------------------------
# Standard FlightSQL prepared-statement envelope (flight_sql.rs:109-117)
# ---------------------------------------------------------------------------

def test_flightsql_prepared_statement_envelope(engine):
    """Protocol-shape test: the prepare → execute → do_get flow with
    protobuf-Any-wrapped commands, exactly as arrow-flight's
    FlightSqlServiceClient sends them — so a standards-speaking engine
    could be dropped behind flightsql_read for this flow."""
    import pyarrow as pa
    import pyarrow.flight as fl

    from dataweb_spark.sources import flightsql_proto as fsp

    client = fl.connect(f"grpc://127.0.0.1:{engine.port}")
    res = list(client.do_action(fl.Action(
        fsp.CREATE_PREPARED_ACTION,
        fsp.create_prepared_request(
            "select count(*) as n from lineitem_tbl"))))
    handle, schema_bytes = fsp.parse_create_prepared_result(
        res[0].body.to_pybytes())
    assert handle and len(handle) == 16
    schema = pa.ipc.read_schema(pa.BufferReader(schema_bytes))
    assert schema.field("n").type == pa.int64()

    info = client.get_flight_info(fl.FlightDescriptor.for_command(
        fsp.prepared_statement_query(handle)))
    assert info.schema.equals(schema)
    total = sum(client.do_get(ep.ticket).read_all().num_rows
                for ep in info.endpoints)
    assert total == 1

    list(client.do_action(fl.Action(
        fsp.CLOSE_PREPARED_ACTION, fsp.close_prepared_request(handle))))
    with pytest.raises(fl.FlightError):
        client.get_flight_info(fl.FlightDescriptor.for_command(
            fsp.prepared_statement_query(handle)))


def test_flightsql_direct_statement_and_legacy_commands(engine):
    """CommandStatementQuery (no prepare) and pre-envelope raw-SQL
    commands both still resolve."""
    import pyarrow.flight as fl

    from dataweb_spark.sources import flightsql_proto as fsp

    client = fl.connect(f"grpc://127.0.0.1:{engine.port}")
    sql = "select count(*) as n from lineitem_tbl"
    for command in (fsp.statement_query(sql), sql.encode("utf-8")):
        info = client.get_flight_info(
            fl.FlightDescriptor.for_command(command))
        got = client.do_get(info.endpoints[0].ticket).read_all()
        assert got.num_rows == 1 and got.column("n")[0].as_py() > 0
    # legacy raw-SQL ticket (pre-envelope client retrying a task)
    got = client.do_get(fl.Ticket(sql.encode("utf-8"))).read_all()
    assert got.num_rows == 1


def test_flightsql_proto_roundtrip():
    """Wire-format codec: every message round-trips, and non-envelope
    bytes raise (the legacy-fallback signal)."""
    import pytest as _pytest

    from dataweb_spark.sources import flightsql_proto as fsp

    sql = "select 1 as x -- unicode: déjà vu ✓"
    assert fsp.parse_create_prepared_request(
        fsp.create_prepared_request(sql)) == sql
    h, ds = fsp.parse_create_prepared_result(
        fsp.create_prepared_result(b"\x00hand\xffle", b"schema-bytes"))
    assert h == b"\x00hand\xffle" and ds == b"schema-bytes"
    assert fsp.parse_command(fsp.prepared_statement_query(b"h1")) == \
        ("prepared", b"h1")
    assert fsp.parse_command(fsp.statement_query(sql)) == \
        ("statement", sql.encode())
    assert fsp.parse_command(fsp.ticket_statement_query(b"t1")) == \
        ("ticket", b"t1")
    assert fsp.parse_command(fsp.close_prepared_request(b"h2")) == \
        ("close", b"h2")
    with _pytest.raises(ValueError):
        fsp.parse_command(b"select 1")  # raw SQL is not an envelope


# ---------------------------------------------------------------------------
# Partitioned Trino pulls (range-split parallel page chains)
# ---------------------------------------------------------------------------

def test_trino_partitioned_parallel_page_chains(spark, sf_dir,
                                                trino_engine):
    """A source with partitionColumn runs N INDEPENDENT statements (each
    its own protocol cursor/page chain) whose range predicates are
    disjoint and complete — rows match the single-cursor read exactly."""
    relay = RelayCatalog(name="trino_edge_part")
    relay.add_entity(Entity("items", [
        Information("orderkey", "bigint"),
        Information("quantity", "double"),
    ]))
    relay.add_connection(DataConnection(
        "trino", "trino", {"url": trino_engine.base_url}))
    relay.add_source(DataSource(
        name="items_trino_part", connection="trino", entity="items",
        source_sql="select * from {table}",
        mappings=[Mapping("orderkey", "l_orderkey"),
                  Mapping("quantity", "l_quantity")],
        options={"table": "lineitem_tbl", "partitionColumn": "l_orderkey",
                 "lowerBound": "0", "upperBound": "6000",
                 "numPartitions": "4"}))
    web = Web()
    web.add_relay(relay)
    gw = QueryGateway(spark, web, "trino_edge_part")

    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # r15: with partial_aggregate on, the aggregate renders ON the
    # engine (one statement, one partial row) — the range-split chains
    # are the NON-rendered path, so pin them with the flag off
    n_before = len(trino_engine.executed)
    fast = gw.query("select sum(quantity) as s, count(*) as n "
                    "from items").collect()[0]
    assert any("CAST(sum(l_quantity) AS DOUBLE)" in q
               for q in trino_engine.executed[n_before:])
    assert fast["n"] == raw.count()
    n_before = len(trino_engine.executed)
    got = gw.query("select sum(quantity) as s, count(*) as n "
                   "from items", partial_aggregate=False).collect()[0]
    ran = trino_engine.executed[n_before:]
    # one schema-resolution statement + 4 range chains
    chains = [q for q in ran if "WHERE" in q and "l_orderkey" in q]
    assert len(chains) == 4, ran
    assert sum("IS NULL" in q for q in chains) == 1       # open below
    assert sum(q.rstrip().endswith(">= 4500") for q in chains) == 1
    assert got["n"] == raw.count()
    assert abs(got["s"] - raw.agg({"l_quantity": "sum"})
               .collect()[0][0]) < 1e-6


def test_trino_chains_one_partition_each_no_exchange(spark, trino_engine):
    """Range-split page chains spread their statements by task index, not
    by a shuffle: one partition per chain and no Exchange in the executed
    plan; with zero statements the frame is empty and keeps the schema
    the engine advertised."""
    from dataweb_spark.sources.httpjson import (
        _chains_frame,
        trino_read_partitioned,
        trino_resolve_schema,
    )

    sql = "select l_orderkey, l_quantity from lineitem_tbl"
    df = trino_read_partitioned(spark, trino_engine.base_url, sql,
                                "l_orderkey", 0, 6000, 4)
    assert df.rdd.getNumPartitions() == 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    empty = _chains_frame(spark, trino_engine.base_url, [],
                          trino_resolve_schema(trino_engine.base_url, sql))
    assert empty.schema == df.schema
    assert empty.count() == 0


def test_trino_partition_predicates_disjoint_complete():
    from dataweb_spark.sources.httpjson import partition_predicates

    preds = partition_predicates("k", 0, 10, 3)
    assert preds == ["k < 3 OR k IS NULL",
                     "k >= 3 AND k < 6",
                     "k >= 6"]
    assert partition_predicates("k", 5, 5, 8) == ["1 = 1"]
    assert partition_predicates("k", 0, 100, 1) == ["1 = 1"]


def test_trino_partitioned_rows_outside_bounds_survive(spark, sf_dir,
                                                       trino_engine):
    """lower/upper only STEER the split — rows outside [lower, upper)
    must still arrive (first stride open below + NULLs, last open
    above), exactly like Spark's JDBC contract."""
    relay = RelayCatalog(name="trino_edge_narrow")
    relay.add_entity(Entity("items", [
        Information("orderkey", "bigint"),
    ]))
    relay.add_connection(DataConnection(
        "trino", "trino", {"url": trino_engine.base_url}))
    relay.add_source(DataSource(
        name="items_trino_narrow", connection="trino", entity="items",
        source_sql="select * from {table}",
        mappings=[Mapping("orderkey", "l_orderkey")],
        options={"table": "lineitem_tbl", "partitionColumn": "l_orderkey",
                 "lowerBound": "2000", "upperBound": "2400",
                 "numPartitions": "3"}))
    web = Web()
    web.add_relay(relay)
    gw = QueryGateway(spark, web, "trino_edge_narrow")
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = gw.query("select count(*) as n from items").collect()[0]["n"]
    assert got == raw.count()  # nothing below 2000 or above 2400 lost


def test_partition_predicates_property(subtests=None):
    """Property: for ANY bounds/partition count, the predicates are
    pairwise disjoint and jointly complete over the integers (plus NULL),
    verified by brute-force evaluation over a covering sample."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dataweb_spark.sources.httpjson import partition_predicates

    def matches(pred: str, v) -> bool:
        if pred == "1 = 1":
            return True
        clauses = pred.split(" OR ")
        def one(c, v):
            if c.endswith("IS NULL"):
                return v is None
            parts = c.split(" AND ")
            ok = True
            for p in parts:
                _, op, bound = p.split(" ", 2)
                if v is None:
                    return False
                b = int(bound)
                ok &= v < b if op == "<" else v >= b if op == ">=" else False
            return ok
        return any(one(c.strip(), v) for c in clauses)

    @settings(max_examples=60, deadline=None)
    @given(lower=st.integers(-1000, 1000), span=st.integers(0, 2000),
           n=st.integers(1, 12))
    def check(lower, span, n):
        upper = lower + span
        preds = partition_predicates("k", lower, upper, n)
        sample = set(range(lower - 3, upper + 4)) | {None}
        for v in sample:
            hits = sum(matches(p, v) for p in preds)
            assert hits == 1, (v, preds)

    check()


# ---------------------------------------------------------------------------
# Engine-side ORDER BY + LIMIT (federated top-k into external engines)
# ---------------------------------------------------------------------------

def test_render_select_order_by_and_limit():
    from dataweb_spark.sources.dialects import DUCKDB, render_select
    sql = render_select(DUCKDB, "t", ["a", "b"], [("b", ">", 1)], 5,
                        order_by=[("a", "DESC", "NULLS LAST"),
                                  ("b", "ASC", "NULLS FIRST")])
    assert sql == ('SELECT a, b FROM t WHERE (b > 1) '
                   'ORDER BY a DESC NULLS LAST, b ASC NULLS FIRST '
                   'LIMIT 5')
    # an unrenderable key suppresses BOTH the order and the limit
    sql2 = render_select(DUCKDB, "t", None, None, 5,
                         order_by=[('bad"name', "ASC", "NULLS FIRST")])
    assert "ORDER BY" not in sql2 and "LIMIT" not in sql2
    # a skipped conjunct suppresses both too (under-fetch hazard)
    sql3 = render_select(DUCKDB, "t", None, [("a", "like", "x")], 5,
                         order_by=[("a", "ASC", "NULLS FIRST")])
    assert "ORDER BY" not in sql3 and "LIMIT" not in sql3
    # bare-limit callers are untouched
    assert render_select(DUCKDB, "t", None, None, 7).endswith("LIMIT 7")


def test_pushdown_parts_order_fact_conditions():
    from dataweb_spark.catalog.model import (DataSource, Mapping,
                                             SourcePermission,
                                             Transformation)

    def src(**kw):
        d = dict(name="s", connection="c", entity="e",
                 source_sql="select * from {table}",
                 mappings=[Mapping("a", "pa"), Mapping("b", "pb")],
                 options={})
        d.update(kw)
        return DataSource(**d)

    from dataweb_spark.sources.readers import _pushdown_parts
    ob = [("a", "DESC", "NULLS LAST", "double")]
    # clean identity source: order + limit forwarded, renamed physical
    *_, lim, _, order, _ = _pushdown_parts(src(), [("b", "<", 9)], 5,
                                        None, ob)
    assert order == [("pa", "DESC", "NULLS LAST")] and lim == 5
    # a key with no type evidence (legacy 3-tuple) never forwards
    *_, lim, _, order, _ = _pushdown_parts(src(), None, 5, None,
                                        [("a", "DESC", "NULLS LAST")])
    assert order is None and lim is None
    # permissioned source: peer stream is a superset — neither forwards
    p = src(default_permission=SourcePermission(frozenset(["pa", "pb"]),
                                                "pa < 100"))
    *_, lim, _, order, _ = _pushdown_parts(p, None, 5, None, ob)
    assert order is None and lim is None
    # transformed conjunct pushes WIDENED — order (and its limit) die
    t = src(mappings=[Mapping("a", "pa"),
                      Mapping("b", "pb",
                              Transformation("{v} * 100", "{v} / 100"))])
    *_, lim, _, order, _ = _pushdown_parts(t, [("b", "<", 9)], 5, None, ob)
    assert order is None and lim is None
    # dropped (unmapped) conjunct: everything dies
    *_, lim, _, order, _ = _pushdown_parts(src(), [("z", "<", 9)], 5,
                                        None, ob)
    assert order is None and lim is None


def test_pushdown_parts_order_through_transforms():
    """r14: the order fact survives strictly monotone affine mappings —
    the reference's flagship ``{v} * 100`` entity shape
    (``deploy/development/na_us_data_relay/.../lineitem_mappings.yaml``)
    — flipping direction on negative slope; every unprovable shape keeps
    the row path."""
    from dataweb_spark.catalog.model import (DataField, DataSource,
                                             Mapping, Transformation)
    from dataweb_spark.sources.readers import _pushdown_parts

    def src(t, ptype=None, info="a"):
        fields = [DataField("pa", "pa", ptype)] if ptype else []
        return DataSource(
            name="s", connection="c", entity="e",
            source_sql="select * from {table}", fields=fields,
            mappings=[Mapping(info, "pa", t), Mapping("b", "pb")],
            options={})

    ob = [("a", "DESC", "NULLS LAST", "double")]
    aff = Transformation("{v} * 100", "{v} / 100")
    # positive slope over DECLARED float/double storage: same direction
    # forwards; undeclared physical type refuses (r15 advice: behind a
    # transform the "undeclared = entity shape" contract is ambiguous —
    # integral storage would validate wrap-safety under the wrong
    # arithmetic)
    *_, lim, _, order, _ = _pushdown_parts(src(aff, "double"), None, 5,
                                        None, ob)
    assert order == [("pa", "DESC", "NULLS LAST")] and lim == 5
    *_, lim, _, order, _ = _pushdown_parts(src(aff), None, 5, None, ob)
    assert order is None and lim is None
    # negative slope over float storage: NaN would switch ends — refuse
    neg = Transformation("{v} * -100", "{v} / -100")
    *_, lim, _, order, _ = _pushdown_parts(src(neg, "double"), None, 5,
                                        None, ob)
    assert order is None and lim is None
    # negative slope over declared-integer storage, float-promoted
    # arithmetic: flips ASC<->DESC, NULLS placement stays positional
    negf = Transformation("{v} * -1.0", "{v} / -1.0")
    *_, lim, _, order, _ = _pushdown_parts(src(negf, "bigint"), None, 5,
                                        None, ob)
    assert order == [("pa", "ASC", "NULLS LAST")] and lim == 5
    # integer-only arithmetic chain can WRAP (non-ANSI int mult): refuse
    *_, lim, _, order, _ = _pushdown_parts(src(aff, "bigint"), None, 5,
                                        None, ob)
    assert order is None and lim is None
    # ... but a division promotes to double at the first op: forwards
    divt = Transformation("{v} / 100", "{v} * 100")
    *_, lim, _, order, _ = _pushdown_parts(src(divt, "bigint"), None, 5,
                                        None, ob)
    assert order == [("pa", "DESC", "NULLS LAST")] and lim == 5
    # non-affine transform: refuse
    sq = Transformation("({v}) * ({v})", "{v}")
    *_, lim, _, order, _ = _pushdown_parts(src(sq, "double"), None, 5,
                                        None, ob)
    assert order is None and lim is None
    # Spark types `-1.0`/`0.1` as DECIMAL literals, and decimal chains
    # past propagated precision 38 can NULL their value (non-ANSI) —
    # the review-pass exploit shape is pinned REFUSED even though a
    # python-float reading of the literals would call it "float math"
    wide = Transformation("({v} - 0.1) * 99999999999999999999.9", "{v}")
    *_, lim, _, order, _ = _pushdown_parts(src(wide, "bigint"), None, 5,
                                        None, ob)
    assert order is None and lim is None
    # ... while bounded decimal chains (precision provably <= 38) and
    # scientific-notation literals (genuinely DOUBLE in Spark) forward
    e = Transformation("{v} * 1e2", "{v} / 1e2")
    *_, lim, _, order, _ = _pushdown_parts(src(e, "bigint"), None, 5,
                                        None, ob)
    assert order == [("pa", "DESC", "NULLS LAST")]
    # declared decimal storage: exact, NaN-free — flips allowed
    negd = Transformation("{v} * -1.0", "{v} / -1.0")
    *_, lim, _, order, _ = _pushdown_parts(src(negd, "decimal(12,2)"),
                                        None, 5, None, ob)
    assert order == [("pa", "ASC", "NULLS LAST")]
    # affine to a non-float LOGICAL type: cast could overflow-null/
    # wrap — refuse
    *_, lim, _, order, _ = _pushdown_parts(
        src(aff, "double"), None, 5, None,
        [("a", "DESC", "NULLS LAST", "bigint")])
    assert order is None and lim is None
    # kept conjunct on ANOTHER identity column rides along
    *_, lim, _, order, _ = _pushdown_parts(src(aff, "double"),
                                        [("b", "<", 9)], 5, None, ob)
    assert order == [("pa", "DESC", "NULLS LAST")] and lim == 5
    # case-insensitive info lookup (Spark resolution semantics)
    *_, lim, _, order, _ = _pushdown_parts(
        src(aff, "double", info="A_col"), None, 5, None,
        [("a_COL", "DESC", "NULLS LAST", "double")])
    assert order == [("pa", "DESC", "NULLS LAST")] and lim == 5


def test_pushdown_parts_order_cast_stability():
    """ADVICE r13 (medium): an order-CHANGING cast between the engine's
    declared storage type and the entity type silently under-fetches a
    forwarded top-k — the gate must refuse; order-preserving widenings
    forward."""
    from dataweb_spark.catalog.model import (DataField, DataSource,
                                             Mapping, order_cast_stable)
    from dataweb_spark.sources.readers import _pushdown_parts

    def src(ptype):
        return DataSource(
            name="s", connection="c", entity="e",
            source_sql="select * from {table}",
            fields=[DataField("pa", "pa", ptype)],
            mappings=[Mapping("a", "pa")], options={})

    def fwd(ptype, ltype):
        *_, _, _, order, _ = _pushdown_parts(
            src(ptype), None, 5, None,
            [("a", "ASC", "NULLS FIRST", ltype)])
        return order is not None

    # the ADVICE's exact case: numerics stored in a varchar column sort
    # lexicographically engine-side ('10' < '9') — refuse
    assert not fwd("varchar", "bigint")
    assert not fwd("string", "double")
    # identical + widening numeric storage forwards
    assert fwd("bigint", "bigint") and fwd("int", "bigint")
    assert fwd("int", "double") and fwd("float", "double")
    assert fwd("date", "timestamp")
    # narrowing (possible overflow->NULL / wrap) refuses
    assert not fwd("bigint", "int") and not fwd("double", "float")
    assert not fwd("double", "bigint")
    # undeclared physical = entity-shape contract: self-stable forwards
    assert order_cast_stable(None, "string")
    assert order_cast_stable(None, "decimal(12,2)")
    assert not order_cast_stable(None, "array<int>")
    assert not order_cast_stable(None, None)
    assert not order_cast_stable("binary", "binary")


def test_extract_order_limit_shapes(spark):
    from dataweb_spark.plans.topk import extract_order_limit
    # bare columns, alias of a bare column, ordinal — all resolve
    ol = extract_order_limit(
        validate_sql(
            spark, "select quantity as q, orderkey from items "
                   "where quantity < 9 "
                   "order by q desc, 2, returnflag limit 4"),
        "items",
        entity_types={"Quantity": "double", "orderkey": "bigint"})
    assert ol is not None
    keys, k = ol
    assert k == 4
    # keys surface in the entity's DECLARED case with its type; a column
    # the entity doesn't declare carries None (and never forwards)
    assert keys == [("Quantity", "DESC", "NULLS LAST", "double"),
                    ("orderkey", "ASC", "NULLS FIRST", "bigint"),
                    ("returnflag", "ASC", "NULLS FIRST", None)]
    # a filter that does NOT fully decompose (OR) kills the fact: the
    # pushed conjuncts would under-filter and the per-source top-k would
    # under-fetch
    assert extract_order_limit(
        validate_sql(
            spark, "select quantity from items where quantity < 9 "
                   "or orderkey = 1 order by quantity limit 4"),
        "items") is None
    # alias of an EXPRESSION can't be pushed as a base column
    assert extract_order_limit(
        validate_sql(
            spark, "select quantity * 2 as q from items "
                   "order by q limit 4"), "items") is None


def test_engine_topk_order_limit_reaches_duckdb(spark, sf_dir, engine,
                                                engine_gateway):
    """The federated top-k over an external SQL engine: the engine
    receives ORDER BY + LIMIT (≤k rows cross the wire) and the answer
    matches Spark computing the same top-k over the raw parquet."""
    from pyspark.sql.functions import desc
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = [tuple(r) for r in
            raw.where("l_quantity >= 30")
               .selectExpr("l_orderkey as orderkey",
                           "l_quantity as quantity",
                           "l_returnflag as returnflag")
               .orderBy(desc("quantity"), "orderkey", "returnflag")
               .limit(6).collect()]
    n0 = len(engine.executed)
    got = [tuple(r) for r in engine_gateway.query(
        "select orderkey, quantity, returnflag from items "
        "where quantity >= 30 "
        "order by quantity desc, orderkey, returnflag limit 6").collect()]
    assert sorted(got) == sorted(want)
    sent = [q for q in engine.executed[n0:] if "ORDER BY" in q]
    assert sent, engine.executed[n0:]
    assert any("LIMIT 6" in q and "l_quantity" in q for q in sent), sent


def test_topk_limit_never_leaks_bare_across_remote_hops(spark, sf_dir,
                                                        engine):
    """r13 review regression: a top-k-derived limit must DIE with the
    order fact at a remote hop — a deeper engine receiving a bare LIMIT
    would return k arbitrary rows as if they were its top-k. The home
    relay maps the entity remotely to a peer relay whose source is the
    DuckDB engine; the engine's statement log must never show a LIMIT
    without its ORDER BY for a top-k query, and answers must match the
    no-pushdown path."""
    from dataweb_spark.catalog.model import RemoteEntityMapping

    home = RelayCatalog(name="topk_home")
    home.add_entity(Entity("items", [
        Information("orderkey", "bigint"),
        Information("quantity", "double"),
        Information("returnflag", "string"),
    ]))
    home.remote_mappings.append(RemoteEntityMapping(
        local_entity="items", peer="topk_peer", remote_entity="items"))
    peer = RelayCatalog(name="topk_peer")
    peer.add_entity(Entity("items", [
        Information("orderkey", "bigint"),
        Information("quantity", "double"),
        Information("returnflag", "string"),
    ]))
    peer.add_connection(DataConnection(
        "duck", "flightsql",
        {"port": str(engine.port), "dialect": "duckdb"}))
    peer.add_source(DataSource(
        name="items_duck", connection="duck", entity="items",
        source_sql="select * from {table}",
        mappings=[Mapping("orderkey", "l_orderkey"),
                  Mapping("quantity", "l_quantity"),
                  Mapping("returnflag", "l_returnflag")],
        options={"table": "lineitem_tbl"}))
    web = Web()
    web.add_relay(home)
    web.add_relay(peer)
    gw = QueryGateway(spark, web, "topk_home")
    q = ("select orderkey, quantity, returnflag from items "
         "where quantity >= 30 "
         "order by quantity desc, orderkey, returnflag limit 6")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    sent = engine.executed[n0:]
    # the hop drops the order fact AND its limit: the engine must see
    # either no LIMIT at all, or a LIMIT with its ORDER BY — never bare
    assert all("ORDER BY" in s for s in sent if "LIMIT" in s), sent
    slow = [tuple(r) for r in gw.query(q, topk_pushdown=False).collect()]
    assert sorted(fast) == sorted(slow) and len(fast) == 6


def test_engine_grouped_topk_reaches_duckdb(spark, sf_dir, engine,
                                            engine_gateway):
    """r14 tail — the row-path GROUPED top-k over an external SQL engine:
    the engine receives the rank-bounded window wrapper (≤ bound rows per
    partition cross the wire) and the answer matches Spark computing the
    same top-n-per-group over the raw parquet."""
    q = ("select returnflag, quantity, orderkey, rk "
         "from (select returnflag, quantity, orderkey, row_number() over "
         "(partition by returnflag order by quantity desc, orderkey) as rk"
         " from items where quantity >= 30) t where rk <= 3")
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .selectExpr("l_returnflag as returnflag",
                    "l_quantity as quantity", "l_orderkey as orderkey")
    raw.createOrReplaceTempView("raw_items")
    want = [tuple(r) for r in spark.sql(
        q.replace("from items", "from raw_items")).collect()]
    n0 = len(engine.executed)
    got = [tuple(r) for r in engine_gateway.query(q).collect()]
    assert sorted(got) == sorted(want) and len(got) > 0
    sent = [s for s in engine.executed[n0:] if "__dw_rk" in s]
    assert sent, engine.executed[n0:]
    assert any("ROW_NUMBER() OVER (PARTITION BY l_returnflag" in s
               and "__dw_rk <= 3" in s and "l_quantity" in s
               for s in sent), sent
    # transfer proof: the exact statement the engine ran returns <=
    # bound rows per group (replayed on a fresh DuckDB over the same
    # parquet — the engine's own answer is the same relation)
    import duckdb as _d
    con = _d.connect()
    con.execute(f"create view lineitem_tbl as select * from "
                f"read_parquet('{sf_dir}/lineitem.parquet')")
    n = len(con.execute(next(s for s in sent if "__dw_rk" in s))
            .fetchall())
    groups = raw.where("quantity >= 30").select("returnflag") \
                .distinct().count()
    assert 0 < n <= 3 * groups


def test_engine_grouped_topk_disabled_without_pushdown(spark, sf_dir,
                                                       engine,
                                                       engine_gateway):
    """topk_pushdown=False keeps the plain engine select — no wrapper."""
    q = ("select returnflag, rk from (select returnflag, row_number() "
         "over (partition by returnflag order by quantity desc, orderkey)"
         " as rk from items) t where rk <= 2")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in engine_gateway.query(q).collect()]
    mid = len(engine.executed)
    slow = [tuple(r) for r in engine_gateway.query(
        q, topk_pushdown=False).collect()]
    assert sorted(fast) == sorted(slow) and len(fast) == 6
    assert any("__dw_rk" in s for s in engine.executed[n0:mid])
    assert not any("__dw_rk" in s for s in engine.executed[mid:])


def test_grouped_fact_rank_requires_injective_keys():
    """r14 review regression: rank()/dense_rank() make ties SEMANTIC —
    a collapsing order-key map (bigint stored, double declared; any
    affine transform) gives locally-tied rows distinct engine ranks and
    a per-source ``rank <= n`` under-fetches. row_number tolerates the
    collapse (any tie-break is valid)."""
    from dataweb_spark.catalog.model import (DataField, DataSource,
                                             Mapping, Transformation,
                                             order_cast_injective)
    from dataweb_spark.sources.readers import _pushdown_parts

    class Spec:
        def __init__(self, fn):
            self.fn, self.bound = fn, 2
            self.entity_partition = ["g"]
            self.entity_order = [("a", "DESC", "NULLS LAST", "double")]

    def src(ptype=None, t=None):
        fields = [DataField("pa", "pa", ptype)] if ptype else []
        return DataSource(
            name="s", connection="c", entity="e",
            source_sql="select * from {table}", fields=fields,
            mappings=[Mapping("g", "pg"),
                      Mapping("a", "pa", t or Transformation())],
            options={})

    # bigint -> double collapses past 2^53: rank refused, row_number ok
    *_, eg = _pushdown_parts(src("bigint"), None, None, None, None,
                             Spec("rank"))
    assert eg is None
    *_, eg = _pushdown_parts(src("bigint"), None, None, None, None,
                             Spec("row_number"))
    assert eg is not None
    # exact widenings stay allowed for rank
    *_, eg = _pushdown_parts(src("int"), None, None, None, None,
                             Spec("dense_rank"))
    assert eg is not None
    *_, eg = _pushdown_parts(src("float"), None, None, None, None,
                             Spec("rank"))
    assert eg is not None
    # ANY affine transform is float-evaluated => collapsible: rank
    # refused, row_number keeps it
    aff = Transformation("{v} / 100", "{v} * 100")
    *_, eg = _pushdown_parts(src("bigint", aff), None, None, None, None,
                             Spec("rank"))
    assert eg is None
    *_, eg = _pushdown_parts(src("bigint", aff), None, None, None, None,
                             Spec("row_number"))
    assert eg is not None
    # the injectivity table itself
    assert order_cast_injective("int", "double")
    assert not order_cast_injective("int", "float")
    assert order_cast_injective("smallint", "float")
    assert not order_cast_injective("bigint", "double")
    assert order_cast_injective("decimal(12,2)", "double")
    assert not order_cast_injective("decimal(20,2)", "double")
    assert not order_cast_injective("varchar", "bigint")


def test_grouped_fact_refused_on_dw_rk_collision():
    """A source whose declared physical surface already carries
    ``__dw_rk`` would render an ambiguous star projection — the fact is
    refused (errors under allow_partial silently DROP the source)."""
    from dataweb_spark.catalog.model import (DataField, DataSource,
                                             Mapping)
    from dataweb_spark.sources.readers import _pushdown_parts

    class Spec:
        fn, bound = "row_number", 2
        entity_partition = ["g"]
        entity_order = [("a", "DESC", "NULLS LAST", "double")]

    src = DataSource(
        name="s", connection="c", entity="e",
        source_sql="select * from {table}",
        fields=[DataField("__dw_rk", "__dw_rk", "bigint")],
        mappings=[Mapping("g", "pg"), Mapping("a", "pa"),
                  Mapping("extra", "__dw_rk")],
        options={})
    *_, eg = _pushdown_parts(src, None, None, None, None, Spec())
    assert eg is None


# ---------------------------------------------------------------------------
# r15: top-k facts COMPOSE ACROSS REMOTE HOPS (VERDICT r14 item 2) —
# previously plans/resolve.py dropped the order fact at every hop
# ---------------------------------------------------------------------------

def _hop_web(engine, transform=None, peer_types=None):
    """home --(RemoteEntityMapping hop)--> peer --(flightsql)--> DuckDB.
    The hop maps home's ``price_cents`` from the peer's ``price`` via
    ``transform`` (None = identity rename)."""
    from dataweb_spark.catalog.model import (RemoteEntityMapping,
                                             RemoteInfoMapping)
    home = RelayCatalog(name="hop_home")
    home.add_entity(Entity("priced_items", [
        Information("orderkey", "bigint"),
        Information("price_cents", "double"),
        Information("returnflag", "string"),
    ]))
    maps = [RemoteInfoMapping("price_cents", "price",
                              transform if transform is not None
                              else Transformation())]
    home.remote_mappings.append(RemoteEntityMapping(
        local_entity="priced_items", peer="hop_peer",
        remote_entity="peer_items", info_mappings=maps))
    peer = RelayCatalog(name="hop_peer")
    peer.add_entity(Entity("peer_items", [
        Information("orderkey", "bigint"),
        Information("price", (peer_types or {}).get("price", "double")),
        Information("returnflag", "string"),
    ]))
    peer.add_connection(DataConnection(
        "duck", "flightsql",
        {"port": str(engine.port), "dialect": "duckdb"}))
    peer.add_source(DataSource(
        name="items_duck", connection="duck", entity="peer_items",
        source_sql="select * from {table}",
        mappings=[Mapping("orderkey", "l_orderkey"),
                  Mapping("price", "l_extendedprice"),
                  Mapping("returnflag", "l_returnflag")],
        options={"table": "lineitem_tbl"}))
    web = Web()
    web.add_relay(home)
    web.add_relay(peer)
    return web


def test_topk_composes_through_affine_hop(spark, engine):
    """The order fact survives a ``{v} * 100`` hop (the reference's
    flagship mapping shape) AND the deep engine's own identity source
    mapping: the DEEP DuckDB statement carries ORDER BY l_extendedprice
    DESC ... LIMIT k, and answers match the row path."""
    from dataweb_spark.plans.gateway import QueryGateway
    web = _hop_web(engine, Transformation("{v} * 100", "{v} / 100"))
    gw = QueryGateway(spark, web, "hop_home")
    q = ("select price_cents, orderkey, returnflag from priced_items "
         "order by price_cents desc, orderkey, returnflag limit 7")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    sent = [s for s in engine.executed[n0:] if "LIMIT" in s]
    assert sent, "the deep engine never saw the forwarded top-k"
    assert all("ORDER BY" in s and "l_extendedprice" in s for s in sent)
    assert any("LIMIT 7" in s for s in sent)
    slow = [tuple(r) for r in gw.query(q, topk_pushdown=False).collect()]
    assert sorted(fast) == sorted(slow) and len(fast) == 7


def test_topk_hop_negative_slope_flips_at_depth(spark, engine):
    """A negative-slope hop over NaN-free DECLARED-decimal peer storage
    flips the direction that reaches the deep engine."""
    from dataweb_spark.plans.gateway import QueryGateway
    web = _hop_web(engine, Transformation("{v} * -1.0", "{v} / -1.0"),
                   peer_types={"price": "decimal(12,2)"})
    gw = QueryGateway(spark, web, "hop_home")
    q = ("select price_cents, orderkey, returnflag from priced_items "
         "order by price_cents asc, orderkey, returnflag limit 5")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    sent = [s for s in engine.executed[n0:] if "LIMIT" in s]
    assert sent and any("l_extendedprice DESC" in s for s in sent), sent
    slow = [tuple(r) for r in gw.query(q, topk_pushdown=False).collect()]
    assert sorted(fast) == sorted(slow) and len(fast) == 5


@pytest.mark.parametrize("transform, why", [
    (Transformation("abs({v})", "{v}"), "non-affine hop transform"),
    (Transformation("({v}) * ({v})", "{v}"), "non-monotone hop transform"),
])
def test_topk_dies_at_lossy_hop(spark, engine, transform, why):
    """A hop transform outside the monotone-affine family still kills
    the fact — the deep engine must never see a bare LIMIT — and the
    answer stays correct via the row path."""
    from dataweb_spark.plans.gateway import QueryGateway
    web = _hop_web(engine, transform)
    gw = QueryGateway(spark, web, "hop_home")
    q = ("select price_cents, orderkey, returnflag from priced_items "
         "order by price_cents desc, orderkey, returnflag limit 4")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    sent = engine.executed[n0:]
    assert not any("LIMIT" in s for s in sent), (why, sent)
    slow = [tuple(r) for r in gw.query(q, topk_pushdown=False).collect()]
    assert sorted(fast) == sorted(slow) and len(fast) == 4


def test_topk_dies_when_hop_conjunct_widens(spark, engine):
    """A WHERE conjunct on an affine-hop-mapped column re-maps with
    widened bounds — the deeper stream is a superset of the true filter,
    so the fact (and its limit) must die at the hop even though the
    ORDER key itself would forward."""
    from dataweb_spark.plans.gateway import QueryGateway
    web = _hop_web(engine, Transformation("{v} * 100", "{v} / 100"))
    gw = QueryGateway(spark, web, "hop_home")
    q = ("select price_cents, orderkey, returnflag from priced_items "
         "where price_cents = 106000 "
         "order by price_cents desc, orderkey, returnflag limit 3")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    sent = engine.executed[n0:]
    assert not any("LIMIT" in s for s in sent), sent
    slow = [tuple(r) for r in gw.query(q, topk_pushdown=False).collect()]
    assert sorted(fast) == sorted(slow)


def test_grouped_topk_composes_through_rename_hop(spark, engine):
    """The GROUPED fact survives an identity-RENAME hop: the deep engine
    receives the ``__dw_rk`` window wrapper over its physical columns;
    a transformed partition key kills it (rename-only law)."""
    from dataweb_spark.plans.gateway import QueryGateway
    web = _hop_web(engine, None)  # identity rename price_cents -> price
    gw = QueryGateway(spark, web, "hop_home")
    q = ("select orderkey, price_cents, rk from ("
         "select orderkey, price_cents, row_number() over ("
         "partition by returnflag order by price_cents desc, orderkey"
         ") as rk from priced_items) where rk <= 3")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    sent = [s for s in engine.executed[n0:] if "__dw_rk" in s]
    assert sent, "the deep engine never saw the grouped wrapper"
    assert any("PARTITION BY l_returnflag" in s
               and "l_extendedprice DESC" in s for s in sent), sent
    slow = [tuple(r) for r in gw.query(q, topk_pushdown=False).collect()]
    assert sorted(fast) == sorted(slow)

    # transformed ORDER key under rank(): injectivity law kills the fact
    web2 = _hop_web(engine, Transformation("{v} * 100", "{v} / 100"))
    gw2 = QueryGateway(spark, web2, "hop_home")
    q2 = ("select orderkey, price_cents, rk from ("
          "select orderkey, price_cents, rank() over ("
          "partition by returnflag order by price_cents desc"
          ") as rk from priced_items) where rk <= 3")
    n0 = len(engine.executed)
    fast2 = [tuple(r) for r in gw2.query(q2).collect()]
    assert not any("__dw_rk" in s for s in engine.executed[n0:])
    slow2 = [tuple(r) for r in gw2.query(q2, topk_pushdown=False).collect()]
    assert sorted(fast2) == sorted(slow2)


# ---------------------------------------------------------------------------
# r15: engine-executed partial aggregates (the reference runs the whole
# mapped SQL on the engine, trino.rs:103-190 — previously GROUP BY over an
# engine source shipped the filtered stream and aggregated Spark-side)
# ---------------------------------------------------------------------------

def _agg_engine_web(engine, rename=False):
    """An ENGINE-ONLY relay (no flight peer): entity columns share the
    engine's physical names unless ``rename`` (the name-preserving law
    gates verbatim WHERE/HAVING rendering)."""
    relay = RelayCatalog(name="agg_engine")
    names = (["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
              "l_returnflag"] if not rename else
             ["orderkey", "partkey", "quantity", "extendedprice",
              "returnflag"])
    types = ["bigint", "bigint", "double", "double", "string"]
    relay.add_entity(Entity("items", [
        Information(n, t) for n, t in zip(names, types)]))
    relay.add_connection(DataConnection(
        "duck", "flightsql",
        {"port": str(engine.port), "dialect": "duckdb"}))
    phys = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
            "l_returnflag"]
    relay.add_source(DataSource(
        name="items_duck", connection="duck", entity="items",
        source_sql="select * from {table}",
        mappings=[Mapping(n, p) for n, p in zip(names, phys)],
        options={"table": "lineitem_tbl"}))
    web = Web()
    web.add_relay(relay)
    return web


def test_engine_executes_partial_aggregate(spark, engine):
    """GROUP BY over an engine-only relay executes ON the engine: the
    statement log shows the rendered partial (GROUP BY + CAST transport
    types), and answers match the row path exactly."""
    from dataweb_spark.plans.gateway import QueryGateway
    gw = QueryGateway(spark, _agg_engine_web(engine), "agg_engine")
    q = ("select l_returnflag, count(*) as n, "
         "round(sum(l_quantity), 2) as qty, "
         "round(avg(l_extendedprice), 2) as avg_price "
         "from items where l_quantity >= 10 "
         "group by l_returnflag order by l_returnflag")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    sent = [s for s in engine.executed[n0:] if "GROUP BY" in s]
    assert sent, engine.executed[n0:]
    s = sent[0]
    assert "CAST(count(1) AS BIGINT)" in s
    assert "CAST(sum(l_quantity) AS DOUBLE)" in s
    assert "WHERE (l_quantity >= 10)" in s
    assert "GROUP BY l_returnflag" in s
    slow = [tuple(r) for r in gw.query(
        q, partial_aggregate=False).collect()]
    assert fast == slow and len(fast) == 3


def test_engine_topgroups_protocol_rounds_render(spark, engine):
    """The top-groups protocol over an ENGINE-ONLY relay renders every
    round into engine SQL: round 1 carries ORDER BY __p DESC ... LIMIT m,
    rounds 2/4 carry HAVING ... IN — O(k) rows cross the engine boundary
    instead of one partial per group."""
    from dataweb_spark.plans.gateway import QueryGateway
    gw = QueryGateway(spark, _agg_engine_web(engine), "agg_engine")
    q = ("select l_partkey, sum(l_quantity) as total from items "
         "group by l_partkey order by total desc, l_partkey asc limit 4")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    sent = engine.executed[n0:]
    assert gw.last_topk_groups is True
    r1 = [s for s in sent if "ORDER BY" in s and "LIMIT" in s]
    assert r1 and any("DESC NULLS LAST LIMIT 20" in s for s in r1), sent
    r2 = [s for s in sent if " IN (" in s and "HAVING" in s]
    assert r2, sent
    slow = [tuple(r) for r in gw.query(q, topk_pushdown=False).collect()]
    assert fast == slow and len(fast) == 4


def test_engine_agg_renamed_where_falls_back(spark, engine):
    """Renamed entity columns + a WHERE: verbatim text can't rename
    identifiers, so the renderer refuses and the generic Spark-side
    path answers — correct, just unrendered."""
    from dataweb_spark.plans.gateway import QueryGateway
    gw = QueryGateway(spark, _agg_engine_web(engine, rename=True),
                      "agg_engine")
    q = ("select returnflag, count(*) as n from items "
         "where quantity >= 10 group by returnflag order by returnflag")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    assert not any("GROUP BY" in s for s in engine.executed[n0:])
    slow = [tuple(r) for r in gw.query(
        q, partial_aggregate=False).collect()]
    assert fast == slow and len(fast) == 3


def test_engine_agg_renamed_no_where_renders(spark, engine):
    """Renames WITHOUT free-text clauses render fine — the structured
    parts (group keys, agg args) substitute per-column."""
    from dataweb_spark.plans.gateway import QueryGateway
    gw = QueryGateway(spark, _agg_engine_web(engine, rename=True),
                      "agg_engine")
    q = ("select returnflag, max(extendedprice) as hi from items "
         "group by returnflag order by returnflag")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    sent = [s for s in engine.executed[n0:] if "GROUP BY" in s]
    assert sent and "CAST(max(l_extendedprice) AS DOUBLE)" in sent[0]
    slow = [tuple(r) for r in gw.query(
        q, partial_aggregate=False).collect()]
    assert fast == slow


def test_engine_agg_distinct_falls_back(spark, engine):
    """count(DISTINCT) refines the partial grain — stays Spark-side."""
    from dataweb_spark.plans.gateway import QueryGateway
    gw = QueryGateway(spark, _agg_engine_web(engine), "agg_engine")
    q = ("select l_returnflag, count(distinct l_partkey) as np from items "
         "group by l_returnflag order by l_returnflag")
    n0 = len(engine.executed)
    fast = [tuple(r) for r in gw.query(q).collect()]
    assert not any("GROUP BY" in s for s in engine.executed[n0:])
    slow = [tuple(r) for r in gw.query(
        q, partial_aggregate=False).collect()]
    assert fast == slow


def test_clause_portability_gate():
    """review-caught r15: the verbatim-clause gate is token-exact, not a
    charset check — division (integer vs fractional semantics), unknown
    function names, Spark-only operators, and unknown identifiers all
    refuse; portable comparisons, IN-lists, LIKE patterns (even with %
    inside the literal), and the protocol's probe shapes pass."""
    from dataweb_spark.sources.dialects import _clause_portable
    cols = {"l_quantity", "l_returnflag", "name"}
    ok = ["(l_quantity >= 10)", "l_returnflag IN ('A', 'B')",
          "name LIKE 'a%'", "name = 'O''Brien'",
          "sum(l_quantity) >= CAST('470.0' AS DOUBLE)",
          "(l_quantity BETWEEN 1 AND 5) AND name IS NOT NULL"]
    bad = ["(l_quantity / 2) = 1", "year(l_quantity) = 1995",
           "l_quantity <=> 3", "ts IN ('2023-01-01')",
           "name = 'a\\'b'", "l_quantity % 2 = 0",
           "name = `weird`", 'name = "q"']
    for t in ok:
        assert _clause_portable(t, cols), t
    for t in bad:
        assert not _clause_portable(t, cols), t


def test_engine_agg_timestamp_group_key_refuses_having(spark, engine):
    """review-caught r15: timestamp group keys render IN-list literals as
    implicit ISO strings (the Spark-side contract) — engines either
    refuse varchar→timestamp or compare under a different timezone
    model, so HAVING round facts over timestamp keys refuse
    SEMANTICALLY (base partials without a having fact still render)."""
    from dataweb_spark.catalog.model import DataField
    from dataweb_spark.sources.dialects import DUCKDB, render_partial_agg
    from dataweb_spark.plans.aggpush import extract_aggregate_query
    types = {"ts": "timestamp", "v": "double"}
    spec = extract_aggregate_query(
        validate_sql(spark, "select ts, sum(v) as s from e group by ts"),
        "e", entity_columns=set(types), entity_types=types)
    assert spec is not None
    src = DataSource(
        name="s", connection="c", entity="e",
        source_sql="select * from {table}",
        mappings=[Mapping("ts", "ts"), Mapping("v", "v")],
        options={"table": "t"})
    base = render_partial_agg(DUCKDB, "t", src, spec, types)
    assert base is not None and "GROUP BY ts" in base
    refused = render_partial_agg(DUCKDB, "t", src, spec, types,
                                 ("having", "ts IN ('2023-01-01 00:00:00')"))
    assert refused is None

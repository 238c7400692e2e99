"""Federation EXPLAIN (plans/explain.py): pre-flight per-source report of
scan/prune/standby decisions and network pushdown — metadata-only."""

import json

import pytest
from pyspark.sql import functions as F  # noqa: F401

from dataweb_spark.plans.explain import explain_federation


def _rows(df):
    return {(r.relay, r.source): r.asDict() for r in df.collect()}


def test_explain_lists_every_source_no_scan(spark, demo_web):
    df = explain_federation(
        spark, demo_web, "na_us",
        "select returnflag, count(*) as n from lineitem "
        "where quantity < 5 group by returnflag")
    rows = _rows(df)
    assert set(rows) == {("na_us", "lineitem_csv"),
                         ("na_us", "lineitem_trino")}
    for r in rows.values():
        assert r["action"] == "scan"
        assert json.loads(r["pushed_filters"]) == [["quantity", "<", "5"]]


def test_explain_reports_pruned_sources(spark, sf_dir):
    from dataweb_spark.catalog.model import (
        DataConnection, DataSource, Entity, Information, Mapping,
        RelayCatalog, Web,
    )
    r = RelayCatalog(name="home")
    r.add_entity(Entity("t", [Information("v", "bigint")]))
    r.add_connection(DataConnection("files", "file", {"path": sf_dir}))
    for name, bounds in [("lo", {"v": (0, 10)}), ("hi", {"v": (50, 99)})]:
        r.add_source(DataSource(
            name=name, connection="files", entity="t",
            source_sql="select * from {table}",
            mappings=[Mapping("v", "r_regionkey")],
            options={"table": "region.parquet"}, bounds=bounds))
    web = Web(relays={"home": r})
    df = explain_federation(spark, web, "home",
                            "select * from t where v > 40")
    rows = _rows(df)
    assert rows[("home", "lo")]["action"] == "pruned"
    assert rows[("home", "hi")]["action"] == "scan"


def test_explain_replica_standby(spark, sf_dir):
    from dataweb_spark.catalog.model import (
        DataConnection, DataSource, Entity, Information, Mapping,
        RelayCatalog, Web,
    )
    r = RelayCatalog(name="home")
    r.add_entity(Entity("t", [Information("v", "bigint")]))
    r.add_connection(DataConnection("files", "file", {"path": sf_dir}))
    for name in ("m1", "m2"):
        r.add_source(DataSource(
            name=name, connection="files", entity="t",
            source_sql="select * from {table}",
            mappings=[Mapping("v", "r_regionkey")],
            options={"table": "region.parquet"}, replica_group="g"))
    df = explain_federation(spark, Web(relays={"home": r}), "home",
                            "select count(*) as n from t")
    rows = _rows(df)
    assert rows[("home", "m1")]["action"] == "scan"
    assert rows[("home", "m2")]["action"] == "replica-standby"


def test_explain_flight_pushed_sql_inverts_transform(spark, sf_dir):
    """A flight peer behind a {v}*100 mapping: the report shows the exact
    peer SQL with the inverted boundary — WITHOUT contacting any peer
    (the connection points nowhere)."""
    from dataweb_spark.catalog.model import (
        DataConnection, DataSource, Entity, Information, Mapping,
        RelayCatalog, Transformation, Web,
    )
    r = RelayCatalog(name="home")
    r.add_entity(Entity("t", [Information("tax_percent", "double")]))
    r.add_connection(DataConnection(
        "peer", "flight", {"host": "nowhere.invalid", "port": "1"}))
    r.add_source(DataSource(
        name="remote_t", connection="peer", entity="t",
        source_sql="select * from {table}",
        mappings=[Mapping("tax_percent", "l_tax",
                          Transformation("{v} * 100", "{v} / 100"))],
        options={"table": "lineitem"}))
    df = explain_federation(spark, Web(relays={"home": r}), "home",
                            "select * from t where tax_percent <= 3")
    rows = _rows(df)
    row = rows[("home", "remote_t")]
    assert row["kind"] == "flight" and row["action"] == "scan"
    assert "l_tax" in row["pushed_sql"]
    assert "0.03" in row["pushed_sql"]       # 3 / 100, inverted exactly
    assert json.loads(row["pushed_filters"])[0][0] == "l_tax"


def test_gateway_explain_and_limit_forwarding(spark, demo_web):
    from dataweb_spark.plans.gateway import QueryGateway
    gw = QueryGateway(spark, demo_web, "na_us")
    df = gw.explain("select * from lineitem limit 7")
    assert df.columns[:5] == ["entity", "relay", "source", "kind",
                              "action"]
    assert df.count() == 2


def test_explain_reports_forwarded_order(spark, sf_dir):
    """The explain surface mirrors the r13 top-k execution facts: a
    provable ORDER BY + LIMIT shows per-source forwarded_order +
    forwarded_limit. Both compose across an identity remote hop; a lossy
    hop drops BOTH (a bare top-k-derived limit at a deeper engine would
    fetch k arbitrary rows)."""
    import json as _json

    from dataweb_spark.catalog.model import (DataConnection, DataSource,
                                             Entity, Information, Mapping,
                                             RelayCatalog, RemoteEntityMapping,
                                             Web)
    from dataweb_spark.plans.explain import explain_federation

    home = RelayCatalog(name="home")
    home.add_entity(Entity("t", [Information("v", "bigint"),
                                 Information("w", "bigint")]))
    home.add_connection(DataConnection("files", "file", {"path": sf_dir}))
    home.add_source(DataSource(
        name="local_src", connection="files", entity="t",
        source_sql="select * from {table}",
        mappings=[Mapping("v", "r_regionkey"), Mapping("w", "r_regionkey")],
        options={"table": "region.parquet"}))
    peer = RelayCatalog(name="peer")
    peer.add_entity(Entity("t2", [Information("v", "bigint"),
                                  Information("w", "bigint")]))
    peer.add_connection(DataConnection("files", "file", {"path": sf_dir}))
    peer.add_source(DataSource(
        name="peer_src", connection="files", entity="t2",
        source_sql="select * from {table}",
        mappings=[Mapping("v", "r_regionkey"), Mapping("w", "r_regionkey")],
        options={"table": "region.parquet"}))
    home.remote_mappings.append(RemoteEntityMapping(
        local_entity="t", peer="peer", remote_entity="t2"))
    web = Web()
    web.add_relay(home)
    web.add_relay(peer)
    rows = {(r["relay"], r["source"]): r for r in
            (r.asDict() for r in explain_federation(
                spark, web, "home",
                "select v, w from t where v < 9 "
                "order by v desc, w limit 5").collect())}
    local = rows[("home", "local_src")]
    assert local["forwarded_limit"] == 5
    assert _json.loads(local["forwarded_order"]) == [
        ["r_regionkey", "DESC", "NULLS LAST"],
        ["r_regionkey", "ASC", "NULLS FIRST"]]
    # r15: the fact now COMPOSES across the identity hop (same-name
    # passthrough, exact conjunct re-map) all the way to the deep source
    remote = rows[("peer", "peer_src")]
    assert _json.loads(remote["forwarded_order"]) == [
        ["r_regionkey", "DESC", "NULLS LAST"],
        ["r_regionkey", "ASC", "NULLS FIRST"]]
    assert remote["forwarded_limit"] == 5

    # a lossy hop (non-affine transform on the sort key) still kills it
    from dataweb_spark.catalog.model import (RemoteInfoMapping,
                                             Transformation)
    home.remote_mappings[0] = RemoteEntityMapping(
        local_entity="t", peer="peer", remote_entity="t2",
        info_mappings=[RemoteInfoMapping(
            "v", "v", Transformation("abs({v})", "{v}"))])
    rows = {(r["relay"], r["source"]): r for r in
            (r.asDict() for r in explain_federation(
                spark, web, "home",
                "select v, w from t where v < 9 "
                "order by v desc, w limit 5").collect())}
    remote = rows[("peer", "peer_src")]
    assert remote["forwarded_order"] is None
    assert remote["forwarded_limit"] is None  # dies with the order fact
    home.remote_mappings[0] = RemoteEntityMapping(
        local_entity="t", peer="peer", remote_entity="t2")


def test_explain_reports_forward_template(spark, sf_dir):
    """r14: when the single-entity query decomposes for the template
    path and a source is a whole-forwardable identity flight peer, its
    row reports action=forward-template with the EXACT template SQL;
    non-decomposable queries keep plain scan rows."""
    from dataweb_spark.catalog.model import (DataConnection, DataSource,
                                             Entity, Information,
                                             Mapping, RelayCatalog, Web)
    from dataweb_spark.plans.explain import explain_federation
    infos = [Information("orderkey", "bigint"),
             Information("quantity", "double"),
             Information("returnflag", "string")]
    edge = RelayCatalog(name="edge_x")
    edge.add_entity(Entity("items", infos))
    edge.add_connection(DataConnection("pf", "flight", {"port": "1"}))
    edge.add_source(DataSource(
        name="peer_src", connection="pf", entity="items",
        source_sql="select * from {table}",
        mappings=[Mapping(i.name, i.name) for i in infos],
        options={"entity": "items"}))
    web = Web()
    web.add_relay(edge)

    # grouped top-k decomposes: the peer receives the reconstructed
    # per-source template whole (metadata only — no peer is contacted)
    df = explain_federation(
        spark, web, "edge_x",
        "select orderkey, quantity, rk from (select orderkey, quantity, "
        "row_number() over (partition by returnflag order by quantity "
        "desc, orderkey) as rk from items where quantity >= 30) "
        "where rk <= 3")
    row = {r["source"]: r.asDict() for r in df.collect()}["peer_src"]
    assert row["action"] == "forward-template"
    assert "row_number() OVER (PARTITION BY returnflag" \
        in row["forwarded_template"]
    assert "<= 3" in row["forwarded_template"]

    # flat top-k forwards the original SQL; aggregates the partial form
    q = ("select orderkey, quantity from items "
         "order by quantity desc, orderkey limit 5")
    row = {r["source"]: r.asDict()
           for r in explain_federation(spark, web, "edge_x", q)
           .collect()}["peer_src"]
    assert row["action"] == "forward-template"
    assert "LIMIT 5" in row["forwarded_template"].upper()
    agg = ("select returnflag, sum(quantity) as sq from items "
           "group by returnflag")
    row = {r["source"]: r.asDict()
           for r in explain_federation(spark, web, "edge_x", agg)
           .collect()}["peer_src"]
    assert row["action"] == "forward-template"
    assert "group by" in row["forwarded_template"].lower()

    # a non-decomposable query (window over the full frame, no rank
    # filter) keeps the plain scan row with NULL forwarded_template
    row = {r["source"]: r.asDict()
           for r in explain_federation(
               spark, web, "edge_x",
               "select orderkey, quantity from items").collect()
           }["peer_src"]
    assert row["action"] == "scan"
    assert row["forwarded_template"] is None


def test_explain_models_query_flags(spark):
    """r15 (advice-caught): the report previously always modeled
    query()'s DEFAULT configuration — a caller running with
    include_provenance=True (row path) still saw forward-template.
    The flag quartet now mirrors query()'s gating exactly."""
    from dataweb_spark.catalog.model import (DataConnection, DataSource,
                                             Entity, Information,
                                             Mapping, RelayCatalog, Web)
    from dataweb_spark.plans.explain import explain_federation
    infos = [Information("orderkey", "bigint"),
             Information("quantity", "double"),
             Information("returnflag", "string")]
    edge = RelayCatalog(name="edge_f")
    edge.add_entity(Entity("items", infos))
    edge.add_connection(DataConnection("pf", "flight", {"port": "1"}))
    edge.add_source(DataSource(
        name="peer_src", connection="pf", entity="items",
        source_sql="select * from {table}",
        mappings=[Mapping(i.name, i.name) for i in infos],
        options={"entity": "items"}))
    web = Web()
    web.add_relay(edge)

    agg = ("select returnflag, sum(quantity) as sq from items "
           "group by returnflag")

    def act(**flags):
        return {r["source"]: r.asDict() for r in explain_federation(
            spark, web, "edge_f", agg, **flags).collect()}["peer_src"]

    assert act()["action"] == "forward-template"
    # each non-default flag that disables the template path in query()
    # disables it in the report too
    assert act(include_provenance=True)["action"] == "scan"
    assert act(allow_partial=True)["action"] == "scan"
    assert act(partial_aggregate=False)["action"] == "scan"
    # topk facts: flat top-k forwards only while topk_pushdown is on
    topk = ("select orderkey, quantity from items "
            "order by quantity desc, orderkey limit 5")
    row = {r["source"]: r.asDict() for r in explain_federation(
        spark, web, "edge_f", topk, topk_pushdown=False).collect()
        }["peer_src"]
    assert row["action"] == "scan" and row["forwarded_order"] is None
    # the gateway wrapper threads the same flags
    from dataweb_spark.plans.gateway import QueryGateway
    gw = QueryGateway(spark, web, "edge_f")
    row = {r["source"]: r.asDict() for r in gw.explain(
        agg, include_provenance=True).collect()}["peer_src"]
    assert row["action"] == "scan"


def test_explain_mirrors_engine_aggregate(spark):
    """r15: engine sources that execute the partial aggregate themselves
    report action=engine-aggregate with the EXACT engine statement; a
    renamed source with a WHERE (renderer refusal) keeps the generic
    facts — same decision functions as execution."""
    from dataweb_spark.catalog.model import (DataConnection, DataSource,
                                             Entity, Information,
                                             Mapping, RelayCatalog, Web)
    from dataweb_spark.plans.explain import explain_federation

    def web_for(names):
        relay = RelayCatalog(name="eng_x")
        relay.add_entity(Entity("items", [
            Information(names[0], "string"),
            Information(names[1], "double")]))
        relay.add_connection(DataConnection(
            "duck", "flightsql", {"port": "1", "dialect": "duckdb"}))
        relay.add_source(DataSource(
            name="items_duck", connection="duck", entity="items",
            source_sql="select * from {table}",
            mappings=[Mapping(names[0], "l_returnflag"),
                      Mapping(names[1], "l_quantity")],
            options={"table": "lineitem_tbl"}))
        web = Web()
        web.add_relay(relay)
        return web

    # name-preserving entity: renders (metadata only — no engine runs)
    web = web_for(["l_returnflag", "l_quantity"])
    q = ("select l_returnflag, sum(l_quantity) as s from items "
         "where l_quantity >= 10 group by l_returnflag")
    row = {r["source"]: r.asDict() for r in explain_federation(
        spark, web, "eng_x", q).collect()}["items_duck"]
    assert row["action"] == "engine-aggregate"
    assert "CAST(sum(l_quantity) AS DOUBLE)" in row["pushed_sql"]
    assert "GROUP BY l_returnflag" in row["pushed_sql"]
    # renamed + WHERE: renderer refuses, generic scan row mirrors the
    # Spark-side fallback
    web2 = web_for(["returnflag", "quantity"])
    q2 = ("select returnflag, sum(quantity) as s from items "
          "where quantity >= 10 group by returnflag")
    row = {r["source"]: r.asDict() for r in explain_federation(
        spark, web2, "eng_x", q2).collect()}["items_duck"]
    assert row["action"] == "scan"
    # partial_aggregate off: no template decomposition at all
    row = {r["source"]: r.asDict() for r in explain_federation(
        spark, web, "eng_x", q, partial_aggregate=False).collect()
        }["items_duck"]
    assert row["action"] == "scan"


def test_explain_join_derives_facts_once(spark, demo_web, monkeypatch):
    """A join never takes the template path, so its pushdown facts are
    the same for every entity: EXPLAIN derives them once, not once per
    entity."""
    from dataweb_spark.plans import gateway

    calls = []
    real = gateway.pushdown_facts

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(gateway, "pushdown_facts", counting)
    df = explain_federation(
        spark, demo_web, "global",
        "select c.mktsegment, count(*) as n "
        "from customer c join orders o on c.custkey = o.custkey "
        "where o.totalprice > 1000 group by c.mktsegment")
    entities = {r.entity for r in df.collect()}
    assert entities == {"customer", "orders"}
    assert len(calls) == 1


def _three_source_web(sf_dir):
    """Home entity ``t`` over a local file source, an identity flight peer
    (whole-forwardable; nothing listens on it) and an identity remote
    hop to ``peer.t2``."""
    from dataweb_spark.catalog.model import (DataConnection, DataSource,
                                             Entity, Information, Mapping,
                                             RelayCatalog, RemoteEntityMapping,
                                             Web)
    infos = [Information("v", "bigint"), Information("w", "bigint")]
    home = RelayCatalog(name="home")
    home.add_entity(Entity("t", infos))
    home.add_connection(DataConnection("files", "file", {"path": sf_dir}))
    home.add_connection(DataConnection("pf", "flight", {"port": "1"}))
    home.add_source(DataSource(
        name="local_src", connection="files", entity="t",
        source_sql="select * from {table}",
        mappings=[Mapping("v", "n_nationkey"), Mapping("w", "n_regionkey")],
        options={"table": "nation.parquet"}))
    home.add_source(DataSource(
        name="flight_src", connection="pf", entity="t",
        source_sql="select * from {table}",
        mappings=[Mapping("v", "v"), Mapping("w", "w")],
        options={"entity": "t"}))
    peer = RelayCatalog(name="peer")
    peer.add_entity(Entity("t2", infos))
    peer.add_connection(DataConnection("files", "file", {"path": sf_dir}))
    peer.add_source(DataSource(
        name="peer_src", connection="files", entity="t2",
        source_sql="select * from {table}",
        mappings=[Mapping("v", "n_nationkey"), Mapping("w", "n_regionkey")],
        options={"table": "nation.parquet"}))
    home.remote_mappings.append(RemoteEntityMapping(
        local_entity="t", peer="peer", remote_entity="t2"))
    web = Web()
    web.add_relay(home)
    web.add_relay(peer)
    return web


@pytest.mark.parametrize("sql", [
    "select v, w from t where v < 20 order by v desc, w limit 4",
    "select v, w, rk from (select v, w, row_number() over (partition by w "
    "order by v desc) as rk from t where v < 20) where rk <= 2",
    "select w, count(*) as n, sum(v) as s from t where v < 20 group by w",
], ids=["flat_topk", "grouped_topk", "aggregate"])
def test_explain_reports_what_execution_passes(spark, sf_dir, monkeypatch,
                                               sql):
    """Per (relay, source), EXPLAIN's forwarded_order, forwarded_limit and
    forwarded_grouped equal the facts execution hands that source's
    view, on the row path (provenance on) and on the template path, and
    the scanned sources are the ones execution builds."""
    from dataweb_spark.plans import gateway, resolve
    from dataweb_spark.plans.gateway import QueryGateway
    from dataweb_spark.sources import flight_service
    from dataweb_spark.sources.readers import _pushdown_parts

    web = _three_source_web(sf_dir)
    calls = {}
    real = resolve.build_source_view

    def recording(spark_, relay, source, principal=None, **facts):
        calls[(relay.name, source.name)] = (source, facts)
        if source.name == "flight_src":  # no peer listens: empty branch
            return real(spark_, relay, relay.sources["local_src"],
                        principal).where("false")
        return real(spark_, relay, source, principal, **facts)

    for mod in (resolve, gateway):
        if hasattr(mod, "build_source_view"):
            monkeypatch.setattr(mod, "build_source_view", recording)
    monkeypatch.setattr(flight_service, "flight_forward_template",
                        lambda *a, **k: [])

    def passed(source, facts):
        _c, _k, limit, _p, order, grouped = _pushdown_parts(
            source, facts.get("conjuncts"), facts.get("limit"),
            facts.get("referenced"), facts.get("order_by"),
            facts.get("grouped"))
        return {"forwarded_limit": limit,
                "forwarded_order": (json.dumps([[c, d, n]
                                                for c, d, n in order])
                                    if order else None),
                "forwarded_grouped": (json.dumps(
                    {"fn": grouped[0], "bound": grouped[1],
                     "partition": grouped[2],
                     "order": [[c, d, n] for c, d, n in grouped[3]]})
                    if grouped else None)}

    gw = QueryGateway(spark, web, "home")
    answers = {}
    for flags in ({"include_provenance": True}, {}):
        calls.clear()
        df = gw.query(sql, **flags)
        answers[bool(flags)] = sorted(
            tuple(r[c] for c in df.columns if not c.startswith("_source"))
            for r in df.collect())
        report = {(r["relay"], r["source"]): r.asDict()
                  for r in gw.explain(sql, **flags).collect()}
        scanned = {k for k, r in report.items() if r["action"] == "scan"}
        assert scanned == set(calls), (flags, report)
        assert ("peer", "peer_src") in scanned
        for key, (source, facts) in calls.items():
            want = passed(source, facts)
            got = {c: report[key][c] for c in want}
            assert got == want, (flags, key)
        if not flags:
            assert report[("home", "flight_src")]["action"] == \
                "forward-template"
    ref = gw.query(sql, partial_aggregate=False, topk_pushdown=False)
    want = sorted(tuple(r[c] for c in ref.columns) for r in ref.collect())
    assert answers[False] == want
    assert answers[True] == want

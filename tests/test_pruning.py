"""Source-level pruning: sources whose declared bounds contradict the query
predicates are dropped from the union plan (SURVEY.md §4 — an improvement
over the reference, which always scans every mapping,
``core/src/execute/mod.rs:98-139``)."""

import datetime

import pytest

from dataweb_spark.catalog.model import (
    DataConnection, DataSource, Entity, Information, Mapping, RelayCatalog,
    RemoteEntityMapping, RemoteInfoMapping, Web,
)
from dataweb_spark.plans.gateway import QueryGateway
from dataweb_spark.plans.pruning import (
    extract_entity_predicates, source_can_match,
)
from dataweb_spark.plans.resolve import PROVENANCE_SOURCE
from dataweb_spark.plans.validation import validate_sql


def _year_web(sf_dir: str, with_peer: bool = False) -> Web:
    """One 'sales' entity split into per-epoch sources with declared bounds
    (the year-partitioned-federation scenario pruning exists for)."""
    relay = RelayCatalog(name="home")
    relay.add_entity(Entity("sales", [
        Information("shipdate", "date"),
        Information("qty", "double"),
    ]))
    relay.add_connection(DataConnection("files", "file", {"path": sf_dir}))
    for name, pred, bounds in [
        ("sales_old", "l_shipdate < date '1996-01-01'",
         {"shipdate": (None, "1995-12-31")}),
        ("sales_new", "l_shipdate >= date '1996-01-01'",
         {"shipdate": ("1996-01-01", None)}),
    ]:
        relay.add_source(DataSource(
            name=name, connection="files", entity="sales",
            source_sql=("select l_shipdate, l_quantity from {table} "
                        f"where {pred}"),
            mappings=[Mapping("shipdate", "l_shipdate"),
                      Mapping("qty", "l_quantity")],
            options={"table": "lineitem.parquet"},
            bounds=bounds,
        ))
    relays = [relay]
    if with_peer:
        peer = RelayCatalog(name="peer")
        peer.add_entity(Entity("sales_p", [
            Information("sd", "date"), Information("qty", "double")]))
        peer.add_connection(DataConnection("files", "file", {"path": sf_dir}))
        peer.add_source(DataSource(
            name="sales_peer_old", connection="files", entity="sales_p",
            source_sql=("select l_shipdate, l_quantity from {table} "
                        "where l_shipdate < date '1994-01-01'"),
            mappings=[Mapping("sd", "l_shipdate"),
                      Mapping("qty", "l_quantity")],
            options={"table": "lineitem.parquet"},
            bounds={"sd": (None, "1993-12-31")},
        ))
        relay.remote_mappings.append(RemoteEntityMapping(
            local_entity="sales", peer="peer", remote_entity="sales_p",
            info_mappings=[RemoteInfoMapping("shipdate", "sd")],
        ))
        relays.append(peer)
    return Web(relays={r.name: r for r in relays})


# -- predicate extraction ---------------------------------------------------

def test_extract_conjuncts_ops_and_flip(spark):
    cj = extract_entity_predicates(
        validate_sql(
            spark,
            "select * from sales where shipdate >= date '1996-06-01' "
            "and 10 > qty and shipdate <= date '1996-12-31'"),
        "sales")
    assert (("shipdate", ">=", datetime.date(1996, 6, 1)) in cj
            and ("qty", "<", 10) in cj
            and ("shipdate", "<=", datetime.date(1996, 12, 31)) in cj)


def test_extract_ignores_or_trees(spark):
    cj = extract_entity_predicates(
        validate_sql(
            spark, "select * from sales "
                   "where qty > 5 or shipdate > date '1996-01-01'"),
        "sales")
    assert cj == []  # disjunction can't prune either source


def test_extract_ignores_derived_columns(spark):
    """A filter above an aggregate/projection must NOT be harvested even
    when the derived column's name shadows a base column — pruning on
    ``max(shipdate) as shipdate`` would silently drop sources the aggregate
    depends on (r1 ADVICE, pruning.py)."""
    cj = extract_entity_predicates(
        validate_sql(
            spark,
            "select * from (select max(shipdate) as shipdate from sales) "
            "where shipdate < date '1995-01-01'"), "sales")
    assert cj == []
    # renamed column: commitdate aliased to shipdate
    cj2 = extract_entity_predicates(
        validate_sql(
            spark,
            "select * from (select qty as shipdate from sales) "
            "where shipdate < date '1995-01-01'"), "sales")
    assert cj2 == []
    # plain select-list projection between filter and relation (HAVING-like
    # outer filter) — also derived scope, not harvested
    cj3 = extract_entity_predicates(
        validate_sql(
            spark,
            "select * from (select shipdate, qty from sales) "
            "where shipdate < date '1995-01-01'"), "sales")
    assert cj3 == []


def test_extract_allows_alias_and_nested_filter(spark):
    """Transparent wrappers (table alias, stacked WHERE) still harvest."""
    cj = extract_entity_predicates(
        validate_sql(
            spark,
            "select qty from sales s where s.shipdate >= date '1996-06-01'"),
        "sales")
    assert ("shipdate", ">=", datetime.date(1996, 6, 1)) in cj


def test_extract_scopes_to_single_relation(spark):
    cj = extract_entity_predicates(
        validate_sql(
            spark,
            "select * from sales s join other o on s.qty = o.qty "
            "where o.x > 3"), "sales")
    assert cj == []  # filter sits above a 2-relation subtree


# -- interval satisfiability ------------------------------------------------

def test_source_can_match_intervals():
    bounds = {"d": ("1995-01-01", "1995-12-31")}
    d = datetime.date
    assert not source_can_match([("d", "=", d(1996, 3, 1))], bounds)
    assert not source_can_match([("d", ">", d(1995, 12, 31))], bounds)
    assert not source_can_match([("d", "<", d(1995, 1, 1))], bounds)
    assert source_can_match([("d", ">=", d(1995, 12, 31))], bounds)
    assert source_can_match([("d", "<=", d(1995, 1, 1))], bounds)
    assert source_can_match([("other", "=", 99)], bounds)  # unbounded col
    # open-ended bounds
    assert not source_can_match([("d", "=", 5)], {"d": (10, None)})
    assert source_can_match([("d", "=", 5)], {"d": (None, 10)})
    # type mismatch -> conservative keep
    assert source_can_match([("d", "=", 123)], bounds)


# -- end-to-end: engine mode ------------------------------------------------

def test_engine_query_prunes_disjoint_source(spark, sf_dir):
    web = _year_web(sf_dir)
    gw = QueryGateway(spark, web, "home")
    sql = (f"select shipdate, qty, {PROVENANCE_SOURCE} from sales "
           "where shipdate >= date '1996-06-01'")
    pruned = gw.query(sql, include_provenance=True)
    srcs = {r[0] for r in
            pruned.select(PROVENANCE_SOURCE).distinct().collect()}
    assert srcs == {"sales_new"}  # old-epoch branch removed from the plan
    # correctness: same rows as querying without any bounds declared
    web_nb = _year_web(sf_dir)
    for s in web_nb.relay("home").sources.values():
        s.bounds = {}
    unpruned = QueryGateway(spark, web_nb, "home").query(
        sql, include_provenance=True)
    assert pruned.count() == unpruned.count()


def test_engine_query_without_predicates_keeps_all(spark, sf_dir):
    gw = QueryGateway(spark, _year_web(sf_dir), "home")
    df = gw.query(f"select qty, {PROVENANCE_SOURCE} from sales",
                  include_provenance=True)
    srcs = {r[0] for r in df.select(PROVENANCE_SOURCE).distinct().collect()}
    assert srcs == {"sales_old", "sales_new"}


# -- end-to-end: template mode + remote hop --------------------------------

def test_template_endpoints_pruned(spark, sf_dir):
    gw = QueryGateway(spark, _year_web(sf_dir), "home")
    eps = gw.query_template(
        "select count(*) as n from sales "
        "where shipdate < date '1995-01-01'")
    assert [src for _, src, _ in eps] == ["sales_old"]


def test_remote_hop_prunes_through_rename(spark, sf_dir):
    """shipdate→sd rename: the conjunct follows the remote info mapping and
    prunes the peer's source too."""
    gw = QueryGateway(spark, _year_web(sf_dir, with_peer=True), "home")
    sql = "select count(*) as n from sales where shipdate >= date '1996-01-01'"
    eps = gw.query_template(sql)
    assert [src for _, src, _ in eps] == ["sales_new"]
    # and with an early date the peer participates
    eps2 = gw.query_template(
        "select count(*) as n from sales where shipdate < date '1993-06-01'")
    assert [src for _, src, _ in eps2] == ["sales_old", "sales_peer_old"]


# -- partial-failure policy (flight.rs:273-306 analog) ----------------------

def test_allow_partial_skips_broken_source(spark, sf_dir):
    web = _year_web(sf_dir)
    web.relay("home").add_source(DataSource(
        name="sales_broken", connection="files", entity="sales",
        source_sql="select l_shipdate, l_quantity from {table}",
        mappings=[Mapping("shipdate", "l_shipdate"),
                  Mapping("qty", "l_quantity")],
        options={"table": "no_such_file.parquet"}))
    gw = QueryGateway(spark, web, "home")
    sql = "select count(*) as n from sales"
    with pytest.raises(Exception):
        gw.query(sql)  # strict mode: broken source fails the query
    n = gw.query(sql, allow_partial=True).collect()[0]["n"]
    assert n > 0
    assert [(r, s) for r, s, _ in gw.last_failures] == \
        [("home", "sales_broken")]


# ---------------------------------------------------------------------------
# r4 extractor additions: limit, referenced columns, self-join guard
# ---------------------------------------------------------------------------

def test_self_join_yields_no_conjuncts(spark):
    """Two differently-filtered references to one entity must harvest
    NOTHING — conjoining the branch filters would prune (and push) rows
    the other branch needs."""
    from dataweb_spark.plans.pruning import extract_entity_predicates
    sql = ("select * from (select * from lineitem where quantity < 5) a "
           "join (select * from lineitem where quantity > 40) b "
           "on a.orderkey = b.orderkey")
    assert extract_entity_predicates(validate_sql(spark, sql),
                                     "lineitem") == []


def test_single_reference_still_harvests(spark):
    from dataweb_spark.plans.pruning import extract_entity_predicates
    out = extract_entity_predicates(
        validate_sql(spark, "select * from lineitem where quantity < 5"),
        "lineitem")
    assert ("quantity", "<", 5) in out


def test_extract_entity_limit_plain(spark):
    from dataweb_spark.plans.pruning import extract_entity_limit
    assert extract_entity_limit(
        validate_sql(spark, "select * from lineitem limit 7"), "lineitem") == 7
    assert extract_entity_limit(
        validate_sql(spark, "select quantity from lineitem limit 3"),
        "lineitem") == 3


def test_extract_entity_limit_refuses_unsafe_shapes(spark):
    from dataweb_spark.plans.pruning import extract_entity_limit
    for sql in (
        "select * from lineitem where quantity < 5 limit 7",   # filter below
        "select * from lineitem order by quantity limit 7",    # top-k
        "select returnflag, count(*) from lineitem group by returnflag limit 2",
        "select * from lineitem",                               # no limit
        "select distinct returnflag from lineitem limit 2",     # distinct
    ):
        assert extract_entity_limit(validate_sql(spark, sql),
                                    "lineitem") is None, sql


def test_extract_entity_limit_refuses_multi_reference(spark):
    """One branch's transparent LIMIT must not truncate the shared entity
    view that the OTHER branch reads in full (ADVICE r4)."""
    from dataweb_spark.plans.pruning import extract_entity_limit
    sql = ("select * from (select * from lineitem limit 5) a "
           "join lineitem b on a.orderkey = b.orderkey")
    assert extract_entity_limit(validate_sql(spark, sql), "lineitem") is None


def test_extract_referenced_columns_tokens(spark):
    from dataweb_spark.plans.pruning import extract_referenced_columns
    ref = extract_referenced_columns(
        validate_sql(
            spark, "select quantity, sum(extendedprice) as s from lineitem "
                   "where returnflag = 'N' group by quantity"))
    assert {"quantity", "extendedprice", "returnflag"} <= ref


def test_extract_referenced_columns_star_means_everything(spark):
    from dataweb_spark.plans.pruning import extract_referenced_columns
    assert extract_referenced_columns(
        validate_sql(spark, "select * from lineitem")) is None


def test_output_shape_star_probe(spark):
    from dataweb_spark.plans.pruning import output_shape_has_star
    star = ["select * from lineitem",
            "select * from lineitem limit 5",
            "select l.* from lineitem l",
            "select returnflag, * from lineitem",
            "select distinct * from lineitem"]
    no_star = ["select count(*) as n from lineitem",
               "select returnflag, count(*) as n from lineitem "
               "group by returnflag",
               "select returnflag, sum(quantity) as q from lineitem "
               "where quantity < 5 group by returnflag order by returnflag",
               "select quantity + 1 as q from lineitem limit 3"]
    for sql in star:
        assert output_shape_has_star(validate_sql(spark, sql)), sql
    for sql in no_star:
        assert not output_shape_has_star(validate_sql(spark, sql)), sql


# -- zone maps: auto-collected bounds ---------------------------------------

def test_collect_source_stats_installs_bounds_and_prunes(spark, sf_dir):
    """Bounds computed from the data must enable the same branch
    elimination as hand-declared bounds — zone maps for free."""
    from dataweb_spark.plans.pruning import collect_source_stats
    web = _year_web(sf_dir)
    for s in web.relay("home").sources.values():
        s.bounds = {}
    installed = collect_source_stats(spark, web, "home")
    assert set(installed) == {("home", "sales_old"), ("home", "sales_new")}
    old = web.relay("home").sources["sales_old"].bounds
    new = web.relay("home").sources["sales_new"].bounds
    assert old["shipdate"][1] < "1996-01-01"    # iso date strings
    assert new["shipdate"][0] >= "1996-01-01"
    assert old["qty"][0] >= 1.0
    gw = QueryGateway(spark, web, "home")
    df = gw.query(
        f"select qty, {PROVENANCE_SOURCE} from sales "
        "where shipdate >= date '1996-06-01'", include_provenance=True)
    srcs = {r[0] for r in df.select(PROVENANCE_SOURCE).distinct().collect()}
    assert srcs == {"sales_new"}


def test_collect_source_stats_covers_all_principals(spark, sf_dir):
    """Stats must be computed over the UNPERMISSIONED frame: a narrow
    default row policy must not narrow the installed bounds, or a wider
    principal's rows could be wrongly pruned."""
    from dataweb_spark.catalog.model import SourcePermission
    from dataweb_spark.plans.pruning import collect_source_stats
    web = _year_web(sf_dir)
    src = web.relay("home").sources["sales_new"]
    src.bounds = {}
    src.default_permission = SourcePermission(
        frozenset({"l_shipdate", "l_quantity"}), "l_quantity < 2")
    collect_source_stats(spark, web, "home")
    assert src.bounds["qty"][1] > 2.0  # policy-hidden rows still covered


def test_collect_source_stats_respects_declared_bounds(spark, sf_dir):
    """Hand-declared bounds win unless overwrite=True; the other column
    still gets stats."""
    from dataweb_spark.plans.pruning import collect_source_stats
    web = _year_web(sf_dir)
    src = web.relay("home").sources["sales_old"]
    declared = src.bounds["shipdate"]
    collect_source_stats(spark, web, "home")
    assert src.bounds["shipdate"] == declared
    assert "qty" in src.bounds
    collect_source_stats(spark, web, "home", overwrite=True)
    assert src.bounds["shipdate"] != declared  # now data-derived (lo, hi)
    assert src.bounds["shipdate"][0] is not None


# -- collected-stats broadcast of small entities ----------------------------

def _dim_fact_web(sf_dir: str) -> Web:
    r = RelayCatalog(name="home")
    r.add_entity(Entity("nations", [Information("nationkey", "bigint"),
                                    Information("nname", "string")]))
    r.add_entity(Entity("suppliers", [Information("suppkey", "bigint"),
                                      Information("snation", "bigint"),
                                      Information("sbal", "double")]))
    r.add_connection(DataConnection("files", "file", {"path": sf_dir}))
    r.add_source(DataSource(
        name="nation_src", connection="files", entity="nations",
        source_sql="select * from {table}",
        mappings=[Mapping("nationkey", "n_nationkey"),
                  Mapping("nname", "n_name")],
        options={"table": "nation.parquet"}))
    r.add_source(DataSource(
        name="supp_src", connection="files", entity="suppliers",
        source_sql="select * from {table}",
        mappings=[Mapping("suppkey", "s_suppkey"),
                  Mapping("snation", "s_nationkey"),
                  Mapping("sbal", "s_acctbal")],
        options={"table": "supplier.parquet"}))
    return Web(relays={"home": r})


def test_stats_rowcount_drives_broadcast_hint(spark, sf_dir):
    """collect_source_stats records row counts in the same stats pass; a
    small all-local entity view then carries a broadcast hint, so the
    join plans BroadcastHashJoin even with size-based auto-broadcast
    DISABLED (the federated-view situation: Spark can't size the view)."""
    from dataweb_spark.plans.pruning import collect_source_stats
    web = _dim_fact_web(sf_dir)
    collect_source_stats(spark, web, "home")
    home = web.relay("home")
    assert home.sources["nation_src"].stat_rows == 25
    assert home.sources["supp_src"].stat_rows > 0
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gw = QueryGateway(spark, web, "home")
        df = gw.query("""
            select nname, count(*) as n, round(sum(sbal), 2) as bal
            from suppliers join nations on snation = nationkey
            group by nname order by nname
        """)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        expect = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
                  .select("s_nationkey").distinct().count())
        assert df.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_no_stats_no_hint_and_remote_never_assumed_small(spark, sf_dir):
    from dataweb_spark.plans.resolve import _entity_row_estimate
    web = _dim_fact_web(sf_dir)
    home = web.relay("home")
    # no stats collected -> unknown
    assert _entity_row_estimate(home, "nations") is None
    home.sources["nation_src"].stat_rows = 25
    assert _entity_row_estimate(home, "nations") == 25
    # an entity with remote branches is never assumed small
    home.remote_mappings.append(RemoteEntityMapping(
        local_entity="nations", peer="elsewhere", remote_entity="n",
        info_mappings=[RemoteInfoMapping("nationkey", "nk")]))
    assert _entity_row_estimate(home, "nations") is None


def test_replica_mirrors_counted_once_in_estimate(sf_dir):
    from dataweb_spark.plans.resolve import _entity_row_estimate
    web = _dim_fact_web(sf_dir)
    home = web.relay("home")
    home.sources["nation_src"].stat_rows = 25
    import dataclasses
    home.sources["nation_src"].replica_group = "n"
    mirror = dataclasses.replace(home.sources["nation_src"],
                                 name="nation_mirror", stat_rows=25)
    home.add_source(mirror)
    assert _entity_row_estimate(home, "nations") == 25

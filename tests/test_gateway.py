"""Gateway tests: validation rejections, template vs engine mode, NDJSON.

Mirrors reference tests: validation rejections
(``core/src/execute/validation.rs:570-653``), multi-entity rejection
(``test/test_flight.py:27-49``), per-source partials + client-side merge
(``test/validation.py:29-60``), NDJSON metadata (``test_rest.py``),
canonical queries (``test/queries.py``).
"""

import pytest
from pyspark.sql import functions as F

from dataweb_spark.plans.gateway import QueryGateway
from dataweb_spark.plans.validation import (
    MAX_QUERY_LEN, ValidationError, validate_sql,
)


@pytest.fixture(scope="module")
def gw(spark, demo_web):
    return QueryGateway(spark, demo_web, "na_us")


# -- validation -----------------------------------------------------------

def test_insert_rejected(spark):
    with pytest.raises(ValidationError):
        validate_sql(spark, "insert into t values (1)")


def test_create_rejected(spark):
    with pytest.raises(ValidationError):
        validate_sql(spark, "create table t (a int)")


def test_multi_statement_rejected(spark):
    with pytest.raises(ValidationError):
        validate_sql(spark, "select 1; select 2")


def test_max_length_rejected(spark):
    with pytest.raises(ValidationError, match="maximum length"):
        validate_sql(spark, "select " + "1," * (MAX_QUERY_LEN // 2) + "1")


def test_multi_entity_rejected_in_template_mode(spark):
    # q3 from test/queries.py — exact reference error string
    with pytest.raises(ValidationError,
                       match="There must be exactly one entity per query."):
        validate_sql(
            spark,
            "with a as (select * from user_tables) select * from user_data_folder",
            single_entity=True)


def test_cte_of_single_entity_allowed(spark):
    ents = validate_sql(
        spark, "with a as (select * from lineitem) select * from a",
        single_entity=True)
    assert ents.entities == {"lineitem"}


def test_self_join_single_entity_allowed(spark):
    ents = validate_sql(
        spark, "select a.orderkey from lineitem a join lineitem b "
               "on a.orderkey = b.orderkey",
        single_entity=True)
    assert ents.entities == {"lineitem"}


# -- canonical queries (test/queries.py) ---------------------------------

def test_q1_template(gw):
    """q1: select linenumber, tax_amount from lineitem where tax_percent>3
    limit 10 — per-source limit, like each relay applying it."""
    parts = gw.query_template(
        "select linenumber, tax_amount from lineitem "
        "where tax_percent > 3 limit 10")
    assert len(parts) == 2  # trino + csv sources
    for _, _, df in parts:
        rows = df.collect()
        assert 0 < len(rows) <= 10
        assert df.columns == ["linenumber", "tax_amount"]


def test_q4_literal_predicate_survives(gw):
    df = gw.query_template_union(
        "select linenumber, tax_percent from lineitem "
        "where tax_percent > 3 and 'x' = 'x' limit 10")
    assert df.count() > 0


def test_engine_mode_aggregate_is_global(gw, spark, sf_dir):
    """Engine mode final-aggregates; template mode returns partials whose
    client-side merge equals the engine-mode result."""
    sql = ("select returnflag, count(*) as n from lineitem "
           "group by returnflag")
    engine = {r["returnflag"]: r["n"] for r in gw.query(sql).collect()}

    parts = gw.query_template(sql)
    merged: dict[str, int] = {}
    for _, _, df in parts:
        for r in df.collect():
            merged[r["returnflag"]] = merged.get(r["returnflag"], 0) + r["n"]
    assert merged == engine


def test_engine_mode_cross_entity_join(spark, demo_web):
    """Multi-entity joins allowed in engine mode (webengine path) — the
    reference runs TPC-H Q3 this way (``webengine/src/main.rs:86-124``)."""
    gw = QueryGateway(spark, demo_web, "global")
    df = gw.query(
        "select c.mktsegment, count(*) as n "
        "from customer c join orders o on c.custkey = o.custkey "
        "group by c.mktsegment")
    assert df.count() > 0


def test_ndjson_export_metadata_and_null_dropping(gw):
    df = gw.query_template_union(
        "select linenumber, shipdate from lineitem limit 5")
    recs = gw.parse_ndjson(gw.to_ndjson(df))
    assert len(recs) > 0
    for r in recs:
        assert "_relay_metadata_" in r
        assert r["_relay_metadata_"]["_source_relay_"] == "na_us"
    # csv-source records have NULL shipdate → key absent in JSON
    csv_recs = [r for r in recs
                if r["_relay_metadata_"]["_source_id_"] == "lineitem_csv"]
    assert all("shipdate" not in r for r in csv_recs)


def test_schema_echo(gw):
    schema = gw.query_schema("select linenumber, tax_amount from lineitem")
    assert [f.name for f in schema.fields] == ["linenumber", "tax_amount"]


def test_query_resolves_only_referenced_entities(spark, demo_web,
                                                 monkeypatch):
    """Engine mode must not resolve (or scan-register) entities the query
    never references — on a wide catalog that is pure planning latency
    (r1 VERDICT item 7)."""
    import dataweb_spark.plans.resolve as R

    touched: list[str] = []
    real = R.build_source_view

    def spy(spark_, relay, source, principal=None, **kw):
        touched.append(source.entity)
        return real(spark_, relay, source, principal, **kw)

    monkeypatch.setattr(R, "build_source_view", spy)
    gw = QueryGateway(spark, demo_web, "global")
    df = gw.query("select mktsegment, count(*) as n from customer "
                  "group by mktsegment")
    assert df.count() > 0
    assert set(touched) == {"customer"}  # orders/lineitem never resolved

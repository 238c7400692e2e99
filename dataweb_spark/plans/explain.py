"""Federation EXPLAIN — what a query will do to every mapped source,
BEFORE running it.

The reference gives users no pre-flight visibility into its request
mapping; debugging "why is this peer shipping the whole table" means
reading relay logs. This surface folds the query's source plan
(``resolve.plan_entity`` — the same tree the row path, the template path
and template-mode jobs fold) and replays the readers' decision functions
(``readers._pushdown_parts``, ``readers._peer_sql``) in REPORT mode — no
data is read, no peer is contacted — and returns one row per (entity,
relay, source):

* ``action`` — ``scan`` | ``pruned`` (declared/zone-map bounds disjoint
  from the query's conjuncts) | ``replica-standby`` (mirror not scanned
  unless the preferred member fails);
* ``pushed_sql`` — for network kinds (``flight``), the exact narrowed SQL
  the peer will receive; for engine kinds (``flightsql``/``trino``/
  ``jdbc``) the pushdown facts rendered as a WHERE/column list;
* ``pushed_filters`` / ``projected`` / ``forwarded_limit`` — the
  conjuncts (rewritten through mapping transformations, including
  inverted affine transforms), the narrowed physical column list, and
  the LIMIT, when each survives the source's mapping shape;
* ``forwarded_order`` — the federated top-k fact (``ORDER BY … LIMIT``
  rendered into engine SQL) when the query has the provable shape and
  the source passes the under-fetch gates (r13). Across a remote hop
  the fact composes when the hop's own mapping passes the same gates
  and every conjunct re-maps exactly (r15, ``resolve.plan_entity``);
  otherwise it dies there, and its limit dies with it;
* ``forwarded_template`` + action ``forward-template`` (r14) — when the
  single-entity query decomposes for the template path (partial
  aggregates, flat top-k, grouped top-k) and this home-relay flight
  source is a pure identity window under a width-independent output
  (``gateway.forward_peer``), the EXACT template SQL the peer executes whole; the other sources'
  rows then report the pushdown facts of that template (which is what
  they replay), not of the user SQL — mirroring
  ``gateway.query → query_template_union(forward_sql)``;
* action ``engine-aggregate`` (r15) — an external-engine source that
  executes the partial aggregation ITSELF: ``pushed_sql`` is the exact
  engine statement (``dialects.render_partial_agg``, the same decision
  function execution uses); a renderer refusal keeps the generic facts.

Because it only calls pure decision functions, the report is exact by
construction: the same inputs drive the real scan.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from dataweb_spark.catalog.model import Web
from dataweb_spark.plans.validation import ParsedQuery, validate_sql

EXPLAIN_COLUMNS = ["entity", "relay", "source", "kind", "action",
                   "pushed_sql", "pushed_filters", "projected",
                   "forwarded_limit", "forwarded_order",
                   "forwarded_grouped", "forwarded_template"]


def explain_entity(web: Web, relay_name: str, entity_name: str,
                   q: ParsedQuery,
                   include_provenance: bool = False,
                   allow_partial: bool = False,
                   partial_aggregate: bool = True,
                   topk_pushdown: bool = True,
                   facts=None) -> list[dict]:
    """Rows for one entity's resolution under the parsed query's
    pushdown facts (``facts``, when the caller already derived them for
    a multi-entity query).

    The flag quartet mirrors ``QueryGateway.query``'s signature and
    defaults and feeds the same route decision
    (``gateway.template_route``): when the single-entity query
    decomposes for the template path, every source processes the
    FORWARD SQL — the report's pushdown facts come from it, as
    ``query_template`` derives them, and whole-forwardable flight peers
    receive it verbatim."""
    from dataweb_spark.plans.aggpush import AggQuerySpec
    from dataweb_spark.plans.gateway import pushdown_facts, template_route
    from dataweb_spark.plans.resolve import plan_entity

    relay = web.relay(relay_name)
    route = template_route(relay, q, include_provenance, allow_partial,
                           partial_aggregate, topk_pushdown)
    template_sql, agg_spec = None, None
    if route is not None:
        spec, template_sql = route
        agg_spec = spec if isinstance(spec, AggQuerySpec) else None
        facts = pushdown_facts(
            validate_sql(q.spark, template_sql, single_entity=True),
            relay.entities)
    elif facts is None:
        facts = pushdown_facts(q, relay.entities, topk=topk_pushdown)
    plan = plan_entity(web, relay_name, entity_name,
                       facts.entity(entity_name))
    rows: list[dict] = []
    for node, chain in plan.walk() if plan is not None else ():
        rows.extend(_row(node, s, "pruned") for s in node.pruned)
        for group in node.groups:
            rows.append(_source_row(node, chain, group[0], template_sql,
                                    agg_spec, facts.star))
            rows.extend(_row(node, s, "replica-standby") for s in group[1:])
    return rows


def _row(node, source, action: str) -> dict:
    relay = node.relay
    kind = relay.connections[source.connection].kind \
        if source.connection in relay.connections else "?"
    return {"entity": node.entity, "relay": relay.name,
            "source": source.name, "kind": kind, "action": action,
            "pushed_sql": None, "pushed_filters": None,
            "projected": None, "forwarded_limit": None,
            "forwarded_order": None, "forwarded_grouped": None,
            "forwarded_template": None}


def _source_row(node, chain: tuple, source, template_sql: str | None,
                agg_spec, star: bool) -> dict:
    """The row of the source that answers for its replica group."""
    from dataweb_spark.plans.gateway import forward_peer
    from dataweb_spark.sources.readers import _peer_sql, _pushdown_parts

    row = _row(node, source, "scan")
    if template_sql is not None and forward_peer(node, chain, source,
                                                 star) is not None:
        # identity flight peer: receives the template WHOLE
        row["action"] = "forward-template"
        row["forwarded_template"] = template_sql
        row["pushed_sql"] = template_sql
        return row
    if agg_spec is not None and not chain:
        # r15 mirror: an engine source executes the partial aggregation
        # ITSELF when the renderer's gates hold — show the EXACT engine
        # statement via the SAME decision function execution uses
        # (readers.engine_partial_statement); a refusal keeps the
        # generic facts below
        from dataweb_spark.sources.readers import engine_partial_statement
        etypes = {i.name: i.data_type
                  for i in node.relay.entities[node.entity].informations}
        stmt = engine_partial_statement(node.relay, source, agg_spec,
                                        etypes)
        if stmt is not None:
            row["action"] = "engine-aggregate"
            row["pushed_sql"] = stmt[1]
            return row
    f = node.facts
    cols, kept, eff_limit, projected, eff_order, eff_grouped = \
        _pushdown_parts(source, f.conjuncts, f.limit, f.referenced,
                        f.order_by, f.grouped)
    if row["kind"] == "flight":
        row["pushed_sql"], _proj = _peer_sql(
            source, f.conjuncts, f.limit, f.referenced, f.order_by,
            f.grouped)
    if kept:
        row["pushed_filters"] = json.dumps(
            [[c, op, str(v)] for c, op, v in kept])
    elif f.conjuncts and row["kind"] in ("file", "view", "jdbc"):
        # local/JDBC branches: Catalyst rewrites the entity-namespace
        # conjuncts through the mapping projection into the scan's
        # PushedFilters even when source_sql shapes the frame — report
        # them in entity namespace (hop-mapped, transforms inverted)
        row["pushed_filters"] = json.dumps(
            [[c, op, str(v)] for c, op, v in f.conjuncts])
    if cols:
        row["projected"] = json.dumps(cols)
    row["forwarded_limit"] = eff_limit
    if eff_order:
        row["forwarded_order"] = json.dumps(
            [[c, d, n] for c, d, n in eff_order])
    if eff_grouped:
        fn, bound, parts, keys = eff_grouped
        row["forwarded_grouped"] = json.dumps(
            {"fn": fn, "bound": bound, "partition": parts,
             "order": [[c, d, n] for c, d, n in keys]})
    return row


def explain_federation(spark: SparkSession, web: Web, relay_name: str,
                       sql: str,
                       principal: str | None = None,
                       include_provenance: bool = False,
                       allow_partial: bool = False,
                       partial_aggregate: bool = True,
                       topk_pushdown: bool = True) -> DataFrame:
    """Per-source resolution report for every entity ``sql`` references.

    Pure metadata walk — nothing is scanned, no peer is contacted. The
    flag quartet matches ``QueryGateway.query``'s signature and defaults
    so the report models the SAME configuration the caller will execute
    with — e.g. ``include_provenance=True`` disables the template path
    in both places (advice-caught r14)."""
    from dataweb_spark.plans.gateway import pushdown_facts

    q = validate_sql(spark, sql)
    relay = web.relay(relay_name)
    # the template path only decomposes single-entity queries, so a join's
    # facts are the same for every entity: derive them once
    facts = (pushdown_facts(q, relay.entities, topk=topk_pushdown)
             if len(q.entities) > 1 else None)
    rows: list[dict] = []
    for e in sorted(q.entities):
        if e in relay.entities:
            rows.extend(explain_entity(
                web, relay_name, e, q,
                include_provenance=include_provenance,
                allow_partial=allow_partial,
                partial_aggregate=partial_aggregate,
                topk_pushdown=topk_pushdown, facts=facts))
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)
    schema = StructType(
        [StructField(c, IntegerType() if c == "forwarded_limit"
                     else StringType()) for c in EXPLAIN_COLUMNS])
    return spark.createDataFrame(
        [tuple(r[c] for c in EXPLAIN_COLUMNS) for r in rows], schema)

"""Federation EXPLAIN — what a query will do to every mapped source,
BEFORE running it.

The reference gives users no pre-flight visibility into its request
mapping; debugging "why is this peer shipping the whole table" means
reading relay logs. This surface replays the resolver's own decision
functions (`pruning.source_can_match`, `readers._pushdown_parts`,
`readers._peer_sql`, `resolve._map_conjuncts_through`) in REPORT mode —
no data is read, no peer is contacted — and returns one row per
(entity, relay, source):

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
  the source passes the under-fetch gates (r13; mirrors execution:
  the fact never crosses remote hops, and its limit dies with it);
* ``forwarded_template`` + action ``forward-template`` (r14) — when the
  single-entity query decomposes for the template path (partial
  aggregates, flat top-k, grouped top-k) and this home-relay flight
  source is a pure identity window (``gateway._forwardable_flight_peer``),
  the EXACT template SQL the peer executes whole; the other sources'
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


def _template_forward(web: Web, relay_name: str, entity_name: str,
                      q: ParsedQuery,
                      partial_aggregate: bool = True,
                      topk_pushdown: bool = True):
    """``(template_sql, agg_spec)`` — the template SQL ``gateway.query``
    would fan out per source when the query decomposes —
    partial-aggregate, flat top-k, or grouped top-k — and the entity has
    at least one whole-forwardable flight peer or (r15) an
    engine-aggregable source; ``(None, None)`` otherwise. Delegates to
    the gateway's OWN decomposition helper and gating predicates
    (``gateway._decomposed_template``/``_engine_agg_candidate``) so this
    mirror can never drift from what execution decides. ``agg_spec`` is
    the ``AggQuerySpec`` when the decomposition is the aggregate kind —
    what engine sources would render (``dialects.render_partial_agg``)."""
    from dataweb_spark.plans.aggpush import AggQuerySpec
    from dataweb_spark.plans.gateway import (
        _decomposed_template,
        _engine_agg_candidate,
        _forwardable_flight_peer,
    )
    relay = web.relay(relay_name)
    entity = relay.entities.get(entity_name)
    if entity is None:
        return None, None
    if not any(_forwardable_flight_peer(relay, s, entity_name) is not None
               or _engine_agg_candidate(relay, s)
               for s in relay.sources_for_entity(entity_name)):
        return None, None
    spec, fwd = _decomposed_template(q, entity, entity_name,
                                     partial_aggregate, topk_pushdown)
    return fwd, (spec if isinstance(spec, AggQuerySpec) else None)


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
    defaults: the template path only runs with ``partial_aggregate`` or
    ``topk_pushdown`` on and ``include_provenance``/``allow_partial``
    off (advice-caught r14 — the report previously always modeled the
    default configuration)."""
    from dataweb_spark.plans.gateway import pushdown_facts

    # mirror gateway.query: when the single-entity query decomposes for
    # the template path, every source processes the FORWARD SQL — the
    # report's pushdown facts come from it, and whole-forwardable flight
    # peers receive it verbatim
    template_sql, agg_spec = None, None
    if (len(q.entities) == 1 and (partial_aggregate or topk_pushdown)
            and not include_provenance and not allow_partial):
        template_sql, agg_spec = _template_forward(
            web, relay_name, entity_name, q,
            partial_aggregate, topk_pushdown)
    if template_sql is not None:
        q = validate_sql(q.spark, template_sql, single_entity=True)
    if facts is None:
        facts = pushdown_facts(q, web.relay(relay_name).entities,
                               topk=topk_pushdown)
    rows: list[dict] = []
    _walk(web, relay_name, entity_name, facts.conjuncts[entity_name],
          facts.limits.get(entity_name), facts.referenced, set(), rows,
          facts.order_limits.get(entity_name), template_sql,
          facts.grouped.get(entity_name), agg_spec)
    return rows


def _walk(web: Web, relay_name: str, entity_name: str, conjuncts,
          limit, referenced, visited: set, rows: list[dict],
          order_limit=None, template_sql: str | None = None,
          grouped_fact=None, agg_spec=None) -> None:
    from dataweb_spark.plans.gateway import _forwardable_flight_peer
    from dataweb_spark.plans.pruning import source_can_match
    from dataweb_spark.plans.resolve import (
        _map_conjuncts_through,
        _map_referenced_through,
        _template_trivial,
    )
    from dataweb_spark.sources.readers import _peer_sql, _pushdown_parts

    key = (relay_name, entity_name)
    if key in visited:
        return
    visited.add(key)
    relay = web.relay(relay_name)
    if entity_name not in relay.entities:
        return

    seen_groups: set[str] = set()
    for source in relay.sources_for_entity(entity_name):
        kind = relay.connections[source.connection].kind \
            if source.connection in relay.connections else "?"
        row = {"entity": entity_name, "relay": relay_name,
               "source": source.name, "kind": kind, "action": "scan",
               "pushed_sql": None, "pushed_filters": None,
               "projected": None, "forwarded_limit": None,
               "forwarded_order": None, "forwarded_grouped": None,
               "forwarded_template": None}
        group = getattr(source, "replica_group", None)
        if group is not None and group in seen_groups:
            row["action"] = "replica-standby"
            rows.append(row)
            continue
        if conjuncts and source.bounds \
                and not source_can_match(conjuncts, source.bounds):
            row["action"] = "pruned"
            rows.append(row)
            continue
        if group is not None:
            seen_groups.add(group)
        if template_sql is not None and _forwardable_flight_peer(
                relay, source, entity_name) is not None:
            # identity flight peer: receives the template WHOLE
            row["action"] = "forward-template"
            row["forwarded_template"] = template_sql
            row["pushed_sql"] = template_sql
            rows.append(row)
            continue
        if agg_spec is not None:
            # r15 mirror: an engine source executes the partial
            # aggregation ITSELF when the renderer's gates hold — show
            # the EXACT engine statement via the SAME decision function
            # execution uses (readers.engine_partial_statement); a
            # refusal keeps the generic facts below
            from dataweb_spark.sources.readers import (
                engine_partial_statement,
            )
            etypes = {i.name: i.data_type
                      for i in relay.entities[entity_name].informations}
            stmt = engine_partial_statement(relay, source, agg_spec,
                                            etypes)
            if stmt is not None:
                row["action"] = "engine-aggregate"
                row["pushed_sql"] = stmt[1]
                rows.append(row)
                continue
        ob = order_limit[0] if order_limit else None
        eff_lim_in = order_limit[1] if order_limit else limit
        cols, kept, eff_limit, projected, eff_order, eff_grouped = \
            _pushdown_parts(source, conjuncts, eff_lim_in, referenced, ob,
                            grouped_fact)
        if kind == "flight":
            peer_sql, _proj = _peer_sql(source, conjuncts, eff_lim_in,
                                        referenced, ob, grouped_fact)
            row["pushed_sql"] = peer_sql
        if kept:
            row["pushed_filters"] = json.dumps(
                [[c, op, str(v)] for c, op, v in kept])
        elif conjuncts and kind in ("file", "view", "jdbc"):
            # local/JDBC branches: Catalyst rewrites the entity-namespace
            # conjuncts through the mapping projection into the scan's
            # PushedFilters even when source_sql shapes the frame — report
            # them in entity namespace (hop-mapped, transforms inverted)
            row["pushed_filters"] = json.dumps(
                [[c, op, str(v)] for c, op, v in conjuncts])
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
        rows.append(row)

    for rm in relay.remotes_for_entity(entity_name):
        # mirror execution (r15): top-k facts compose across hops whose
        # per-key transforms pass the monotonicity gates and whose
        # conjuncts re-map exactly; otherwise the fact — and a
        # top-k-derived limit — dies at the hop (resolve.py remote
        # recursion, _map_order_through/_map_grouped_through)
        from dataweb_spark.plans.resolve import (
            _map_grouped_through,
            _map_order_through,
        )
        peer_ol = None
        if order_limit is not None:
            keys = _map_order_through(web, relay, rm, order_limit[0],
                                      conjuncts)
            if keys is not None:
                peer_ol = (keys, order_limit[1])
        peer_grouped = _map_grouped_through(web, relay, rm, grouped_fact,
                                            conjuncts)
        _walk(web, rm.peer, rm.remote_entity,
              _map_conjuncts_through(rm, conjuncts),
              (limit if _template_trivial(rm)
               and (order_limit is None or peer_ol is not None)
               else None),
              _map_referenced_through(rm, referenced),
              visited, rows, peer_ol, None, peer_grouped)


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

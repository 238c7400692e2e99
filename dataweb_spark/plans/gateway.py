"""Query entry points — the Flight / webengine / REST surface as one class.

Reference entry points (SURVEY.md §3):

* **engine mode** (webengine path, ``webengine/src/main.rs``): the full SQL —
  multi-entity joins allowed — runs over the resolved entity views; Spark
  performs final joins/aggregations exactly where client-side DataFusion did.
* **template mode** (raw Flight path, ``flight_server/src/flight.rs:501-630``):
  one-entity SQL is executed *per mapped source*, returning per-source
  partial results that the caller merges (the reference's tests re-aggregate
  client-side, ``test/validation.py:29-60``). Partial-aggregate semantics are
  a feature, preserved here verbatim.
* **NDJSON export** (REST path, ``rest_server/src/query/utils.rs:57-169``):
  rows serialized with an injected ``_relay_metadata_`` object.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataweb_spark.catalog.model import Web
from dataweb_spark.plans.aggpush import AggQuerySpec, extract_aggregate_query
from dataweb_spark.plans.pruning import (
    extract_entity_limit,
    extract_entity_predicates,
    extract_referenced_columns,
    output_shape_has_star,
)
from dataweb_spark.plans.resolve import (
    PROVENANCE_RELAY,
    PROVENANCE_SOURCE,
    EntityFacts,
    SourcePlan,
    _apply_remote_mapping,
    failover,
    plan_entity,
    register_entity_views,
)
from dataweb_spark.plans.topk import (
    GroupedTopKSpec,
    extract_grouped_topk,
    extract_order_limit,
    extract_topk_query,
)
from dataweb_spark.plans.validation import (
    ParsedQuery,
    ValidationError,
    validate_sql,
)

# Temp views are session-global: two template plans binding the entity
# view at once (a peer re-planning concurrent endpoint retries) would each
# analyze the other's source. Binding and analysis make no peer call, so
# the lock is never held across the network.
_VIEW_BIND_LOCK = threading.Lock()


def _forwardable_flight_peer(relay, source, entity_name: str):
    """``(host, port, connection)`` when a whole template query can be
    forwarded to this flight-peer source unchanged, else None.

    Forwarding is sound only when this relay's view of the peer is a pure
    identity window: the peer entity has the same name, EVERY local
    information is mapped to the same-named peer column with the identity
    transformation, and there is no local permission wrapper or derived
    ``source_sql`` — any of those means local semantics must apply to raw
    rows, so the row path stays. ``forward: "false"`` opts a source out."""
    conn = relay.connections.get(source.connection)
    if conn is None or conn.kind != "flight":
        return None
    if source.options.get("forward", "true") == "false":
        return None
    if source.options.get("sql"):
        return None  # explicit peer template: already a forwarded form
    if source.default_permission is not None or source.user_permissions:
        return None
    src_sql = (source.source_sql or "").strip().lower()
    if src_sql and src_sql != "select * from {table}":
        return None
    if source.options.get("entity", source.name) != entity_name:
        return None
    entity = relay.entities[entity_name]
    for info in entity.informations:
        m = source.mapping_for(info.name)
        if (m is None or not m.transformation.is_identity
                or source.field_path(m.field) != info.name):
            return None
    host = conn.options.get("host", "127.0.0.1")
    return host, int(conn.options["port"]), conn


def _engine_agg_candidate(relay, source) -> bool:
    """True when this source is an external SQL engine that MIGHT execute
    a partial-aggregate template itself (``dialects.render_partial_agg``
    applies the full per-column gates at render time; this is the cheap
    pre-gate that decides whether the TEMPLATE path is worth entering for
    an engine-only relay — r15)."""
    conn = relay.connections.get(source.connection)
    if conn is None or conn.kind not in ("flightsql", "trino"):
        return False
    if source.options.get("sql"):
        return False  # explicit statement: already the user's own form
    if source.default_permission is not None or source.user_permissions:
        return False
    src_sql = (source.source_sql or "").strip().lower()
    return not src_sql or src_sql == "select * from {table}"


def template_route(relay, q: ParsedQuery,
                   include_provenance: bool = False,
                   allow_partial: bool = False,
                   partial_aggregate: bool = True,
                   topk_pushdown: bool = True):
    """``(spec, forward_sql)`` when :meth:`QueryGateway.query` answers
    ``q`` through the template path, else None — the one decision both
    the query and EXPLAIN (``plans/explain.py``) read.

    The template path needs a single-entity query, ``partial_aggregate``
    or ``topk_pushdown`` on, and no provenance or ``allow_partial``; an
    entity with a source that consumes a decomposed template better than
    the row path — a whole-forwardable flight peer, or (r15) an external
    SQL engine that can execute the partial aggregate ITSELF
    (``dialects.render_partial_agg`` — the reference runs the whole
    mapped SQL on the engine, ``trino.rs:103-190``); and a decomposition:
    partial aggregates, then flat top-k, then grouped top-k, in this
    order. Every ``spec`` merges the same way
    (``spec.merge(union_of_partials)``)."""
    if (not (partial_aggregate or topk_pushdown) or include_provenance
            or allow_partial or len(q.entities) != 1):
        return None
    ename = next(iter(q.entities))
    entity = relay.entities.get(ename)
    if entity is None or not any(
            _forwardable_flight_peer(relay, s, ename) is not None
            or _engine_agg_candidate(relay, s)
            for s in relay.sources_for_entity(ename)):
        return None
    etypes = {i.name: i.data_type for i in entity.informations}
    if partial_aggregate:
        spec = extract_aggregate_query(
            q, ename,
            entity_columns=set(entity.info_names()),
            entity_types=etypes)
        if spec is not None:
            return spec, spec.partial_sql()
    if topk_pushdown:
        spec = (extract_topk_query(q, ename)
                or extract_grouped_topk(q, ename, entity_types=etypes))
        if spec is not None:
            return spec, spec.forward_sql
    return None


def forward_peer(node: SourcePlan, chain: tuple, source, star: bool):
    """``(host, port, connection)`` when the template path forwards the
    whole template to this source: a home-relay (empty hop ``chain``)
    whole-forwardable flight peer, under a width-independent output
    (``PushdownFacts.star`` off)."""
    if chain or star:
        return None
    return _forwardable_flight_peer(node.relay, source, node.entity)


def bind_template_view(spark: SparkSession, node: SourcePlan, chain: tuple,
                       source, principal: str | None, entity_name: str,
                       sql: str) -> DataFrame:
    """One leaf source's template plan, shared by the template path and
    template-mode jobs: the source view under the node's facts, mapped
    back through the hop ``chain`` into the home entity's namespace (the
    ``map_remote_request`` identifier-rewrite analog,
    ``core/src/execute/map_remote.rs:17-63``), bound as the home
    entity's temp view and analyzed with ``sql`` under
    ``_VIEW_BIND_LOCK``."""
    from dataweb_spark.session import view_memo_invalidate
    view = node.scan(spark, source, principal)
    for decl_relay, rm in reversed(chain):
        view = _apply_remote_mapping(spark, decl_relay, rm, view)
    with _VIEW_BIND_LOCK:
        view.drop(PROVENANCE_RELAY, PROVENANCE_SOURCE) \
            .createOrReplaceTempView(entity_name)
        # may shadow a canonical table name — force the next
        # register_views to rebind the raw views
        view_memo_invalidate(spark)
        return spark.sql(sql)


@dataclass
class PushdownFacts:
    """What one parsed query lets each source apply itself.

    Per entity: the ``conjuncts`` (source pruning and filter pushdown)
    and a transparent ``limits`` entry; for a single-entity query with
    top-k pushdown on, the ``order_limits`` fact (ORDER BY + LIMIT
    rendered into engine peer SQL, each engine answering ≤k rows) or,
    failing that, the ``grouped`` top-k fact (a rank-bounded window
    wrapper per source, ``readers._forward_grouped``). A LIMIT never
    extracts under a Sort, so ``limits`` and ``order_limits`` exclude
    each other. Query-wide: the ``referenced`` columns (None = all) and
    ``star``, a width-dependent output (top-level ``SELECT *``) that
    must not be forwarded whole — the peer's entity may carry more
    columns than this relay's identity window declares."""
    conjuncts: dict[str, list]
    limits: dict[str, int]
    order_limits: dict[str, tuple]
    grouped: dict[str, GroupedTopKSpec]
    referenced: set[str] | None
    star: bool

    def entity(self, name: str) -> EntityFacts:
        """``name``'s slice of the facts, as :func:`plan_entity` takes
        them: the order fact's k rides as the limit."""
        ol = self.order_limits.get(name)
        return EntityFacts(
            conjuncts=self.conjuncts.get(name),
            limit=ol[1] if ol else self.limits.get(name),
            referenced=self.referenced,
            order_by=ol[0] if ol else None,
            grouped=self.grouped.get(name))


def pushdown_facts(q: ParsedQuery, catalog: dict,
                   topk: bool = True) -> PushdownFacts:
    """The one derivation of :class:`PushdownFacts` from a parsed query,
    shared by the row path, the template path, the top-groups rounds,
    EXPLAIN and job tasks. ``catalog`` maps entity names to their
    declarations (``relay.entities``): the top-k facts carry each sort
    key's declared type."""
    facts = PushdownFacts(
        conjuncts={e: extract_entity_predicates(q, e) for e in q.entities},
        limits={}, order_limits={}, grouped={},
        referenced=extract_referenced_columns(q),
        star=output_shape_has_star(q))
    for e in q.entities:
        lim = extract_entity_limit(q, e)
        if lim is not None:
            facts.limits[e] = lim
    if topk and len(q.entities) == 1:
        e = next(iter(q.entities))
        entity = catalog.get(e)
        etypes = ({i.name: i.data_type for i in entity.informations}
                  if entity is not None else None)
        ol = extract_order_limit(q, e, entity_types=etypes)
        if ol is not None:
            facts.order_limits[e] = ol
        else:
            g = extract_grouped_topk(q, e, entity_types=etypes)
            if g is not None:
                facts.grouped[e] = g
    return facts


class QueryGateway:
    """The relay's query surface for one (web, home-relay) pair."""

    def __init__(self, spark: SparkSession, web: Web, relay_name: str):
        self.spark = spark
        self.web = web
        self.relay_name = relay_name

    # -- engine mode (webengine analog) ---------------------------------

    def query(self, sql: str, principal: str | None = None,
              include_provenance: bool = False,
              allow_partial: bool = False,
              partial_aggregate: bool = True,
              topk_pushdown: bool = True) -> DataFrame:
        """Full SQL over entity views; joins across entities allowed.

        Before view resolution, the query's per-entity filter conjuncts are
        extracted (Spark's own parser) and used to prune sources whose
        declared bounds can't match — see ``plans/pruning.py``.

        ``allow_partial=True`` applies the reference's peer-failure policy
        (``flight.rs:273-306``): unreachable/broken sources are skipped and
        the query answers from the rest; the skip list lands in
        ``self.last_failures``.

        ``partial_aggregate`` (default on): a single-entity query that
        decomposes into distributive aggregates, over an entity with at
        least one forwardable flight peer, executes as per-source PARTIAL
        aggregates merged locally (``plans/aggpush.py``) — network peers
        ship O(groups) rows instead of O(corpus). Identical answers;
        set False to force the row path.

        ``topk_pushdown`` (default on): an aggregate-free single-entity
        ``ORDER BY ... LIMIT k`` over such an entity runs per-source
        (each peer answers with its OWN top-k — O(k·sources) transfer
        instead of O(rows)) and re-merges with a local
        ``TakeOrderedAndProject`` (``plans/topk.py``; the order-aware
        extension of the reference's bare limit pushdown,
        ``web_source.rs:111-118``). The grouped form — ``row_number()/
        rank()/dense_rank() OVER (PARTITION BY g ORDER BY s) <= n`` in a
        subquery — pushes the same way (each peer answers its own
        top-n per group, O(n·groups·sources) wire) and the merge
        re-windows the union. Caveat for BOTH forms: when the sort keys
        are not a total order over the projected columns, which
        tie-boundary rows come back is engine- and pushdown-dependent
        (all answers valid under SQL semantics) — sort on every
        projected column or set ``topk_pushdown=False`` when strict
        bit-reproducibility matters (see ``plans/topk.py`` docstring).
        The TOP-GROUPS form — ``ORDER BY agg(...) LIMIT k`` over a
        ``GROUP BY`` — additionally runs the two-round threshold-bound
        protocol (``plans/topgroups.py``) when both flags are on: each
        source ships its top-m groups by its LOCAL partial plus exact
        partials for the candidate union — O(k·sources) wire instead of
        the partial merge's O(groups); an unprovable exclusion bound
        falls back to that merge, identical answers either way
        (``self.last_topk_groups`` records which path answered)."""
        q = validate_sql(self.spark, sql, single_entity=False)
        entities = q.entities
        self.last_topk_groups = False
        relay = self.web.relay(self.relay_name)
        known = relay.entities
        unknown = {e for e in entities if e not in known}
        if unknown:
            raise ValidationError(
                f"unknown entity(ies): {sorted(unknown)}; "
                f"relay {self.relay_name!r} declares {sorted(known)}")
        route = template_route(relay, q, include_provenance,
                               allow_partial, partial_aggregate,
                               topk_pushdown)
        if route is not None:
            spec, fwd = route
            self.last_failures = []  # template fails loudly
            aspec = spec if isinstance(spec, AggQuerySpec) else None
            if topk_pushdown and aspec is not None:
                # "top groups": ORDER BY agg() LIMIT k over GROUP BY runs
                # the two-round bound protocol when the exclusion is
                # provable — wire O(k·sources) where the partial merge
                # below ships O(groups); an unprovable bound falls
                # through to that merge (plans/topgroups.py)
                from dataweb_spark.plans.topgroups import (
                    plan_topk_groups,
                    run_topk_groups,
                )
                tg = plan_topk_groups(spec)
                if tg is not None:
                    out = run_topk_groups(
                        self.spark, tg,
                        lambda s, rf=None:
                        self.query_template_union(
                            s, principal, agg_spec=aspec,
                            agg_round=rf))
                    if out is not None:
                        self.last_topk_groups = True
                        return out
            return spec.merge(
                self.query_template_union(fwd, principal, agg_spec=aspec))
        # the row path: the order-limit and grouped top-k facts ride into
        # the source readers, and the final sql's own sort+limit or
        # window over the narrowed union is the merge
        facts = pushdown_facts(q, known, topk=topk_pushdown)
        self.last_failures: list[tuple[str, str, str]] = []
        register_entity_views(self.spark, self.web, self.relay_name, principal,
                              include_provenance=include_provenance,
                              predicates=facts.conjuncts,
                              allow_partial=allow_partial,
                              failures=self.last_failures,
                              only=set(entities),
                              limits=facts.limits,
                              referenced=facts.referenced,
                              order_limits=facts.order_limits,
                              grouped_limits=facts.grouped)
        return self.spark.sql(sql)

    # -- template mode (raw Flight analog) ------------------------------

    # round-fact cache size: one entry per distinct partial template this
    # gateway has served (a protocol run uses ONE; a long-lived relay
    # server sees one per distinct aggregate query shape)
    _ROUND_FACT_CAP = 64

    def _round_facts(self, q: ParsedQuery, base: str
                     ) -> PushdownFacts | None:
        """Pushdown facts for a library-generated aggregate-template
        ROUND (r16, guide §5 — repeated driver work): the multi-round
        top-k-groups protocol re-runs the same partial template with an
        ``ORDER BY … LIMIT`` or ``HAVING`` suffix up to four times, and
        such a suffix cannot change any fact — predicates are harvested
        only from scan-level Filter nodes (a HAVING parses as
        UnresolvedHaving ABOVE the Aggregate), the probe/IN-list
        predicates reference only columns the template already
        references, a LIMIT above the round's ORDER BY never extracts
        (Sort is not limit-transparent), the order/grouped top-k facts
        never fire on an aggregate template, and neither suffix changes
        the output columns. So the facts are derived ONCE from the bare
        template and cached per base string; the caller still fully
        validates every round SQL.

        ``None`` when ``q`` is not a recognizable round form of ``base``
        (suffix other than ORDER BY/HAVING, or one smuggling a subquery
        — a SELECT inside the suffix could reference the entity a
        second time and void the extractors' multi-reference guard) or
        names another entity, in which case the caller derives the
        round's own facts."""
        import re as _re

        sql = q.sql
        if not sql.startswith(base):
            return None
        suffix = sql[len(base):].strip()
        if suffix and not (suffix.startswith("ORDER BY")
                           or suffix.startswith("HAVING")):
            return None
        if ";" in suffix or _re.search(r"\bselect\b", suffix, _re.I):
            return None
        cache = self.__dict__.setdefault("_round_fact_cache", {})
        facts = cache.get(base)
        if facts is None:
            bq = q if sql == base else validate_sql(
                self.spark, base, single_entity=True)
            facts = pushdown_facts(
                bq, self.web.relay(self.relay_name).entities)
            while len(cache) >= self._ROUND_FACT_CAP:
                cache.pop(next(iter(cache)))
            cache[base] = facts
        if facts.conjuncts.keys() != q.entities:
            return None
        return facts

    def query_template(self, sql: str, principal: str | None = None,
                       agg_spec=None, agg_round=None,
                       template_base: str | None = None
                       ) -> list[tuple[str, str, DataFrame]]:
        """One-entity SQL run independently per mapped source.

        Returns ``[(relay, source_id, partial_df), ...]`` — one entry per
        "endpoint", like the FlightInfo endpoint list
        (``flight.rs:194-232``). Aggregates come back as per-source partials.

        Flight-peer sources whose mapping is a pure identity passthrough
        receive the query ITSELF (relay→relay forwarding,
        ``flight.rs:237-309``): the peer maps it per its own sources and
        only the per-source PARTIAL results cross the wire — for an
        aggregate template, group rows instead of entity rows. Sources
        with permissions, transformations, renames, or a non-trivial
        ``source_sql`` keep the row path (the local relay's mapping
        semantics must apply to raw rows).

        ``agg_spec``/``agg_round`` (r15): when the template is a partial
        aggregate, the caller passes its ``AggQuerySpec`` (plus the
        top-groups round decoration) so EXTERNAL-ENGINE sources can
        execute the aggregation themselves
        (``dialects.render_partial_agg`` — the reference runs the whole
        mapped SQL on the engine, ``trino.rs:103-190``); a source the
        renderer refuses keeps the generic Spark-side path. The SQL text
        and the structured facts describe the SAME query by construction
        (both derive from the spec)."""
        q = validate_sql(self.spark, sql, single_entity=True)
        entity_name = next(iter(q.entities))
        relay = self.web.relay(self.relay_name)
        if entity_name not in relay.entities:
            raise ValidationError(f"unknown entity {entity_name!r}")

        # r16: aggregate-protocol rounds share one fact derivation per
        # template (see _round_facts). ``agg_spec`` marks the local
        # coordinator's own rounds; ``template_base`` is the same hint
        # arriving over the wire at a peer relay (flight_service). The
        # order/grouped facts fire on forwarded top-k templates too (the
        # reconstructed `… WHERE __gk0 <= n` matches the grouped shape).
        base = (agg_spec.partial_sql() if agg_spec is not None
                else template_base)
        facts = self._round_facts(q, base) if base else None
        if facts is None:
            facts = pushdown_facts(q, relay.entities)
        return self._run_template_sources(
            sql, principal, entity_name, relay, facts, agg_spec, agg_round)

    def _run_template_sources(self, sql, principal, entity_name, relay,
                              facts: PushdownFacts, agg_spec, agg_round
                              ) -> list[tuple[str, str, DataFrame]]:
        """The per-source fan-out of the entity's source plan, shared by
        the generic template path and the cached-fact round path (r16):
        one partial per replica group (declared-order failover — scanning
        every mirror would DOUBLE rows in every partial merge), each
        leaf's view mapped back through its hop chain. Whole-template
        forwarding and engine partials apply at the home relay only."""
        plan = plan_entity(self.web, self.relay_name, entity_name,
                           facts.entity(entity_name))
        etypes = {i.name: i.data_type
                  for i in relay.entities[entity_name].informations}
        results: list[tuple[str, str, DataFrame]] = []

        def run_source(node: SourcePlan, chain: tuple, source) -> None:
            fwd = forward_peer(node, chain, source, facts.star)
            if fwd is not None:
                from dataweb_spark.sources.flight_service import (
                    flight_forward_template,
                )
                from dataweb_spark.sources.readers import (
                    flight_client_identity,
                )
                host, fport, fconn = fwd
                results.extend(flight_forward_template(
                    self.spark, host, fport, sql, principal,
                    template_base=(agg_spec.partial_sql()
                                   if agg_spec is not None else None),
                    # protocol rounds are bounded by construction and
                    # collected on the driver right after — skip the
                    # executor fan-out (r16, guide §5)
                    driver_pull=agg_round is not None,
                    **flight_client_identity(fconn)))
                return
            if not chain and agg_spec is not None:
                # r15: external SQL engines execute the partial aggregate
                # THEMSELVES when the renderer's gates hold — O(groups)
                # wire instead of the filtered stream; a refusal keeps
                # the generic path below
                from dataweb_spark.sources.readers import (
                    engine_partial_frame,
                )
                edf = engine_partial_frame(self.spark, node.relay, source,
                                           agg_spec, etypes, agg_round)
                if edf is not None:
                    results.append((node.relay.name, source.name, edf))
                    return
            results.append((node.relay.name, source.name,
                            bind_template_view(self.spark, node, chain,
                                               source, principal,
                                               entity_name, sql)))

        for node, chain in plan.walk() if plan is not None else ():
            for group in node.groups:
                failover(node.relay.name, group,
                         lambda s: run_source(node, chain, s))
        return results

    def query_template_union(self, sql: str, principal: str | None = None,
                             agg_spec=None, agg_round=None) -> DataFrame:
        """Template-mode results concatenated with provenance columns —
        what ``test/flight_utils.py:66-75`` does client-side."""
        parts = [
            df.withColumn(PROVENANCE_RELAY, F.lit(relay))
              .withColumn(PROVENANCE_SOURCE, F.lit(source))
            for relay, source, df in self.query_template(
                sql, principal, agg_spec=agg_spec, agg_round=agg_round)
        ]
        if not parts:
            raise ValidationError("query mapped to no sources")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # -- schema echo (return_arrow_schema analog, flight.rs:565-567) ----

    def query_schema(self, sql: str, principal: str | None = None):
        return self.query(sql, principal).schema

    # -- federation explain ---------------------------------------------

    def explain(self, sql: str, principal: str | None = None,
                include_provenance: bool = False,
                allow_partial: bool = False,
                partial_aggregate: bool = True,
                topk_pushdown: bool = True) -> DataFrame:
        """Pre-flight per-source resolution report: which sources scan,
        prune, or stand by, and exactly what SQL/filters/limit each
        network peer receives. Metadata-only — nothing is scanned. The
        flag quartet matches :meth:`query` so the report models the
        configuration the subsequent call will actually run with."""
        from dataweb_spark.plans.explain import explain_federation
        return explain_federation(self.spark, self.web, self.relay_name,
                                  sql, principal,
                                  include_provenance=include_provenance,
                                  allow_partial=allow_partial,
                                  partial_aggregate=partial_aggregate,
                                  topk_pushdown=topk_pushdown)

    # -- NDJSON export (REST analog) ------------------------------------

    def to_ndjson(self, df: DataFrame, drop_null_columns: bool = True
                  ) -> Iterator[str]:
        """Serialize with ``_relay_metadata_`` injected per record.

        JSON export drops NULL fields per record (the reference's 17-vs-15
        column behavior, ``test/validation.py:17-19``) — Spark's ``toJSON``
        omits null fields natively, matching.
        """
        cols = [c for c in df.columns
                if c not in (PROVENANCE_RELAY, PROVENANCE_SOURCE)]
        meta_parts = []
        if PROVENANCE_RELAY in df.columns:
            meta_parts.append(F.col(PROVENANCE_RELAY).alias(PROVENANCE_RELAY))
        if PROVENANCE_SOURCE in df.columns:
            meta_parts.append(F.col(PROVENANCE_SOURCE).alias(PROVENANCE_SOURCE))
        out = df
        if meta_parts:
            out = df.select(*cols, F.struct(*meta_parts).alias("_relay_metadata_"))
        for line in out.toJSON().toLocalIterator():
            yield line

    @staticmethod
    def parse_ndjson(lines: Iterator[str]) -> list[dict]:
        return [json.loads(x) for x in lines]

"""Entity → DataFrame view resolution — the query-mapping compiler.

This is the Spark-first re-expression of the reference's SQL-rewriting
pipeline (``core/src/execute/map_local.rs:24-122`` and ``map_remote.rs:17-63``):
instead of rewriting the *query* per source, we build each source's *view*
once and let the unchanged user query run against the union view. Catalyst
then pushes projections/filters/limits into every branch (what the reference
hand-implements in ``webengine/src/expr_to_sql.rs``).

Pipeline per local source (ordering mirrors ``map_local.rs:24-36``):

1. ``source_sql`` applied as a derived table        (apply_source_substitutions)
2. permission wrapper: ``WHERE allowed_rows`` then projection to
   ``allowed_columns`` — physical namespace, *before* renaming
   (apply_source_permission, ``map_local.rs:40-76``)
3. logical select list: per entity Information, mapped+allowed →
   ``expr(transform(path)) CAST dtype AS info``; otherwise ``NULL CAST dtype``
   (apply_info_substitutions + null-lit, ``parse_utils.rs:137-232``, ``:23-25``)
4. provenance columns ``_source_relay_`` / ``_source_id_``
   (``rest_server/src/query/utils.rs:96-116``)

Which sources answer, and what each receives, is decided once per query by
:func:`plan_entity`: a pure tree of replica groups, pruned sources and
remote hops (cycle-deduped, pushdown facts re-mapped at every hop) that the
row path, the template path, template-mode jobs and EXPLAIN all fold.

Scale design: every step is a *logical* view — no materialization, no
driver-side rows. The union is ``unionByName(allowMissingColumns=True)``;
Spark plans one scan per source and parallelizes across all of them, with
partial aggregation pushed below the union by Catalyst.
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataweb_spark.catalog.model import (
    DataSource,
    RelayCatalog,
    RemoteEntityMapping,
    SourcePermission,
    Web,
    effective_permission,
)
from dataweb_spark.sources.readers import read_source_frame

PROVENANCE_RELAY = "_source_relay_"
PROVENANCE_SOURCE = "_source_id_"


def _bq(name: str) -> str:
    """Backquote an identifier for Spark SQL (`` escapes a literal `)."""
    return "`" + name.replace("`", "``") + "`"


def _apply_permission(df: DataFrame, perm: SourcePermission,
                      allowed_paths: frozenset[str]) -> DataFrame:
    """``SELECT <allowed columns> FROM (src) WHERE <allowed_rows>`` —
    ``map_local.rs:40-76`` (golden nesting at ``:150-202``).

    The projection keeps every physical column an allowed *path* reads —
    for a nested/expression path (``meta.width``, ``get_json_object(...)``)
    that is the underlying root column, so the later mapped expression can
    still resolve. Extra struct members never leak: the entity select list
    below only ever emits mapped expressions."""
    out = df.where(F.expr(perm.allowed_rows))
    toks: set[str] = set()
    for p in allowed_paths:
        toks |= set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", p))
    keep = [c for c in df.columns if c in allowed_paths or c in toks]
    return out.select(*keep)


def build_source_view(spark: SparkSession, relay: RelayCatalog,
                      source: DataSource, principal: str | None = None,
                      conjuncts: list | None = None,
                      limit: int | None = None,
                      referenced: set[str] | None = None,
                      order_by: list | None = None,
                      grouped=None) -> DataFrame:
    """One source's contribution to its entity, in entity namespace.

    ``conjuncts``/``limit``/``referenced`` are the query's pushdown facts
    (from ``plans/pruning.py``); they only change execution for flight-peer
    sources, where the peer SQL is narrowed instead of ``select *``
    (``readers._peer_sql``). For file/JDBC/view sources Catalyst already
    pushes predicates and projections into the scan. ``principal`` both
    selects the LOCAL permission view and propagates to flight peers as
    the origin principal (``core/src/execute/utils.rs:62-126``)."""
    df, projected = read_source_frame(spark,
                                      relay.connections[source.connection],
                                      source, conjuncts, limit, referenced,
                                      principal=principal,
                                      order_by=order_by,
                                      grouped=grouped)
    return map_source_frame(df, relay, source, principal,
                            projected=projected)


def map_source_frame(df: DataFrame, relay: RelayCatalog, source: DataSource,
                     principal: str | None = None,
                     projected: set[str] | None = None) -> DataFrame:
    """Permission + mapping pipeline over an already-read raw frame.

    Split from :func:`build_source_view` so streaming ingest
    (``streaming/federation.py``) applies the IDENTICAL expressions to an
    unbounded frame — one implementation of the mapping semantics, two
    execution modes.

    ``projected`` (flight pushdown only) names the informations whose peer
    columns were actually fetched; the rest are NULL-filled — sound because
    the projection over-approximates the user query's column references, so
    a NULL-filled information is never read."""
    entity = relay.entities[source.entity]

    if source.default_permission is not None or source.user_permissions:
        user_perm = source.user_permissions.get(principal) if principal else None
        perm = effective_permission(source.default_permission, user_perm, None)
        # Resolve grants to DataField.path (reference checks the *path*,
        # ``apply_info_substitutions``): a grant naming a field whose path
        # differs (nested/JSON-path fields) must authorize that path, and
        # the projection and the mapping-usability test must agree on it.
        allowed = frozenset(source.field_path(c) for c in perm.allowed_columns)
        df = _apply_permission(df, perm, allowed)
    else:
        allowed = None  # unguarded source: everything allowed

    available = set(df.columns)
    # The whole mapping is rendered as ONE selectExpr: building per-info
    # Column objects (expr/cast/alias) costs 3 py4j round-trips each, ~40
    # per source view, re-paid on every federated call/round; a single
    # selectExpr ships all expression strings in one JVM call and parses
    # them engine-side with the same SQL parser F.expr used.
    select_list: list[tuple[str, str]] = []
    for info in entity.informations:
        m = source.mapping_for(info.name)
        expr_sql = None
        if m is not None and (projected is None or info.name in projected):
            path = source.field_path(m.field)
            root = path.split(".")[0]
            # A mapping is usable only if its physical path survived the
            # permission projection (permission-denied info → NULL,
            # ``parse_utils.rs:211-217``).
            if (allowed is None or path in allowed) and (
                    path in available or root in available
                    or path not in source.physical_columns()):
                expr_sql = m.transformation.apply(path)
        if expr_sql is None:
            expr_sql = "NULL"
        select_list.append(
            (info.name,
             f"CAST(({expr_sql}) AS {info.data_type}) AS {_bq(info.name)}"))
    # Provenance rides as F.lit Columns through ONE withColumns call
    # (replace semantics, like the withColumn pair this replaced) rather
    # than SQL string literals: literal escaping rules flip under
    # spark.sql.parser.escapedStringLiterals, while lit() is
    # parser-independent for any relay/source name.
    exprs = [sql for name, sql in select_list
             if name not in (PROVENANCE_RELAY, PROVENANCE_SOURCE)]
    return df.selectExpr(*exprs).withColumns(
        {PROVENANCE_RELAY: F.lit(relay.name),
         PROVENANCE_SOURCE: F.lit(source.name)})


def _apply_remote_mapping(spark: SparkSession, relay: RelayCatalog,
                          rm: RemoteEntityMapping, peer_df: DataFrame) -> DataFrame:
    """Rename/transform a peer entity's frame into local entity namespace —
    ``map_remote.rs:17-63``; transformation composition across hops is
    Column-expression nesting here (textual compose in ``mappings.rs:137-149``)."""
    entity = relay.entities[rm.local_entity]
    df = peer_df
    if rm.sql_template and rm.sql_template.strip().lower() != "select * from {entity}":
        view = f"__dw_rem_{uuid.uuid4().hex[:12]}"
        peer_df.createOrReplaceTempView(view)
        df = spark.sql(rm.sql_template.replace("{entity}", view))

    available = set(df.columns)
    # Single selectExpr for the same py4j-round-trip reason as
    # map_source_frame above.
    select_list = []
    for info in entity.informations:
        m = rm.mapping_for(info.name)
        if m is not None and m.remote_info in available:
            expr_sql = m.transformation.apply(m.remote_info)
        elif info.name in available:
            expr_sql = _bq(info.name)
        else:
            expr_sql = "NULL"
        select_list.append(
            f"CAST(({expr_sql}) AS {info.data_type}) AS {_bq(info.name)}")
    # Provenance flows through from the peer untouched.
    for p in (PROVENANCE_RELAY, PROVENANCE_SOURCE):
        if p in available:
            select_list.append(_bq(p))
        else:
            select_list.append(f"CAST(NULL AS string) AS {_bq(p)}")
    return df.selectExpr(*select_list)


def _template_trivial(rm: RemoteEntityMapping) -> bool:
    t = (rm.sql_template or "").strip().lower()
    return not t or t == "select * from {entity}"


def _map_conjuncts_through(rm: RemoteEntityMapping,
                           conjuncts: list | None) -> list | None:
    """Rewrite pruning conjuncts from local-entity namespace into the peer
    entity's namespace. Identity-transform renames pass through; columns
    behind an invertible (affine) transformation are rewritten through
    ``Transformation.push_conjunct`` — exact boundary inversion with widened
    non-strict bounds, matching the reference's inverse-transform
    composition (``mappings.rs:124-149``); non-invertible transforms are
    dropped (conservative — the peer just won't prune on them). A
    non-trivial ``sql_template`` rewrites the peer frame wholesale (may
    aggregate/derive), so nothing maps through it."""
    if not conjuncts or not _template_trivial(rm):
        return None
    out = []
    for col, op, value in conjuncts:
        m = rm.mapping_for(col)
        if m is None:
            # Unmapped column: _apply_remote_mapping passes it through by
            # name when the peer frame carries it (same-name semantics), so
            # the conjunct keeps its name too.
            out.append((col, op, value))
        else:
            rewritten = m.transformation.push_conjunct(op, value)
            if rewritten is not None:
                out.extend((m.remote_info.lower(), o, v)
                           for o, v in rewritten)
    return out


def _map_referenced_through(rm: RemoteEntityMapping,
                            referenced: set[str] | None) -> set[str] | None:
    """Grow the referenced-token set with the peer-side names of renamed
    columns so projection pushdown survives remote hops. Token sets are
    over-approximations; adding names is always sound, dropping never
    happens."""
    if referenced is None or not _template_trivial(rm):
        return None
    out = set(referenced)
    for m in rm.info_mappings:
        if m.local_info.lower() in referenced:
            out.add(m.remote_info.lower())
    return out


def _hop_as_source(web: Web, relay: RelayCatalog,
                   rm: RemoteEntityMapping) -> DataSource | None:
    """Model a remote hop as a synthetic :class:`DataSource` so the
    reader-level order/grouped forwarding gates (``readers.
    _forward_order_key`` / ``_forward_grouped``) apply to the hop's
    mapping shape VERBATIM — one gate implementation serves both layers,
    because the hop applies the same computation shape a source mapping
    does (``_apply_remote_mapping``: ``CAST(transform(peer_col) AS
    local_type)`` vs ``build_source_view``'s ``CAST(transform(path) AS
    info_type)``).

    The synthetic "physical" surface is the PEER entity's declared
    informations — peer entities always declare types, so the affine
    gates run against DECLARED typing (no entity-shape fallback
    ambiguity). Mappings are the hop's ``info_mappings`` plus
    exact-same-name identities for the passthrough columns
    ``_apply_remote_mapping`` forwards by name. None for a non-trivial
    ``sql_template`` (wholesale rewrite: nothing maps through)."""
    from dataweb_spark.catalog.model import DataField, Mapping
    if not _template_trivial(rm):
        return None
    peer_relay = web.relays.get(rm.peer)
    peer_entity = (peer_relay.entities.get(rm.remote_entity)
                   if peer_relay is not None else None)
    local_entity = relay.entities.get(rm.local_entity)
    if peer_entity is None or local_entity is None:
        return None
    peer_names = {i.name for i in peer_entity.informations}
    mappings = [Mapping(m.local_info, m.remote_info, m.transformation)
                for m in rm.info_mappings]
    mapped_locals = {m.local_info for m in rm.info_mappings}
    for info in local_entity.informations:
        # passthrough law mirrors _apply_remote_mapping: the LOCAL
        # declared name must appear in the peer frame EXACTLY
        if info.name not in mapped_locals and info.name in peer_names:
            mappings.append(Mapping(info.name, info.name))
    return DataSource(
        name=f"__hop__{rm.peer}.{rm.remote_entity}", connection="",
        entity=rm.local_entity, source_sql="select * from {table}",
        fields=[DataField(i.name, i.name, i.data_type)
                for i in peer_entity.informations],
        mappings=mappings)


def _hop_conjuncts_exact(rm: RemoteEntityMapping,
                         conjuncts: list | None) -> bool:
    """True when every pruning conjunct maps through the hop EXACTLY
    (identity rename or same-name passthrough). A dropped conjunct makes
    the peer stream a superset, and an affine-inverted one pushes with
    WIDENED bounds (float safety) — either way a deeper top-k over the
    looser filter can fill with rows the edge later discards, displacing
    true top-k rows (under-fetch). Same law as the per-source gate in
    ``readers._pushdown_parts``."""
    for col, _op, _value in conjuncts or []:
        m = rm.mapping_for(col)
        if m is not None and not m.transformation.is_identity:
            return False
    return True


def _map_order_through(web: Web, relay: RelayCatalog,
                       rm: RemoteEntityMapping, order_by: list | None,
                       conjuncts: list | None) -> list | None:
    """Rewrite the federated top-k ORDER fact into the peer entity's
    namespace, or None — the fact (and its LIMIT) dies at the hop.

    r15 (VERDICT r14 item 2): previously the fact died at EVERY
    non-trivial hop; it now survives hops whose per-key transforms are
    identity or order-preserving affine, under exactly the per-source
    gates (``readers._forward_order_key`` over the synthetic hop source:
    monotone affine with wrap/overflow-safe Spark typing, order-stable
    casts, NaN-flip refusal, direction flip on negative slope). Each
    rewritten key's logical type becomes the PEER's declared type — what
    the deeper relay's own gates compare against. Keys must be 4-tuples
    (with type evidence); conjuncts must map exactly
    (``_hop_conjuncts_exact``)."""
    if not order_by or not _hop_conjuncts_exact(rm, conjuncts):
        return None
    hop = _hop_as_source(web, relay, rm)
    if hop is None:
        return None
    from dataweb_spark.sources.readers import _forward_order_key
    ptypes = {i.name: i.data_type
              for i in web.relay(rm.peer).entities[rm.remote_entity]
              .informations}
    out = []
    for key in order_by:
        if len(key) != 4:
            return None  # no type evidence: never forwards (same as edge)
        col, odir, onulls, ltype = key
        fwd = _forward_order_key(hop, col, odir, onulls, ltype)
        if fwd is None:
            return None
        path, ndir, nnulls = fwd
        pt = ptypes.get(path)
        if pt is None:
            return None
        out.append((path, ndir, nnulls, pt))
    return out


def _map_grouped_through(web: Web, relay: RelayCatalog,
                         rm: RemoteEntityMapping, grouped,
                         conjuncts: list | None):
    """Rewrite the GROUPED top-k fact (``plans/topk.py:GroupedTopKSpec``)
    into the peer entity's namespace, or None — the fact dies at the hop
    (silently correct: the wrapper is a pure row reduction).

    Soundness (r15): partition keys map through identity renames only
    (``readers._forward_grouped`` refuses anything else) — and a rename
    keeps partitions EXACTLY aligned, so the per-source superset law is
    unchanged; order keys pass the same monotone/injective gates as at a
    source (injective casts required for rank/dense_rank). The rewritten
    spec carries peer-namespace partition/order facts; ``forward_sql``
    (template-path-only, local-entity SQL) is dropped — the row path
    never reads it."""
    if grouped is None or not _hop_conjuncts_exact(rm, conjuncts):
        return None
    hop = _hop_as_source(web, relay, rm)
    if hop is None:
        return None
    from dataclasses import replace
    from dataweb_spark.sources.readers import _forward_grouped
    fwd = _forward_grouped(hop, grouped)
    if fwd is None:
        return None
    fn, bound, phys_part, phys_order = fwd
    ptypes = {i.name: i.data_type
              for i in web.relay(rm.peer).entities[rm.remote_entity]
              .informations}
    entity_order = []
    for col, odir, onulls in phys_order:
        pt = ptypes.get(col)
        if pt is None:
            return None
        entity_order.append((col, odir, onulls, pt))
    return replace(grouped, entity_partition=phys_part,
                   entity_order=entity_order, forward_sql="")


@dataclass(frozen=True)
class EntityFacts:
    """One entity's pushdown facts in one relay's namespace: the pruning
    ``conjuncts``, the ``limit`` (a bare LIMIT, or the k of the top-k
    ``order_by`` fact), the ``referenced`` columns (None = all), the
    top-k ``order_by`` keys and the ``grouped`` top-k fact
    (``plans/topk.py:GroupedTopKSpec``)."""
    conjuncts: list | None = None
    limit: int | None = None
    referenced: set[str] | None = None
    order_by: list | None = None
    grouped: object = None


@dataclass
class SourcePlan:
    """Which sources answer one (relay, entity) of a query, and what each
    receives — the federation walk (``core/src/execute/mod.rs:98-139``)
    as data, made once per query by :func:`plan_entity` and folded by the
    row path, the template path, template-mode jobs and EXPLAIN.

    ``facts`` are already in this relay's namespace. ``groups`` holds
    the unpruned members of each replica group in preference order (an
    ungrouped source is a group of one); ``pruned`` the sources whose
    declared bounds are disjoint from the conjuncts; ``hops`` the
    ``(RemoteEntityMapping, child plan)`` pairs."""
    relay: RelayCatalog
    entity: str
    facts: EntityFacts
    groups: list[list[DataSource]]
    pruned: list[DataSource]
    hops: list[tuple[RemoteEntityMapping, "SourcePlan"]]

    def walk(self, chain: tuple = ()):
        """``(node, chain)`` for this node and every node below it, in
        walk order; ``chain`` is the ``(declaring relay, mapping)`` hop
        path from the root down to the node."""
        yield self, chain
        for rm, child in self.hops:
            yield from child.walk(chain + ((self.relay, rm),))

    def scan(self, spark: SparkSession, source: DataSource,
             principal: str | None = None) -> DataFrame:
        """One source's view under this node's facts."""
        f = self.facts
        return build_source_view(spark, self.relay, source, principal,
                                 conjuncts=f.conjuncts, limit=f.limit,
                                 referenced=f.referenced,
                                 order_by=f.order_by, grouped=f.grouped)


def _replica_groups(sources: list[DataSource]) -> list[list[DataSource]]:
    """Mirrored sources grouped: members of one ``replica_group`` declare
    identical data, so exactly ONE is scanned (declared order =
    preference). Each group sits at its first member's position."""
    groups: list[list[DataSource]] = []
    by_group: dict[str, list[DataSource]] = {}
    for source in sources:
        g = source.replica_group
        if g is None:
            groups.append([source])
        elif g in by_group:
            by_group[g].append(source)
        else:
            by_group[g] = [source]
            groups.append(by_group[g])
    return groups


def plan_entity(web: Web, relay_name: str, entity_name: str,
                facts: EntityFacts | None = None) -> SourcePlan | None:
    """The source plan of one entity: its sources, local and
    remote-recursive, with the facts each receives. Pure — no Spark call,
    no I/O. None on a cycle or when nothing maps.

    Cycles dedup with a visited set — the analog of the originator-UUID
    machinery (``core/src/crud/query.rs:21-60``,
    ``flight_server/src/flight.rs:545-555``). ``facts.conjuncts`` prune
    sources whose declared ``bounds`` are provably disjoint from the
    query — the federation analog of partition pruning (the reference
    always scans every mapping).

    At each remote hop the facts re-map into the peer entity's namespace
    (the hop rule, applied here only): conjuncts and referenced columns
    through the mapping, the top-k order and grouped facts when every
    key survives the per-source monotonicity gates applied to the hop's
    own mapping shape and every conjunct re-maps exactly (a lossy or
    widening hop kills them: a deeper top-k over a re-mapped filter can
    under-fetch, see ``readers._pushdown_parts``). When an order WAS set
    but dies at the hop, the LIMIT dies with it — a top-k-derived limit
    forwarded bare would make a deeper engine return k ARBITRARY rows as
    if they were its top-k."""
    from dataweb_spark.plans.pruning import source_can_match

    visited: set[tuple[str, str]] = set()

    def plan(relay_name: str, entity_name: str,
             f: EntityFacts) -> SourcePlan | None:
        if (relay_name, entity_name) in visited:
            return None  # duplicate-request dedup (flight.rs:545-555)
        visited.add((relay_name, entity_name))
        relay = web.relay(relay_name)
        if entity_name not in relay.entities:
            raise KeyError(
                f"relay {relay_name!r} has no entity {entity_name!r}")
        conj = f.conjuncts
        live, pruned = [], []
        for source in relay.sources_for_entity(entity_name):
            if conj and source.bounds and not source_can_match(
                    conj, source.bounds):
                pruned.append(source)
            else:
                live.append(source)
        hops = []
        for rm in relay.remotes_for_entity(entity_name):
            order = _map_order_through(web, relay, rm, f.order_by, conj)
            child = plan(rm.peer, rm.remote_entity, EntityFacts(
                conjuncts=_map_conjuncts_through(rm, conj),
                limit=(f.limit if _template_trivial(rm)
                       and (f.order_by is None or order is not None)
                       else None),
                referenced=_map_referenced_through(rm, f.referenced),
                order_by=order,
                grouped=_map_grouped_through(web, relay, rm, f.grouped,
                                             conj)))
            if child is not None:
                hops.append((rm, child))
        if not live and not pruned and not hops:
            return None
        return SourcePlan(relay, entity_name, f, _replica_groups(live),
                          pruned, hops)

    return plan(relay_name, entity_name, facts or EntityFacts())


def failover(relay_name: str, group: list[DataSource], build,
             failures: list | None = None):
    """``build(source)`` for the first member of a replica group that
    builds, in preference order; each member that raises is recorded in
    ``failures`` (if given) as ``(relay, source, error)``. Raises the
    last error when every member fails — for a singleton group, the one
    source's own error."""
    err = None
    for source in group:
        try:
            return build(source)
        except Exception as e:  # noqa: BLE001 — replica failover
            err = e
            if failures is not None:
                failures.append((relay_name, source.name, str(e)))
    raise err


def _union_frame(spark: SparkSession, plan: SourcePlan,
                 principal: str | None, allow_partial: bool,
                 failures: list | None) -> DataFrame | None:
    """The row-path fold of a source plan: one view per replica group
    (with failover), each hop's child union mapped into this relay's
    namespace — over the peer's UNION, so a non-trivial ``sql_template``
    keeps its meaning."""
    parts: list[DataFrame] = []
    for group in plan.groups:
        try:
            parts.append(failover(
                plan.relay.name, group,
                lambda s: plan.scan(spark, s, principal), failures))
        except Exception:
            if not allow_partial:
                raise
    for rm, child in plan.hops:
        peer_df = _union_frame(spark, child, principal, allow_partial,
                               failures)
        if peer_df is not None:
            parts.append(_apply_remote_mapping(spark, plan.relay, rm,
                                               peer_df))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def resolve_entity(spark: SparkSession, web: Web, relay_name: str,
                   entity_name: str, principal: str | None = None,
                   conjuncts: list | None = None,
                   allow_partial: bool = False,
                   failures: list[tuple[str, str, str]] | None = None,
                   limit: int | None = None,
                   referenced: set[str] | None = None,
                   order_by: list | None = None,
                   grouped=None
                   ) -> DataFrame | None:
    """Resolve an entity to the union of all its mapped sources, local and
    remote-recursive (:func:`plan_entity` under these pushdown facts).
    Returns None when nothing maps.

    ``allow_partial`` replicates the reference's peer-failure policy
    (failures logged and skipped, partial results proceed —
    ``flight_server/src/flight.rs:273-306``): a source whose view can't be
    built (missing path, bad SQL, unreachable engine) is dropped from the
    union instead of failing the query; ``failures`` (if given) collects
    ``(relay, source, error)`` for the caller's status surface."""
    plan = plan_entity(web, relay_name, entity_name,
                       EntityFacts(conjuncts, limit, referenced, order_by,
                                   grouped))
    if plan is None:
        return None
    return _union_frame(spark, plan, principal, allow_partial, failures)


def register_entity_views(spark: SparkSession, web: Web, relay_name: str,
                          principal: str | None = None,
                          include_provenance: bool = True,
                          predicates: dict[str, list] | None = None,
                          allow_partial: bool = False,
                          failures: list | None = None,
                          only: set[str] | None = None,
                          limits: dict[str, int] | None = None,
                          referenced: set[str] | None = None,
                          order_limits: dict | None = None,
                          grouped_limits: dict | None = None) -> list[str]:
    """Register every entity of a relay as a temp view for SQL querying —
    the ``register_web_sources`` analog (``webengine/src/register.rs:36-90``).

    ``predicates`` maps entity name → pruning conjuncts for that query
    (see ``resolve_entity``); ``allow_partial``/``failures`` forward the
    peer-failure policy. ``only`` restricts registration to the entities a
    query actually references — on a catalog with hundreds of entities,
    resolving all of them per call is pure planning latency. Returns the
    list of registered entity names.
    """
    relay = web.relay(relay_name)
    registered = []
    threshold = int(spark.conf.get("spark.dataweb.broadcastRowThreshold",
                                   "1000000"))
    for entity_name in relay.entities:
        if only is not None and entity_name not in only:
            continue
        ol = (order_limits or {}).get(entity_name)
        df = resolve_entity(spark, web, relay_name, entity_name, principal,
                            conjuncts=(predicates or {}).get(entity_name),
                            allow_partial=allow_partial, failures=failures,
                            limit=(ol[1] if ol else
                                   (limits or {}).get(entity_name)),
                            referenced=referenced,
                            order_by=(ol[0] if ol else None),
                            grouped=(grouped_limits or {}).get(entity_name))
        if df is None:
            continue
        if not include_provenance:
            df = df.drop(PROVENANCE_RELAY, PROVENANCE_SOURCE)
        est = _entity_row_estimate(relay, entity_name)
        if est is not None and est <= threshold:
            # Small all-local entity: hint broadcast. Federated views are
            # black boxes to Spark's size estimator (peer-backed mapInArrow
            # scans report no sizeInBytes), so a tiny dimension entity
            # would otherwise shuffle-join against a 100 TB fact entity.
            df = df.hint("broadcast")
        df.createOrReplaceTempView(entity_name)
        # Entity names may shadow a canonical table view (the demo web's
        # `lineitem` entity does) — invalidate the register_views memo
        # so the next plain-table query re-registers the raw view.
        from dataweb_spark.session import view_memo_invalidate
        view_memo_invalidate(spark)
        registered.append(entity_name)
    return registered


def _entity_row_estimate(relay: RelayCatalog, entity_name: str) -> int | None:
    """Collected-stats row estimate for an entity view: the sum of
    ``DataSource.stat_rows`` over its local sources (one member per
    replica group), or None when any counted source lacks stats or the
    entity has remote branches (a peer's volume is its own business —
    never assume a remote is small)."""
    if relay.remotes_for_entity(entity_name):
        return None
    rows = [g[0].stat_rows
            for g in _replica_groups(relay.sources_for_entity(entity_name))]
    return None if None in rows else sum(rows)

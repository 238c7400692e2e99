"""Source-level pruning: skip entire mapped sources whose declared value
bounds contradict the query's predicates.

The reference queries *every* mapped source unconditionally
(``core/src/execute/mod.rs:98-139`` iterates all mappings) — SURVEY.md §4
flags source pruning as an improvement, not parity. At 100 TB this is the
federation-layer analog of partition pruning: a web where each source holds
one year of data should scan one source for a one-year query, not all of
them. Catalyst prunes *files* via parquet min/max but still schedules a scan
per union branch; this module removes the branch from the plan entirely.

Mechanics — all Spark-native, no SQL re-parsing of our own:

* ``extract_entity_predicates`` walks the unresolved logical plan that
  ``validation.validate_sql`` parsed with Spark's own parser for ``Filter``
  nodes whose subtree reads exactly the target entity; their conditions
  are decomposed into conjuncts of the shape ``<column> <op> <literal>``.
* Sources declare optional per-logical-column ``bounds`` (min/max) in the
  catalog (YAML ``bounds: {shipdate: ["1995-01-01", "1995-12-31"]}``).
* ``source_can_match`` is an interval-satisfiability check: a source is
  pruned only when some conjunct is *provably* disjoint from its bounds.
  Unknown operators, OR-trees, expressions, un-bounded sources → never
  pruned (conservative, correctness-safe).

Pruning decisions are deterministic and cheap (pure metadata); they happen
at view-resolution time, before any Spark job runs.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import SparkSession

from dataweb_spark.plans.validation import ParsedQuery

# Conjunct = (column_name, op, python_value); op ∈ {'=','<','<=','>','>='}
Conjunct = tuple[str, str, Any]

_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}
_CMP_NODES = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}


def _literal_value(jlit) -> Any:
    """Convert a Catalyst Literal to a comparable Python value."""
    # Scala singleton types print as e.g. 'DateType$' — strip the marker
    dt = jlit.dataType().getClass().getSimpleName().rstrip("$")
    v = jlit.value()
    if v is None:
        return None
    if dt in ("DateType",):
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(str(v)))
    if dt in ("StringType",):
        return str(v)
    if dt in ("IntegerType", "LongType", "ShortType", "ByteType"):
        return int(str(v))
    if dt in ("DoubleType", "FloatType", "DecimalType"):
        return float(str(v))
    return None  # timestamps/binary/etc.: not comparable here -> ignored


def _conjuncts_from_condition(jexpr, out: list[Conjunct]) -> None:
    name = jexpr.getClass().getSimpleName()
    if name == "And":
        _conjuncts_from_condition(jexpr.left(), out)
        _conjuncts_from_condition(jexpr.right(), out)
        return
    op = _CMP_NODES.get(name)
    if op is None:
        return  # OR / IN / functions / ... -> no pruning from this node
    left, right = jexpr.left(), jexpr.right()
    lname = left.getClass().getSimpleName()
    rname = right.getClass().getSimpleName()
    if lname == "UnresolvedAttribute" and rname == "Literal":
        col, lit, o = left, right, op
    elif lname == "Literal" and rname == "UnresolvedAttribute":
        col, lit, o = right, left, _FLIP[op]
    else:
        return
    v = _literal_value(lit)
    if v is not None:
        # nameParts.last: 'lineitem.shipdate' -> 'shipdate'
        out.append((str(col.name()).split(".")[-1].lower(), o, v))


# Nodes that may sit between a Filter and the base relation without
# renaming, deriving, or aggregating columns. Anything else (Project with
# aliases, Aggregate, Window, Distinct, ...) can expose a column whose NAME
# matches a base column but whose VALUE is derived — e.g.
# ``select * from (select max(shipdate) as shipdate from sales) where
# shipdate < X`` — and pruning on it would be unsound.
_TRANSPARENT_NODES = {"Filter", "SubqueryAlias", "UnresolvedRelation",
                      "GlobalLimit", "LocalLimit"}


def _filter_sees_base_columns(jfilter, entity: str) -> bool:
    """True when every path from this Filter down to the scan passes only
    through column-preserving nodes and ends at exactly ``entity``."""
    rels: set[str] = set()
    ch = jfilter.children()
    stack = [ch.apply(i) for i in range(ch.size())]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "UnresolvedRelation":
            parts = node.multipartIdentifier()
            rels.add(str(parts.apply(parts.size() - 1)).lower())
            continue
        if name not in _TRANSPARENT_NODES:
            return False
        sub = node.children()
        for i in range(sub.size()):
            stack.append(sub.apply(i))
    return rels == {entity.lower()}


def _count_entity_refs(jplan, entity: str) -> int:
    """How many times the parsed plan references ``entity`` as a relation."""
    n_refs = 0
    stack = [jplan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "UnresolvedRelation":
            parts = node.multipartIdentifier()
            if str(parts.apply(parts.size() - 1)).lower() == entity.lower():
                n_refs += 1
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return n_refs


def extract_entity_predicates(q: ParsedQuery, entity: str) -> list[Conjunct]:
    """Conjunctive ``col op literal`` predicates the query applies to
    ``entity``, harvested only from Filter nodes whose child subtree is the
    plain relation (no Aggregate/Project/Window in between) so every
    referenced attribute is a base-table column.

    If the query references the entity MORE than once (self-join of
    differently-filtered derived tables), the harvested conjuncts from the
    two branches would be conjoined — unsound for both pruning and peer
    pushdown — so multi-reference queries yield no conjuncts."""
    if _count_entity_refs(q.plan, entity) != 1:
        return []
    out: list[Conjunct] = []
    stack = [q.plan]
    while stack:
        node = stack.pop()
        if (node.getClass().getSimpleName() == "Filter"
                and _filter_sees_base_columns(node, entity)):
            _conjuncts_from_condition(node.condition(), out)
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


# Nodes through which a LIMIT may be pushed below without changing which
# rows *can* appear: projection keeps cardinality, aliases/limits are
# transparent. A Filter/Sort/Aggregate/Join/Distinct below the limit makes
# per-source limiting unsound (fewer-than-N surviving rows) or order-
# dependent, so any other node aborts.
_LIMIT_TRANSPARENT = {"Project", "SubqueryAlias", "GlobalLimit", "LocalLimit",
                      "UnresolvedRelation"}


def extract_entity_limit(q: ParsedQuery, entity: str) -> int | None:
    """The smallest LIMIT the query provably applies directly over
    ``entity`` with nothing but projections in between — safe to replicate
    per federated source (each source returning ≤N rows still leaves the
    outer LIMIT N over the union correct under LIMIT-without-ORDER
    semantics). None when no such limit exists.

    As with predicate extraction, a query that references the entity MORE
    than once (e.g. a limited derived table joined back against the raw
    entity) must not push the one branch's LIMIT into the shared entity
    view — the other branch needs the untruncated rows — so multi-reference
    queries yield no limit."""
    if _count_entity_refs(q.plan, entity) != 1:
        return None
    best: int | None = None
    stack = [q.plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "GlobalLimit":
            lim = node.limitExpr()
            if lim.getClass().getSimpleName() == "Literal":
                # chain below must be limit-transparent and end at entity
                ok, rels = True, set()
                sub = [node.children().apply(i)
                       for i in range(node.children().size())]
                while sub:
                    n2 = sub.pop()
                    nm = n2.getClass().getSimpleName()
                    if nm == "UnresolvedRelation":
                        parts = n2.multipartIdentifier()
                        rels.add(str(parts.apply(parts.size() - 1)).lower())
                        continue
                    if nm not in _LIMIT_TRANSPARENT:
                        ok = False
                        break
                    c2 = n2.children()
                    for i in range(c2.size()):
                        sub.append(c2.apply(i))
                if ok and rels == {entity.lower()}:
                    v = int(str(lim.value()))
                    best = v if best is None else min(best, v)
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return best


def _collect_attrs(jexpr, out: set[str]) -> bool:
    """Gather UnresolvedAttribute name parts from an expression tree; returns
    False when a star is seen (meaning: everything referenced)."""
    name = jexpr.getClass().getSimpleName()
    if name in ("UnresolvedStar", "UnresolvedRegex"):
        return False
    if name == "UnresolvedAttribute":
        parts = jexpr.nameParts()
        for i in range(parts.size()):
            out.add(str(parts.apply(i)).lower())
        return True
    ch = jexpr.children()
    for i in range(ch.size()):
        if not _collect_attrs(ch.apply(i), out):
            return False
    return True


def extract_referenced_columns(q: ParsedQuery) -> set[str] | None:
    """Every identifier token the query references anywhere (column names
    and qualifiers alike, lowercased) — a conservative OVER-approximation of
    the columns read, used to project federated peer scans. ``None`` means
    "could be anything" (a ``*`` appears somewhere): callers must then
    fetch every mapped column."""
    out: set[str] = set()
    stack = [q.plan]
    while stack:
        node = stack.pop()
        exprs = node.expressions()
        for i in range(exprs.size()):
            if not _collect_attrs(exprs.apply(i), out):
                return None
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


# Nodes a star-shape probe may walk through from the top: they pass their
# child's output schema up unchanged.
_OUTPUT_PASSTHROUGH = {"Sort", "GlobalLimit", "LocalLimit", "Offset",
                       "SubqueryAlias", "Distinct", "Deduplicate", "Filter",
                       "UnresolvedHint", "UnresolvedHaving"}


def output_shape_has_star(q: ParsedQuery) -> bool:
    """True when the query's OUTPUT column set depends on the relation's
    width — a top-level ``SELECT *`` (or ``tbl.*`` / regex projection).
    Stars nested inside functions (``count(*)``) don't widen the output and
    return False. Conservative: unrecognized shapes → True."""
    node = q.plan
    while (node.getClass().getSimpleName() in _OUTPUT_PASSTHROUGH
           and node.children().size() == 1):
        node = node.children().apply(0)
    name = node.getClass().getSimpleName()
    if name == "Project":
        exprs = node.projectList()
    elif name == "Aggregate":
        exprs = node.aggregateExpressions()
    else:
        return True
    for i in range(exprs.size()):
        if exprs.apply(i).getClass().getSimpleName() in (
                "UnresolvedStar", "UnresolvedRegex"):
            return True
    return False


def _coerce_pair(a: Any, b: Any) -> tuple[Any, Any] | None:
    """Make bound and literal comparable; None when types don't mix."""
    if isinstance(a, str) and isinstance(b, _dt.date):
        try:
            return _dt.date.fromisoformat(a), b
        except ValueError:
            return None
    if isinstance(b, str) and isinstance(a, _dt.date):
        try:
            return a, _dt.date.fromisoformat(b)
        except ValueError:
            return None
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num):
        return a, b
    if type(a) is type(b):
        return a, b
    return None


# Entity-column types whose min/max are meaningful for interval pruning
# (matches what _literal_value can produce from query conjuncts).
_STATS_TYPES = ("int", "bigint", "smallint", "tinyint", "long", "short",
                "byte", "float", "double", "date", "string")


def collect_source_stats(spark: SparkSession, web, relay_name: str,
                         entity_name: str | None = None,
                         overwrite: bool = False,
                         connection_types: tuple[str, ...] = ("file", "view"),
                         ) -> dict[tuple[str, str], dict[str, tuple]]:
    """Auto-derive zone maps: compute per-source min/max over the mapped
    *logical* columns and install them as ``DataSource.bounds``, so
    source-level pruning works without hand-declared bounds (the federation
    analog of parquet footer statistics — one cheap stats pass buys branch
    elimination on every later query).

    Soundness: stats run over the UNPERMISSIONED mapped frame (a
    per-principal row policy narrows what a principal sees, never widens
    it, so unpermissioned bounds cover every principal), and over the
    logical columns (transformations applied), the same namespace query
    conjuncts use. Bounds describe the data as-scanned: re-collect after
    rewriting a source (append-only growth widens ranges — stale bounds can
    then wrongly prune, exactly like any warehouse zone map, so ingest
    pipelines should pair appends with a re-collect or ``overwrite``).

    Scale shape: ONE min/max aggregate job per source — column-pruned scan,
    map-side partial agg, single-row result (metadata, not data, comes to
    the driver). Remote sources are each relay's own responsibility
    (recursion passes mapped conjuncts to peers, who prune against their
    own zone maps); by default only local ``file``/``view`` connections are
    scanned. Returns ``{(relay, source): {col: (lo, hi)}}`` of newly
    installed bounds. Already-declared bounds are kept unless
    ``overwrite``.
    """
    import dataclasses
    import datetime
    from pyspark.sql import functions as F
    from dataweb_spark.plans.resolve import map_source_frame
    from dataweb_spark.sources.readers import read_source_frame

    def _plain(v):
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return v

    installed: dict[tuple[str, str], dict[str, tuple]] = {}
    relay = web.relay(relay_name)
    for source in relay.sources.values():
        if entity_name is not None and source.entity != entity_name:
            continue
        conn = relay.connections[source.connection]
        if conn.kind not in connection_types:
            continue
        entity = relay.entities[source.entity]
        cols = [i.name for i in entity.informations
                if i.data_type.lower().startswith(_STATS_TYPES)
                and source.mapping_for(i.name) is not None
                and (overwrite or i.name not in source.bounds)]
        if not cols and source.stat_rows is not None and not overwrite:
            continue
        bare = dataclasses.replace(source, default_permission=None,
                                   user_permissions={})
        raw, projected = read_source_frame(spark, conn, bare,
                                           None, None, None)
        mapped = map_source_frame(raw, relay, bare, principal=None,
                                  projected=projected)
        # row count rides the SAME single stats job (used for the
        # small-entity broadcast decision, see register_entity_views)
        aggs = [F.count(F.lit(1)).alias("_n_rows")]
        for c in cols:
            aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
        row = mapped.agg(*aggs).collect()[0]
        source.stat_rows = int(row["_n_rows"])
        new: dict[str, tuple] = {}
        for c in cols:
            lo, hi = _plain(row[f"_lo_{c}"]), _plain(row[f"_hi_{c}"])
            if lo is None and hi is None:
                continue  # empty source / all-NULL column: nothing to say
            new[c] = (lo, hi)
        if new:
            source.bounds = {**source.bounds, **new}
            installed[(relay_name, source.name)] = new
    return installed


def source_can_match(conjuncts: list[Conjunct],
                     bounds: dict[str, tuple[Any, Any]]) -> bool:
    """False only when some conjunct is provably disjoint from the source's
    declared [lo, hi] for that column (inclusive bounds)."""
    norm = {k.lower(): v for k, v in bounds.items()}
    for col, op, value in conjuncts:
        if col not in norm:
            continue
        lo, hi = norm[col]
        if lo is not None:
            p = _coerce_pair(lo, value)
            if p is not None:
                lo_c, v = p
                if ((op == "=" and v < lo_c) or (op == "<" and v <= lo_c)
                        or (op == "<=" and v < lo_c)):
                    return False
        if hi is not None:
            p = _coerce_pair(hi, value)
            if p is not None:
                hi_c, v = p
                if ((op == "=" and v > hi_c) or (op == ">" and v >= hi_c)
                        or (op == ">=" and v > hi_c)):
                    return False
    return True

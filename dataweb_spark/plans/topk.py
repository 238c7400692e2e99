"""Federated TOP-K pushdown over engine-mode peers.

For a single-entity ``SELECT … ORDER BY … LIMIT k`` with no aggregation,
the row path ships every (filtered) entity row from every federated
source and sorts locally — O(rows) transfer for a k-row answer. The
classic federated top-k instead ships each source's OWN top-k and
re-merges: the global top-k of a union is contained in the union of
per-source top-ks, so ``k·sources`` rows cross the wire. The reference
pushes LIMIT alone into per-endpoint scans
(``webengine/src/web_source.rs:111-118``) but cannot push a limit
through ORDER BY (a bare per-source limit under a sort is wrong); this
module adds the order-aware form the reference lacks.

Mechanics mirror ``plans/aggpush.py``: the plan ``validate_sql`` parsed
with Spark's own parser is validated node-by-node —
``GlobalLimit(k) → LocalLimit → Sort → {Project/Filter/SubqueryAlias}*
→ entity`` with no aggregates, windows, DISTINCT, subqueries, or stars.
Sort keys resolvable from the SELECT's own output columns merge
directly; keys over UNPROJECTED entity columns ship as HIDDEN columns
(``__tk0`` …) appended to a reconstructed forward query — the same
hidden-partial trick the aggregate decomposer uses for HAVING — and are
dropped after the merge. The gateway runs the forward query through the
template machinery (identity flight peers receive it verbatim via
``flight_forward_template`` and answer with ≤k rows; row-path sources
compute their top-k locally) and ``TopKSpec.merge`` re-sorts the union
and takes k — which Spark plans as ``TakeOrderedAndProject``, never a
full sort. Anything unprovable returns None: the always-safe direction.

**Tie nondeterminism.** When the sort keys are not a total order over
the projected columns, per-source LIMIT pushdown changes WHICH
tie-boundary rows come back relative to the row path: each engine picks
its own k tied rows before the merge. Both answers are valid under SQL
ORDER BY/LIMIT semantics, but results become engine- and
pushdown-dependent. When strict reproducibility matters, sort on every
projected column (the shipped ``fed_topk_pushdown`` query does exactly
this) or disable the pushdown (``gateway.query(topk_pushdown=False)``).
The same caveat applies to the grouped form (``extract_grouped_topk``):
``row_number()`` over tied keys is itself tie-nondeterministic on ANY
path, pushed or not.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataweb_spark.plans.aggpush import _bare_attr, _cls, _tree_has
from dataweb_spark.plans.validation import ParsedQuery

# nodes the per-source replay makes row-local: each source running the
# full query applies them to its own rows only, which composes with the
# outer re-sort iff nothing between Sort and the relation mixes rows
# ACROSS sources (aggregates, windows, distinct, joins, set ops all do)
_ROW_LOCAL = {"Project", "Filter", "SubqueryAlias"}

# expression classes that break per-source replay or merge re-sort
_FORBIDDEN_EXPR = ("Window", "Subquery", "Exists", "ListQuery",
                   "InSubquery", "Star", "Regex", "Generator",
                   "UnresolvedAlias")


def _sort_columns(order: list[tuple[str, str, str]]) -> list:
    """Column objects for ``(sql, "ASC"|"DESC", "NULLS ...")`` triples."""
    cols = []
    for sql_str, direction, nulls in order:
        c = F.expr(sql_str)
        if direction == "DESC":
            c = (c.desc_nulls_first() if nulls == "NULLS FIRST"
                 else c.desc_nulls_last())
        else:
            c = (c.asc_nulls_last() if nulls == "NULLS LAST"
                 else c.asc_nulls_first())
        cols.append(c)
    return cols


@dataclass
class TopKSpec:
    k: int
    # (merge-frame expression sql, "ASC"|"DESC", "NULLS FIRST"|...)
    order: list[tuple[str, str, str]]
    output_cols: list[str]
    # the query each source executes (the original SQL, or the
    # reconstructed form carrying hidden sort columns)
    forward_sql: str = ""
    # hidden column names to drop after the merge
    hidden: list[str] = field(default_factory=list)
    # LIMIT k OFFSET n: the offset is GLOBAL — each source fetches its
    # top-(k+n) (forward_sql carries LIMIT k+n, never the offset) and
    # the merge skips n rows of the re-sorted union
    offset: int = 0

    def merge(self, union_df: DataFrame) -> DataFrame:
        """Re-sort the union of per-source top-ks and take k — plans as
        ``TakeOrderedAndProject`` over the ≤ (k+offset)·sources rows."""
        from dataweb_spark.plans.resolve import (
            PROVENANCE_RELAY,
            PROVENANCE_SOURCE,
        )
        df = union_df.drop(PROVENANCE_RELAY, PROVENANCE_SOURCE)
        out = df.orderBy(*_sort_columns(self.order))
        if self.offset:
            out = out.offset(self.offset)
        out = out.limit(self.k)
        # re-project to the declared output set: drops hidden __tk
        # columns and pins the column order the caller's SELECT declared
        # (backtick-quoted so dotted/odd alias names stay one column)
        return out.select(*[F.col("`" + c.replace("`", "``") + "`")
                            for c in self.output_cols])


def _project_output_names(project) -> list[str] | None:
    """Output column names of a Project node; None when any item has no
    statically-knowable name (stars, un-aliased expressions), embeds a
    construct that breaks per-source replay (windows, subqueries), or
    DUPLICATES another output name — Spark itself allows duplicate
    SELECT output names, but the merge's by-name re-projection would
    raise ``AMBIGUOUS_REFERENCE``, so the duplicate-alias query keeps
    the row path (where it runs, or fails, exactly as plain Spark)."""
    names: list[str] = []
    items = project.projectList()
    for i in range(items.size()):
        it = items.apply(i)
        if _tree_has(it, _FORBIDDEN_EXPR):
            return None
        cls = _cls(it)
        if cls == "Alias":
            names.append(str(it.name()))
        elif cls == "UnresolvedAttribute":
            parts = it.nameParts()
            names.append(str(parts.apply(parts.size() - 1)))
        else:
            return None
    if len({n.lower() for n in names}) != len(names):
        return None
    return names


def _expr_attrs(jexpr) -> list[str] | None:
    """All attribute names a sort expression references, lowercased;
    None when any attribute is qualified (multi-part) — scope-sensitive,
    so the conservative answer."""
    out: list[str] = []
    stack = [jexpr]
    while stack:
        n = stack.pop()
        if _cls(n) == "UnresolvedAttribute":
            a = _bare_attr(n)
            if a is None:
                return None
            out.append(a.lower())
            continue
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def _declared_lookup(entity_types: dict | None):
    """Case-insensitive resolver over the entity's declared columns:
    ``declared(col) -> (declared_case_name, logical_type)`` with
    ``(col, None)`` for names the entity doesn't declare (a None type
    never forwards downstream). Shared by both extractors so the
    emit-declared-case / type-evidence contract has ONE implementation."""
    typed = {name.lower(): (name, t)
             for name, t in (entity_types or {}).items()}

    def declared(col: str) -> tuple:
        hit = typed.get(col.lower())
        return hit if hit is not None else (col, None)

    return declared


def _topk_prefix(q: ParsedQuery, entity: str):
    """Shared plan-prefix validation for both extractors: return
    ``(k, offset, sort_node)`` when the plan opens with the top-k shape
    ``GlobalLimit(Literal k) → LocalLimit → [Offset(Literal n)] →
    Sort(global)`` over a single reference to ``entity``, else None. The
    root-shape checks run first: most queries fail them within a node or
    two, before the whole-tree reference count.

    LIMIT k OFFSET n parses with the Offset BELOW the limits; the offset
    is GLOBAL — forwarding it per source would skip n rows at EVERY
    source (wrong rows), so callers turn it into a k+n per-source fetch
    bound and a merge-side skip. SORT BY (per-partition sort) parses as
    Sort with global=false: each source would ship k ARBITRARY rows, not
    its top-k — only a global ORDER BY makes the merge law hold (r13
    review fix, regression-pinned in the rejection grid)."""
    from dataweb_spark.plans.pruning import _count_entity_refs
    jplan = q.plan
    if _cls(jplan) != "GlobalLimit":
        return None
    lim = jplan.limitExpr()
    if _cls(lim) != "Literal":
        return None
    try:
        k = int(str(lim.value()))
    except (TypeError, ValueError):
        return None
    if k <= 0:
        return None
    node = jplan.children().apply(0)
    if _cls(node) != "LocalLimit":
        return None
    node = node.children().apply(0)
    offset = 0
    if _cls(node) == "Offset":
        try:
            off_expr = node.offsetExpr()
            if _cls(off_expr) != "Literal":
                return None
            offset = int(str(off_expr.value()))
        except Exception:
            return None
        if offset < 0:
            return None
        node = node.children().apply(0)
    if _cls(node) != "Sort":
        return None
    try:
        if not bool(getattr(node, "global")()):
            return None
    except Exception:
        return None
    if _count_entity_refs(jplan, entity) != 1:
        return None
    return k, offset, node


def extract_topk_query(q: ParsedQuery, entity: str) -> TopKSpec | None:
    """A :class:`TopKSpec` when the query is a provably
    per-source-replayable top-k over ``entity``, else None."""
    prefix = _topk_prefix(q, entity)
    if prefix is None:
        return None
    k, offset, sort = prefix

    # chain below the Sort: row-local nodes only, ending at the entity,
    # with exactly one Project (the SELECT) defining the output columns.
    # The hidden-key reconstruction additionally needs the EXACT simple
    # shape Sort → Project → Filter* → Relation (no SubqueryAlias, no
    # Filter above the Project): reconstruction re-renders the pieces
    # into a fresh query, and only that shape provably re-renders with
    # identical scoping.
    outputs: list[str] | None = None
    project_node = None
    filter_conds: list = []
    simple_shape = True
    node = sort.children().apply(0)
    while True:
        cls = _cls(node)
        if cls == "UnresolvedRelation":
            parts = node.multipartIdentifier()
            name = str(parts.apply(parts.size() - 1)).lower()
            if name != entity.lower():
                return None
            break
        if cls not in _ROW_LOCAL:
            return None
        if cls == "Project":
            if outputs is not None:
                return None  # nested SELECTs: keep the row path
            outputs = _project_output_names(node)
            if outputs is None:
                return None
            project_node = node
        elif cls == "Filter":
            if _tree_has(node.condition(), _FORBIDDEN_EXPR):
                return None
            if outputs is None:
                simple_shape = False  # Filter ABOVE the Project
            else:
                filter_conds.append(node.condition())
        elif cls == "SubqueryAlias":
            simple_shape = False
        if node.children().size() != 1:
            return None
        node = node.children().apply(0)
    if outputs is None:
        return None

    outputs_lc = {o.lower() for o in outputs}
    order: list[tuple[str, str, str]] = []
    # (forward-select sql, hidden name) for keys over unprojected columns
    hidden_items: list[tuple[str, str]] = []
    needs_hidden = False
    so_seq = sort.order()
    parsed_orders: list[tuple] = []
    for i in range(so_seq.size()):
        so = so_seq.apply(i)
        child = so.child()
        if _tree_has(child, _FORBIDDEN_EXPR + ("UnresolvedFunction",)):
            # function calls in the key could be aggregates (parser can't
            # tell) or non-deterministic — conservatively keep row path
            return None
        try:
            direction = str(so.direction().sql()).upper()
            nulls = str(so.nullOrdering().sql()).upper()
        except Exception:
            return None
        parsed_orders.append((so, child, direction, nulls))

    hid = 0
    for so, child, direction, nulls in parsed_orders:
        # ORDER BY <ordinal>: the parser wraps integer literals in
        # UnresolvedOrdinal (spark.sql.orderByOrdinal default true) —
        # bind to the output position; a plain Literal (ordinal binding
        # off, or non-integer) sorts by a constant, which any engine may
        # reorder — keep the row path
        if _cls(child) == "UnresolvedOrdinal":
            try:
                pos = int(str(child.ordinal()))
            except Exception:
                return None
            if not (1 <= pos <= len(outputs)):
                return None
            order.append((f"`{outputs[pos - 1]}`", direction, nulls))
            continue
        if _cls(child) == "Literal":
            return None
        attrs = _expr_attrs(child)
        if attrs is None:
            return None
        if not attrs:
            # constant-foldable key (ORDER BY 1+1): sorts by a constant,
            # which any engine may reorder — same hazard as the bare
            # Literal above, caught separately because all() over an
            # empty attr list is vacuously true (r13 review fix)
            return None
        try:
            key_sql = child.sql()
        except Exception:
            return None
        if all(a in outputs_lc for a in attrs):
            # resolvable from the union frame directly
            order.append((key_sql, direction, nulls))
            continue
        # UNPROJECTED key: ship it as a hidden column. Safe only when
        # (a) the simple shape holds (reconstruction preserves scope),
        # (b) NO attr is an output alias — in ORDER BY an alias shadows
        #     the input column, but in the reconstructed SELECT item the
        #     same name would bind to the entity column (or a lateral
        #     alias), silently changing the key
        if not simple_shape or any(a in outputs_lc for a in attrs):
            return None
        needs_hidden = True
        while f"__tk{hid}" in outputs_lc:
            hid += 1
        hname = f"__tk{hid}"
        hid += 1
        hidden_items.append((key_sql, hname))
        order.append((f"`{hname}`", direction, nulls))
    if not order:
        return None

    if not needs_hidden and not offset:
        return TopKSpec(k=k, order=order, output_cols=outputs,
                        forward_sql=q.sql)
    if offset and not simple_shape:
        return None  # a global offset always needs reconstruction

    # reconstruct the forward query from Catalyst-rendered fragments:
    # SELECT <items>, <key> AS __tkN … FROM entity [WHERE …]
    # ORDER BY <original keys> LIMIT k+offset — parse-checked before use
    try:
        items = []
        plist = project_node.projectList()
        for i in range(plist.size()):
            items.append(str(plist.apply(i).sql()))
        for key_sql, hname in hidden_items:
            items.append(f"{key_sql} AS `{hname}`")
        where = ""
        if filter_conds:
            conj = " AND ".join(f"({c.sql()})" for c in filter_conds)
            where = f" WHERE {conj}"
        order_by = ", ".join(
            f"{child.sql()} {direction} {nulls}"
            if _cls(child) != "UnresolvedOrdinal"
            else f"`{outputs[int(str(child.ordinal())) - 1]}` "
                 f"{direction} {nulls}"
            for _, child, direction, nulls in parsed_orders)
        fwd = (f"SELECT {', '.join(items)} FROM {entity}{where} "
               f"ORDER BY {order_by} LIMIT {k + offset}")
        q.spark._jsparkSession.sessionState().sqlParser().parsePlan(fwd)
    except Exception:
        return None
    return TopKSpec(k=k, order=order, output_cols=outputs, offset=offset,
                    forward_sql=fwd,
                    hidden=[h for _, h in hidden_items])


# ---------------------------------------------------------------------------
# Row-path engine pushdown: the per-source ORDER BY + LIMIT fact
# ---------------------------------------------------------------------------

def _filters_fully_decompose(conds) -> bool:
    """True iff every Filter condition decomposes COMPLETELY into
    ``col op literal`` conjuncts — the shapes the peer-SQL renderer can
    push. Predicate extraction (`pruning.extract_entity_predicates`) is
    deliberately LOSSY (OR/IN/functions silently contribute nothing):
    sound for pruning and for filter pushdown (the full predicate re-runs
    locally), but an ORDER BY + LIMIT over an under-filtered peer stream
    UNDER-fetches — a superset's top-k can displace true top-k rows that
    the local re-filter then removes. So the order fact exists only when
    the pushed filter provably IS the whole filter."""
    from dataweb_spark.plans.pruning import _CMP_NODES, _literal_value
    stack = list(conds)
    while stack:
        n = stack.pop()
        cls = _cls(n)
        if cls == "And":
            stack.append(n.left())
            stack.append(n.right())
            continue
        if cls not in _CMP_NODES:
            return False
        left, right = n.left(), n.right()
        lc, rc = _cls(left), _cls(right)
        if lc == "UnresolvedAttribute" and rc == "Literal":
            attr, lit = left, right
        elif lc == "Literal" and rc == "UnresolvedAttribute":
            attr, lit = right, left
        else:
            return False
        if _bare_attr(attr) is None or _literal_value(lit) is None:
            return False
    return True


def extract_order_limit(q: ParsedQuery, entity: str,
                        entity_types: dict | None = None
                        ) -> tuple[list[tuple[str, str, str, str | None]],
                                   int] | None:
    """The ``(order_keys, k)`` fact a federated SOURCE may apply directly
    — each key ``(entity_column, direction, nulls, logical_type)`` with
    the column in its DECLARED case — or None.

    This is the row-path sibling of :func:`extract_topk_query`: where
    that one validates the MERGE (keys resolvable from the output frame),
    this one validates the per-source SQL rewrite (keys resolvable to
    base columns an engine dialect can render). Requirements beyond the
    top-k shape: every sort key must be a bare entity column — directly,
    via an output ALIAS of a bare column (covers the hidden ``__tk``
    columns of a reconstructed forward query), or via an ordinal — and
    every Filter in the chain must fully decompose into pushable
    conjuncts (see :func:`_filters_fully_decompose`). The consumer
    (``readers._pushdown_parts``) additionally requires, per source,
    identity-exact pushed conjuncts (a transformation-rewritten conjunct
    pushes with WIDENED bounds — float-safety semantics — and a widened
    filter under-fetches a per-source top-k the same way a lossy one
    does) and order-provable sort-key mappings
    (``readers._forward_order_key``: order-stable cast for identity
    mappings, strictly monotone affine transforms otherwise).

    ``entity_types`` maps entity column names (declared case) to their
    declared Spark types; each key carries its type so the consumer can
    prove cast stability. Keys are looked up case-insensitively (Spark
    resolution is case-insensitive) and emitted in the entity's declared
    case when found — a key the entity doesn't declare carries type None
    and never forwards.

    A plan without a LIMIT root fails the prefix's first check, so this
    costs one node inspection on most queries."""
    prefix = _topk_prefix(q, entity)
    if prefix is None:
        return None
    k, offset, sort = prefix
    # each source must fetch its top-(k+offset); the final local sql
    # applies the global offset over the union
    k += offset

    outputs: list[str] | None = None
    alias_child: dict = {}
    filter_conds: list = []
    node = sort.children().apply(0)
    while True:
        cls = _cls(node)
        if cls == "UnresolvedRelation":
            parts = node.multipartIdentifier()
            if str(parts.apply(parts.size() - 1)).lower() != entity.lower():
                return None
            break
        if cls == "Project":
            if outputs is not None:
                return None
            outputs = _project_output_names(node)
            if outputs is None:
                return None
            plist = node.projectList()
            for i in range(plist.size()):
                it = plist.apply(i)
                if _cls(it) == "Alias":
                    alias_child[str(it.name()).lower()] = \
                        it.children().apply(0)
                else:  # UnresolvedAttribute (per _project_output_names)
                    alias_child[outputs[i].lower()] = it
        elif cls == "Filter":
            if _tree_has(node.condition(), _FORBIDDEN_EXPR):
                return None
            filter_conds.append(node.condition())
        else:
            return None  # SubqueryAlias etc.: scope-sensitive, bail
        if node.children().size() != 1:
            return None
        node = node.children().apply(0)
    if outputs is None:
        return None
    if not _filters_fully_decompose(filter_conds):
        return None

    def resolve_to_entity_col(name: str) -> str | None:
        """An ORDER BY attribute binds to the output alias first, then
        the input column; follow an alias to its child and accept only a
        bare base column either way."""
        tgt = alias_child.get(name.lower())
        if tgt is None:
            return name  # not an output name: a base column reference
        a = _bare_attr(tgt)
        return a  # alias of a bare column -> that column; else None

    declared = _declared_lookup(entity_types)
    keys: list[tuple[str, str, str, str | None]] = []
    so_seq = sort.order()
    for i in range(so_seq.size()):
        so = so_seq.apply(i)
        child = so.child()
        try:
            direction = str(so.direction().sql()).upper()
            nulls = str(so.nullOrdering().sql()).upper()
        except Exception:
            return None
        if _cls(child) == "UnresolvedOrdinal":
            try:
                pos = int(str(child.ordinal()))
            except Exception:
                return None
            if not (1 <= pos <= len(outputs)):
                return None
            name = outputs[pos - 1]
        else:
            name = _bare_attr(child)
            if name is None:
                return None
        col = resolve_to_entity_col(name)
        if col is None:
            return None
        col, ltype = declared(col)
        keys.append((col, direction, nulls, ltype))
    if not keys:
        return None
    return keys, k


# ---------------------------------------------------------------------------
# Grouped TOP-K (top-n per group) pushdown
# ---------------------------------------------------------------------------

@dataclass
class GroupedTopKSpec:
    """Per-source replayable ``row_number()/rank()/dense_rank() OVER
    (PARTITION BY g ORDER BY s) <= n`` — the classic federated
    top-n-per-group (the reference's Q3 top-revenue-per-customer pattern,
    ``webengine/src/main.rs:86-124``, computed there over fully shipped
    rows).

    The superset law that makes the per-source replay sound: for every
    row, its rank WITHIN ITS OWN SOURCE's partition slice is ≤ its rank
    over the union's partition (a source's rows are a subset of the
    union's — fewer rows/distinct values can precede it), for all three
    supported rank functions. So each source answering its own per-group
    top-n is a superset of the global answer, wire O(n·groups·sources),
    and the merge re-windows the union and re-applies the ORIGINAL rank
    predicate. Like the flat top-k, a widened/dropped filter or a
    permissioned source would break the subset premise — the forward
    query carries the whole WHERE, and sources that can't honor it keep
    the row path via the template machinery's per-source replay.
    """

    # original rank predicate, re-applied at the merge: ("<=", 3) etc.
    op: str
    value: int
    # per-source fetch bound: forward query ships rank <= bound
    bound: int
    fn: str                      # row_number | rank | dense_rank
    partition: list[str]         # union-frame column names
    order: list[tuple[str, str, str]]  # (union-frame sql, dir, nulls)
    rank_alias: str              # the user's alias for the rank column
    output_cols: list[str]       # final outer SELECT output names
    forward_sql: str = ""
    # union-frame columns fetched only for the re-window, dropped after
    hidden: list[str] = field(default_factory=list)
    # presentational ORDER BY [LIMIT] above the rank filter: applied at
    # the merge over the final ≤ n·groups·sources rows, never forwarded
    final_order: list[tuple[str, str, str]] = field(default_factory=list)
    final_limit: int | None = None
    # the ENTITY-namespace window fact for per-source engine rendering
    # (the row-path sibling, ``readers._pushdown_parts`` grouped slot):
    # bare entity columns of the partition keys, and the order keys as
    # ``(col, dir, nulls, logical_type)`` — same shape as
    # ``extract_order_limit`` keys so the same soundness gates apply
    entity_partition: list[str] = field(default_factory=list)
    entity_order: list[tuple[str, str, str, str | None]] = \
        field(default_factory=list)

    def merge(self, union_df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from dataweb_spark.plans.resolve import (
            PROVENANCE_RELAY,
            PROVENANCE_SOURCE,
        )
        df = union_df.drop(PROVENANCE_RELAY, PROVENANCE_SOURCE)
        w = Window.partitionBy(
            *[F.col("`" + c.replace("`", "``") + "`")
              for c in self.partition]
        ).orderBy(*_sort_columns(self.order))
        rank_col = getattr(F, self.fn)().over(w)
        out = df.withColumn(self.rank_alias, rank_col)
        rc = F.col("`" + self.rank_alias.replace("`", "``") + "`")
        pred = {"<=": rc <= self.value,
                "<": rc < self.value,
                "=": rc == self.value}[self.op]
        out = out.where(pred)
        out = out.select(*[F.col("`" + c.replace("`", "``") + "`")
                           for c in self.output_cols])
        if self.final_order:
            out = out.orderBy(*_sort_columns(self.final_order))
        if self.final_limit is not None:
            out = out.limit(self.final_limit)
        return out


_RANK_FNS = ("row_number", "rank", "dense_rank")


def _rank_filter_fact(cond) -> tuple[str, str, int] | None:
    """``(attr_name, op, value)`` for a rank-bounding comparison of a bare
    attribute against a positive integer literal, normalized to the
    attribute on the left — else None."""
    cls = _cls(cond)
    flip = {"LessThanOrEqual": "GreaterThanOrEqual",
            "GreaterThanOrEqual": "LessThanOrEqual",
            "LessThan": "GreaterThan", "GreaterThan": "LessThan",
            "EqualTo": "EqualTo"}
    ops = {"LessThanOrEqual": "<=", "LessThan": "<", "EqualTo": "="}
    if cls not in flip:
        return None
    left, right = cond.left(), cond.right()
    if _cls(left) == "UnresolvedAttribute" and _cls(right) == "Literal":
        attr, lit, eff = left, right, cls
    elif _cls(left) == "Literal" and _cls(right) == "UnresolvedAttribute":
        attr, lit, eff = right, left, flip[cls]
    else:
        return None
    if eff not in ops:
        return None
    name = _bare_attr(attr)
    if name is None:
        return None
    try:
        v = int(str(lit.value()))
    except (TypeError, ValueError):
        return None
    return name, ops[eff], v


def extract_grouped_topk(q: ParsedQuery, entity: str,
                         entity_types: dict | None = None
                         ) -> GroupedTopKSpec | None:
    """A :class:`GroupedTopKSpec` when the query is a provably
    per-source-replayable top-n-per-group over ``entity``:

    ``[GlobalLimit(m) -> LocalLimit ->] [Sort(bare output keys) ->]
    Project(bare outputs) -> Filter(rank_alias <= n) -> [SubqueryAlias]
    -> Project(items + exactly one Alias(row_number|rank|dense_rank OVER
    (PARTITION BY bare-cols ORDER BY bare-cols, default frame)))
    -> Filter* -> entity``

    The optional top prefix is the common PRESENTATIONAL form (``…
    where rk <= n ORDER BY g, rk [LIMIT m]``); its sort/limit never
    forwards — it applies at the MERGE over the ≤ n·groups·sources
    re-windowed rows, where it is trivially cheap. Window
    partition/order columns must be bare entity columns that are NOT
    shadowed by a differently-sourced output alias (Spark's lateral
    column aliasing would silently rebind them in the reconstructed
    query); columns absent from the inner SELECT ship as extra plain
    columns and are dropped after the merge. Anything unprovable returns
    None — the row path stays correct, just O(rows) on the wire. The
    root-shape checks run before the whole-tree reference count.
    """
    from dataweb_spark.plans.pruning import _count_entity_refs
    jplan = q.plan

    # optional presentational GlobalLimit(m) -> LocalLimit prefix
    final_limit: int | None = None
    if _cls(jplan) == "GlobalLimit":
        lim = jplan.limitExpr()
        if _cls(lim) != "Literal":
            return None
        try:
            final_limit = int(str(lim.value()))
        except (TypeError, ValueError):
            return None
        if final_limit < 0:
            return None
        jplan = jplan.children().apply(0)
        if _cls(jplan) != "LocalLimit" or jplan.children().size() != 1:
            return None
        jplan = jplan.children().apply(0)

    # optional presentational Sort over the final output names
    final_order_nodes = None
    if _cls(jplan) == "Sort":
        try:
            if not bool(getattr(jplan, "global")()):
                return None  # SORT BY: per-partition, not a total order
        except Exception:
            return None
        final_order_nodes = jplan.order()
        if jplan.children().size() != 1:
            return None
        jplan = jplan.children().apply(0)
    elif final_limit is not None:
        return None  # bare LIMIT over the rank filter: row path keeps
        # LIMIT-without-ORDER's any-n-rows semantics in ONE engine; a
        # merged multi-source any-n is also valid but needlessly
        # different — and extract_entity_limit already handles it

    # outer Project: bare attributes only (merge re-projects by name)
    if _cls(jplan) != "Project":
        return None
    outputs = _project_output_names(jplan)
    if outputs is None:
        return None
    items = jplan.projectList()
    for i in range(items.size()):
        if _cls(items.apply(i)) != "UnresolvedAttribute":
            return None
    if jplan.children().size() != 1:
        return None

    # presentational sort keys must be output names (or ordinals) —
    # they run at the merge over the final frame, so nothing else is
    # in scope there
    final_order: list[tuple[str, str, str]] = []
    if final_order_nodes is not None:
        outputs_lc = {o.lower(): o for o in outputs}
        for i in range(final_order_nodes.size()):
            so = final_order_nodes.apply(i)
            child = so.child()
            try:
                direction = str(so.direction().sql()).upper()
                nulls = str(so.nullOrdering().sql()).upper()
            except Exception:
                return None
            if _cls(child) == "UnresolvedOrdinal":
                try:
                    pos = int(str(child.ordinal()))
                except Exception:
                    return None
                if not (1 <= pos <= len(outputs)):
                    return None
                name = outputs[pos - 1]
            else:
                a = _bare_attr(child)
                if a is None or a.lower() not in outputs_lc:
                    return None
                name = outputs_lc[a.lower()]
            final_order.append(("`" + name.replace("`", "``") + "`",
                                direction, nulls))
        if not final_order:
            return None

    node = jplan.children().apply(0)
    if _cls(node) != "Filter":
        return None
    fact = _rank_filter_fact(node.condition())
    if fact is None:
        return None
    rank_name, op, value = fact
    bound = value if op in ("<=", "=") else value - 1
    if bound < 1:
        return None
    node = node.children().apply(0)
    if _cls(node) == "SubqueryAlias":
        if node.children().size() != 1:
            return None
        node = node.children().apply(0)

    if _cls(node) != "Project":
        return None
    inner = node
    plist = inner.projectList()
    inner_names: list[str] = []
    # union-frame output name per entity column it carries verbatim-bare
    bare_out: dict[str, str] = {}
    alias_names: set[str] = set()
    rank_item = None
    fwd_items: list[str] = []
    for i in range(plist.size()):
        it = plist.apply(i)
        cls = _cls(it)
        if cls == "Alias" and _cls(it.children().apply(0)) \
                == "WindowExpression":
            if rank_item is not None:
                return None  # two windows: keep the row path
            rank_item = it
            inner_names.append(str(it.name()))
            continue
        if _tree_has(it, _FORBIDDEN_EXPR):
            return None
        if cls == "Alias":
            name = str(it.name())
            alias_names.add(name.lower())
            child = it.children().apply(0)
            a = _bare_attr(child)
            if a is not None and a.lower() not in bare_out:
                bare_out[a.lower()] = name
        elif cls == "UnresolvedAttribute":
            name = _bare_attr(it)
            if name is None:
                return None
            bare_out.setdefault(name.lower(), name)
        else:
            return None
        inner_names.append(name)
        try:
            fwd_items.append(str(it.sql()))
        except Exception:
            return None
    if rank_item is None:
        return None
    if _count_entity_refs(q.plan, entity) != 1:
        return None
    if len({n.lower() for n in inner_names}) != len(inner_names):
        return None
    if str(rank_item.name()).lower() != rank_name.lower():
        return None  # the filter bounds something else: not a rank gate
    rank_alias = str(rank_item.name())
    for o in outputs:
        if o.lower() != rank_alias.lower() \
                and o.lower() not in {n.lower() for n in inner_names}:
            return None

    # the window expression itself
    wexpr = rank_item.children().apply(0)
    wf, ws = wexpr.windowFunction(), wexpr.windowSpec()
    if _cls(wf) != "UnresolvedFunction":
        return None
    try:
        parts = wf.nameParts()
        if parts.size() != 1:
            return None
        fn = str(parts.apply(0)).lower()
        if fn not in _RANK_FNS:
            return None
        if wf.arguments().size() != 0 or bool(wf.isDistinct()):
            return None
        if wf.filter().isDefined():
            return None
    except Exception:
        return None
    if _cls(ws) != "WindowSpecDefinition":
        return None
    if not _cls(ws.frameSpecification()).startswith("UnspecifiedFrame"):
        return None

    def window_col(jexpr) -> tuple[str, str] | None:
        """``(union_frame_name, rendered_entity_col)`` for a window
        partition/order attribute, or None. A name that collides with an
        output ALIAS of a different expression is rejected: lateral
        column aliasing would rebind it in the reconstructed SELECT."""
        a = _bare_attr(jexpr)
        if a is None:
            return None
        low = a.lower()
        if low in alias_names and bare_out.get(low, "").lower() != low:
            return None
        out_name = bare_out.get(low)
        return out_name, str(jexpr.sql())

    hidden: list[str] = []
    inner_lower = {n.lower() for n in inner_names}

    def ship_hidden(jattr, col_sql: str) -> str | None:
        """Register an unprojected window column as an extra forwarded
        column; None when its name collides with an inner output (the
        only way past ``window_col`` is the rank alias itself — a window
        keyed on its own rank is ill-formed on every path)."""
        bare = _bare_attr(jattr)
        if bare is None or bare.lower() in inner_lower:
            return None
        if bare.lower() not in {h.lower() for h in hidden}:
            hidden.append(bare)
            fwd_items.append(col_sql)
        return bare

    declared = _declared_lookup(entity_types)

    partition: list[str] = []
    entity_partition: list[str] = []
    ps = ws.partitionSpec()
    if ps.size() == 0:
        return None  # un-partitioned: this is the flat top-k's job
    for i in range(ps.size()):
        wc = window_col(ps.apply(i))
        if wc is None:
            return None
        out_name, col_sql = wc
        entity_partition.append(declared(_bare_attr(ps.apply(i)))[0])
        if out_name is None:  # unprojected: ship it, drop after merge
            out_name = ship_hidden(ps.apply(i), col_sql)
            if out_name is None:
                return None
        partition.append(out_name)

    order: list[tuple[str, str, str]] = []
    entity_order: list[tuple[str, str, str, str | None]] = []
    order_sqls: list[str] = []
    os_ = ws.orderSpec()
    if os_.size() == 0:
        return None  # rank without ORDER BY is ill-defined everywhere
    for i in range(os_.size()):
        so = os_.apply(i)
        try:
            direction = str(so.direction().sql()).upper()
            nulls = str(so.nullOrdering().sql()).upper()
        except Exception:
            return None
        wc = window_col(so.child())
        if wc is None:
            return None
        out_name, col_sql = wc
        ecol, etype = declared(_bare_attr(so.child()))
        entity_order.append((ecol, direction, nulls, etype))
        if out_name is None:
            out_name = ship_hidden(so.child(), col_sql)
            if out_name is None:
                return None
        order.append(("`" + out_name.replace("`", "``") + "`",
                      direction, nulls))
        order_sqls.append(f"{col_sql} {direction} {nulls}")

    # below the inner Project: Filter* ending at the entity (simple
    # shape only — the reconstruction re-renders into a fresh query)
    filter_conds: list = []
    node = inner.children().apply(0)
    while True:
        cls = _cls(node)
        if cls == "UnresolvedRelation":
            parts = node.multipartIdentifier()
            if str(parts.apply(parts.size() - 1)).lower() != entity.lower():
                return None
            break
        if cls != "Filter":
            return None
        if _tree_has(node.condition(), _FORBIDDEN_EXPR):
            return None
        filter_conds.append(node.condition())
        if node.children().size() != 1:
            return None
        node = node.children().apply(0)

    # The ROW-PATH engine fact (entity_partition/entity_order) exists
    # only when the WHERE provably decomposes completely into pushable
    # conjuncts: extract_entity_predicates is LOSSY (an OR contributes
    # nothing), and a per-source window ranked over an UNDER-filtered
    # stream inflates true rows' ranks past the bound — the same
    # unrecoverable under-fetch the flat order fact guards against. The
    # whole-template forward is unaffected (it carries the full WHERE).
    if not _filters_fully_decompose(filter_conds):
        entity_partition = []
        entity_order = []

    # reconstruct the forward query — parse-checked before use
    taken = {n.lower() for n in inner_names} | {h.lower() for h in hidden}
    gk, i = "__gk0", 0
    while gk in taken:
        i += 1
        gk = f"__gk{i}"
    try:
        where = ""
        if filter_conds:
            conj = " AND ".join(f"({c.sql()})" for c in filter_conds)
            where = f" WHERE {conj}"
        part_sqls = [str(ps.apply(i).sql()) for i in range(ps.size())]
        rank_sql = (f"{fn}() OVER (PARTITION BY {', '.join(part_sqls)} "
                    f"ORDER BY {', '.join(order_sqls)}) AS `{gk}`")
        inner_sql = (f"SELECT {', '.join(fwd_items)}, {rank_sql} "
                     f"FROM {entity}{where}")
        keep = [n for n in inner_names
                if n.lower() != rank_alias.lower()] + hidden
        quoted = ", ".join("`" + c.replace("`", "``") + "`" for c in keep)
        fwd = (f"SELECT {quoted} FROM ({inner_sql}) "
               f"WHERE `{gk}` <= {bound}")
        q.spark._jsparkSession.sessionState().sqlParser().parsePlan(fwd)
    except Exception:
        return None
    return GroupedTopKSpec(op=op, value=value, bound=bound, fn=fn,
                           partition=partition, order=order,
                           rank_alias=rank_alias, output_cols=outputs,
                           forward_sql=fwd, hidden=hidden,
                           final_order=final_order,
                           final_limit=final_limit,
                           entity_partition=entity_partition,
                           entity_order=entity_order)

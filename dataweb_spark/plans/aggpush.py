"""Engine-mode partial-aggregate pushdown over federated peers.

For a single-entity aggregate query, shipping entity ROWS from network
peers and aggregating locally moves O(corpus) bytes; shipping per-source
PARTIAL aggregates moves O(groups). The reference gets this for free in
its template path (per-source partials merged client-side,
``test/validation.py:29-60``); this module brings the same economics to
ENGINE mode: when the query decomposes into distributive aggregates, the
gateway runs the *partial* form through the template machinery (which
forwards it whole to identity flight peers — ``flight_forward_template``)
and merges the partials with Spark aggregation, reproducing engine-mode
semantics exactly.

Everything is plan-driven: the plan ``validate_sql`` parsed with Spark's
own parser is validated node-by-node, and clause text is
regenerated with Catalyst's ``Expression.sql()`` — no regex surgery on
user SQL. Anything outside the accepted shape (non-distributive
aggregates, scalar wrappers around aggs, subqueries, expressions in
GROUP BY, window functions) returns None and the caller keeps the row
path; the decomposition rules are the classic ones (sum of counts, sum
of sums, min of mins, avg as sum/count). HAVING decomposes as a
post-merge filter (see ``_rewrite_having``).

DISTINCT aggregates (r12) decompose EXACTLY by refining the partial
grain: each source aggregates at ``GROUP BY groups, col`` — one row per
distinct (group, value) pair, never per entity row — and because the
values ship VERBATIM in those pairs, the merge re-deduplicates across
sources (``countDistinct`` / ``sum_distinct``; ``avg(DISTINCT)`` =
sum_distinct / count_distinct; ``min/max(DISTINCT)`` are plain min/max —
duplicates never affect extrema, so no grain refinement at all). Every
distributive aggregate stays correct at the finer grain (its
per-(group, value) partials re-combine to the same totals), so mixed
queries like ``count(distinct suppkey), sum(quantity)`` take the partial
path too. Transfer becomes O(distinct values) per source — bounded above
by the row count, typically orders of magnitude below it — where the row
path ships O(rows).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from dataweb_spark.plans.validation import ParsedQuery

_AGG_FNS = {"count", "sum", "min", "max", "avg"}


def _cast_avg_decimal(expr, src_type, summed: bool):
    """Match Spark's ``avg`` result type on DECIMAL inputs.

    A plain ``sum/count`` division over decimal(p, s) lands on Spark's
    generic division type decimal(38, 20) — numerically it keeps MORE
    digits than ``avg``'s decimal(p+4, s+4), so a repeating quotient
    (1/3) DIFFERS from the row path's avg beyond scale s+4 (r12-found
    latent bug, confirmed: 0.333333 vs 0.33333333333333333333). The cast
    reproduces avg's HALF_UP rounding at its exact scale. ``summed``
    says whether ``src_type`` is already the partial SUM type
    (decimal(min(38, p+10), s)) or the raw value type; when the sum
    saturates at precision 38 the input p is unrecoverable and the cast
    keeps precision 38 — values still match (the caller pre-casts the
    re-summed dividend to the engine's own sum type, so the division
    computes the engine's digits) with a wider SCHEMA than the row path
    only for inputs of p in [28, 33].
    Non-decimal inputs pass through (double division == double avg)."""
    from pyspark.sql.types import DecimalType

    if not isinstance(src_type, DecimalType):
        return expr
    p = src_type.precision - (10 if summed else 0)
    prec = 38 if (summed and src_type.precision >= 38) else min(38, p + 4)
    return expr.cast(DecimalType(prec, min(38, src_type.scale + 4)))


def _out_name(o: tuple) -> str:
    """Output column name for any output tuple kind: ("group", src,
    name), ("agg", fn, arg, name, digits), or ("expr", sql, name)."""
    return o[3] if o[0] == "agg" else o[2]


@dataclass
class AggQuerySpec:
    """A validated single-entity aggregate query, decomposed."""

    entity: str
    # output columns in order: ("group", source_attr, out_name) or
    # ("agg", fn, arg_sql_or_None_for_star, out_name, round_digits_or_None)
    outputs: list[tuple] = field(default_factory=list)
    group_attrs: list[str] = field(default_factory=list)
    where_sql: str | None = None
    # (output_name, ascending) pairs, applied after the merge
    order_by: list[tuple[str, bool]] = field(default_factory=list)
    limit: int | None = None
    # HAVING, rewritten to reference merged output / hidden column names;
    # applied after the merge aggregation, before ORDER BY / LIMIT
    having_sql: str | None = None
    # extra agg outputs the HAVING needs but the projection doesn't show:
    # same 5-tuples as "agg" outputs; computed at merge, dropped after the
    # filter (their partials ride partial_sql like any other aggregate)
    hidden: list[tuple] = field(default_factory=list)
    # grouping keys the projection does NOT show, as (source_sql,
    # synthetic_name): the partial must still ship them and the merge must
    # still group on them — a merge grouped only on projected keys would
    # collapse distinct groups into one row (r12 latent-bug fix)
    extra_groups: list[tuple[str, str]] = field(default_factory=list)

    def partial_sql(self) -> str:
        """The per-source/per-peer query: same filter + grouping, partial
        aggregate columns under stable ``__p{i}`` names.

        ``count_distinct`` outputs refine the partial GRAIN instead of
        aggregating: their columns join the GROUP BY (one shipped row per
        distinct (group, value) pair) and ride along projected as
        ``__p{i}_d`` for the merge to re-deduplicate. Distributive
        aggregates stay exact at the finer grain — their per-pair
        partials re-combine to the same totals."""
        items = []
        grain = list(self.group_attrs)
        for src, name in self.extra_groups:
            items.append(f"{src} AS {name}")
        for i, out in enumerate(self.outputs + self.hidden):
            if out[0] == "expr":
                continue  # computed at merge from hidden/group columns
            if out[0] == "group":
                items.append(f"{out[1]} AS {out[2]}")
            elif out[1].endswith("_distinct"):
                _, _fn, arg, _, _digits = out
                items.append(f"{arg} AS __p{i}_d")
                if arg not in grain:
                    grain.append(arg)
            else:
                # rounding happens at MERGE time over the combined value;
                # partials stay unrounded (rounding partials would change
                # the combined sum)
                _, fn, arg, _, _digits = out
                if fn == "avg":
                    items.append(f"sum({arg}) AS __p{i}_s")
                    items.append(f"count({arg}) AS __p{i}_c")
                else:
                    items.append(f"{fn}({arg if arg else '1'}) AS __p{i}")
        sql = f"SELECT {', '.join(items)} FROM {self.entity}"
        if self.where_sql:
            sql += f" WHERE {self.where_sql}"
        if grain:
            sql += " GROUP BY " + ", ".join(grain)
        return sql

    def merge(self, partials: DataFrame, project: bool = True) -> DataFrame:
        """Combine the unioned per-source partials into the engine-mode
        answer: sum of counts/sums, min of mins, max of maxes, avg from
        summed (sum, count) pairs — then HAVING over the merged values
        (hidden aggregates computed alongside and dropped after the
        filter), the original projection order, ORDER BY, and LIMIT.

        ``project=False`` skips the final projection, keeping hidden/
        synthetic columns in the ordered+limited frame — the top-groups
        protocol (``plans/topgroups.py``) probes the k-th ORDER value
        there, which may live in a hidden ``__h`` column."""
        group_names = [o[2] for o in self.outputs if o[0] == "group"] \
            + [name for _, name in self.extra_groups]
        aggs = []
        for i, out in enumerate(self.outputs + self.hidden):
            if out[0] != "agg":
                continue
            _, fn, arg, name, digits = out
            if fn == "count_distinct":
                # cross-source re-dedup: a value two sources both hold
                # counts once; NULL pairs shipped by the finer grain are
                # ignored, matching count(distinct col) semantics
                expr = F.countDistinct(f"__p{i}_d").cast("bigint")
            elif fn == "sum_distinct":
                expr = F.sum_distinct(F.col(f"__p{i}_d"))
            elif fn == "avg_distinct":
                # avg(DISTINCT x) = Σ distinct / #distinct; both sides
                # ignore NULLs, matching the engine semantics
                expr = (F.sum_distinct(F.col(f"__p{i}_d"))
                        / F.countDistinct(f"__p{i}_d"))
                expr = _cast_avg_decimal(
                    expr, partials.schema[f"__p{i}_d"].dataType, summed=False)
            elif fn == "count":
                # coalesce: a DISTINCT-refined grain makes a source with
                # zero matching rows ship ZERO partial rows (GROUP BY col
                # emits nothing), so a group-by-less merge would see an
                # empty frame and report NULL where count(*) must say 0;
                # sum/avg/min/max correctly stay NULL over empty input
                expr = F.coalesce(F.sum(f"__p{i}"),
                                  F.lit(0)).cast("bigint")
            elif fn == "sum":
                expr = F.sum(f"__p{i}")
                st = partials.schema[f"__p{i}"].dataType
                if isinstance(st, DecimalType):
                    # re-summing decimal partials widens precision by
                    # another +10 (decimal(p+20, s)) while the engine's
                    # sum answers decimal(p+10, s) — same values, wrong
                    # schema; the partial's own type IS the engine type
                    expr = expr.cast(st)
            elif fn == "min":
                expr = F.min(f"__p{i}")
            elif fn == "max":
                expr = F.max(f"__p{i}")
            else:  # avg = total sum / total non-null count
                s_expr = F.sum(f"__p{i}_s")
                st = partials.schema[f"__p{i}_s"].dataType
                if isinstance(st, DecimalType):
                    # re-summing widened the dividend to decimal(p+20, s),
                    # which drives Spark's precision-loss division to a
                    # COARSER scale than the engine's sum/count division
                    # — real digits lost before any output cast (second
                    # r12 review round, confirmed at decimal(18,4)). Cast
                    # back to the engine's own sum type first so the
                    # division typing matches the engine's exactly.
                    s_expr = s_expr.cast(st)
                expr = s_expr / F.sum(f"__p{i}_c")
                expr = _cast_avg_decimal(expr, st, summed=True)
            if digits is not None:
                expr = F.round(expr, digits)
            aggs.append(expr.alias(name))
        if not aggs:
            # a key-only query (GROUP BY with no aggregates, or SELECT
            # DISTINCT): the merged answer is the distinct union of the
            # shipped group rows — groupBy().agg() would reject an empty
            # aggregate list (r12-found crash on a gateway-reachable
            # shape the row path answers fine)
            out = partials.select(*group_names).distinct()
        elif group_names:
            out = partials.groupBy(*group_names).agg(*aggs)
        else:
            out = partials.agg(*aggs)
        # expression outputs (scalar combinations of merged aggregates /
        # group columns, e.g. a sum/count ratio) materialize BEFORE the
        # HAVING filter and the sort so both can reference them by name
        for o in self.outputs:
            if o[0] == "expr":
                out = out.withColumn(o[2], F.expr(o[1]))
        if self.having_sql is not None:
            out = out.where(F.expr(self.having_sql))
        # order (possibly on hidden columns) and limit BEFORE the final
        # projection drops the hidden names; the narrow select preserves
        # the sort order
        if self.order_by:
            out = out.orderBy(*[F.col(c).asc() if asc else F.col(c).desc()
                                for c, asc in self.order_by])
        if self.limit is not None:
            out = out.limit(self.limit)
        if not project:
            return out
        return out.select(*[_out_name(o) for o in self.outputs])


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _tree_has(jnode, substrings: tuple[str, ...]) -> bool:
    """True when any node class in the expression/plan tree matches."""
    stack = [jnode]
    while stack:
        n = stack.pop()
        name = _cls(n)
        if any(s in name for s in substrings):
            return True
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return False


def _bare_attr(jexpr) -> str | None:
    """Single-part unqualified column name, else None."""
    if _cls(jexpr) != "UnresolvedAttribute":
        return None
    parts = jexpr.nameParts()
    if parts.size() != 1:
        return None
    return str(parts.apply(0))


def _agg_call(jexpr):
    """``(fn, arg_sql | None, round_digits | None)`` for a supported
    aggregate call — count(*)/count(col)/sum/min/max/avg over a bare
    column, optionally wrapped in ``round(..., n)`` (rounding commutes
    with the merge: it applies once over the COMBINED value) — else
    None.

    ``agg(...) FILTER (WHERE p)`` decomposes for count/sum/min/max by
    CASE-wrapping the argument (``count(x) FILTER (WHERE p)`` ≡
    ``count(CASE WHEN p THEN x END)`` — the unfiltered rows contribute
    NULL, which every one of these aggregates ignores), so the clause
    runs per source inside the partial. avg/DISTINCT with FILTER keep
    the row path (avg would dodge the wide-decimal type guard, and the
    distinct grain stays bare-column by design). An earlier r12 smoke
    battery caught the clause being silently DROPPED — rejection or
    decomposition, never a silent plain aggregate."""
    digits = None
    if _cls(jexpr) == "UnresolvedFunction":
        parts = jexpr.nameParts()
        if (parts.size() == 1
                and str(parts.apply(0)).lower() == "round"
                and not jexpr.isDistinct()):
            args = jexpr.arguments()
            if args.size() == 2 and _cls(args.apply(1)) == "Literal":
                try:
                    digits = int(str(args.apply(1).value()))
                except ValueError:
                    return None
                jexpr = args.apply(0)
    if _cls(jexpr) != "UnresolvedFunction":
        return None
    fsql = None
    try:
        if jexpr.filter().isDefined():
            jf = jexpr.filter().get()
            if _tree_has(jf, ("Subquery", "Exists", "Window")):
                return None
            fsql = jf.sql()
    except Exception:
        return None
    parts = jexpr.nameParts()
    if parts.size() != 1:
        return None
    fn = str(parts.apply(0)).lower()
    if fn not in _AGG_FNS:
        return None
    if jexpr.isDistinct():
        if fsql is not None:
            return None  # distinct grain stays bare-column
        # DISTINCT over a bare column decomposes: the merge re-dedups the
        # shipped (group, value) pairs. min/max(DISTINCT) ≡ min/max —
        # duplicates never move extrema, so they stay plain partials.
        args = jexpr.arguments()
        if args.size() != 1:
            return None
        col = _bare_attr(args.apply(0))
        if col is None:
            return None
        if fn in ("min", "max"):
            return fn, col, digits
        return f"{fn}_distinct", col, digits
    args = jexpr.arguments()
    if args.size() != 1:
        return None
    a0 = args.apply(0)
    if fn == "count" and _cls(a0) == "Literal":
        if fsql is not None:
            return "count", f"(CASE WHEN {fsql} THEN 1 END)", digits
        return "count", None, digits  # count(*) parses as count(1)
    col = _bare_attr(a0)
    if col is None:
        return None
    if fsql is not None:
        if fn == "avg":
            return None  # would dodge the wide-decimal guard
        return fn, f"(CASE WHEN {fsql} THEN {col} END)", digits
    return fn, col, digits


# scalar functions allowed to remain in a rewritten HAVING: they run over
# the MERGED frame's columns, so anything aggregate-ish (or unknown — it
# might be aggregate-ish) must instead fall back to the row path
_SCALAR_FNS = {"abs", "coalesce", "round", "floor", "ceil", "ceiling",
               "nullif", "greatest", "least", "upper", "lower", "trim",
               "length", "substring", "substr", "concat", "nvl", "if",
               "ifnull", "sqrt", "power", "pow", "exp", "ln", "log",
               "sign", "mod"}

# GROUP BY expressions additionally admit the calendar-bucketing family
# (the bread-and-butter federated rollup keys). CONTRACT: peers must
# share the edge's session timezone — the template path forwards these
# as SQL and the peer computes bucket VALUES in its own zone (hour /
# date_trunc / date_format over timestamps would bucket differently on a
# misaligned peer, diverging from the row path; an identity relay fleet
# managed by one relayctl config satisfies this, the same assumption the
# existing WHERE-clause forwarding already makes; pure DATE-column parts
# are timezone-free either way)
_GROUP_FNS = _SCALAR_FNS | {"year", "month", "day", "dayofmonth",
                            "quarter", "hour", "minute", "second",
                            "weekofyear", "dayofweek", "date_trunc",
                            "trunc", "to_date", "date_format"}

# expression node classes (operators parse to dedicated classes, not
# UnresolvedFunction) allowed inside a GROUP BY expression
_EXPR_NODES = {"UnresolvedAttribute", "Literal", "Cast", "Add",
               "Subtract", "Multiply", "Divide", "Remainder",
               "UnaryMinus", "Concat"}


def _scalar_expr_ok(jexpr) -> bool:
    """True when the expression tree is built only from bare attributes,
    literals, arithmetic/concat/cast, and ``_GROUP_FNS`` calls — i.e. a
    deterministic scalar whose VALUE can serve as a partial grouping key
    on any peer."""
    stack = [jexpr]
    while stack:
        n = stack.pop()
        cls = _cls(n)
        if cls == "UnresolvedFunction":
            parts = n.nameParts()
            if (parts.size() != 1 or n.isDistinct()
                    or str(parts.apply(0)).lower() not in _GROUP_FNS):
                return False
        elif cls == "UnresolvedAttribute":
            if _bare_attr(n) is None:
                return False
        elif cls not in _EXPR_NODES:
            return False
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return True


def _contains_agg_call(jexpr) -> bool:
    """True when the expression tree holds at least one SUPPORTED
    aggregate call — what makes an unaliased-GROUP-BY-less projection an
    aggregate query rather than a per-row one."""
    stack = [jexpr]
    while stack:
        n = stack.pop()
        if _cls(n) == "UnresolvedFunction" and _agg_call(n) is not None:
            return True
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return False


def _rewrite_over_merge(spark, jcond, spec: AggQuerySpec,
                        agg_sql_names: dict[str, str],
                        entity_columns: set[str] | None,
                        alias_refs: bool,
                        lateral_names: set[str] | None = None
                        ) -> str | None:
    """Rewrite an expression to run over the MERGED frame.

    Aggregate calls are replaced by the output column computing the same
    aggregate — or by a HIDDEN merge output added for the occasion (its
    partials ride ``partial_sql`` like any other aggregate; the merge
    drops it after use). Substitution is string surgery, but between two
    CATALYST-canonical renderings of the same expression (the parent's
    ``.sql()`` embeds each child's ``.sql()`` verbatim), TOKEN-BOUNDED
    (a negative lookbehind keeps ``try_sum(x)`` from being mangled by the
    ``sum(x)`` key — r12 review fix) and literal-guarded. Attribute
    references are validated on the ORIGINAL tree (before substitution,
    so a user attr can never be confused with an injected name): with
    ``alias_refs`` (HAVING / ORDER BY) they may name any output alias;
    without it (SELECT expressions) a bare name is a COLUMN reference —
    valid only as a group key projected under its own name, or as a
    LATERAL alias reference to an output defined EARLIER in the
    projection (``lateral_names``), matching Spark's lateral-column-alias
    rule. Either way a name that is also an entity column is ambiguous
    (engines bind the grouping input first) and keeps the row path.
    Anything unprovable returns None — the always-safe direction.
    """
    import re as _re

    if _tree_has(jcond, ("Subquery", "Exists", "Window")):
        return None
    try:
        cond_sql = jcond.sql()
    except Exception:
        return None
    # shared with ORDER BY binding: hidden columns created here are
    # reusable there (and vice versa) through the caller's dict
    sub = agg_sql_names
    stack, literals, found, orig_attrs = [jcond], [], {}, []
    while stack:
        n = stack.pop()
        cls = _cls(n)
        if cls == "UnresolvedFunction":
            call = _agg_call(n)
            if call is not None:
                try:
                    found[n.sql()] = call
                except Exception:
                    return None
                continue  # the whole call becomes one column reference
        if cls == "UnresolvedAttribute":
            a = _bare_attr(n)
            if a is None:
                return None
            orig_attrs.append(a)
        if cls == "Literal":
            try:
                v = n.value()
            except Exception:
                return None
            if v is not None:
                literals.append(str(v))
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    # user aliases may legitimately be named __h0, and hiddens from an
    # EARLIER rewrite (a SELECT expression before this HAVING/ORDER key)
    # are already allocated — skip past both instead of building an
    # ambiguous merge frame
    taken = {_out_name(o).lower() for o in spec.outputs} \
        | {h[3].lower() for h in spec.hidden}
    hid = 0
    for key, call in found.items():
        if key not in sub:
            while f"__h{hid}" in taken:
                hid += 1
            name = f"__h{hid}"
            taken.add(name)
            hid += 1
            spec.hidden.append(("agg", call[0], call[1], name, call[2]))
            sub[key] = name
    # a string literal containing a substitution key would be corrupted
    # by the replace — bail to the row path instead
    for lit in literals:
        if any(k in lit for k in sub):
            return None
    # same hazard through IDENTIFIERS: a backtick-quoted name whose text
    # contains a key (an alias literally named `sum(q)`) defeats the
    # lookbehind (backtick is not in the identifier class) and would be
    # rewritten inside the quoted name — bail when any referenced
    # attribute or declared output alias could collide (r12 review fix)
    ident_names = {a.lower() for a in orig_attrs} \
        | {_out_name(o).lower() for o in spec.outputs} \
        | {h[3].lower() for h in spec.hidden}
    for nm in ident_names:
        if any(k.lower() in nm for k in sub):
            return None
    for key in sorted(sub, key=len, reverse=True):
        # token boundary: the key must not continue an identifier or a
        # qualified name to its left (its own tail is always ")" )
        cond_sql = _re.sub(r"(?<![A-Za-z0-9_.])" + _re.escape(key),
                           sub[key].replace("\\", "\\\\"), cond_sql)
    try:
        jexpr = spark._jsparkSession.sessionState().sqlParser() \
                     .parseExpression(cond_sql)
    except Exception:
        return None
    # lowercased maps: Spark resolves names case-insensitively, so the
    # shadowing guard must too. kind records whether a bare reference to
    # the output name means the same thing on BOTH paths: only a group
    # output whose alias IS its source column is unambiguous when an
    # entity column shares the name.
    out_kinds: dict[str, tuple] = {}
    for o in spec.outputs:
        if o[0] == "group":
            out_kinds[o[2].lower()] = ("group", o[1].lower())
        else:
            out_kinds[_out_name(o).lower()] = (o[0], None)
    ecols = {c.lower() for c in entity_columns} if entity_columns else set()
    lat = {x.lower() for x in lateral_names} if lateral_names else set()
    for a in orig_attrs:
        kind = out_kinds.get(a.lower())
        if kind is None:
            return None
        own_group = kind[0] == "group" and kind[1] == a.lower()
        if not alias_refs and not own_group and a.lower() not in lat:
            # SELECT expressions name COLUMNS or EARLIER lateral aliases;
            # a forward alias reference is unresolvable on the row path
            return None
        if a.lower() in ecols and not own_group:
            # the name is BOTH an entity column and an alias of something
            # else (an aggregate, or a renamed group col): engines bind
            # the grouping-input column first; the merged frame can only
            # see the alias — ambiguous, so keep the row path
            return None
    # the rewritten text must reference only merged columns through
    # whitelisted scalar functions (an unknown function might itself be
    # an aggregate over the merged frame — reject rather than guess)
    merged_names = {_out_name(o).lower() for o in spec.outputs} \
        | {h[3].lower() for h in spec.hidden}
    stack = [jexpr]
    while stack:
        n = stack.pop()
        cls = _cls(n)
        if cls == "UnresolvedFunction":
            parts = n.nameParts()
            if (parts.size() != 1 or n.isDistinct()
                    or str(parts.apply(0)).lower() not in _SCALAR_FNS):
                return None
        elif cls == "UnresolvedAttribute":
            a = _bare_attr(n)
            if a is None or a.lower() not in merged_names:
                return None
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return cond_sql


def _rewrite_having(spark, jcond, spec: AggQuerySpec,
                    agg_sql_names: dict[str, str],
                    entity_columns: set[str] | None) -> bool:
    """HAVING face of ``_rewrite_over_merge``: alias references allowed;
    the rewritten condition lands in ``spec.having_sql``."""
    rewritten = _rewrite_over_merge(spark, jcond, spec, agg_sql_names,
                                    entity_columns, alias_refs=True)
    if rewritten is None:
        return False
    spec.having_sql = rewritten
    return True


def extract_aggregate_query(q: ParsedQuery, entity: str,
                            entity_columns: set[str] | None = None,
                            entity_types: dict[str, str] | None = None
                            ) -> AggQuerySpec | None:
    """Validate + decompose ``sql`` as a partial-aggregatable single-entity
    aggregate; None for anything outside the shape (caller keeps the row
    path). The filter passes through VERBATIM (regenerated by Catalyst) —
    it runs per source/peer exactly as template mode runs it today.
    HAVING decomposes as a post-merge filter (``_rewrite_having``);
    ``entity_columns`` (the entity's information names, when the caller
    knows them) guards the alias-shadows-column ambiguity, and
    ``entity_types`` (name → declared type string) guards the WIDE
    DECIMAL avg: for inputs of precision ≥ 28 the partial sum saturates
    at decimal(38, s) and NO SQL division can keep avg's s+4 quotient
    digits (the engine divides at unbounded internal precision) — those
    queries keep the row path."""
    spark = q.spark
    spec = AggQuerySpec(entity=entity)
    node = q.plan

    if _cls(node) == "GlobalLimit":
        lim = node.limitExpr()
        if _cls(lim) != "Literal":
            return None
        spec.limit = int(str(lim.value()))
        node = node.children().apply(0)
        if _cls(node) == "LocalLimit":
            node = node.children().apply(0)

    # (kind, payload, ascending): kind "attr" holds an output name to
    # validate later; kind "agg" holds a supported aggregate call to bind
    # to an output (or hidden) merge column once outputs are known
    order_specs: list[tuple[str, object, bool]] = []
    if _cls(node) == "Sort":
        orders = node.order()
        for i in range(orders.size()):
            so = orders.apply(i)
            direction = _cls(so.direction())
            nulls = _cls(so.nullOrdering())
            # only default null ordering reproduces via plain asc()/desc()
            if (direction, nulls) not in (("Ascending$", "NullsFirst$"),
                                          ("Descending$", "NullsLast$"),
                                          ("Ascending", "NullsFirst"),
                                          ("Descending", "NullsLast")):
                return None
            asc = direction.startswith("Ascending")
            col = _bare_attr(so.child())
            if col is not None:
                order_specs.append(("attr", col, asc))
                continue
            call = _agg_call(so.child())
            if call is None:
                return None
            try:
                key = so.child().sql()
            except Exception:
                return None
            order_specs.append(("agg", (key, call), asc))
        node = node.children().apply(0)

    jhaving = None
    if _cls(node) == "UnresolvedHaving":
        jhaving = node.havingCondition()
        node = node.children().apply(0)

    if _cls(node) == "Distinct":
        # SELECT DISTINCT a, b ≡ GROUP BY a, b with key-only outputs:
        # each source ships its distinct combinations (O(distinct), not
        # O(rows)) and the merge re-distincts the union. Items may be
        # bare columns, renamed columns, or whitelisted scalar
        # expressions; aggregates/literals inside DISTINCT keep the row
        # path.
        child = node.children().apply(0)
        if _cls(child) != "Project":
            return None
        dexprs = child.projectList()
        if dexprs.size() == 0:
            return None
        seen: set[str] = set()
        for i in range(dexprs.size()):
            e = dexprs.apply(i)
            if _cls(e) == "UnresolvedAttribute":
                src = _bare_attr(e)
                if src is None:
                    return None
                out_name = src
            elif _cls(e) == "Alias":
                ec = e.child()
                out_name = str(e.name())
                src = _bare_attr(ec)
                if src is None:
                    if (_cls(ec) == "Literal" or _agg_call(ec) is not None
                            or _contains_agg_call(ec)
                            or not _scalar_expr_ok(ec)):
                        return None
                    try:
                        src = ec.sql()
                    except Exception:
                        return None
            else:
                return None
            import re as _re
            if (out_name.lower() in seen
                    or _re.match(r"__p\d", out_name.lower())):
                return None
            seen.add(out_name.lower())
            spec.group_attrs.append(src)
            spec.outputs.append(("group", src, out_name))
        node = child.children().apply(0)
        exprs = None
    elif _cls(node) == "Aggregate":
        groups = node.groupingExpressions()
        for i in range(groups.size()):
            ge = groups.apply(i)
            col = _bare_attr(ge)
            if col is not None:
                spec.group_attrs.append(col)
                continue
            # GROUP BY <scalar expression>: grouping on the expression's
            # VALUE decomposes exactly (each source groups by it, the
            # merge re-groups by the shipped value). A bare literal is
            # NOT an expression here — it is an ORDINAL, whose position
            # in the reshaped partial projection would differ.
            if _cls(ge) == "Literal" or not _scalar_expr_ok(ge):
                return None
            try:
                spec.group_attrs.append(ge.sql())
            except Exception:
                return None
        exprs = node.aggregateExpressions()
    elif _cls(node) == "Project":
        # A GROUP-BY-less aggregate (`select count(*) from e`) is still a
        # Project at the unresolved stage: accept only when EVERY output
        # is an aliased aggregate call or an expression CONTAINING one
        # (a mixed/plain projection is per-row, not an aggregate query).
        exprs = node.projectList()
        if exprs.size() == 0:
            return None
        for i in range(exprs.size()):
            e = exprs.apply(i)
            if _cls(e) != "Alias" or not _contains_agg_call(e.child()):
                return None
    else:
        return None
    names_seen: set[str] = set()
    agg_sql_names: dict[str, str] = {}
    pending_exprs: list[tuple[int, object, set]] = []
    for i in range(exprs.size() if exprs is not None else 0):
        e = exprs.apply(i)
        if _cls(e) == "UnresolvedAttribute":
            col = _bare_attr(e)
            if col is None or col not in spec.group_attrs:
                return None
            out_name = col
            spec.outputs.append(("group", col, col))
        elif _cls(e) == "Alias":
            child = e.child()
            out_name = str(e.name())
            gcol = _bare_attr(child)
            if gcol is not None:
                if gcol not in spec.group_attrs:
                    return None
                spec.outputs.append(("group", gcol, out_name))
            else:
                call = _agg_call(child)
                if call is not None:
                    spec.outputs.append(
                        ("agg", call[0], call[1], out_name, call[2]))
                    try:
                        agg_sql_names.setdefault(child.sql(), out_name)
                    except Exception:
                        pass  # no canonical form -> HAVING can't reuse it
                else:
                    # a projected GROUP BY expression (canonical forms
                    # match: both renderings come from Catalyst's .sql()),
                    # or a scalar EXPRESSION over aggregates / group keys
                    # (sum/count ratios etc.) — rewritten after the loop
                    # once every output name is known
                    try:
                        csql = child.sql()
                    except Exception:
                        return None
                    if csql in spec.group_attrs:
                        spec.outputs.append(("group", csql, out_name))
                    else:
                        # lateral alias references may only look BACKWARD
                        # (Spark's lateral-column-alias rule): snapshot
                        # the names defined so far
                        pending_exprs.append(
                            (len(spec.outputs), child,
                             {_out_name(o) for o in spec.outputs}))
                        spec.outputs.append(("expr", None, out_name))
        else:
            return None
        if out_name.lower() in names_seen:
            return None  # ambiguous merge frame
        import re as _re
        if _re.match(r"__p\d", out_name.lower()):
            # the synthetic partial-column namespace: a user alias here
            # would duplicate a __p{i}(_d/_s/_c) projection and error the
            # merge — row path instead (which handles it fine)
            return None
        names_seen.add(out_name.lower())

    # scalar expressions over aggregates (ratios etc.): every aggregate
    # call inside binds to an output or hidden merge column; bare names
    # are COLUMN references and may only bind to group keys projected
    # under their own name
    for idx, child, lateral in pending_exprs:
        rewritten = _rewrite_over_merge(spark, child, spec, agg_sql_names,
                                        entity_columns, alias_refs=False,
                                        lateral_names=lateral)
        if rewritten is None:
            return None
        spec.outputs[idx] = ("expr", rewritten, spec.outputs[idx][2])

    # grouping keys the projection does not show must still ship and
    # re-group at merge, else distinct groups collapse into one row
    projected_groups = {o[1] for o in spec.outputs if o[0] == "group"}
    taken_names = {_out_name(o).lower() for o in spec.outputs}
    gi = 0
    for g in spec.group_attrs:
        if g in projected_groups:
            continue
        while f"__g{gi}" in taken_names:
            gi += 1
        spec.extra_groups.append((g, f"__g{gi}"))
        gi += 1

    if jhaving is not None and not _rewrite_having(
            spark, jhaving, spec, agg_sql_names, entity_columns):
        return None

    if exprs is not None:  # the Distinct branch already descended
        node = node.children().apply(0)
    if _cls(node) == "Filter":
        cond = node.condition()
        # subqueries/EXISTS can't re-run per source; windows never valid here
        if _tree_has(cond, ("Subquery", "Exists", "Window")):
            return None
        try:
            spec.where_sql = cond.sql()
        except Exception:
            return None
        node = node.children().apply(0)

    if _cls(node) != "UnresolvedRelation":
        return None
    parts = node.multipartIdentifier()
    if (parts.size() != 1
            or str(parts.apply(0)).lower() != entity.lower()):
        return None

    # ORDER BY keys: output names validate against the merged frame;
    # aggregate-call keys bind to the output computing the same aggregate
    # or to a hidden merge column (same machinery as HAVING — the merge
    # sorts BEFORE the final projection, so hidden keys order fine).
    # NOTE this makes the partial path a slight SUPERSET of Spark's row
    # path: Spark's resolver rejects ORDER BY <agg> combined with HAVING
    # (the Filter between Sort and Aggregate breaks its aggregate
    # resolution) while the merge frame — like ANSI engines — answers it
    out_names = {_out_name(o).lower() for o in spec.outputs}
    for kind, payload, asc in order_specs:
        if kind == "attr":
            # projected outputs only: a bare name must never bind to a
            # hidden synthetic column the user cannot legally reference
            if payload.lower() not in out_names:
                return None
            spec.order_by.append((payload, asc))
            continue
        key, call = payload
        name = agg_sql_names.get(key)
        if name is None:
            taken = {_out_name(o).lower() for o in spec.outputs} \
                | {h[3].lower() for h in spec.hidden}
            hid = 0
            while f"__h{hid}" in taken:
                hid += 1
            name = f"__h{hid}"
            spec.hidden.append(("agg", call[0], call[1], name, call[2]))
            agg_sql_names[key] = name
        spec.order_by.append((name, asc))

    # wide-decimal avg guard (see docstring): covers projected, hidden
    # (HAVING / ORDER BY) and expression-embedded avg aggregates
    if entity_types:
        import re as _re
        # SQL resolves column names case-insensitively — so must this
        # guard (avg(V) vs declared 'v'; r12 advisor fix)
        etypes_ci = {n.lower(): t for n, t in entity_types.items()}
        for out in spec.outputs + spec.hidden:
            if out[0] != "agg" or not out[1].startswith("avg"):
                continue
            decl = (etypes_ci.get((out[2] or "").lower()) or "") \
                .lower().strip()
            m = _re.match(r"decimal\((\d+)", decl)
            if m and int(m.group(1)) >= 28:
                return None

    # sanity: the constructed partial query must itself parse
    try:
        spark._jsparkSession.sessionState().sqlParser() \
             .parsePlan(spec.partial_sql())
    except Exception:
        return None
    return spec

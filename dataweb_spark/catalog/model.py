"""Metadata model: the logical/physical catalog of the data web.

Pure Python (no Spark imports) so it unit-tests instantly. Mirrors the
reference's model layer:

* Entity / Information      — ``core/src/model/entity.rs:17-46``
* DataConnection/DataSource/DataField — ``core/src/model/data_stores/mod.rs:17-62``
* Mapping / Transformation  — ``core/src/model/mappings.rs:30-34, 124-149``
* RemoteEntityMapping / RemoteInfoMapping — ``core/src/model/mappings.rs:53-62, 106-111``
* SourcePermission algebra  — ``core/src/model/access_control.rs:66-143``

Spark types are declared as DDL strings (``"bigint"``, ``"double"``,
``"string"``, ``"date"`` ...) — the Spark-side resolver parses them with
``pyspark.sql.types._parse_datatype_string`` equivalents at view-build time.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# Transformations
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Transformation:
    """An invertible scalar SQL expression template with ``{v}`` placeholder.

    Reference: ``core/src/model/mappings.rs:124-149``. ``other_to_local_info``
    converts a *source/physical* value into the *entity/logical* value.
    Composition is textual, exactly like the reference's
    ``Transformation::compose`` — non-bijective transforms may lose precision
    (warned at ``mappings.rs:113-122``); we keep them as SQL strings so the
    downstream engine (Catalyst) simplifies what it can.
    """

    other_to_local: str = "{v}"  # e.g. "{v} * 100"
    local_to_other: str = "{v}"  # inverse, e.g. "{v} / 100"

    def apply(self, value_sql: str) -> str:
        """Render the forward transform over a SQL expression string."""
        if "{v}" not in self.other_to_local:
            return self.other_to_local
        return self.other_to_local.replace("{v}", f"({value_sql})")

    def apply_inverse(self, value_sql: str) -> str:
        if "{v}" not in self.local_to_other:
            return self.local_to_other
        return self.local_to_other.replace("{v}", f"({value_sql})")

    def compose(self, inner: "Transformation") -> "Transformation":
        """Transform that first applies ``inner`` then ``self``.

        Mirrors ``Transformation::compose`` (``mappings.rs:137-149``): the
        forward direction nests inner's forward inside self's forward; the
        inverse nests in the opposite order.
        """
        fwd = self.other_to_local.replace("{v}", f"({inner.other_to_local})")
        inv = inner.local_to_other.replace("{v}", f"({self.local_to_other})")
        return Transformation(fwd, inv)

    @property
    def is_identity(self) -> bool:
        return self.other_to_local.strip() == "{v}"

    def push_conjunct(self, op: str, value):
        """Rewrite the entity-namespace conjunct ``entity_col op value`` into
        physical-namespace conjuncts over the raw column, or None when this
        transformation can't carry it.

        The reference stores both transform directions precisely so
        predicates survive non-identity mappings
        (``core/src/model/mappings.rs:124-149``); without this, a filter on
        a transformed column never reaches the peer and the whole entity
        ships. Identity passes the conjunct through untouched. A non-identity
        transform is handled when its forward template is *affine* in
        ``{v}`` (single occurrence, +,-,*,/ with numeric constants, ``{v}``
        not in a denominator) and the literal is numeric: the boundary is
        inverted exactly (Fraction arithmetic), the operator flips when the
        slope is negative, and the pushed bounds are widened to NON-strict
        comparisons ± a 1e-9 relative margin — floating-point evaluation of
        the forward transform inside the engine can round values near the
        boundary, and a pushed filter must never drop a row the local
        predicate (which always re-runs — Inexact semantics,
        ``web_source.rs:145-159``) would keep. Equality becomes a widened
        range for the same reason.

        Returns a list of ``(op, value)`` pairs to AND together.
        """
        if self.is_identity:
            return [(op, value)]
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            return None
        import math
        if isinstance(value, float) and not math.isfinite(value):
            return None  # NaN/inf boundaries don't render as SQL literals
        if op not in ("=", "<", "<=", ">", ">="):
            return None
        coeffs = _affine_coeffs(self.other_to_local)
        if coeffs is None:
            return None
        a, b = coeffs
        if a == 0:
            return None
        from fractions import Fraction
        p = (Fraction(value) - b) / a  # exact boundary in physical namespace
        if a < 0:  # order-reversing transform: flip the comparison
            op = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}[op]
        # The engine evaluates float(a·x + b) and compares to `value`; its
        # rounding error scales with the SUMMANDS' magnitude, so near the
        # boundary the accepted preimage is an interval of width
        # ~eps·(|value|+|b|)/|a| around p — NOT eps·|p|. With b dominating
        # a·x (hypothesis-found: a=6e-5, b=value=131072, where every
        # |x| ≲ ulp(b)/2/a = 2.4e-7 satisfies f(x)==value exactly in
        # float), a p-relative margin drops matching rows. Widen by the
        # summand-scaled term as well; 1e-9 stays ~10^7 × double eps.
        delta = Fraction(1, 10**9) * max(
            abs(p), Fraction(1),
            (abs(Fraction(value)) + abs(b)) / abs(a))
        lo = float(p - delta)
        hi = float(p + delta)
        if op == "=":
            return [(">=", lo), ("<=", hi)]
        if op in ("<", "<="):
            return [("<=", hi)]
        return [(">=", lo)]


def _affine_coeffs(template: str):
    """``(a, b)`` as exact Fractions with ``template({v}) == a*v + b``, or
    None when the template isn't provably affine arithmetic."""
    import ast
    from fractions import Fraction

    if template.count("{v}") != 1:
        return None
    try:
        tree = ast.parse(template.replace("{v}", "__v__"), mode="eval")
    except SyntaxError:
        return None

    def _eval(node, v: Fraction):
        if isinstance(node, ast.Expression):
            return _eval(node.body, v)
        if isinstance(node, ast.Constant) and isinstance(
                node.value, (int, float)) and not isinstance(node.value, bool):
            return Fraction(node.value)
        if isinstance(node, ast.Name) and node.id == "__v__":
            return v
        if isinstance(node, ast.UnaryOp) and isinstance(
                node.op, (ast.UAdd, ast.USub)):
            x = _eval(node.operand, v)
            return x if isinstance(node.op, ast.UAdd) else -x
        if isinstance(node, ast.BinOp) and isinstance(
                node.op, (ast.Add, ast.Sub, ast.Mult, ast.Div)):
            if isinstance(node.op, ast.Div) and _contains_v(node.right):
                raise ValueError("{v} in denominator: not affine")
            left = _eval(node.left, v)
            right = _eval(node.right, v)
            if isinstance(node.op, ast.Add):
                return left + right
            if isinstance(node.op, ast.Sub):
                return left - right
            if isinstance(node.op, ast.Mult):
                return left * right
            if right == 0:
                raise ValueError("division by zero constant")
            return left / right
        raise ValueError(f"non-affine node {type(node).__name__}")

    def _contains_v(node) -> bool:
        return any(isinstance(n, ast.Name) and n.id == "__v__"
                   for n in ast.walk(node))

    try:
        b = _eval(tree, Fraction(0))
        a = _eval(tree, Fraction(1)) - b
    except (ValueError, ZeroDivisionError):
        return None
    return a, b


IDENTITY = Transformation()


def affine_order_safe(template: str, vtype: str) -> bool:
    """True iff evaluating the affine ``template`` over a column of
    Spark type ``vtype`` ("int" = any integral family, "double" = any
    float family, or "decimal(p,s)") provably never WRAPS, never
    OVERFLOWS a decimal to NULL, and never loses the integral part —
    i.e. the computed value is a monotone (up to rounding ties) image of
    the input with NULL↔NULL exactly. This is the premise the federated
    ORDER BY forward (``sources/readers._forward_order_key``) rests on.

    The check propagates SPARK's arithmetic typing bottom-up over the
    template AST, with literals typed the way Spark's SQL parser types
    them — ``1e2`` is DOUBLE, ``-1.0``/``0.1`` are DECIMAL (a python
    float test would mistake them for doubles; decimal arithmetic can
    silently NULL on precision-38 overflow under non-ANSI evaluation,
    review-caught r14), bare digits are integral:

    * double anywhere → double from there on (wrap-free; overflow
      saturates to ±inf preserving order non-strictly);
    * decimal involved → Spark's DecimalType result rules (integrals
      promote at bigint width 20,0); result precision > 38 is REFUSED —
      allowPrecisionLoss would round (monotone, fine) but can also NULL
      the value when the integral part no longer fits;
    * integral op integral stays integral and can wrap at the type
      width under non-ANSI evaluation → refused, EXCEPT true division,
      which Spark always computes as double.
    """
    import ast

    if template.count("{v}") != 1:
        return False
    src = template.replace("{v}", "__v__")
    try:
        tree = ast.parse(src, mode="eval")
    except SyntaxError:
        return False

    DOUBLE, INT = ("double",), ("int",)

    def lit_type(node) -> tuple | None:
        text = ast.get_source_segment(src, node)
        if text is None:
            return None
        t = text.strip().lower()
        if not re.match(r"[+-]?[0-9.]+(e[+-]?[0-9]+)?$", t):
            # non-decimal constant syntax Python accepts but Spark SQL
            # would not parse the same way (hex 0xE2, underscores,
            # 'j' imaginary, ...) — refuse rather than misclassify
            # (advice-caught r14: the bare "'e' in t" test also matched
            # hex literals)
            return None
        if "e" in t:
            return DOUBLE  # scientific notation: a Spark DOUBLE literal
        if "." in t:
            digits = t.lstrip("+-").replace(".", "").lstrip("0") or "0"
            frac = t.split(".", 1)[1]
            return ("decimal", max(len(digits), 1), len(frac))
        return INT

    def vtype_tuple() -> tuple | None:
        t = vtype.strip().lower()
        if t == "double":
            return DOUBLE
        if t == "int":
            return INT
        if t.startswith("decimal"):
            import re as _re
            m = _re.match(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", t)
            if not m:
                return None
            return ("decimal", int(m.group(1)), int(m.group(2)))
        return None

    def as_decimal(t: tuple) -> tuple:
        # Spark promotes integrals to DecimalType(20, 0) (bigint width)
        return t if t[0] == "decimal" else ("decimal", 20, 0)

    def combine(op, lt: tuple, rt: tuple) -> tuple | None:
        if lt == DOUBLE or rt == DOUBLE:
            return DOUBLE
        if isinstance(op, ast.Div):
            if lt == INT and rt == INT:
                return DOUBLE  # Spark `/` over integrals is double
            (_, p1, s1), (_, p2, s2) = as_decimal(lt), as_decimal(rt)
            s = max(6, s1 + p2 + 1)
            p = p1 - s1 + s2 + s
        elif lt == INT and rt == INT:
            return None  # integral arithmetic: silent wrap hazard
        else:
            (_, p1, s1), (_, p2, s2) = as_decimal(lt), as_decimal(rt)
            if isinstance(op, ast.Mult):
                p, s = p1 + p2 + 1, s1 + s2
            else:  # Add / Sub
                s = max(s1, s2)
                p = max(p1 - s1, p2 - s2) + s + 1
        if p > 38:
            return None  # precision loss can NULL the integral part
        return "decimal", p, s

    def typ(node) -> tuple | None:
        if isinstance(node, ast.Expression):
            return typ(node.body)
        if isinstance(node, ast.Name) and node.id == "__v__":
            return vtype_tuple()
        if isinstance(node, ast.Constant):
            return lit_type(node)
        if isinstance(node, ast.UnaryOp) and isinstance(
                node.op, (ast.UAdd, ast.USub)):
            t = typ(node.operand)
            # unary negate of an integral wraps only at the exact type
            # minimum; the affine gate already requires a float/decimal
            # chain for non-identity transforms, so refuse bare -int({v})
            if t == INT and isinstance(node.op, ast.USub) and any(
                    isinstance(n, ast.Name) for n in ast.walk(node)):
                return None
            return t
        if isinstance(node, ast.BinOp) and isinstance(
                node.op, (ast.Add, ast.Sub, ast.Mult, ast.Div)):
            lt, rt = typ(node.left), typ(node.right)
            if lt is None or rt is None:
                return None
            return combine(node.op, lt, rt)
        return None

    return typ(tree) is not None


# Logical (entity) types whose ordering this relay's rendered engines —
# a peer Spark relay, DuckDB, Trino — agree on when the physical column
# IS that type. Strings compare by binary/codepoint order in all three
# (Spark UTF8_BINARY, DuckDB memcmp, Trino codepoints); float/double NaN
# sorts greater than every value in all three. Container/binary types
# are excluded (no cross-engine ordering contract).
_ORDER_SELF_STABLE = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp", "timestamp_ntz", "boolean", "string",
}

_INT_WIDENING = ["tinyint", "smallint", "int", "bigint"]


def _canon_type(t: str | None) -> str | None:
    if t is None:
        return None
    t = t.strip().lower()
    return {"integer": "int", "long": "bigint", "short": "smallint",
            "byte": "tinyint", "real": "float", "varchar": "string",
            "text": "string"}.get(t, t)


def order_cast_stable(phys: str | None, logical: str | None) -> bool:
    """True iff ``CAST(x AS logical)`` provably preserves the ordering an
    engine applies to the raw physical column ``x`` — never maps a
    non-NULL to NULL, never inverts a pair (ties are fine: the federated
    top-k merge re-sorts, so a refinement-up-to-ties suffices).

    ``phys is None`` means the source declared no physical type for the
    field; the catalog contract (same one ``map_source_frame``'s blind
    cast has always assumed) is that an undeclared field carries the
    entity's declared shape — so the check degrades to self-stability of
    the logical type. A source whose storage differs (e.g. numerics in a
    varchar column, the classic lexicographic-vs-numeric inversion) MUST
    declare ``data_type`` on the field; the gate then refuses the
    forward unless the cast is in the provably-safe whitelist below.
    ``logical is None`` (caller couldn't resolve the entity type) always
    refuses.
    """
    logical = _canon_type(logical)
    if logical is None:
        return False
    phys = _canon_type(phys)
    if phys is None:
        phys = logical
    if phys == logical:
        return phys in _ORDER_SELF_STABLE or phys.startswith("decimal")
    # widening casts that are monotone and never NULL a non-NULL:
    if phys in _INT_WIDENING:
        if logical in _INT_WIDENING:
            return _INT_WIDENING.index(phys) <= _INT_WIDENING.index(logical)
        # int -> float/double rounds to nearest: monotone non-strict
        return logical in ("float", "double")
    if phys == "float":
        return logical == "double"  # exact widening
    if phys.startswith("decimal"):
        # decimal -> float/double rounds to nearest, never NULLs
        return logical in ("float", "double")
    if phys == "date":
        return logical in ("timestamp", "timestamp_ntz")
    return False


def order_cast_injective(phys: str | None, logical: str | None) -> bool:
    """True iff ``CAST(x AS logical)`` is additionally INJECTIVE over the
    physical domain — distinct engine values stay distinct logically.

    ``order_cast_stable`` tolerates collapsing casts ("ties are fine:
    the merge re-sorts") — valid for ORDER BY + LIMIT and row_number(),
    where any tie-break is a correct answer. ``rank()``/``dense_rank()``
    make ties SEMANTIC: two physically-distinct values that cast to one
    logical value share a local rank, but the engine ranks them apart —
    a per-source ``rank <= n`` then under-fetches (review-caught r14).
    Injectivity requires the target to represent every source value
    exactly: integer widenings; integers whose significant bits fit the
    float target's mantissa (tinyint/smallint → float; anything ≤ int →
    double; bigint does NOT fit double); float → double; date →
    timestamp; decimals with ≤ 15 digits → double.

    Structurally a REFINEMENT of :func:`order_cast_stable` — it delegates
    first (injective ⟹ stable holds by construction, so the two tables
    can never drift apart) and then rejects the collapsing members of the
    stable whitelist.
    """
    if not order_cast_stable(phys, logical):
        return False
    logical = _canon_type(logical)
    phys = _canon_type(phys)
    if phys is None:
        phys = logical
    if phys == logical:
        return True  # identical types: the cast is the identity
    # the collapsing members of the stable table:
    if phys in _INT_WIDENING:
        if logical in _INT_WIDENING:
            return True  # stable already proved width(phys) <= width(logical)
        if logical == "double":
            return phys in ("tinyint", "smallint", "int")  # ≤32 bits ≤ 53
        if logical == "float":
            return phys in ("tinyint", "smallint")  # ≤16 bits ≤ 24
        return False
    if phys.startswith("decimal"):
        import re as _re
        m = _re.match(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", phys)
        return (logical == "double" and m is not None
                and int(m.group(1)) <= 15)
    # float->double (exact) and date->timestamp (exact) are injective
    return True


# ---------------------------------------------------------------------------
# Permissions
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class SourcePermission:
    """Allowed-column set + row-filter SQL boolean (physical namespace).

    Reference ``core/src/model/access_control.rs:66-143``. The row filter is
    written against *source* (physical) column names and is applied inside
    the source wrapper **before** logical renaming (ordering per
    ``core/src/execute/map_local.rs:40-76``).

    Algebra (``access_control.rs:127-143``):
      union        → columns ∪ , rows OR
      intersection → columns ∩ , rows AND
    """

    allowed_columns: frozenset[str] = frozenset()
    allowed_rows: str = "false"

    @staticmethod
    def deny_all() -> "SourcePermission":
        return SourcePermission(frozenset(), "false")

    def union(self, other: "SourcePermission") -> "SourcePermission":
        return SourcePermission(
            self.allowed_columns | other.allowed_columns,
            f"({self.allowed_rows}) OR ({other.allowed_rows})",
        )

    def intersection(self, other: "SourcePermission") -> "SourcePermission":
        return SourcePermission(
            self.allowed_columns & other.allowed_columns,
            f"({self.allowed_rows}) AND ({other.allowed_rows})",
        )


def effective_permission(
    default: SourcePermission | None,
    user: SourcePermission | None,
    relay: SourcePermission | None,
) -> SourcePermission:
    """effective = default ∪ (user ∩ relay) — ``core/src/execute/mod.rs:148-196``.

    A missing user/relay grant contributes nothing; a missing default denies.
    """
    eff = default if default is not None else SourcePermission.deny_all()
    if user is not None and relay is not None:
        eff = eff.union(user.intersection(relay))
    elif user is not None:
        eff = eff.union(user)
    elif relay is not None:
        eff = eff.union(relay)
    return eff


# ---------------------------------------------------------------------------
# Logical model
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Information:
    """A named, typed logical column of an Entity (``entity.rs:35-40``)."""

    name: str
    data_type: str  # Spark DDL type string; all entity columns are nullable


@dataclass
class Entity:
    """A virtual table scoped to a relay (``entity.rs:17-22``)."""

    name: str
    informations: list[Information]

    def info_names(self) -> list[str]:
        return [i.name for i in self.informations]

    def info(self, name: str) -> Information:
        for i in self.informations:
            if i.name == name:
                return i
        raise KeyError(f"entity {self.name} has no information {name!r}")


# ---------------------------------------------------------------------------
# Physical model
# ---------------------------------------------------------------------------

@dataclass
class DataConnection:
    """A connectable system (``data_stores/mod.rs:17-21``).

    ``kind``: ``file`` (directory of parquet/csv/json), ``jdbc`` (Trino or any
    JDBC engine — the TrinoRunner/FlightSQLRunner analog), ``view`` (an
    already-registered Spark view/table — used for tests and in-session data).
    """

    name: str
    kind: str  # file | jdbc | view
    options: dict[str, str] = field(default_factory=dict)


def jsonpath_to_spark(path: str) -> str:
    """Reference-style JSONPath field paths → Spark nested access.

    The reference declares nested fields in JSONPath syntax —
    ``'$.nested.array[1].field'`` (``data_stores/mod.rs:57-62``) — against
    JSON records that Spark's JSON reader parses into structs/arrays, where
    the same access is ``nested.array[1].field`` (both 0-index arrays). A
    config ported verbatim therefore works unchanged. Only paths whose
    root is the JSONPath ``$`` followed by ``.`` or ``[`` are translated:
    a physical column literally NAMED ``$type``/``$oid`` (common in .NET /
    Mongo-export JSON) passes through untouched, as does any plain Spark
    expression. Unsupported JSONPath operators (recursive descent ``..``,
    wildcards ``*``) raise instead of half-translating."""
    if not (path.startswith("$.") or path.startswith("$[")):
        return path
    if ".." in path or "*" in path:
        raise ValueError(
            f"unsupported JSONPath in DataField.path: {path!r} "
            "(recursive descent and wildcards have no Spark column "
            "equivalent — map an explicit path)")
    out = path[1:]
    # JSONPath bracket field access $['a b'] / $["a b"] → backtick ident
    out = re.sub(r"""\[(['"])([^'"]*)\1\]""",
                 lambda m: f".`{m.group(2)}`", out)
    return out.lstrip(".")


@dataclass
class DataField:
    """A physical column of a DataSource (``data_stores/mod.rs:55-62``).

    ``path`` is a SQL expression in the source namespace — usually a bare
    column name, but may be nested access (``props.a.b``),
    ``get_json_object(...)``, or a reference-style JSONPath string
    (``$.nested.array[1].field``), which :func:`jsonpath_to_spark`
    rewrites to the equivalent struct access at resolution time.
    """

    name: str
    path: str
    # Optional declared PHYSICAL type of the column as the engine stores
    # it (Spark type string, e.g. "bigint", "decimal(12,2)"). Undeclared
    # means "the entity's declared shape" — the same contract the mapping
    # cast has always assumed. Declaring a differing storage type (e.g.
    # numerics kept in a varchar column) makes the federated ORDER BY
    # forward (`order_cast_stable`) refuse order-changing casts instead
    # of silently under-fetching a per-source top-k.
    data_type: str | None = None


@dataclass
class Mapping:
    """Information ↔ DataField link + transformation (``mappings.rs:30-34``)."""

    information: str  # logical column name
    field: str        # DataField.name
    transformation: Transformation = IDENTITY


@dataclass
class DataSource:
    """One queryable dataset inside a connection (``data_stores/mod.rs:39-45``).

    ``source_sql`` is an arbitrary SQL transform substituted as a derived
    table (``core/src/execute/parse_utils.rs:89-135``); the placeholder
    ``{table}`` refers to the raw connection table/path registration.
    """

    name: str
    connection: str
    entity: str
    source_sql: str  # e.g. "select *, tax*extendedprice as tax_amount from {table}"
    fields: list[DataField] = field(default_factory=list)
    mappings: list[Mapping] = field(default_factory=list)
    default_permission: SourcePermission | None = None
    user_permissions: dict[str, SourcePermission] = field(default_factory=dict)
    options: dict[str, str] = field(default_factory=dict)
    # Optional declared value bounds per *logical* (entity-namespace) column:
    # {"shipdate": ("1995-01-01", "1995-12-31")}. Used for source-level
    # pruning (plans/pruning.py) — a query whose predicates are provably
    # disjoint from these bounds skips this source's scan entirely.
    bounds: dict[str, tuple] = field(default_factory=dict)
    # Optional replica set: sources of the same entity sharing a
    # ``replica_group`` declare IDENTICAL data (mirrors). The resolver
    # scans exactly ONE member per group (declared order = preference) and
    # fails over to the next when a member can't build — HA + no duplicate
    # scanning, beyond the reference (which unions every mapping and would
    # double-count a mirror, core/src/execute/mod.rs:98-139).
    replica_group: str | None = None
    # Optional collected row count (set by plans.pruning.collect_source_stats
    # in the same single stats pass as the zone maps). When EVERY source of
    # an all-local entity carries one and the sum is small, the entity view
    # gets a broadcast hint — federated views are black boxes to Spark's
    # size estimator (a peer-backed mapInArrow scan has no sizeInBytes), so
    # without this, joining a tiny dimension entity across the web plans a
    # full shuffle join at 100 TB.
    stat_rows: int | None = None

    def field_path(self, field_name: str) -> str:
        for f in self.fields:
            if f.name == field_name:
                return jsonpath_to_spark(f.path)
        # Bare-name fallback: a field not declared explicitly maps to itself.
        return field_name

    def mapping_for(self, information: str,
                    ci: bool = False) -> Mapping | None:
        """Mapping by information name — exact match first; with ``ci``
        (Spark resolves identifiers case-insensitively, so a pushdown
        fact may arrive in the user's SQL casing) fall back to a UNIQUE
        case-insensitive match."""
        for m in self.mappings:
            if m.information == information:
                return m
        if ci:
            low = information.lower()
            hits = [m for m in self.mappings if m.information.lower() == low]
            if len(hits) == 1:
                return hits[0]
        return None

    def field_type(self, field_name: str) -> str | None:
        """Declared physical type of a field, or None (= entity shape)."""
        for f in self.fields:
            if f.name == field_name:
                return f.data_type
        return None

    def physical_columns(self) -> list[str]:
        return [f.name for f in self.fields]


# ---------------------------------------------------------------------------
# Remote (peer-relay) model
# ---------------------------------------------------------------------------

@dataclass
class RemoteInfoMapping:
    """Per-column rename + transformation across a relay hop
    (``mappings.rs:106-111``). ``transformation`` converts the *peer's*
    value into the *local* logical value."""

    local_info: str
    remote_info: str
    transformation: Transformation = IDENTITY


@dataclass
class RemoteEntityMapping:
    """Local Entity ↔ peer Relay Entity link (``mappings.rs:53-62``).

    ``sql_template`` (optional) is substituted as the remote table factor,
    with ``{entity}`` referring to the peer's entity name.
    """

    local_entity: str
    peer: str          # peer relay name
    remote_entity: str
    sql_template: str = "select * from {entity}"
    info_mappings: list[RemoteInfoMapping] = field(default_factory=list)

    def mapping_for(self, local_info: str) -> RemoteInfoMapping | None:
        for m in self.info_mappings:
            if m.local_info == local_info:
                return m
        return None


# ---------------------------------------------------------------------------
# Relay + web catalogs
# ---------------------------------------------------------------------------

@dataclass
class RelayCatalog:
    """Everything one relay declares (the Postgres metadata analog,
    ``core/src/schema.rs:17-184`` — here an in-memory dict catalog)."""

    name: str
    entities: dict[str, Entity] = field(default_factory=dict)
    connections: dict[str, DataConnection] = field(default_factory=dict)
    sources: dict[str, DataSource] = field(default_factory=dict)
    remote_mappings: list[RemoteEntityMapping] = field(default_factory=list)
    # x509-fingerprint → identity (the ``users`` table analog,
    # ``core/src/model/user.rs:17-28``); values are ``pki.X509User``.
    # Feed to ``RelayFlightServer(x509_users=relay.users)``.
    users: dict = field(default_factory=dict)

    def add_entity(self, e: Entity) -> None:
        if e.name in self.entities:
            raise ValueError(f"duplicate entity {e.name!r}")
        self.entities[e.name] = e

    def add_connection(self, c: DataConnection) -> None:
        self.connections[c.name] = c

    def add_source(self, s: DataSource) -> None:
        if s.name in self.sources:
            raise ValueError(f"duplicate source {s.name!r}")
        # Duplicate-mapping runtime check (``core/src/execute/mod.rs:111-119``)
        seen = set()
        for m in s.mappings:
            if m.information in seen:
                raise ValueError(
                    f"source {s.name!r}: duplicate mapping for {m.information!r}")
            seen.add(m.information)
        self.sources[s.name] = s

    def add_user(self, u) -> None:
        self.users[u.x509_sha256] = u

    def sources_for_entity(self, entity: str) -> list[DataSource]:
        return [s for s in self.sources.values() if s.entity == entity]

    def remotes_for_entity(self, entity: str) -> list[RemoteEntityMapping]:
        return [m for m in self.remote_mappings if m.local_entity == entity]


@dataclass
class Web:
    """A set of relays wired to each other — the whole data web.

    In the reference each relay is a separate gRPC server; here the web is a
    single driver-side catalog and "federation" is recursive view resolution
    with a visited set (cycle dedup analog of the UUID+unique-constraint
    machinery, ``core/src/crud/query.rs:21-60``).
    """

    relays: dict[str, RelayCatalog] = field(default_factory=dict)

    def add_relay(self, r: RelayCatalog) -> None:
        if r.name in self.relays:
            raise ValueError(f"duplicate relay {r.name!r}")
        self.relays[r.name] = r

    def relay(self, name: str) -> RelayCatalog:
        if name not in self.relays:
            raise KeyError(f"unknown relay {name!r}")
        return self.relays[name]

"""SQL gateway validation — the ``core/src/execute/validation.rs`` analog.

The reference parses with sqlparser-rs and whitelists a read-only SELECT
subset (``validation.rs:21-59``); everything accepted is *forwarded* to the
downstream engine. Here the downstream engine is Spark SQL itself, so
validation reduces to:

1. size guardrail — ≤ 1,000,000 chars (``validation.rs:21``)
2. exactly one statement
3. read-only: the parsed plan must be a query, not a command/DML
4. (template path only) exactly one distinct entity per query
   (``validation.rs:77-94``; tested ``test/test_flight.py:27-49``)

We use Spark's own parser (``sessionState().sqlParser().parsePlan``) for
syntax + statement-type detection, so the accepted surface is exactly the
Spark SQL grammar — a strict superset of the reference's whitelist (§2.3 of
SURVEY.md maps every whitelisted construct to a native Spark one).

This is the one place an entity query is parsed: :func:`validate_sql`
returns a :class:`ParsedQuery`, and every pushdown extractor
(``pruning``, ``topk``, ``aggpush``) walks its plan instead of parsing
the text again — the reference's one ``Statement`` per query
(``core/src/execute/utils.rs:26-37``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import SparkSession

MAX_QUERY_LEN = 1_000_000

_WRITE_KEYWORDS = re.compile(
    r"^\s*(insert|update|delete|merge|create|drop|alter|truncate|replace|"
    r"grant|revoke|set|use|show|describe|desc|analyze|refresh|cache|"
    r"uncache|msck|load|import|export|copy|call|declare|begin)\b",
    re.IGNORECASE,
)

_RELATION_RE = re.compile(r"'UnresolvedRelation \[([^\]]+)\]")
_CTE_RE = re.compile(r"CTE \[([^\]]+)\]")


class ValidationError(ValueError):
    pass


@dataclass(frozen=True)
class ParsedQuery:
    """One validated query: its text, its unresolved Catalyst plan (a
    py4j handle) and the entities it references. It lives as long as the
    request that parsed it — callers keep derived facts, never this."""
    spark: SparkSession
    sql: str
    plan: Any
    entities: frozenset[str]


def _parse_plan(spark: SparkSession, sql: str):
    """Parse without executing, via the session's SQL parser."""
    try:
        return spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except Exception as e:  # noqa: BLE001 — py4j raises wrapped ParseException
        raise ValidationError(f"SQL parse error: {e}") from e


def _referenced_entities(plan) -> frozenset[str]:
    """Distinct table names referenced by the plan, minus CTE-defined names."""
    text = plan.toString()
    ctes = set()
    for m in _CTE_RE.finditer(text):
        ctes.update(x.strip() for x in m.group(1).split(","))
    rels = {m.group(1).split(",")[0].strip() for m in _RELATION_RE.finditer(text)}
    return frozenset(r for r in rels if r not in ctes)


def validate_sql(spark: SparkSession, sql: str,
                 single_entity: bool = False) -> ParsedQuery:
    """Validate a user query and return it parsed; ``.entities`` is the
    set of referenced entities.

    Raises :class:`ValidationError` on violation — error strings mirror the
    reference's messages so the integration tests can assert on them
    (``test/test_flight.py:27-49``).
    """
    if len(sql) > MAX_QUERY_LEN:
        raise ValidationError(
            f"query exceeds maximum length of {MAX_QUERY_LEN} characters")
    if not sql.strip():
        raise ValidationError("empty query")
    if _WRITE_KEYWORDS.match(sql):
        raise ValidationError("only read-only SELECT statements are accepted")

    plan = _parse_plan(spark, sql)
    cls = plan.getClass().getSimpleName()
    if "Command" in cls or cls in (
            "InsertIntoStatement", "DeleteFromTable", "UpdateTable",
            "MergeIntoTable", "CompoundBody"):
        raise ValidationError("only read-only SELECT statements are accepted")

    entities = _referenced_entities(plan)
    if single_entity and len(entities) != 1:
        raise ValidationError("There must be exactly one entity per query.")
    return ParsedQuery(spark, sql, plan, entities)

"""Source readers — the QueryRunner dispatch analog.

Reference: ``core/src/execute/data_stores/mod.rs:82-114`` dispatches a task's
SQL to one of three runner kinds; here each kind becomes a DataFrame factory
and the task SQL itself is executed by Catalyst against the returned frame:

* ``file``  — FileDirectoryRunner (``file_directory.rs:35-141``): a directory
  of CSV / JSON / Parquet files in local FS or any Hadoop-FS store
  (s3a://, abfs://, gs:// — same code path, different URI).
* ``jdbc``  — TrinoRunner / FlightSQLRunner (``trino.rs:27-200``,
  ``flight_sql.rs:37-163``): external engines over JDBC. Spark's JDBC source
  gives pushdown + partitioned reads; schema inference is the engine's.
* ``flight`` — a peer relay over Arrow Flight gRPC; see ``_peer_sql`` for
  the projection/filter/limit pushdown (``expr_to_sql.rs`` analog).
* ``view``  — an already-registered Spark table/view (used by tests and for
  in-session derived data; no reference counterpart needed).

Scale notes: file reads are planned by Spark's FileSourceScanExec with
partition pruning + predicate pushdown; we never materialize on the driver.
Flight-peer reads default to the executor-side ``mapInArrow`` path
(one partition per endpoint with no Exchange, :func:`item_frame`; batches
never touch the driver) and narrow the peer query instead of shipping the
whole entity.
"""

from __future__ import annotations

import os
import re
import uuid
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

from dataweb_spark.catalog.model import DataConnection, DataSource

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# Content-signature memo (:func:`content_memo`): session → {key →
# (content_sig, value)}, shared by file-source reads and the persisted
# indexes' ``meta.json`` text and table frames (``dedup_index``).
# A `spark.read.load` on a file source costs a driver-side schema inference
# (parquet footer reads / a CSV sampling pass) EVERY call; federated gateway
# calls re-read the same physical tables once per query (and once per round
# for the multi-round top-k protocols). The raw frame is fully determined by
# (format, path, reader options) + the file content, so it is memoized keyed
# on those with a cheap content signature (dir mtime + immediate children
# stats). A reused DataFrame pins its file listing at load time — appends are
# silently missed and overwrites error — so ANY signature change drops the
# entry and re-loads, and memoization is refused outright wherever the
# signature cannot SEE the content:
#   * the path is only signed with local os.stat, so the memo is gated on
#     Spark's default filesystem being local (file:) — on an HDFS/S3
#     deployment a schemeless path would stat an unrelated local dir;
#   * any child DIRECTORY (partitioned/nested layout) disables the memo —
#     POSIX dir mtime only ticks on direct entry create/delete, so changes
#     two levels down are invisible to this signature. Flat layouts (the
#     parquet/CSV dirs this repo's catalogs use) are fully covered: part
#     files live directly in the dir, so appends/overwrites/in-place
#     rewrites all change the children stats.
_READ_MEMO: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()
_LOCAL_FS_MEMO: "WeakKeyDictionary[SparkSession, bool]" = WeakKeyDictionary()


def _default_fs_is_local(spark: SparkSession) -> bool:
    """True iff Spark's fs.defaultFS is the local filesystem (cached per
    session) — the only case where a local ``os.stat`` signature describes
    the files ``spark.read`` will actually list."""
    cached = _LOCAL_FS_MEMO.get(spark)
    if cached is None:
        try:
            fs = spark._jsc.hadoopConfiguration().get(
                "fs.defaultFS", "file:///")
        except Exception:  # noqa: BLE001 — no JVM conf ⇒ refuse to memoize
            fs = ""
        cached = fs.startswith("file:")
        _LOCAL_FS_MEMO[spark] = cached
    return cached


def _path_signature(path: str):
    """Cheap content signature for a data file/dir; None = do not memoize."""
    if "://" in path and not path.startswith("file://"):
        return None  # non-local URI: os.stat cannot sign it
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    try:
        with os.scandir(path) as it:
            kids = []
            for e in it:
                if e.is_dir():
                    return None  # nested/partitioned layout: changes deeper
                    # than one level are invisible to this signature
                kids.append((e.name, e.stat().st_mtime_ns, e.stat().st_size))
                if len(kids) > 1024:
                    return None  # unusually wide layout: skip memoization
    except OSError:
        return None
    kids.sort()
    return (st.st_mtime_ns, tuple(kids))


def content_memo(spark: SparkSession, key: tuple, path: str, build):
    """``build()`` memoized per (session, key) under the content signature
    of ``path`` (see ``_READ_MEMO``); unsignable paths are never
    memoized."""
    sig = _path_signature(path) if _default_fs_is_local(spark) else None
    if sig is None:
        return build()
    memo = _READ_MEMO.setdefault(spark, {})
    hit = memo.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    out = build()
    memo[key] = (sig, out)
    return out


def item_frame(spark: SparkSession, items: list, fetch,
               arrow_schema) -> DataFrame:
    """One partition per work item (a Flight ticket, a SQL statement),
    with no Exchange: ``spark.range`` makes one slice per item and each
    task looks its item up by index in the task closure, then streams
    ``fetch(item)``'s Arrow record batches of ``arrow_schema`` — the
    ``WebEntityScan`` partition-per-endpoint shape
    (``webengine/src/web_source.rs:163-300``). Every executor-side scan
    of tickets or statements goes through here."""
    from pyspark.sql.pandas.types import from_arrow_schema

    def run(batch_iter):
        for batch in batch_iter:
            for i in batch.column(0).to_pylist():
                yield from fetch(items[i])

    n = len(items)
    return spark.range(0, n, 1, max(n, 1)).mapInArrow(
        run, from_arrow_schema(arrow_schema))


_FLOATS = ("float", "double")


def _forward_order_key(source: DataSource, ocol: str, odir: str,
                       onulls: str, ltype: str | None
                       ) -> tuple[str, str, str] | None:
    """Rewrite ONE logical sort key into the physical ``(col, dir,
    nulls)`` an engine may apply directly, or None (keep the row path).

    Soundness has two stages — the local sort value is
    ``CAST(transform(x) AS ltype)`` over the engine's raw column ``x``,
    and the engine's per-source ORDER must be a refinement-up-to-ties of
    that (ties are fine: the merge re-sorts):

    * **transform**: identity, or a strictly monotone affine map
      ``a·x + b`` (order preserved bijectively — unlike the filter case
      there is no widening hazard on the ORDER itself). The direction
      flips on negative slope; NULLS placement is positional, so the
      clause carries over unchanged (affine arithmetic maps NULL→NULL
      and nothing else to NULL). Two float-semantics hazards gate the
      affine form: (1) numeric-semantics breakage — Spark's non-ANSI
      int·int arithmetic wraps silently and a decimal chain past
      precision 38 can NULL its value, both breaking monotonicity, so
      the template's SPARK-typed evaluation must be provably wrap- and
      overflow-free (``affine_order_safe``); (2) NaN —
      every engine we render to sorts NaN greater than all values, and
      an order-REVERSING map keeps NaN at NaN (greatest), so under a
      flipped direction a NaN row the local order wants FIRST sits LAST
      in the engine's stream (under-fetch). Hence flip is allowed only
      for NaN-free physical types (integers/decimals), and float/double
      physicals forward on positive slope only. The logical type must be
      float/double (the cast from the transform's double/decimal result
      is then monotone and never NULLs). Hazard (1) is checked with
      SPARK's literal typing — ``-1.0`` is a DECIMAL literal, not a
      double, and decimal chains are safe only while their propagated
      precision stays ≤ 38 (``affine_order_safe``, review-caught r14).
    * **cast**: for identity transforms, ``order_cast_stable`` — the
      declared physical type (or, undeclared, the entity's own shape)
      must cast to the logical type order-preservingly; an
      order-changing cast (numerics stored in varchar, engine collation)
      makes the engine's top-k silently under-fetch, which — unlike a
      filter, which re-runs locally — is unrecoverable.
    """
    from dataweb_spark.catalog.model import (
        _affine_coeffs,
        _canon_type,
        affine_order_safe,
        order_cast_stable,
    )
    m = source.mapping_for(ocol, ci=True)
    if m is None:
        return None
    path = source.field_path(m.field)
    if not _IDENT.match(path):
        return None
    ptype = _canon_type(source.field_type(m.field))
    t = m.transformation
    if t.is_identity:
        if not order_cast_stable(ptype, ltype):
            return None
        return path, odir, onulls
    if _canon_type(ltype) not in _FLOATS:
        return None
    if ptype is None:
        # The "undeclared = entity shape" contract is well-defined for
        # identity mappings only: behind a transform the physical column
        # could be integral (cents as bigint under '{v} * 100'), where
        # assuming float validates wrap-safety against the wrong
        # arithmetic — a wrapped local sort value silently under-fetches
        # the per-source top-k (advice-caught r14). Declare the field
        # data_type to enable affine order forwarding.
        return None
    if ptype not in ("tinyint", "smallint", "int", "bigint",
                     "float", "double") and not ptype.startswith("decimal"):
        return None  # non-numeric storage: affine order math is undefined
    phys_is_float = ptype in _FLOATS
    coeffs = _affine_coeffs(t.other_to_local)
    if coeffs is None or coeffs[0] == 0:
        return None
    if phys_is_float:
        vtype = "double"
    elif ptype.startswith("decimal"):
        vtype = ptype
    else:
        vtype = "int"
    if not affine_order_safe(t.other_to_local, vtype):
        return None
    if coeffs[0] < 0:
        if phys_is_float:
            return None  # NaN would move ends under the flip
        odir = "DESC" if odir == "ASC" else "ASC"
    return path, odir, onulls


def _forward_grouped(source: DataSource, grouped
                     ) -> tuple[str, int, list[str],
                                list[tuple[str, str, str]]] | None:
    """Rewrite a grouped top-k fact (``plans/topk.py:GroupedTopKSpec``
    with a populated entity fact) into the physical
    ``(fn, bound, partition_cols, order_keys)`` an engine may apply as a
    per-source rank-bounded window, or None (keep the full stream).

    Order keys reuse :func:`_forward_order_key` — the same
    transform-monotonicity and cast-stability gates, since the window's
    ORDER decides which rows survive the bound. For ``rank``/
    ``dense_rank`` the keys must additionally be IDENTITY-mapped with an
    INJECTIVE cast (``order_cast_injective``): those functions make ties
    semantic, and a collapsing map (bigint→double, any affine transform
    under float evaluation) gives two locally-tied rows distinct engine
    ranks — a per-source ``rank <= n`` then drops a row the local window
    ranks inside the bound (review-caught r14). ``row_number`` tolerates
    collapse: any tie-break is a valid answer. Partition keys need only
    a renderable physical column, under ANY transformation: the engine
    partitions raw values, and a mapping is a FUNCTION — equal physical
    values stay together, so engine partitions are finer-or-equal than
    logical ones, and a row's rank within a finer partition is ≤ its
    rank within the logical one. The per-source bound therefore keeps a
    superset under any (even non-invertible) partition-key mapping.

    The wrapper aliases its rank column ``__dw_rk``; a source whose
    DECLARED physical surface already carries that name would render an
    ambiguous star-projection, so the fact is refused (an error would
    silently drop the source under ``allow_partial``).
    """
    from dataweb_spark.catalog.model import order_cast_injective
    if not grouped.entity_partition or not grouped.entity_order:
        return None  # no row fact (lossy WHERE) — see extract_grouped_topk
    taken = {f.name.lower() for f in source.fields} \
        | {source.field_path(f.name).lower() for f in source.fields} \
        | {source.field_path(m.field).lower() for m in source.mappings}
    if "__dw_rk" in taken:
        return None
    phys_part: list[str] = []
    for col in grouped.entity_partition:
        m = source.mapping_for(col, ci=True)
        if m is None:
            return None
        path = source.field_path(m.field)
        if not _IDENT.match(path):
            return None
        phys_part.append(path)
    strict = grouped.fn != "row_number"
    phys_order: list[tuple[str, str, str]] = []
    for ocol, odir, onulls, oltype in grouped.entity_order:
        r = _forward_order_key(source, ocol, odir, onulls, oltype)
        if r is None:
            return None
        if strict:
            m = source.mapping_for(ocol, ci=True)
            if not m.transformation.is_identity:
                return None
            if not order_cast_injective(source.field_type(m.field),
                                        oltype):
                return None
        phys_order.append(r)
    return grouped.fn, grouped.bound, phys_part, phys_order


def _pushdown_parts(source: DataSource, conjuncts: list | None,
                    limit: int | None, referenced: set[str] | None,
                    order_by: list | None = None,
                    grouped=None
                    ) -> tuple[list[str] | None, list, int | None,
                               set[str] | None, list | None,
                               tuple | None]:
    """Select which pushdown facts survive this source's mapping shape.

    Returns ``(columns, kept_conjuncts, limit, projected_infos, order)``:

    * ``columns`` — physical columns to fetch (None = all);
    * ``kept_conjuncts`` — ``(physical_col, op, value)`` triples rewritten
      through the mapping transformations (identity renames; invertible
      affine transforms invert the literal with safety-widened bounds;
      anything else → dropped);
    * ``limit`` — forwarded only for unpermissioned sources with no pushed
      filters (the LIMIT extractor only fires on filter-free plans, so a
      conjunct here means it came from elsewhere in the query) — UNLESS
      ``order`` is forwarded too, in which case limit rides the order;
    * ``projected_infos`` — entity informations whose columns are fetched
      (None = all): the mapping step NULL-fills the rest;
    * ``order`` — the federated top-k fact (``plans/topk.py:
      extract_order_limit``) rewritten to physical columns, or None.
      Forwarded only when it is provably the WHOLE story: unpermissioned
      source (a local permission row-filter makes the peer stream a
      superset — its top-k can displace true rows), zero dropped
      conjuncts, every kept conjunct pushed through an IDENTITY mapping
      (an affine-inverted conjunct pushes with WIDENED bounds — float
      safety — and a widened filter under-fetches a per-source top-k),
      and every sort column order-provable per ``_forward_order_key``:
      identity-mapped with an order-stable cast, or behind a strictly
      monotone affine transform (direction flips on negative slope).
      ``order_by`` given but not forwardable also KILLS the bare limit:
      a limit without the order is the wrong rows. Keys are ``(col,
      dir, nulls, logical_type)`` 4-tuples — a 3-tuple (legacy caller)
      carries no type evidence and never forwards;
    * ``grouped`` (6th return slot) — the per-source GROUPED top-k fact
      (``_forward_grouped``): ``(fn, bound, partition_cols,
      order_keys)`` rendered as a rank-bounded window wrapper in the
      peer/engine SQL, so each source ships ≤ bound rows per physical
      partition instead of its whole filtered stream. Same superset
      gates as the flat order fact: unpermissioned source, zero
      dropped conjuncts, identity-exact pushes — a superset stream
      inflates true rows' ranks past the bound (under-fetch). Unlike
      limit/order, an unforwardable grouped fact degrades SILENTLY to
      the plain select: the wrapper is a pure row reduction, so its
      absence is always correct.

    A non-trivial ``source_sql`` disables everything — it runs OVER the
    fetched frame, so mapped paths name ITS output, not the engine's.
    """
    has_perms = (source.default_permission is not None
                 or bool(source.user_permissions))
    src_sql = (source.source_sql or "").strip().lower()
    if src_sql and src_sql != "select * from {table}":
        return None, [], None, None, None, None

    projected: set[str] | None = None
    cols: list[str] | None = None
    if source.mappings and not has_perms:
        wanted = []
        for m in source.mappings:
            path = source.field_path(m.field)
            if not _IDENT.match(path):
                wanted = None  # nested/expression path: fetch everything
                break
            if referenced is None or m.information.lower() in referenced \
                    or path.lower() in referenced:
                wanted.append((m.information, path))
        if wanted is not None:
            if not wanted:
                # e.g. `select count(*) from e`: no columns referenced, but
                # row COUNT must survive — fetch one cheap column.
                m0 = source.mappings[0]
                wanted = [(m0.information, source.field_path(m0.field))]
            if len(wanted) < len(source.mappings):
                projected = {info for info, _ in wanted}
                seen: set[str] = set()
                cols = [p for _, p in wanted
                        if not (p in seen or seen.add(p))]

    kept = []
    dropped = False
    inexact_push = False
    for col, op, value in conjuncts or []:
        m = source.mapping_for(col)
        if m is None:
            # Unmapped information: the local view NULL-fills it
            # (parse_utils.rs:23-25), so this conjunct matches no rows of
            # this source anyway — and the engine-side table may not even
            # HAVE a column by this name, so pushing the local name through
            # would error the whole peer query. Drop it.
            dropped = True
            continue
        target = source.field_path(m.field)
        rewritten = m.transformation.push_conjunct(op, value)
        if rewritten is None:
            dropped = True
            continue  # non-invertible transform: filter stays local
        if _IDENT.match(target):
            kept.extend((target, o, v) for o, v in rewritten)
            if not m.transformation.is_identity:
                inexact_push = True
        else:
            dropped = True

    # the federated top-k fact (see docstring): physical order keys,
    # forwardable only when the pushed filter is the EXACT whole filter
    eff_order = None
    if order_by and limit is not None and not has_perms \
            and not dropped and not inexact_push:
        phys = []
        for okey in order_by:
            ocol, odir, onulls, oltype = (okey if len(okey) == 4
                                          else (*okey, None))
            rewritten = _forward_order_key(source, ocol, odir, onulls,
                                           oltype)
            if rewritten is None:
                phys = None
                break
            phys.append(rewritten)
        eff_order = phys

    # LIMIT is forwarded only when the pushed filter is COMPLETE: a single
    # dropped conjunct means the peer would apply LIMIT to a superset
    # stream and return the first n rows of the WRONG result — same
    # under-fetch hazard render_select guards against with `skipped`,
    # enforced here too so it holds for every caller, not just the
    # extractor's filter-free-plan invariant. With a forwarded ORDER the
    # limit rides it (kept conjuncts allowed — they are exact); with an
    # order REQUESTED but not forwardable the limit dies with it.
    if order_by:
        eff_limit = limit if eff_order is not None else None
    else:
        eff_limit = limit if (limit is not None and not has_perms
                              and not kept and not dropped) else None

    eff_grouped = None
    if grouped is not None and not has_perms and not dropped \
            and not inexact_push:
        eff_grouped = _forward_grouped(source, grouped)
    if eff_grouped is not None and cols is None:
        # the window wrapper needs an EXPLICIT inner projection (a star
        # could duplicate an undeclared physical `__dw_rk` — ambiguous
        # SQL errors the source, and allow_partial would then silently
        # DROP it). "All columns" for the mapping layer means exactly
        # the distinct mapped paths, so enumerate them; a non-identifier
        # path can't be projected explicitly — the fact degrades to the
        # plain select, which is always correct.
        paths: list[str] | None = []
        seen2: set[str] = set()
        for m in source.mappings:
            p = source.field_path(m.field)
            if not _IDENT.match(p):
                paths = None
                break
            if p not in seen2:
                seen2.add(p)
                paths.append(p)
        if paths:
            cols = paths
        else:
            eff_grouped = None
    return cols, kept, eff_limit, projected, eff_order, eff_grouped


def _peer_sql(source: DataSource, conjuncts: list | None, limit: int | None,
              referenced: set[str] | None,
              order_by: list | None = None,
              grouped=None) -> tuple[str, set[str] | None]:
    """Compose the SQL sent to a flight peer — the client-side unparser
    analog of the reference (``webengine/src/web_source.rs:105-123``,
    ``webengine/src/expr_to_sql.rs:32-106``). Instead of
    ``select * from <entity>``, the peer receives:

    * a **projection** to the peer columns this relay's mappings actually
      read, narrowed further to the columns the user query references
      (``pruning.extract_referenced_columns`` over-approximation) — skipped
      entirely when the source carries local permissions, whose row filters
      reference physical columns the projection analysis doesn't model;
    * the query's **filter conjuncts**, rewritten into peer namespace —
      identity mappings rename, invertible (affine) transformations invert
      the boundary with widened non-strict bounds
      (``Transformation.push_conjunct``, the ``mappings.rs:124-149``
      inverse-composition analog), anything else is dropped — the peer just
      doesn't pre-filter on it; correctness is preserved because the full
      predicate still runs locally, exactly the ``Inexact``-filter
      semantics of ``web_source.rs:145-159``;
    * the query's **LIMIT** when it provably sits directly over the entity
      (``pruning.extract_entity_limit``) and the source is unpermissioned.

    Returns ``(sql, projected_info_names)`` where the second element names
    the entity informations whose peer columns were fetched (None = all) —
    the caller's mapping step must emit NULL for the rest instead of
    referencing columns the narrowed answer no longer carries.
    """
    from dataweb_spark.sources.dialects import SPARK, render_select

    entity = source.options.get("entity", source.name)
    cols, kept, eff_limit, projected, eff_order, eff_grouped = \
        _pushdown_parts(source, conjuncts, limit, referenced, order_by,
                        grouped)
    sql = render_select(SPARK, entity, cols, kept, eff_limit,
                        order_by=eff_order, grouped=eff_grouped)
    return sql, projected


def flight_client_identity(conn: DataConnection) -> dict:
    """Outbound client-identity kwargs from a flight connection's options
    — shared by the engine read path and the gateway's whole-template
    forward so every hop to one peer presents one identity.

    The reference relay holds a client cert/key + CA and presents them on
    every outbound channel (``flight_server/src/flight.rs:127-167``
    ``get_flight_client``); the option names are the reference's conf
    names (``core/src/conf.rs:16-46``): ``ca_cert_file`` verifies the
    peer server, ``client_cert_file``/``client_key_file`` are this
    relay's own identity — presented at the TLS handshake (mTLS) AND as
    the possession-challenge certificate, so the peer resolves this
    relay by fingerprint and honors the forwarded origin principal."""
    tls_root_certs = cert = client_tls = None
    if "ca_cert_file" in conn.options:
        with open(conn.options["ca_cert_file"], "rb") as f:
            tls_root_certs = f.read()
    cert_file = conn.options.get("client_cert_file")
    key_file = conn.options.get("client_key_file")
    if (cert_file is None) != (key_file is None):
        raise ValueError("client_cert_file and client_key_file must "
                         "be set together")
    if cert_file is not None:
        from dataweb_spark.sources.pki import pem_cert_to_der
        with open(cert_file, "rb") as f:
            cert_pem = f.read()
        with open(key_file, "rb") as f:
            key_pem = f.read()
        client_tls = (cert_pem, key_pem)
        cert = (pem_cert_to_der(cert_pem), key_pem)
    return {"token": conn.options.get("token"),
            "tls_root_certs": tls_root_certs,
            "cert": cert, "client_tls": client_tls}


def engine_partial_statement(relay, source: DataSource, spec,
                             etypes: dict, round_fact=None):
    """``(conn, engine_sql)`` when this source would execute the
    partial-aggregate template ITSELF, else None — the ONE decision
    function both execution (:func:`engine_partial_frame`) and the
    EXPLAIN mirror (``plans/explain.py``) consume, so the report can
    never drift from what the query path does (review-caught r15: the
    gates were previously duplicated)."""
    from dataweb_spark.sources.dialects import (
        DIALECTS,
        DUCKDB,
        TRINO,
        render_partial_agg,
    )
    conn = relay.connections.get(source.connection)
    if conn is None or conn.kind not in ("flightsql", "trino"):
        return None
    if source.options.get("sql"):
        return None
    table = source.options.get("table", source.name)
    if conn.kind == "flightsql":
        dialect = DIALECTS.get(conn.options.get("dialect", "duckdb"),
                               DUCKDB)
    else:
        dialect = TRINO
    esql = render_partial_agg(dialect, table, source, spec, etypes,
                              round_fact)
    if esql is None:
        return None
    return conn, esql


def engine_partial_frame(spark: SparkSession, relay, source: DataSource,
                         spec, etypes: dict,
                         round_fact=None) -> DataFrame | None:
    """Execute a partial-aggregate template ON an external SQL engine
    (r15): render the ``AggQuerySpec`` (plus top-groups round decoration)
    into the engine's dialect and stream back ONE row per group — the
    engine-source analog of relay→relay template forwarding, closing the
    reference-parity gap where GROUP BY over an engine source shipped
    the filtered stream and aggregated Spark-side
    (``trino.rs:103-190`` runs the whole mapped statement on the
    engine). None when the renderer's conservative gates refuse — the
    caller keeps the generic path."""
    stmt = engine_partial_statement(relay, source, spec, etypes,
                                    round_fact)
    if stmt is None:
        return None
    conn, esql = stmt
    host = conn.options.get("host", "127.0.0.1")
    if conn.kind == "flightsql":
        from dataweb_spark.sources.flightsql import flightsql_read
        return flightsql_read(spark, host, int(conn.options["port"]), esql)
    from dataweb_spark.sources.httpjson import trino_read
    base_url = conn.options.get(
        "url", f"http://{host}:{conn.options.get('port')}")
    return trino_read(spark, base_url, esql)


def read_connection_table(spark: SparkSession, conn: DataConnection,
                          source: DataSource,
                          conjuncts: list | None = None,
                          limit: int | None = None,
                          referenced: set[str] | None = None,
                          principal: str | None = None,
                          order_by: list | None = None,
                          grouped=None
                          ) -> tuple[DataFrame, set[str] | None]:
    """Read the raw physical table behind a DataSource (no source_sql yet).

    Returns ``(frame, projected_info_names)``: the second element is only
    non-None for flight sources whose peer answer was narrowed — the
    mapping step must NULL-fill the unfetched informations.
    """
    if conn.kind == "file":
        base = conn.options.get("path", ".")
        rel = source.options.get("path", source.options.get("table", source.name))
        path = rel if os.path.isabs(rel) else os.path.join(base, rel)
        fmt = source.options.get("format", conn.options.get("format", "parquet"))
        header = source.options.get("header", "true")
        infer = source.options.get("inferSchema", "true")
        schema = source.options.get("schema")

        def _load():
            reader = spark.read
            if fmt == "csv":
                reader = reader.option("header", header) \
                               .option("inferSchema", infer)
            if schema is not None:
                reader = reader.schema(schema)
            return reader.format(fmt).load(path)

        return content_memo(spark, (fmt, path, header, infer, str(schema)),
                            path, _load), None
    if conn.kind == "view":
        return spark.table(source.options.get("table", source.name)), None
    if conn.kind == "flight":
        # Peer-relay federation over real gRPC: the raw table is the remote
        # relay's ANSWER to a query (engine mode by default — the peer's own
        # mapped/permissioned union). This is the relay→relay
        # ``get_flight_info`` fan-out (``flight_server/src/flight.rs:237-309``)
        # with the peer a separate process. The peer SQL carries the pushed
        # projection/filters/limit (``_peer_sql``); the peer's own gateway
        # re-extracts them for ITS pruning and peer pushdown, so narrowing
        # cascades across hops.
        from dataweb_spark.sources.flight_service import (
            flight_query,
            flight_read_distributed,
        )
        projected: set[str] | None = None
        if "sql" in source.options:
            sql = source.options["sql"]  # explicit template: never rewritten
        else:
            sql, projected = _peer_sql(source, conjuncts, limit, referenced,
                                       order_by, grouped)
        host = conn.options.get("host", "127.0.0.1")
        port = int(conn.options["port"])
        # Origin-principal propagation (``utils.rs:62-126``): the resolving
        # relay forwards the principal it is answering FOR; a connection
        # may configure a static service principal as the fallback.
        if principal is None:
            principal = source.options.get("principal",
                                           conn.options.get("principal"))
        mode = source.options.get("mode", "engine")
        ident = flight_client_identity(conn)
        if source.options.get("distribute", "true") != "false":
            # DEFAULT: partition-per-endpoint executor-side streams
            # (WebEntityScan analog, no shuffle: ``item_frame``) —
            # batches never touch the driver.
            # Task retries re-plan via get_flight_info (single-use tickets).
            return flight_read_distributed(spark, host, port, sql,
                                           principal, mode,
                                           **ident), projected
        # Explicit small-result opt-out: one driver pull (control-plane
        # convenience; not for bulk transfer).
        table = flight_query(port, sql, principal=principal, mode=mode,
                             host=host, **ident)
        try:
            return spark.createDataFrame(table), projected
        except Exception:  # older arrow-table support: go through pandas
            return spark.createDataFrame(table.to_pandas()), projected
    if conn.kind == "flightsql":
        # External SQL engine over Arrow Flight (FlightSQLRunner analog,
        # ``flight_sql.rs:37-163``): SQL text in the engine's OWN dialect,
        # Arrow batches back, streamed by executors. Pushdown goes through
        # the dialect renderer (``trino.rs:103-190`` analog).
        from dataweb_spark.sources.dialects import DIALECTS, DUCKDB, render_select
        from dataweb_spark.sources.flightsql import flightsql_read
        projected = None
        if "sql" in source.options:
            sql = source.options["sql"]
        else:
            dialect = DIALECTS.get(
                conn.options.get("dialect", "duckdb"), DUCKDB)
            table = source.options.get("table", source.name)
            cols, kept, eff_limit, projected, eff_order, eff_grouped = \
                _pushdown_parts(source, conjuncts, limit, referenced,
                                order_by, grouped)
            sql = render_select(dialect, table, cols, kept, eff_limit,
                                order_by=eff_order, grouped=eff_grouped)
        host = conn.options.get("host", "127.0.0.1")
        return flightsql_read(spark, host, int(conn.options["port"]),
                              sql), projected
    if conn.kind == "trino":
        # Trino REST protocol (TrinoRunner analog, ``trino.rs:27-200``):
        # SQL in the TRINO dialect over HTTP, JSON row-pages back with
        # nextUri paging; schema from declared column types, or inferred
        # from the first data page when the engine doesn't declare usable
        # ones (``trino.rs:89-173``). Entity-level CASTs restore logical
        # types from the JSON transport forms.
        from dataweb_spark.sources.dialects import TRINO, render_select
        from dataweb_spark.sources.httpjson import (trino_read,
                                                    trino_read_partitioned)
        projected = None
        eff_limit = None
        if "sql" in source.options:
            sql = source.options["sql"]
        else:
            table = source.options.get("table", source.name)
            cols, kept, eff_limit, projected, eff_order, eff_grouped = \
                _pushdown_parts(source, conjuncts, limit, referenced,
                                order_by, grouped)
            pcol = source.options.get("partitionColumn")
            if pcol and cols is not None and pcol not in cols:
                # The range-split wrapper filters on the engine-side split
                # column, so it must survive the pushed projection (the
                # mapping step ignores unmapped extras).
                cols = cols + [pcol]
            if pcol and eff_grouped is not None:
                # range-split reads wrap the statement per split
                # (`SELECT * FROM (sql) q WHERE <range>`) — correct
                # around a grouped wrapper, but every split would
                # recompute the FULL window; the wrapper is droppable
                # by construction, so large partitioned pulls keep the
                # plain select and let the local re-window do the work
                eff_grouped = None
            sql = render_select(TRINO, table, cols, kept, eff_limit,
                                order_by=eff_order, grouped=eff_grouped)
        host = conn.options.get("host", "127.0.0.1")
        base_url = conn.options.get(
            "url", f"http://{host}:{conn.options.get('port')}")
        # Large un-aggregated pulls: range-split parallel page chains when
        # the source declares a split column (engine-side name), mirroring
        # the jdbc kind's partitionColumn. Skipped when a LIMIT was pushed
        # AND for custom-sql sources (a LIMIT or other nondeterministic
        # clause inside user SQL would re-execute per chain, each picking
        # its own rows) — those keep the single-cursor read.
        if ("partitionColumn" in source.options and eff_limit is None
                and "sql" not in source.options):
            missing = [k for k in ("lowerBound", "upperBound")
                       if k not in source.options]
            if missing:
                raise ValueError(
                    f"trino source {source.name!r}: partitionColumn "
                    f"requires {missing} (jdbc-style contract: "
                    "partitionColumn/lowerBound/upperBound[/numPartitions])")
            return trino_read_partitioned(
                spark, base_url, sql, source.options["partitionColumn"],
                int(source.options["lowerBound"]),
                int(source.options["upperBound"]),
                int(source.options.get("numPartitions", 4))), projected
        return trino_read(spark, base_url, sql), projected
    if conn.kind == "jdbc":
        reader = (spark.read.format("jdbc")
                  .option("url", conn.options["url"])
                  .option("dbtable", source.options.get("table", source.name)))
        for k in ("driver", "user", "password", "fetchsize"):
            if k in conn.options:
                reader = reader.option(k, conn.options[k])
        # Partitioned parallel read when the source declares a split column.
        if "partitionColumn" in source.options:
            for k in ("partitionColumn", "lowerBound", "upperBound", "numPartitions"):
                reader = reader.option(k, source.options[k])
        return reader.load(), None
    raise ValueError(f"unknown connection kind {conn.kind!r}")


def read_source_frame(spark: SparkSession, conn: DataConnection,
                      source: DataSource,
                      conjuncts: list | None = None,
                      limit: int | None = None,
                      referenced: set[str] | None = None,
                      principal: str | None = None,
                      order_by: list | None = None,
                      grouped=None
                      ) -> tuple[DataFrame, set[str] | None]:
    """Raw table + ``source_sql`` applied as a derived table.

    The reference substitutes ``source_sql`` as a table factor
    (``core/src/execute/parse_utils.rs:89-135``); here we register the raw
    frame under a throwaway view name and let Spark SQL evaluate the
    transform — Catalyst folds it into the scan (projection pushdown still
    reaches parquet because the view is logical, not materialized).
    """
    raw, projected = read_connection_table(spark, conn, source,
                                           conjuncts, limit, referenced,
                                           principal=principal,
                                           order_by=order_by,
                                           grouped=grouped)
    sql = source.source_sql
    if not sql or sql.strip().lower() in ("select * from {table}",):
        return raw, projected
    view = f"__dw_src_{uuid.uuid4().hex[:12]}"
    raw.createOrReplaceTempView(view)
    return spark.sql(sql.replace("{table}", view)), projected
